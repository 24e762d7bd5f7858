package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps ten invariants from drifting back: `GraftSession` is the only place
  * that builds a SparkSession, no CLI job reads its config through Spark
  * (`JobConfig` parses it on the driver), the only mains are the CLI jobs and
  * three tools, no env var is read outside `GraftSession` and `Bench`, every
  * curation-job config key is set by some test, every pivot names its values,
  * concurrent Spark actions go through `Concurrent` rather than the global
  * ExecutionContext, `Concurrent` is the only place that makes threads,
  * nothing runs Structured Streaming (the system is a batch cron ETL), and
  * no code sweeps the session cache. */
class SessionConfigGuardSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  /** `file:line` of every line under `dir` containing `needle`; with
    * `codeOnly`, comment text (scaladoc and block-comment lines, anything
    * after `//`) does not count. */
  private def hits(dir: Path, needle: String,
                   codeOnly: Boolean = false): Seq[String] = {
    def code(l: String): String = {
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("/*")) ""
      else l.split("//", 2)(0)
    }
    val files = Files.walk(dir)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if (if (codeOnly) code(l) else l).contains(needle) =>
            s"${main.relativize(f)}:${i + 1}"
        }
      }
    finally files.close()
  }

  test("SparkSession.builder appears only in GraftSession") {
    assert(Files.isDirectory(main))
    val offenders = hits(main, "SparkSession.builder")
      .filterNot(_.startsWith("graft/GraftSession.scala:"))
    assert(offenders.isEmpty, s"build sessions through graft.GraftSession: $offenders")
  }

  test("no CLI job reads its config with a Spark JSON read") {
    val offenders = hits(main.resolve("graft/jobs"), "option(\"multiLine\"")
    assert(offenders.isEmpty, s"read job configs through JobConfig: $offenders")
  }

  test("mains live only in jobs/ and the Bench, Verify and ScaleGen tools") {
    val tools = Seq("Bench", "Verify", "ScaleGen").map(t => s"graft/$t.scala:")
    val offenders = hits(main, "def main(").filterNot(h =>
      h.startsWith("graft/jobs/") || tools.exists(h.startsWith))
    assert(offenders.isEmpty, s"no dev mains in src/main: $offenders")
  }

  test("environment variables are read only by GraftSession and Bench") {
    val readers = Seq("GraftSession", "Bench").map(t => s"graft/$t.scala:")
    val offenders = (hits(main, "sys.env") ++ hits(main, "System.getenv"))
      .filterNot(h => readers.exists(h.startsWith))
    assert(offenders.isEmpty, s"no new env knobs: $offenders")
  }

  test("every curation-job config key is set somewhere under src/test") {
    // the corpus's own column names: data-contract settings, like paths
    val inputColumns = Set("id_col", "text_col", "mixture_strata_col",
      "report_lang_col")
    val keyRead = """\b(?:str|strSeq|opt|req|obj)\("([a-z0-9_]+)"""".r
    val keys = Seq("CurationJob", "MediaCurationJob").flatMap { j =>
      val src = Files.readString(main.resolve(s"graft/jobs/$j.scala"))
      keyRead.findAllMatchIn(src).map(m => s"$j.${m.group(1)}").toSeq
    }.distinct
    assert(keys.size > 80, keys)
    val tests = {
      val files = Files.walk(Paths.get("src/test"))
      try files.iterator.asScala
        .filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString != "SessionConfigGuardSpec.scala")
        .map(f => new String(Files.readAllBytes(f), "UTF-8")).toSeq
      finally files.close()
    }
    val unset = keys.filterNot { jk =>
      val k = jk.substring(jk.indexOf('.') + 1)
      val word = ("(?<![A-Za-z0-9_])" + k + "(?![A-Za-z0-9_])").r
      inputColumns(k) || tests.exists(word.findFirstIn(_).isDefined)
    }
    assert(unset.isEmpty,
      s"config keys no test sets — inline them as constants: $unset")
  }

  test("every pivot names its values") {
    // `pivot(col)` alone infers its values by running the whole upstream plan
    // once more; the values come from a dim instead (TimeSeriesOps.sparkOrder)
    val oneArg = """\.pivot\((?:[^(),]|\([^()]*\))*\)""".r
    val files = Files.walk(main)
    val offenders = try files.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        val src = Files.readString(f)
        oneArg.findAllMatchIn(src).map(m =>
          s"${main.relativize(f)}:${src.take(m.start).count(_ == '\n') + 1}")
      }
    finally files.close()
    assert(offenders.isEmpty, s"pass the pivot values: $offenders")
  }

  test("no Spark action runs on the global ExecutionContext") {
    val offenders = hits(main, "ExecutionContext.Implicits.global")
    assert(offenders.isEmpty, s"submit concurrent actions through " +
      s"graft.Concurrent: $offenders")
  }

  test("threads and thread pools are made only in Concurrent") {
    val offenders = (hits(main, "Executors.") ++ hits(main, "new Thread("))
      .filterNot(_.startsWith("graft/Concurrent.scala:"))
    assert(offenders.isEmpty, s"run concurrent work through graft.Concurrent: $offenders")
  }

  test("no Structured Streaming in src/main") {
    val offenders =
      Seq("readStream", "writeStream", "foreachBatch").flatMap(hits(main, _))
    assert(offenders.isEmpty, s"the ticks are batch cron jobs: $offenders")
  }

  test("no code line in src/main sweeps the session cache") {
    // a sweep hides the blocks a query leaked; Dedup.release frees what a
    // frame reaches, and Verify/Bench fail a query that leaves blocks held
    val offenders = hits(main, "clearCache()", codeOnly = true)
    assert(offenders.isEmpty, s"free frames with Dedup.release: $offenders")
  }
}
