package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps four invariants from drifting back: `GraftSession` is the only place
  * that builds a SparkSession, no CLI job reads its config through Spark
  * (`JobConfig` parses it on the driver), the only mains are the CLI jobs and
  * three tools, and no env var is read outside `GraftSession` and `Bench`. */
class SessionConfigGuardSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  /** `file:line` of every line under `dir` containing `needle`. */
  private def hits(dir: Path, needle: String): Seq[String] = {
    val files = Files.walk(dir)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if l.contains(needle) => s"${main.relativize(f)}:${i + 1}"
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
}
