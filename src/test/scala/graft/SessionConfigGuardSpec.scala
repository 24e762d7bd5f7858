package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps two invariants from drifting back: `GraftSession` is the only place
  * that builds a SparkSession, and no CLI job reads its config through Spark
  * (`JobConfig` parses it on the driver). */
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
}
