package graft.jobs

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The reference's top-level cron entry (`inputs/prep_mike_inputs.sh:33-47`)
  * re-expressed as ONE job: all four input generators run in a single shared
  * Spark session (one JVM, shared parquet footer/codegen caches) with the
  * script's per-step isolation — a failing generator logs and the rest still run
  * (the shell ran each with `>> log 2>&1`, never aborting the tick).
  *
  * Config JSON (paths to the per-generator configs; absent key = step skipped):
  * {
  *   "rainfall_config": "...", "discharge_config": "...",
  *   "tide_config": "...", "raw_rainfall_config": "..."
  * }
  * Usage: PrepMikeInputsJob <config.json> [-s "..."] [-e "..."]
  * Window defaults to the reference's forecast horizon (T6): day-aligned
  * now-3d .. now+2d (ref: inputs/gen_mike_input_dis_linux.py:160-168).
  */
object PrepMikeInputsJob {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** T6 horizon: 00:00:00 three days back to 00:00:00 two days ahead. */
  def defaultWindow(now: LocalDateTime): (String, String) = (
    now.toLocalDate.minusDays(3).atStartOfDay.format(fmt),
    now.toLocalDate.plusDays(2).atStartOfDay.format(fmt))

  def main(args: Array[String]): Unit = {
    val cfgPath = args(0)
    val m = args.drop(1).sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val (ds, de) = defaultWindow(LocalDateTime.now())
    val (start, end) = (m.getOrElse("-s", ds), m.getOrElse("-e", de))
    val spark = graft.GraftSession()
    try {
      run(spark, cfgPath, start, end).foreach { case (step, ok, err) =>
        println(s"[prep] $step ok=$ok${err.fold("")(e => s" error=$e")}")
      }
    } finally spark.stop()
  }

  /** Runs every configured generator; returns (step, succeeded, error). A step
    * failure never stops the remaining steps (reference behavior). A window
    * off the 15-minute grid (P9) throws before any step runs. */
  def run(spark: SparkSession, cfgPath: String, start: String,
          end: String): Seq[(String, Boolean, Option[String])] = {
    RainfallInputJob.validateWindowTs(start)
    RainfallInputJob.validateWindowTs(end)
    val cfg = JobConfig.read(spark, cfgPath)
    val steps: Seq[(String, String => Unit)] = Seq(
      "rainfall" -> ((p: String) => RainfallInputJob.run(spark, p, start, end): Unit),
      "discharge" -> ((p: String) => DischargeInputJob.run(spark, p, start, end): Unit),
      "tide" -> ((p: String) => TideInputJob.run(spark, p, start, end): Unit),
      "raw_rainfall" -> ((p: String) => RawRainfallInputJob.run(spark, p, start, end): Unit))
    steps.flatMap { case (name, f) =>
      cfg.opt(s"${name}_config").map { p =>
        Try(f(p)) match {
          case Success(_) => (name, true, None)
          case Failure(e) =>
            // ref isolation: log and continue (prep_mike_inputs.sh per-step logs)
            System.err.println(s"[prep] $name failed: ${e.getMessage}")
            (name, false, Option(e.getMessage))
        }
      }
    }
  }
}
