package graft.jobs

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The reference's top-level cron entry (`inputs/prep_mike_inputs.sh:33-47`)
  * re-expressed as ONE job: the four input generators run in a single shared
  * Spark session (one JVM, shared parquet footer/codegen caches), concurrently,
  * one `graft.Concurrent.all` thunk per configured step. The reference ran them
  * one after another; they share no input or output, and their KB-sized jobs of
  * 1–2 tasks each leave most cores idle when they take turns. The script's
  * per-step isolation is kept: each thunk wraps its step in `Try`, so a failing
  * generator logs and the rest still run to the end (the shell ran each with
  * `>> log 2>&1`, never aborting the tick).
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

  /** Runs every configured generator concurrently; returns (step, succeeded,
    * error) in config order. A step failure never stops the other steps
    * (reference behavior). A window off the 15-minute grid (P9) throws before
    * any step runs. */
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
    val configured = steps.flatMap { case (name, f) =>
      cfg.opt(s"${name}_config").map(p => name -> (() => Try(f(p))))
    }
    val outcomes = graft.Concurrent.all(spark)(configured.map(_._2): _*)
    configured.map(_._1).zip(outcomes).map {
      case (name, Success(_)) => (name, true, None)
      case (name, Failure(e)) =>
        // ref isolation: log and continue (prep_mike_inputs.sh per-step logs)
        System.err.println(s"[prep] $name failed: ${e.getMessage}")
        (name, false, Option(e.getMessage))
    }
  }
}
