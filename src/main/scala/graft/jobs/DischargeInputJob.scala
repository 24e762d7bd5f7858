package graft.jobs

import graft.io.MikeCsv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI for the discharge input pipeline
  * (ref: inputs/gen_mike_input_dis_linux.py): long series -> 15-min spine align ->
  * last-row patch -> headerless time,value CSV, tagged with the series'
  * `get_obs_end`-derived latest_fgt (ref :176) for downstream run bookkeeping.
  *
  * Config JSON: { "series_path": "<parquet: time TIMESTAMP_NTZ, value DOUBLE
  * (`TideInputJob.SeriesSchema`)>", "output_path": "<dir>" }, or
  * `series_jdbc_url` + `series_jdbc_table` in place of `series_path`.
  * Usage: DischargeInputJob <config.json> -s "..." -e "..."
  */
object DischargeInputJob {

  def main(args: Array[String]): Unit = {
    val (cfgPath, start, end) = RainfallInputJob.parseArgs(args)
    RainfallInputJob.validateWindowTs(start)
    RainfallInputJob.validateWindowTs(end)
    val spark = graft.GraftSession()
    try {
      val (ran, fgt) = run(spark, cfgPath, start, end)
      println(s"[discharge] ran=$ran latest_fgt=${fgt.getOrElse("none")}")
    } finally spark.stop()
  }

  /** Windowed series source. `series_path` reads parquet; `series_jdbc_url` +
    * `series_jdbc_table` read through the DSv2 catalog path (`JdbcScan.table`)
    * so the window predicates AND the A6 freshness probe compile into the
    * database — the cron tick costs the warehouse one indexed range scan plus
    * one pushed MAX, not a table pull (ref: the adapter-backed
    * `get_obs_end` of inputs/gen_mike_input_dis_linux.py:176). Database-native
    * column types are kept here — a cast above the scan would block aggregate
    * pushdown; `run` normalizes for the pipeline AFTER the probe. */
  def readSeries(spark: SparkSession, cfg: JobConfig,
                 start: String, end: String): org.apache.spark.sql.DataFrame =
    cfg.opt("series_jdbc_url") match {
      case Some(url) =>
        graft.io.JdbcScan.table(spark, url, cfg.req("series_jdbc_table"))
          .filter(col("time") >= to_timestamp(lit(start)) &&
            col("time") <= to_timestamp(lit(end)))
      case None =>
        spark.read.schema(TideInputJob.SeriesSchema).parquet(cfg.req("series_path"))
          .filter(col("time") >= lit(start).cast("timestamp_ntz") &&
            col("time") <= lit(end).cast("timestamp_ntz"))
    }

  /** Returns (whether the tick ran, latest_fgt = obs end of the raw series). */
  def run(spark: SparkSession, cfgPath: String, start: String,
          end: String): (Boolean, Option[java.time.LocalDateTime]) = {
    val cfg = JobConfig.read(spark, cfgPath)
    val outputPath = cfg.req("output_path")
    val series = readSeries(spark, cfg, start, end)
    // the reference derives the tick's fgt from the series' observation end, not
    // wall clock — re-runs over the same data are tagged identically (T4-friendly)
    val latestFgt = MikeJobs.getObsEnd(series)
    // pipeline normalization AFTER the probe. The JDBC route must NOT use a
    // plain cast-to-ntz: Spark 4's V2 pushdown compiles Cast into the remote
    // query and Derby has no TIMESTAMP_NTZ type — the date_format round-trip
    // is not dialect-translatable, so it (and everything above it) stays
    // client-side while the window filters below it remain pushed.
    val timeNtz = series.schema
      .find(_.name.equalsIgnoreCase("time")).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampNTZType) => col("time")
      case _ =>
        // .SSSSSS keeps microsecond precision — a plain seconds pattern would
        // silently floor fractional-second series on the JDBC route only
        to_timestamp_ntz(date_format(col("time"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    }
    val ran = Maintenance.runIdempotent(outputPath) {
      MikeCsv.writeHeaderlessSeries(
        MikeJobs.dischargeInput(spark,
          series.select(timeNtz.as("time"),
            col("value").cast("double").as("value")), start, end), outputPath)
    }
    (ran, latestFgt)
  }
}
