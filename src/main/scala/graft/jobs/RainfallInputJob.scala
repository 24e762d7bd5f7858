package graft.jobs

import graft.io.MikeCsv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CLI for the rainfall-input pipeline (SURVEY.md §3.1) — the engine's equivalent of
  * `inputs/gen_mike_input_rf_linux.py`: config JSON + `-s/-e` window args, timestamp
  * validation (P9), idempotence gate (S13), the coefficient table read once on
  * the driver (its stations, weights and catchment names go into the plan as
  * literals), then ONE lazy Spark plan and a single-ordered-file wide CSV sink
  * (S9).
  *
  * Config JSON (flat, string-valued like the reference's
  * inputs/configs/rain_config.json):
  * {
  *   "series_path":  "<parquet, long layout: obs_id INT, time TIMESTAMP_NTZ,
  *                     value DOUBLE (`SeriesSchema`; other types fail the step)>",
  *   "coefficients_csv": "<csv name,curw_obs_id,coefficient>",
  *   "output_path":  "<dir for the wide RF csv>"
  * }
  *
  * Usage: RainfallInputJob <config.json> -s "yyyy-MM-dd HH:mm:ss" -e "..."
  */
object RainfallInputJob {

  /** P9: reference-faithful window validation — second must be 00 and minute on a
    * quarter (ref: inputs/gen_mike_input_rf_linux.py:71-85). */
  def validateWindowTs(ts: String): Unit = {
    val t = java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
    require(t.getSecond == 0, s"seconds must be 00: $ts")
    require(t.getMinute % 15 == 0, s"minute must be a quarter (00/15/30/45): $ts")
  }

  /** The rain series schema: no footer-inference job. */
  val SeriesSchema = "obs_id INT, time TIMESTAMP_NTZ, value DOUBLE"

  val coeffSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("curw_obs_id", IntegerType, nullable = false),
    StructField("coefficient", DoubleType, nullable = false)))

  def parseArgs(args: Array[String]): (String, String, String) = {
    val cfg = args(0)
    val m = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) => k -> v }.toMap
    (cfg, m("-s"), m("-e"))
  }

  def main(args: Array[String]): Unit = {
    val (cfgPath, start, end) = parseArgs(args)
    validateWindowTs(start); validateWindowTs(end)
    val spark = graft.GraftSession()
    try run(spark, cfgPath, start, end)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfgPath: String, start: String, end: String): Boolean = {
    val cfg = JobConfig.read(spark, cfgPath)
    val seriesPath = cfg.req("series_path")
    val coeffsCsv = cfg.req("coefficients_csv")
    val outputPath = cfg.req("output_path")
    // S13: skip the tick if the artifact already exists
    Maintenance.runIdempotent(outputPath) {
      val series = spark.read.schema(SeriesSchema).parquet(seriesPath)
        .filter(col("time") >= lit(start).cast("timestamp_ntz") &&
          col("time") <= lit(end).cast("timestamp_ntz"))
      val coeffs = LocalDim(MikeCsv.readDimCsv(spark, coeffsCsv, coeffSchema)
        .withColumnRenamed("curw_obs_id", "obs_id"), coeffsCsv)
      MikeCsv.writeWideCsv(
        MikeJobs.rainfallInput(spark, series, coeffs, start, end), outputPath)
    }
  }
}
