package graft.jobs

import graft.io.MikeCsv
import org.apache.spark.sql.SparkSession

/** CLI for the tide/discharge input pipeline — the minimum end-to-end slice
  * (SURVEY.md §7.2; ref inputs/gen_mike_input_tide_linux.py): long series ->
  * spine align -> sentinel cleanse -> last-row patch -> headerless time,value CSV.
  *
  * Config JSON: { "series_path": "<parquet: time TIMESTAMP_NTZ, value DOUBLE
  * (`SeriesSchema`; other column types fail the step)>", "output_path": "<dir>" }
  * Usage: TideInputJob <config.json> -s "..." -e "..."
  */
object TideInputJob {

  /** The flow series (tide, discharge) schema: no footer-inference job. */
  val SeriesSchema = "time TIMESTAMP_NTZ, value DOUBLE"

  def main(args: Array[String]): Unit = {
    val (cfgPath, start, end) = RainfallInputJob.parseArgs(args)
    RainfallInputJob.validateWindowTs(start)
    RainfallInputJob.validateWindowTs(end)
    val spark = graft.GraftSession()
    try run(spark, cfgPath, start, end)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfgPath: String, start: String, end: String): Boolean = {
    val cfg = JobConfig.read(spark, cfgPath)
    val outputPath = cfg.req("output_path")
    Maintenance.runIdempotent(outputPath) {
      val series = spark.read.schema(SeriesSchema).parquet(cfg.req("series_path"))
      val out = MikeJobs.tideInput(spark, series, start, end)
      MikeCsv.writeHeaderlessSeries(out, outputPath)
    }
  }
}
