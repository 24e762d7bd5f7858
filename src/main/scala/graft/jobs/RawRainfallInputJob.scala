package graft.jobs

import graft.io.MikeCsv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CLI for the raw-rainfall (all-stations) input pipeline (SURVEY.md §3.3) — the
  * engine's `inputs/gen_mike_input_rf_linux_all_stations_raw.py`: per-station
  * 15-min resample with the pandas zero-quirk, k-NN neighbor gap-fill cascade,
  * row-mean impute, one column per active station name (the active stations
  * and their k-NN map are read once on the driver), single ordered wide CSV.
  *
  * Config JSON:
  * {
  *   "series_path": "<parquet, 5-min raw obs: obs_id INT, time TIMESTAMP_NTZ,
  *                    value DOUBLE (`RainfallInputJob.SeriesSchema`)>",
  *   "stations_csv": "<csv obs_id,station_name,latitude,longitude>",
  *   "output_path": "<dir for the wide csv>"
  * }
  * Usage: RawRainfallInputJob <config.json> -s "..." -e "..."
  */
object RawRainfallInputJob {

  val stationSchema: StructType = StructType(Seq(
    StructField("obs_id", IntegerType, nullable = false),
    StructField("station_name", StringType, nullable = false),
    StructField("latitude", DoubleType, nullable = false),
    StructField("longitude", DoubleType, nullable = false)))

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
    // S5 active-stations gate (re-expressed): only stations with at least one
    // observation inside [start, end] participate — the stored-proc's
    // "stations with data in range" semantics
    // (ref: inputs/gen_mike_input_rf_linux_all_stations_raw.py:141-147)
    Maintenance.runIdempotent(outputPath) {
      val series = spark.read.schema(RainfallInputJob.SeriesSchema)
        .parquet(cfg.req("series_path"))
        .filter(col("time") >= lit(start).cast("timestamp_ntz") &&
          col("time") <= lit(end).cast("timestamp_ntz"))
      val stationsCsv = cfg.req("stations_csv")
      val stations = MikeCsv.readDimCsv(spark, stationsCsv, stationSchema)
      val active = LocalDim(stations.join(
        series.select(col("obs_id")).distinct(), Seq("obs_id"), "left_semi"),
        stationsCsv)
      MikeCsv.writeWideCsv(
        MikeJobs.rawRainfallInput(spark, series, active, start, end), outputPath)
    }
  }
}
