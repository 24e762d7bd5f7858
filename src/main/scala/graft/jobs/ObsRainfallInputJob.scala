package graft.jobs

import java.time.LocalDateTime

import graft.io.MikeCsv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CLI for the obs-window rainfall generator (SURVEY.md §3.5) — the engine's
  * `inputs/gen_mike_input_rf_obs_win.py`: observed rainfall over any window at
  * any N-minute frequency, station-name wide matrix, blank cells for gaps.
  *
  * Config JSON:
  * {
  *   "series_path": "<parquet (hash_id, time, value) raw obs>",
  *   "stations_csv": "<csv hash_id,station_id,station_name,latitude,longitude>",
  *   "output_dir": "<dir>", "output_file_name": "<optional>"
  * }
  * Usage: ObsRainfallInputJob <config.json> [-s "..."] [-e "..."] [-t N]
  *
  * CLI surface matches the reference (ref :216-253): -s/-e default to 00:00:00
  * three days back / two days ahead, -t defaults to 15 and must be a multiple
  * of 5 (ref :252-255); start/end must sit on a full hour (minutes and seconds
  * '00', ref :85-96). The default output name is the reference's
  * `mike_rf_obs_{start}_{end}_{step}.txt` with spaces/colons mangled
  * (ref :261), and an existing output file skips the run (S13, ref :265-273). */
object ObsRainfallInputJob {

  val stationSchema: StructType = StructType(Seq(
    StructField("hash_id", StringType, nullable = false),
    StructField("station_id", IntegerType, nullable = false),
    StructField("station_name", StringType, nullable = false),
    StructField("latitude", DoubleType, nullable = false),
    StructField("longitude", DoubleType, nullable = false)))

  /** ref :85-96: window timestamps must be exact hours. */
  def validateHourTs(ts: String): Unit = {
    val t = LocalDateTime.parse(ts.replace(' ', 'T'))
    require(t.getSecond == 0, s"Seconds should be always 00: $ts")
    require(t.getMinute == 0, s"Minutes should be always 00: $ts")
  }

  /** ref :261: `'mike_rf_obs_{start}_{end}_{step}.txt'` with " "->"_", ":"->"-". */
  def defaultFileName(start: String, end: String, step: Int): String =
    s"mike_rf_obs_${start}_${end}_$step.txt".replace(" ", "_").replace(":", "-")

  def parseArgs(args: Array[String]): (String, Option[String], Option[String], Int) = {
    val m = args.drop(1).sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    (args(0), m.get("-s"), m.get("-e"), m.get("-t").map(_.trim.toInt).getOrElse(15))
  }

  def main(args: Array[String]): Unit = {
    val (cfgPath, sOpt, eOpt, step) = parseArgs(args)
    // ref :240-247: the same day-aligned horizon as the cron entry's
    val (defS, defE) = PrepMikeInputsJob.defaultWindow(LocalDateTime.now())
    val (start, end) = (sOpt.getOrElse(defS), eOpt.getOrElse(defE))
    sOpt.foreach(validateHourTs)
    eOpt.foreach(validateHourTs)
    val spark = graft.GraftSession()
    try run(spark, cfgPath, start, end, step)
    finally spark.stop()
  }

  /** Returns whether the tick ran (false = output already present, S13). */
  def run(spark: SparkSession, cfgPath: String, start: String, end: String,
          step: Int): Boolean = {
    require(step % 5 == 0, "Time step should be a multiple of 5.")
    val cfg = JobConfig.read(spark, cfgPath)
    def opt(f: String): Option[String] = cfg.opt(f).filter(_.nonEmpty)
    val outPath = opt("output_dir").getOrElse(".") + "/" +
      opt("output_file_name").getOrElse(defaultFileName(start, end, step))
    Maintenance.runIdempotent(outPath) {
      val stationsCsv = cfg.req("stations_csv")
      val stations = LocalDim(
        MikeCsv.readDimCsv(spark, stationsCsv, stationSchema), stationsCsv)
      // column order = stations-CSV row order, like the reference's insertion-
      // ordered station_dict merge loop
      val order = LocalDim.column(stations, "station_name")
      // readings contributing to right-closed buckets labeled in [start, end]
      val series = spark.read.parquet(cfg.req("series_path"))
        .filter(col("time") > lit(start).cast("timestamp_ntz") -
          expr(s"interval $step minutes") &&
          col("time") <= lit(end).cast("timestamp_ntz"))
      val wide = MikeJobs.obsRainfallInput(spark, series, stations, start, end,
        step, order)
      MikeCsv.writeWideCsv(wide, outPath)
    }
  }
}
