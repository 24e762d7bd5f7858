package graft

import java.nio.file.Files

import graft.jobs.ObsRainfallInputJob
import org.apache.spark.sql.functions._

/** Pins the obs-window rainfall generator (SURVEY §3.5;
  * ref `inputs/gen_mike_input_rf_obs_win.py`): N-min re-bucketing, spine merge
  * with blank gaps, negative-sum cleanse, the pandas object-dtype round quirk
  * (gap-bearing stations keep full precision), stations-CSV column order, and
  * the CLI surface (defaults, validators, idempotence gate). */
class ObsRainfallJobSpec extends SparkSpec {
  import spark.implicits._

  test("end-to-end: re-bucket, blank gaps, round quirk, CSV column order") {
    val dir = Files.createTempDirectory("obswin")
    // Beta FIRST in the stations CSV: output columns must follow file order
    Files.writeString(dir.resolve("stations.csv"),
      """hash_id,station_id,station_name,latitude,longitude
        |hB,100002,Beta,6.90,79.90
        |hA,100001,Alpha,6.95,79.87
        |""".stripMargin)
    Seq(
      ("hA", "2024-01-01 00:00:00", 0.22),  // bucket 00:00
      ("hA", "2024-01-01 00:05:00", 0.11),  // \
      ("hA", "2024-01-01 00:10:00", 0.12),  //  > bucket 00:15 = 0.36 -> 0.4
      ("hA", "2024-01-01 00:15:00", 0.13),  // /
      ("hA", "2024-01-01 00:20:00", 1.0),   // bucket 00:30
      ("hA", "2024-01-01 00:45:00", 2.26),  // bucket 00:45 -> 2.3
      ("hA", "2024-01-01 01:00:00", 0.5),   // bucket 01:00
      ("hB", "2024-01-01 00:10:00", -0.5),  // negative sum -> blank
      ("hB", "2024-01-01 00:25:00", 1.23456)) // gap station: NOT rounded
      .toDF("hash_id", "time", "value")
      .withColumn("time", $"time".cast("timestamp_ntz"))
      .write.parquet(s"$dir/series")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"series_path": "$dir/series", "stations_csv": "$dir/stations.csv",
         | "output_dir": "$dir/out", "output_file_name": "mike_rf.txt"}""".stripMargin)
    val ran = ObsRainfallInputJob.run(spark, s"$dir/cfg.json",
      "2024-01-01 00:00:00", "2024-01-01 01:00:00", step = 15)
    assert(ran)
    val lines = spark.read.textFile(s"$dir/out/mike_rf.txt").collect().toSeq
    assert(lines.head == "time,Beta,Alpha")
    assert(lines.tail.sorted == Seq(
      "2024-01-01 00:00:00,,0.2",
      "2024-01-01 00:15:00,,0.4",
      "2024-01-01 00:30:00,1.23456,1.0",
      "2024-01-01 00:45:00,,2.3",
      "2024-01-01 01:00:00,,0.5"))
    // S13 idempotence: a second tick with the same output is skipped
    assert(!ObsRainfallInputJob.run(spark, s"$dir/cfg.json",
      "2024-01-01 00:00:00", "2024-01-01 01:00:00", step = 15))
  }

  test("CLI surface: defaults, file-name mangling, validators") {
    val (s, e) = graft.jobs.PrepMikeInputsJob.defaultWindow(
      java.time.LocalDateTime.parse("2026-08-12T10:30:00"))
    assert(s == "2026-08-09 00:00:00" && e == "2026-08-14 00:00:00")
    assert(ObsRainfallInputJob.defaultFileName(s, e, 15) ==
      "mike_rf_obs_2026-08-09_00-00-00_2026-08-14_00-00-00_15.txt")
    ObsRainfallInputJob.validateHourTs("2024-01-01 05:00:00")
    intercept[IllegalArgumentException] {
      ObsRainfallInputJob.validateHourTs("2024-01-01 05:15:00")
    }
    intercept[IllegalArgumentException] {
      ObsRainfallInputJob.validateHourTs("2024-01-01 05:00:30")
    }
    intercept[IllegalArgumentException] {
      ObsRainfallInputJob.run(spark, "/nonexistent.json",
        "2024-01-01 00:00:00", "2024-01-01 01:00:00", step = 7)
    }
    val (cfg, so, eo, t) = ObsRainfallInputJob.parseArgs(
      Array("c.json", "-s", "2024-01-01 00:00:00", "-t", "30"))
    assert(cfg == "c.json" && so.contains("2024-01-01 00:00:00") &&
      eo.isEmpty && t == 30)
  }
}
