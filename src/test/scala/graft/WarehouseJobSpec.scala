package graft

import java.nio.file.Files

import scala.collection.mutable

import graft.jobs.{ExtractToWarehouseJob, TideInputJob}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

class WarehouseJobSpec extends SparkSpec {
  import spark.implicits._

  private def readTable(url: String, table: String) =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()

  test("ExtractToWarehouseJob: CSV -> dims get-or-create -> upsert + run bookkeeping") {
    val dir = Files.createTempDirectory("exjob")
    val url = s"jdbc:derby:memory:exjob;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    Seq(
      """CREATE TABLE facts (tms_id VARCHAR(64) NOT NULL, time TIMESTAMP NOT NULL,
        |  fgt TIMESTAMP NOT NULL, value DOUBLE,
        |  PRIMARY KEY (tms_id, time, fgt))""".stripMargin,
      // T5 run dim ("run" is a Derby reserved word; config points at "runs")
      """CREATE TABLE runs (tms_id VARCHAR(64) NOT NULL PRIMARY KEY,
        |  sim_tag VARCHAR(64), source_id VARCHAR(64), variable_id VARCHAR(64),
        |  unit_id VARCHAR(64), station_id INT,
        |  start_date TIMESTAMP, latest_fgt TIMESTAMP)""".stripMargin,
      "CREATE TABLE source_dim (source_id VARCHAR(64), model VARCHAR(64) NOT NULL PRIMARY KEY)",
      "CREATE TABLE variable_dim (variable_id VARCHAR(64), variable VARCHAR(64) NOT NULL PRIMARY KEY)",
      "CREATE TABLE unit_dim (unit_id VARCHAR(64), unit VARCHAR(32) NOT NULL PRIMARY KEY)",
      """CREATE TABLE station_dim (station VARCHAR(64), station_id INT NOT NULL PRIMARY KEY,
        |  latitude DOUBLE, longitude DOUBLE)""".stripMargin
    ).foreach(c.createStatement().execute)
    c.close()
    // wide result CSV: 2 timesteps x (1 known station + 1 ghost)
    Files.writeString(dir.resolve("res.csv"),
      """time,Nagalagam Street,Ghost Station
        |2024-01-01 00:00:00,1.2342,9.9
        |2024-01-01 00:15:00,1.5,9.9
        |""".stripMargin)
    Files.writeString(dir.resolve("stations.csv"),
      "station,station_id,latitude,longitude\nNagalagam Street,1,6.95,79.87\n")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"results_csv": "$dir/res.csv", "stations_csv": "$dir/stations.csv",
         | "jdbc_url": "$url", "fact_table": "facts", "run_table": "runs",
         | "lake_dir": "$dir/lake", "sim_tag": "evening_18:00",
         | "model": "mike11_2016", "variable": "WaterLevel", "unit": "m"}""".stripMargin)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (n1, missing1) = ExtractToWarehouseJob.run(spark, s"$dir/cfg.json",
      "2024-01-01 01:00:00")
    assert(n1 == 2 && missing1 == Seq("Ghost Station"))
    // the fact frame cached for the two sinks is released once both ran
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty)
    // dims were get-or-created from config + CSV
    assert(readTable(url, "source_dim").count() == 1)
    assert(readTable(url, "variable_dim").count() == 1)
    assert(readTable(url, "unit_dim").count() == 1)
    assert(readTable(url, "station_dim").count() == 1)
    // T5: one run row, registered at first sight: start_date == latest_fgt == fgt1
    val run1 = readTable(url, "runs").collect()
    assert(run1.length == 1)
    val fgt1 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    assert(run1.head.getAs[java.sql.Timestamp]("START_DATE") == fgt1)
    assert(run1.head.getAs[java.sql.Timestamp]("LATEST_FGT") == fgt1)
    assert(run1.head.getAs[Int]("STATION_ID") == 1)
    // re-run with the same fgt: upsert, not append; run row unchanged
    ExtractToWarehouseJob.run(spark, s"$dir/cfg.json", "2024-01-01 01:00:00")
    assert(readTable(url, "facts").count() == 2)
    assert(readTable(url, "runs").count() == 1)
    // a NEW fgt versions the same series/time instead of overwriting (T4), and
    // advances latest_fgt while start_date stays at first registration (T5)
    ExtractToWarehouseJob.run(spark, s"$dir/cfg.json", "2024-01-01 02:00:00")
    assert(readTable(url, "facts").count() == 4)
    val run2 = readTable(url, "runs").collect()
    assert(run2.length == 1)
    assert(run2.head.getAs[java.sql.Timestamp]("START_DATE") == fgt1)
    assert(run2.head.getAs[java.sql.Timestamp]("LATEST_FGT") ==
      java.sql.Timestamp.valueOf("2024-01-01 02:00:00"))
    // the run row's tms_id matches the fact rows' (join key integrity)
    assert(readTable(url, "facts").select("tms_id").distinct()
      .join(readTable(url, "runs"), Seq("tms_id")).count() == 1)
    // the lake sink received both ticks and latest-wins agrees with the JDBC
    // warehouse's row count contract (2 times x latest version each)
    assert(graft.io.VersionedFactStore.readLatest(spark, s"$dir/lake").count() == 2)
    assert(spark.read.parquet(s"$dir/lake").count() == 4) // full fgt history
  }

  test("DischargeInputJob: spine align + last-row patch + obs-end latest_fgt") {
    val dir = Files.createTempDirectory("disjob")
    Seq(("2024-01-01 00:00:00", 12.5), ("2024-01-01 00:15:00", 11.0),
      ("2024-01-01 00:45:00", -3.0)) // gap at 00:30 (dropped), negative last row
      .toDF("s", "value")
      .select(to_timestamp($"s").cast("timestamp_ntz").as("time"), $"value")
      .write.parquet(s"$dir/series")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"series_path": "$dir/series", "output_path": "$dir/out"}""")
    val (ran, fgt) = graft.jobs.DischargeInputJob.run(spark, s"$dir/cfg.json",
      "2024-01-01 00:00:00", "2024-01-01 00:45:00")
    assert(ran)
    // get_obs_end-derived latest_fgt = max observed time in window (ref dis :176)
    assert(fgt.contains(java.time.LocalDateTime.parse("2024-01-01T00:45:00")))
    val csv = new java.io.File(s"$dir/out").listFiles
      .filter(_.getName.endsWith(".csv")).head
    val lines = Files.readAllLines(csv.toPath)
    // no sentinel cleanse for discharge; 00:30 gap dropped; last row patched to 0
    assert(lines.size() == 3)
    assert(lines.get(0) == "2024-01-01 00:00:00,12.5")
    assert(lines.get(1) == "2024-01-01 00:15:00,11.0")
    assert(lines.get(2) == "2024-01-01 00:45:00,0.0")
    // S13 idempotence: second tick with existing artifact is a no-op
    val (ran2, _) = graft.jobs.DischargeInputJob.run(spark, s"$dir/cfg.json",
      "2024-01-01 00:00:00", "2024-01-01 00:45:00")
    assert(!ran2)
  }

  test("DischargeInputJob from JDBC: freshness probe is a pushed MAX (DSv2)") {
    val dir = Files.createTempDirectory("disjdbc")
    val url = "jdbc:derby:memory:disjdbc;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    c.createStatement().execute(
      "CREATE TABLE dis_series (time TIMESTAMP NOT NULL, value DOUBLE)")
    val ps = c.prepareStatement("INSERT INTO dis_series VALUES (?, ?)")
    for ((s, v) <- Seq(("2024-01-01 00:00:00", 12.5),
        ("2024-01-01 00:15:00", 11.0), ("2024-01-01 00:45:00", -3.0),
        ("2024-02-01 00:00:00", 99.0))) { // out-of-window row must be filtered
      ps.setTimestamp(1, java.sql.Timestamp.valueOf(s))
      ps.setDouble(2, v)
      ps.addBatch()
    }
    ps.executeBatch()
    c.close()
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"series_jdbc_url": "$url", "series_jdbc_table": "APP.DIS_SERIES",
         | "output_path": "$dir/out"}""".stripMargin)
    // the job's ACTUAL probe composition (readSeries -> obsEndFrame): the MAX
    // must compile into the database, not run client-side over the table
    val cfg = graft.jobs.JobConfig.read(spark, s"$dir/cfg.json")
    val probe = graft.jobs.MikeJobs.obsEndFrame(
      graft.jobs.DischargeInputJob.readSeries(spark, cfg,
        "2024-01-01 00:00:00", "2024-01-01 00:45:00"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [MAX("),
      s"obs-end MAX not pushed into the database:\n$plan")
    // end-to-end through run(): same artifact contract as the parquet twin
    val (ran, fgt) = graft.jobs.DischargeInputJob.run(spark, s"$dir/cfg.json",
      "2024-01-01 00:00:00", "2024-01-01 00:45:00")
    assert(ran)
    assert(fgt.contains(java.time.LocalDateTime.parse("2024-01-01T00:45:00")))
    val csv = new java.io.File(s"$dir/out").listFiles
      .filter(_.getName.endsWith(".csv")).head
    val lines = Files.readAllLines(csv.toPath)
    assert(lines.size() == 3)
    assert(lines.get(0) == "2024-01-01 00:00:00,12.5")
    assert(lines.get(1) == "2024-01-01 00:15:00,11.0")
    assert(lines.get(2) == "2024-01-01 00:45:00,0.0") // negative last row patched
  }

  test("RawRainfallInputJob: active-station gate + neighbor fill + name pivot CSV") {
    val dir = Files.createTempDirectory("rawrfjob")
    // station 3 has NO data in the window -> the S5 active gate must exclude it
    Seq((1, "2024-01-01 00:05:00", 1.0), (1, "2024-01-01 00:10:00", 2.0),
      (1, "2024-01-01 00:15:00", 3.0), (2, "2024-01-01 00:05:00", 4.0),
      (3, "2023-12-01 00:05:00", 9.0))
      .toDF("obs_id", "s", "value")
      .select($"obs_id", to_timestamp($"s").cast("timestamp_ntz").as("time"), $"value")
      .write.parquet(s"$dir/series")
    Files.writeString(dir.resolve("stations.csv"),
      """obs_id,station_name,latitude,longitude
        |1,Colombo,6.93,79.85
        |2,Kandy,7.29,80.63
        |3,Galle,6.05,80.22
        |""".stripMargin)
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"series_path": "$dir/series", "stations_csv": "$dir/stations.csv",
         | "output_path": "$dir/out"}""".stripMargin)
    assert(graft.jobs.RawRainfallInputJob.run(spark, s"$dir/cfg.json",
      "2024-01-01 00:00:00", "2024-01-01 00:15:00"))
    val csv = new java.io.File(s"$dir/out").listFiles
      .filter(_.getName.endsWith(".csv")).head
    val lines = Files.readAllLines(csv.toPath)
    // header: time + the two ACTIVE stations by name; Galle gated out (S5)
    assert(lines.get(0) == "time,Colombo,Kandy")
    // 00:00 bucket is all-NaN for both -> 0.0 (pandas zero quirk)
    assert(lines.get(1) == "2024-01-01 00:00:00,0.0,0.0")
    // Colombo 15-min bucket = 1+2+3 = 6.0; Kandy = 4.0
    assert(lines.get(2) == "2024-01-01 00:15:00,6.0,4.0")
  }

  test("PrepMikeInputsJob: one session runs all configured steps; failures isolate") {
    val dir = Files.createTempDirectory("prepjob")
    Seq(("2024-01-01 00:00:00", 1.0), ("2024-01-01 00:15:00", 2.0))
      .toDF("s", "value")
      .select(to_timestamp($"s").cast("timestamp_ntz").as("time"), $"value")
      .write.parquet(s"$dir/series")
    Seq((1, "2024-01-01 00:05:00", 1.0), (2, "2024-01-01 00:10:00", 2.0))
      .toDF("obs_id", "s", "value")
      .select($"obs_id", to_timestamp($"s").cast("timestamp_ntz").as("time"), $"value")
      .write.parquet(s"$dir/raw_series")
    Files.writeString(dir.resolve("raw_stations.csv"),
      "obs_id,station_name,latitude,longitude\n1,StA,6.90,79.90\n2,StB,7.00,79.90\n")
    Files.writeString(dir.resolve("coefficients.csv"),
      "name,curw_obs_id,coefficient\nC1,1,1.0\n")
    Files.writeString(dir.resolve("tide.json"),
      s"""{"series_path": "$dir/series", "output_path": "$dir/tide_out"}""")
    Files.writeString(dir.resolve("dis.json"),
      s"""{"series_path": "$dir/series", "output_path": "$dir/dis_out"}""")
    Files.writeString(dir.resolve("raw.json"),
      s"""{"series_path": "$dir/raw_series", "stations_csv": "$dir/raw_stations.csv",
         | "output_path": "$dir/raw_out"}""".stripMargin)
    // rainfall fails inside Spark: its series does not exist
    Files.writeString(dir.resolve("rain.json"),
      s"""{"series_path": "$dir/no_series", "coefficients_csv": "$dir/coefficients.csv",
         | "output_path": "$dir/rain_out"}""".stripMargin)
    // a MISSING step config fails before Spark; neither stops the others
    def prep(rainfallConfig: String): Map[String, Boolean] = {
      Files.writeString(dir.resolve("prep.json"),
        s"""{"rainfall_config": "$rainfallConfig", "tide_config": "$dir/tide.json",
           | "discharge_config": "$dir/dis.json",
           | "raw_rainfall_config": "$dir/raw.json"}""".stripMargin)
      graft.jobs.PrepMikeInputsJob.run(spark, s"$dir/prep.json",
        "2024-01-01 00:00:00", "2024-01-01 00:15:00")
        .map(s => s._1 -> s._2).toMap
    }
    val all = Map("rainfall" -> false, "discharge" -> true, "tide" -> true,
      "raw_rainfall" -> true)
    val sc = spark.sparkContext
    // the Concurrent.all tags of each job (Spark adds its own SQL tags)
    val tags = mutable.ArrayBuffer.empty[Seq[String]]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = tags.synchronized {
        tags += Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(',')).filter(_.startsWith("graft-concurrent-"))
      }
    }
    TestBus.settle(sc)
    sc.addSparkListener(listener)
    try {
      assert(prep(s"$dir/rain.json") == all)
      TestBus.settle(sc)
    } finally sc.removeSparkListener(listener)
    Seq("tide_out", "dis_out", "raw_out").foreach(o =>
      assert(new java.io.File(s"$dir/$o").exists, o))
    assert(!new java.io.File(s"$dir/rain_out").exists)
    // every job of the run carries one and the same Concurrent.all tag
    assert(tags.nonEmpty && tags.forall(_.size == 1) && tags.distinct.size == 1, tags)
    assert(prep(s"$dir/nope.json") == all) // the others' gates skip them now
    // an off-quarter window is refused before any step writes (P9)
    Files.writeString(dir.resolve("prep2.json"),
      s"""{"tide_config": "$dir/tide2.json"}""")
    Files.writeString(dir.resolve("tide2.json"),
      s"""{"series_path": "$dir/series", "output_path": "$dir/tide2_out"}""")
    assertThrows[IllegalArgumentException](graft.jobs.PrepMikeInputsJob.run(
      spark, s"$dir/prep2.json", "2024-01-01 00:07:00", "2024-01-01 00:15:00"))
    assert(!new java.io.File(s"$dir/tide2_out").exists)
    // default horizon is day-aligned now-3d .. now+2d (T6)
    val (s0, e0) = graft.jobs.PrepMikeInputsJob.defaultWindow(
      java.time.LocalDateTime.parse("2024-06-10T14:37:22"))
    assert(s0 == "2024-06-07 00:00:00" && e0 == "2024-06-12 00:00:00")
  }

  test("PrepMikeInputsJob: a config that names no step runs nothing") {
    val dir = Files.createTempDirectory("prepnone")
    Files.writeString(dir.resolve("prep.json"), """{"unrelated": "x"}""")
    assert(graft.jobs.PrepMikeInputsJob.run(spark, s"$dir/prep.json",
      "2024-01-01 00:00:00", "2024-01-01 00:15:00") == Nil)
  }

  test("TideInputJob: config -> spine-aligned cleansed patched headerless CSV") {
    val dir = Files.createTempDirectory("tidejob")
    Seq(("2024-01-01 00:00:00", 1.0), ("2024-01-01 00:15:00", -99999.0),
      ("2024-01-01 00:45:00", -0.5))
      .toDF("s", "value")
      .select(to_timestamp($"s").cast("timestamp_ntz").as("time"), $"value")
      .write.parquet(s"$dir/series")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"series_path": "$dir/series", "output_path": "$dir/out"}""")
    assert(TideInputJob.run(spark, s"$dir/cfg.json",
      "2024-01-01 00:00:00", "2024-01-01 00:45:00"))
    val csv = new java.io.File(s"$dir/out").listFiles
      .filter(_.getName.endsWith(".csv")).head
    val lines = Files.readAllLines(csv.toPath)
    assert(lines.size() == 2)
    assert(lines.get(0) == "2024-01-01 00:00:00,1.0")
    assert(lines.get(1) == "2024-01-01 00:45:00,0.0") // negative last row patched
  }
}
