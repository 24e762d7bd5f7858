package graft

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path}

import graft.jobs.{ExtractToWarehouseJob, RunDirGate}
import org.apache.spark.sql.functions._

/** Pins the T3 cron front-gate to the reference semantics of
  * `outputs/extract_mike_data_to_db.sh:5-32`: today-named directories only,
  * result-CSV mtime fresher than 40 minutes (shell integer-minute math), fgt
  * parsed from the directory name. */
class RunDirGateSpec extends SparkSpec {
  import spark.implicits._

  private val nowMs = 1700000000000L // fixed "current" wall clock
  private val today = "2026-08-12"

  private def mkRun(root: Path, name: String, ageMinutes: Long,
                    withCsv: Boolean = true): Path = {
    val dir = Files.createDirectories(root.resolve(name))
    if (withCsv) {
      val csv = dir.resolve("resmike11_WL.csv")
      Files.writeString(csv,
        "time,Nagalagam Street\n2024-01-01 00:00:00,1.25\n2024-01-01 00:15:00,1.5\n")
      Files.setLastModifiedTime(csv, FileTime.fromMillis(nowMs - ageMinutes * 60000L))
    }
    dir
  }

  private def fixtureTree(): Path = {
    val root = Files.createTempDirectory("rungate")
    mkRun(root, s"${today}_06-00-00", ageMinutes = 10)          // fresh today -> in
    mkRun(root, s"${today}_09-15-30_rerun", ageMinutes = 39)    // suffix ok -> in
    mkRun(root, s"${today}_03-00-00", ageMinutes = 120)         // stale -> out
    mkRun(root, s"${today}_12-00-00", 10, withCsv = false)      // no result -> out
    mkRun(root, "2026-08-11_06-00-00", ageMinutes = 5)          // yesterday -> out
    root
  }

  test("freshRunDirs admits exactly the reference's file set and parses fgt") {
    val root = fixtureTree()
    val got = RunDirGate.freshRunDirs(root.toString, nowMs = nowMs,
      todayOverride = Some(today))
    assert(got.map(_.dir.split('/').last) ==
      Seq(s"${today}_06-00-00", s"${today}_09-15-30_rerun"))
    assert(got.map(_.fgt) == Seq(s"$today 06:00:00", s"$today 09:15:30"))
    assert(got.forall(_.resultCsv.endsWith("resmike11_WL.csv")))
    // the 40th minute is already out: (now - mtime)/60 < 40, shell semantics
    val root2 = Files.createTempDirectory("rungate2")
    mkRun(root2, s"${today}_05-00-00", ageMinutes = 40)
    assert(RunDirGate.freshRunDirs(root2.toString, nowMs = nowMs,
      todayOverride = Some(today)).isEmpty)
  }

  test("freshRunDirs walks a file: URI root like the plain path") {
    val root = fixtureTree()
    val plain = RunDirGate.freshRunDirs(root.toString, nowMs = nowMs,
      todayOverride = Some(today))
    val uri = RunDirGate.freshRunDirs(root.toUri.toString, nowMs = nowMs,
      todayOverride = Some(today))
    assert(uri.map(_.dir.split('/').last) ==
      Seq(s"${today}_06-00-00", s"${today}_09-15-30_rerun"))
    assert(uri.map(_.fgt) == plain.map(_.fgt))
    assert(uri.forall(_.resultCsv.startsWith("file:")))
    // a scheme-less root keeps reporting scheme-less paths
    assert(plain.forall(_.dir.startsWith(root.toString)))
  }

  test("today follows the reference's UTC+5:30 calendar") {
    // 2023-11-14T22:13:20Z -> 2023-11-15 in UTC+5:30
    assert(RunDirGate.today(nowMs) == "2023-11-15")
    assert(RunDirGate.today(nowMs, utcOffsetMinutes = 0) == "2023-11-14")
  }

  test("fgtFromDirname matches the shell '_'/'-' splits, rejects malformed") {
    assert(RunDirGate.fgtFromDirname("2026-08-12_06-00-00") ==
      Some("2026-08-12 06:00:00"))
    assert(RunDirGate.fgtFromDirname("2026-08-12_6-5-0_x") ==
      Some("2026-08-12 6:5:0")) // shell does not zero-pad either
    assert(RunDirGate.fgtFromDirname("2026-08-12").isEmpty)
    assert(RunDirGate.fgtFromDirname("notadate_06-00-00").isEmpty)
    assert(RunDirGate.fgtFromDirname("2026-08-12_0600").isEmpty)
  }

  test("ExtractToWarehouseJob --gated extracts each admitted dir with its dirname fgt") {
    val root = fixtureTree()
    val url = s"jdbc:derby:memory:rungate;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    Seq(
      """CREATE TABLE facts (tms_id VARCHAR(64) NOT NULL, time TIMESTAMP NOT NULL,
        |  fgt TIMESTAMP NOT NULL, value DOUBLE,
        |  PRIMARY KEY (tms_id, time, fgt))""".stripMargin,
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
    Files.writeString(root.resolve("stations.csv"),
      "station,station_id,latitude,longitude\nNagalagam Street,1,6.95,79.87\n")
    Files.writeString(root.resolve("cfg.json"),
      s"""{"outputs_root": "$root", "stations_csv": "$root/stations.csv",
         | "jdbc_url": "$url", "fact_table": "facts", "run_table": "runs",
         | "sim_tag": "hourly_run", "model": "mike11_2016",
         | "variable": "WaterLevel", "unit": "m"}""".stripMargin)
    val done = ExtractToWarehouseJob.runGated(spark, s"$root/cfg.json",
      nowMs = nowMs, todayOverride = Some(today))
    assert(done.map(_._1.split('/').last) ==
      Seq(s"${today}_06-00-00", s"${today}_09-15-30_rerun"))
    assert(done.map(_._2) == Seq(2L, 2L))
    // facts landed under BOTH dirname-parsed fgts
    val fgts = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "facts").load()
      .select(date_format($"fgt", "yyyy-MM-dd HH:mm:ss")).distinct()
      .as[String].collect().toSet
    assert(fgts == Set(s"$today 06:00:00", s"$today 09:15:30"))
  }
}
