package graft

import java.nio.file.Files

import graft.io.{JdbcUpsert, MikeCsv}
import graft.jobs.MikeJobs
import org.apache.spark.sql.functions._

class IoJobsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("wide CSV round-trip preserves times, stations, values, single file") {
    val wide = Seq(
      ("2024-01-01 00:00:00", 1.5, 2.5),
      ("2024-01-01 00:15:00", 3.0, Double.NaN))
      .toDF("s", "StA", "StB")
      .select(to_timestamp($"s").cast("timestamp_ntz").as("time"),
        $"StA", when($"StB".isNaN, lit(null)).otherwise($"StB").as("StB"))
    val dir = tmpDir("widecsv")
    MikeCsv.writeWideCsv(wide, dir)
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.length == 1) // single-file contract
    val back = MikeCsv.readWideCsv(spark, dir)
    assert(back.columns.toSeq == Seq("time", "StA", "StB"))
    assert(back.count() == 2)
    val row2 = back.orderBy($"time").collect()(1)
    assert(row2.getDouble(1) == 3.0 && row2.isNullAt(2)) // empty cell -> null
  }

  test("readWideCsv: the header read on the driver names the columns as " +
    "Spark's own header inference does") {
    // the reader as it was, with a Spark job for the header line
    def inferred(path: String) = {
      val raw = spark.read.option("header", true).csv(path)
      raw.select(to_timestamp(col(raw.columns.head), MikeCsv.TimeFmt)
        .cast("timestamp_ntz").as("time") +:
        raw.columns.tail.map(s => col(s).cast("double").as(s)): _*)
    }
    def sameAsInferred(path: String): Seq[String] = {
      val (got, want) = (MikeCsv.readWideCsv(spark, path), inferred(path))
      assert(got.schema == want.schema)
      assert(got.collect().toSeq == want.collect().toSeq)
      got.columns.toSeq
    }
    val dir = tmpDir("wideheader")
    // a sink directory (part file beside _SUCCESS and .crc files), with a
    // station name the header must quote
    val wide = Seq(("2024-01-01 00:00:00", 1.5, 2.5), ("2024-01-01 00:15:00", 3.0, 4.0))
      .toDF("s", "Kelani, Hanwella", "StB")
      .select(to_timestamp($"s").cast("timestamp_ntz").as("time"),
        $"`Kelani, Hanwella`", $"StB")
    MikeCsv.writeWideCsv(wide, s"$dir/out")
    assert(sameAsInferred(s"$dir/out") == Seq("time", "Kelani, Hanwella", "StB"))
    // one file: a byte order mark, a blank first line, a quoted comma-bearing
    // name and a duplicate name
    val one = java.nio.file.Paths.get(dir, "res.csv")
    Files.writeString(one, "\uFEFF\nTime Stamp,\"St, A\",StB,StB\n" +
      "2024-01-01 00:00:00,1.0,2.0,3.0\n2024-01-01 00:15:00,,5.0,6.0\n")
    assert(sameAsInferred(one.toString) == Seq("time", "St, A", "StB2", "StB3"))
  }

  test("headerless series round-trip") {
    val s = Seq(("2024-01-01 00:00:00", 0.06), ("2024-01-01 00:15:00", 49.01))
      .toDF("ts", "value")
      .select(to_timestamp($"ts").cast("timestamp_ntz").as("time"), $"value")
    val dir = tmpDir("sercsv")
    MikeCsv.writeHeaderlessSeries(s, dir)
    val back = MikeCsv.readHeaderlessSeries(spark, dir)
    assert(back.orderBy($"time").select($"value").as[Double].collect().toSeq
      == Seq(0.06, 49.01))
  }

  test("JDBC upsert is idempotent and updates on key conflict (Derby)") {
    val url = "jdbc:derby:memory:upserttest;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE facts (tms_id VARCHAR(64) NOT NULL, t INT NOT NULL,
        |  v DOUBLE, PRIMARY KEY (tms_id, t))""".stripMargin)
    conn.close()
    val df1 = Seq(("a", 1, 1.0), ("a", 2, 2.0)).toDF("tms_id", "t", "v")
    assert(JdbcUpsert.upsert(df1, url, "facts", Seq("tms_id", "t")) == 2L)
    assert(JdbcUpsert.upsert(df1, url, "facts", Seq("tms_id", "t")) == 2L) // re-run: no-op
    val df2 = Seq(("a", 2, 20.0), ("a", 3, 3.0)).toDF("tms_id", "t", "v")
    JdbcUpsert.upsert(df2, url, "facts", Seq("tms_id", "t")) // update + insert
    val out = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "facts").load()
      .orderBy($"t").select($"v").as[Double].collect()
    assert(out.toSeq == Seq(1.0, 20.0, 3.0))
  }

  test("generic upsert batches the UPDATEs, then INSERTs the rows no UPDATE " +
    "matched") {
    val url = "jdbc:derby:memory:batchupsert;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE facts (tms_id VARCHAR(64) NOT NULL, t INT NOT NULL,
                   |  v DOUBLE, PRIMARY KEY (tms_id, t))""".stripMargin)
      st.execute("INSERT INTO facts VALUES ('a', 1, 1.0), ('a', 3, 3.0), " +
        "('a', 5, 5.0), ('b', 1, 7.0)")
    } finally conn.close()
    // one partition of 5 rows at batchSize 2: batches of 2, 2 and 1 rows, each
    // mixing updated and inserted keys
    val df = (1 to 5).map(t => ("a", t, 10.0 * t)).toDF("tms_id", "t", "v")
      .coalesce(1)
    assert(JdbcUpsert.upsert(df, url, "facts", Seq("tms_id", "t"),
      batchSize = 2) == 5L)
    val out = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "facts").load()
      .as[(String, Int, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0),
      ("a", 4, 40.0), ("a", 5, 50.0), ("b", 1, 7.0)))
  }

  test("getOrCreateDim: insert-if-missing, stable ids, re-run no-op (S12/J7)") {
    val url = "jdbc:derby:memory:dimgc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE dim (k VARCHAR(32) NOT NULL PRIMARY KEY, id VARCHAR(64))")
    conn.close()
    def cand(ks: String*) = ks.toDF("k")
      .select(sha2(concat_ws(":", lit("dim"), $"k"), 256).as("id"), $"k")
    val d1 = JdbcUpsert.getOrCreateDim(spark, cand("a", "b"), url, "dim", Seq("k"))
    assert(d1.count() == 2)
    val idB = d1.filter($"k" === "b").select($"id").as[String].head()
    // overlapping second call: only "c" is created, "b" keeps its id
    val d2 = JdbcUpsert.getOrCreateDim(spark, cand("b", "c"), url, "dim", Seq("k"))
    assert(d2.count() == 3)
    assert(d2.filter($"k" === "b").select($"id").as[String].head() == idB)
    // exact re-run: no-op
    assert(JdbcUpsert.getOrCreateDim(spark, cand("b", "c"), url, "dim", Seq("k"))
      .count() == 3)
  }

  test("rainfallInput: golden end-to-end (cleanse+resample+impute+fold+pivot)") {
    // two stations at 5-min cadence over one 15-min bucket; station 102 has a
    // negative (-> null -> imputed with row mean of station 101's bucket value)
    val series = Seq(
      (101, "2024-01-01 00:05:00", 1.0),
      (101, "2024-01-01 00:10:00", 2.0),
      (101, "2024-01-01 00:15:00", 3.0),
      (102, "2024-01-01 00:05:00", -5.0)) // cleansed away -> bucket sums to 0.0
      .toDF("obs_id", "s", "value")
      .select($"obs_id", to_timestamp($"s").cast("timestamp_ntz").as("time"), $"value")
    val coeffs = Seq(("C1", 101, 0.5), ("C1", 102, 0.5), ("C2", 101, 1.0))
      .toDF("name", "obs_id", "coefficient")
    val out = MikeJobs.rainfallInput(spark, series, coeffs,
      "2024-01-01 00:15:00", "2024-01-01 00:15:00")
    val row = out.collect().head
    // station 101 bucket = 6.0; station 102 bucket = 0.0 (pandas all-NaN quirk)
    // C1 = 0.5*6 + 0.5*0 = 3.0 ; C2 = 1.0*6 = 6.0
    assert(row.getDouble(1) == 3.0 && row.getDouble(2) == 6.0)
  }

  test("tideInput: sentinel cleanse + last-row patch on the spine") {
    val series = Seq(
      ("2024-01-01 00:00:00", 1.0),
      ("2024-01-01 00:15:00", -99999.0), // sentinel -> null -> dropped
      ("2024-01-01 00:45:00", -0.5))     // last row negative -> patched to 0
      .toDF("s", "value")
      .select(to_timestamp($"s").cast("timestamp_ntz").as("time"), $"value")
    val out = MikeJobs.tideInput(spark, series,
      "2024-01-01 00:00:00", "2024-01-01 00:45:00")
      .orderBy($"time").select($"value").as[Double].collect()
    assert(out.toSeq == Seq(1.0, 0.0))
  }

  test("extractToWarehouse: unpivot + dim join + hash ids + unmatched branch") {
    val wide = Seq(("2024-01-01 00:00:00", 1.2342, 9.9))
      .toDF("s", "Nagalagam Street", "Ghost Station")
      .select(to_timestamp($"s").cast("timestamp_ntz").as("time"),
        $"Nagalagam Street", $"Ghost Station")
    val dim = Seq(("Nagalagam Street", 1, 6.95, 79.87))
      .toDF("station", "station_id", "latitude", "longitude")
    val (facts, unmatched) = MikeJobs.extractToWarehouse(wide, dim,
      "2024-01-01 01:00:00", "evening_18:00", "mike11", "WaterLevel", "m")
    val f = facts.collect()
    assert(f.length == 1)
    assert(f.head.getAs[String]("tms_id").matches("[0-9a-f]{64}"))
    assert(f.head.getAs[Double]("value") == 1.234) // round(3)
    assert(unmatched.as[String].collect().toSeq == Seq("Ghost Station"))
  }
}
