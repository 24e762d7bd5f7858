package graft

import java.nio.file.Files

import graft.jobs.{RainfallInputJob, RawRainfallInputJob}
import graft.ops.TimeSeriesOps._
import org.apache.spark.sql.functions._

class TimeSeriesOpsSpec extends SparkSpec {
  import spark.implicits._

  test("timeSpine is dense, inclusive of both endpoints, at the requested step") {
    val s = timeSpine(spark, "2024-01-01 00:00:00", "2024-01-01 01:00:00", 15)
    val times = s.orderBy($"time").as[java.time.LocalDateTime].collect()
    assert(times.length == 5)
    assert(times.head.toString == "2024-01-01T00:00")
    assert(times.last.toString == "2024-01-01T01:00")
  }

  test("ceilBucket is right-closed right-labeled: boundary stays, +1us rolls up") {
    val df = Seq(
      "2024-01-01 00:15:00.000000", // exactly on boundary -> own bucket
      "2024-01-01 00:15:00.000001", // 1us past -> next bucket
      "2024-01-01 00:00:00.000001", // just past prior boundary -> 00:15
      "2024-01-01 00:14:59.999999").toDF("s")
      .select(to_timestamp($"s").as("t"))
      .select(ceilBucket($"t", 900L).cast("string").as("b"))
    assert(df.as[String].collect().toSeq == Seq(
      "2024-01-01 00:15:00", "2024-01-01 00:30:00",
      "2024-01-01 00:15:00", "2024-01-01 00:15:00"))
  }

  test("resampleSum replicates pandas all-NaN-bucket -> 0.0 quirk") {
    val df = Seq(
      ("a", "2024-01-01 00:05:00", Some(1.0)),
      ("a", "2024-01-01 00:10:00", Some(2.0)),
      ("a", "2024-01-01 00:20:00", None: Option[Double]))
      .toDF("k", "s", "value")
      .select($"k", to_timestamp($"s").cast("timestamp_ntz").as("time"), $"value")
    val out = resampleSum(df, "time", 900L, Seq("k"), "value")
      .orderBy($"time").select($"value").as[Double].collect()
    assert(out.toSeq == Seq(3.0, 0.0)) // second bucket all-null -> 0.0, not NULL
  }

  test("rowMean imputation uses the pre-fill mean (reference order-sensitivity)") {
    val wide = Seq(("t1", Some(2.0), Some(4.0), None: Option[Double],
      None: Option[Double])).toDF("time", "s1", "s2", "s3", "s4")
    val stations = Seq("s1", "s2", "s3", "s4")
    val out = wide.withColumn("__mean", rowMean(stations.map(col)))
      .select(stations.map(s => coalesce(col(s), $"__mean")): _*)
      .as[(Double, Double, Double, Double)].head()
    // both gaps get mean(2,4)=3 — NOT a running fill where s4 would see s3's fill
    assert(out == ((2.0, 4.0, 3.0, 3.0)))
  }

  test("discharge input zeroes a missing/negative final spine row only") {
    val df = Seq(
      ("2024-01-01 00:00:00", Some(5.0)),
      ("2024-01-01 00:15:00", Some(-2.0)),
      ("2024-01-01 00:30:00", None: Option[Double]))
      .toDF("s", "value")
      .select(to_timestamp($"s").cast("timestamp_ntz").as("time"), $"value")
    val out = graft.jobs.MikeJobs.dischargeInput(spark, df,
        "2024-01-01 00:00:00", "2024-01-01 00:30:00")
      .orderBy($"time").select($"value").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(5.0), Some(-2.0), Some(0.0)))
  }

  test("weightedSum folds coefficient x column per catchment (hand-computed)") {
    val wide = Seq(("t1", Some(10.0), Some(20.0)), ("t2", Some(1.0), None),
      ("t3", None, None)).toDF("time", "101", "102")
    val out = wide.select($"time",
        round(weightedSum(Seq($"101" -> 0.3, $"102" -> 0.7)), 9).as("C1"),
        round(weightedSum(Seq($"101" -> 1.0)), 9).as("C2"))
      .orderBy($"time").as[(String, Option[Double], Option[Double])].collect()
    // a NULL member is skipped, as SQL SUM skips it; all NULL -> NULL
    assert(out.toSeq == Seq(("t1", Some(17.0), Some(10.0)),
      ("t2", Some(0.3), Some(1.0)), ("t3", None, None)))
  }

  test("pivotWide / unpivotLong round-trip on deduplicated keys") {
    val long = Seq(("t1", "a", 1.0), ("t1", "b", 2.0), ("t2", "a", 3.0))
      .toDF("time", "station", "value")
    val wide = pivotWide(long, "time", "station", "value", Seq("a", "b"))
    assert(wide.columns.toSeq == Seq("time", "a", "b"))
    val back = unpivotLong(wide, Seq("time")).filter($"value".isNotNull)
    assert(back.count() == 3)
    val t2a = back.filter($"time" === "t2" && $"station" === "a")
      .select($"value").as[Double].head()
    assert(t2a == 3.0)
  }

  test("seriesId is a stable 64-hex content hash") {
    val df = Seq(("mike11", "WL")).toDF("m", "v")
      .select(seriesId(col("m"), col("v")).as("id"))
    val id = df.as[String].head()
    assert(id.matches("[0-9a-f]{64}"))
    assert(df.as[String].head() == id) // deterministic across evaluations
  }

  test("raw rainfall fills a gap from the 1st, then the 2nd nearest station") {
    // on a meridian: s1's nearest station is s2, its second s3
    val stations = Seq((1, "s1", 6.90, 79.90), (2, "s2", 7.00, 79.90),
      (3, "s3", 7.11, 79.90)).toDF("obs_id", "station_name", "latitude", "longitude")
    // negative readings are the gaps: s1 in both buckets, s2 in the second
    val series = Seq((1, "00:05", -1.0), (2, "00:10", 7.0), (3, "00:10", 9.0),
      (1, "00:20", -1.0), (2, "00:20", -1.0), (3, "00:25", 5.0))
      .toDF("obs_id", "s", "value")
      .select($"obs_id", to_timestamp(concat(lit("2024-01-01 "), $"s"))
        .cast("timestamp_ntz").as("time"), $"value")
    val out = graft.jobs.MikeJobs.rawRainfallInput(spark, series, stations,
        "2024-01-01 00:00:00", "2024-01-01 00:30:00")
      .orderBy($"time").select($"s1").as[Double].collect()
    // 00:15 from n1 (s2); 00:30 falls through to n2 (s3)
    assert(out.toSeq == Seq(0.0, 7.0, 5.0))
  }

  test("sparkOrder: keys sorted on the driver give the columns Spark's own " +
    "inferred pivot gives, where UTF-16 and UTF-8 orders disagree") {
    // U+FF01 sorts after a surrogate pair in UTF-16, before it in UTF-8
    val keys = Seq("😀a", "！a", "b", null, "a", "！a")
    assert(keys.distinct.filter(_ != null).sorted == Seq("a", "b", "😀a", "！a"))
    assert(sparkOrder(keys) == Seq(null, "a", "b", "！a", "😀a"))
    val long = keys.zipWithIndex.map { case (k, i) => ("t1", k, i.toDouble) }
      .toDF("time", "station", "value")
    val inferred = long.groupBy($"time").pivot("station").agg(first($"value"))
    val named = pivotWide(long, "time", "station", "value", sparkOrder(keys))
    assert(named.columns.toSeq == inferred.columns.toSeq)
    assert(named.collect().toSeq == inferred.collect().toSeq)
  }

  test("a pivot-key dim of more than 10,000 rows fails naming its file") {
    val dir = Files.createTempDirectory("bigdim")
    Seq((101, java.time.LocalDateTime.parse("2024-01-01T00:05:00"), 1.0))
      .toDF("obs_id", "time", "value").write.parquet(s"$dir/series")
    val coeffs = dir.resolve("coefficients.csv")
    Files.writeString(coeffs, ("name,curw_obs_id,coefficient" +:
      (0 to 10000).map(i => s"C_$i,101,1.0")).mkString("\n"))
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"series_path": "$dir/series", "coefficients_csv": "$coeffs",
         | "output_path": "$dir/out"}""".stripMargin)
    val e = intercept[IllegalArgumentException](RainfallInputJob.run(spark,
      s"$dir/cfg.json", "2024-01-01 00:00:00", "2024-01-01 00:30:00"))
    assert(e.getMessage.contains(s"$coeffs has more than 10000 rows"), e.getMessage)
    assert(!Files.exists(dir.resolve("out")))
  }

  test("raw rainfall over a window no station reported in writes a " +
    "header-only file") {
    val dir = Files.createTempDirectory("rawempty")
    Seq((1, java.time.LocalDateTime.parse("2024-01-02T00:05:00"), 1.0))
      .toDF("obs_id", "time", "value").write.parquet(s"$dir/series")
    Files.writeString(dir.resolve("stations.csv"), "obs_id,station_name,latitude," +
      "longitude\n1,StA,6.90,79.90\n2,StB,7.00,79.90\n")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"series_path": "$dir/series", "stations_csv": "$dir/stations.csv",
         | "output_path": "$dir/out"}""".stripMargin)
    assert(RawRainfallInputJob.run(spark, s"$dir/cfg.json",
      "2024-01-01 00:00:00", "2024-01-01 00:30:00"))
    val parts = new java.io.File(s"$dir/out").listFiles
      .filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1)
    assert(Files.readString(parts.head.toPath) == "time\n")
  }
}
