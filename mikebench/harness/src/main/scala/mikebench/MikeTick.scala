package mikebench

import java.io.File
import java.nio.file.Files
import java.sql.DriverManager
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.jobs.{ExtractToWarehouseJob, PrepMikeInputsJob}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `mike_tick`: the paper's operational unit, one cron tick after another in
  * one session with one caller.
  *
  * One tick = `PrepMikeInputsJob.run` (rainfall, discharge, tide and
  * raw-rainfall generators into fresh output directories, so the idempotence
  * gate never skips a step), then `ExtractToWarehouseJob.run` with a new
  * forecast-generated time (23,088 inserts into an in-memory Derby warehouse),
  * then the same extract again with the previous tick's fgt (23,088 updates:
  * the 40-minute freshness window under the 30-minute cron re-admits the last
  * run).
  *
  * Fixtures come from the seed, at the reference shapes: a 481 x 48 wide
  * water-level result plus one station missing from the 53-row station dim;
  * 22 rain stations at 5 minutes over 5 days with negatives and a 204-row
  * coefficient table over 114 catchments; 46 raw stations with gaps; a 481-step
  * discharge/tide series with -99999 sentinels. */
final class MikeTick(spark: SparkSession, seed: Long, base: File) extends Workload {
  import MikeTick._

  private var fx: File = _
  private var url: String = _
  private var sentinels = 0
  private val prepStatus = mutable.Map.empty[Int, Seq[(String, Boolean, Option[String])]]
  private val extracted = mutable.Map.empty[(Int, String), (Long, Seq[String])]
  private val outputs = mutable.Map.empty[Int, Map[String, String]]

  def prepare(attempt: Int): Unit = {
    fx = new File(base, s"fixtures-$attempt")
    Files.createDirectories(fx.toPath)
    val rnd = new scala.util.Random(seed)
    sentinels = writeFixtures(spark, fx, rnd)
    url = s"jdbc:derby:memory:mikebench_$attempt;create=true"
    val c = DriverManager.getConnection(url)
    try WarehouseDdl.foreach(c.createStatement().execute)
    finally c.close()
  }

  private def fgt(i: Int): String = FgtBase.plusMinutes(30L * i).format(Fmt)

  def unit(i: Int, run: CallRunner): Unit = {
    val tick = new File(base, s"tick-$i")
    val out = Steps.map(s => s -> new File(tick, s"${s}_out").getAbsolutePath).toMap
    def cfg(name: String, body: String): String = {
      val f = new File(tick, s"$name.json")
      Files.createDirectories(tick.toPath)
      Files.writeString(f.toPath, body)
      f.getAbsolutePath
    }
    val fxp = fx.getAbsolutePath
    val prep = cfg("prep", Stats.json(Map(
      "rainfall_config" -> cfg("rainfall", Stats.json(Map("series_path" -> s"$fxp/rain_series",
        "coefficients_csv" -> s"$fxp/coefficients.csv", "output_path" -> out("rainfall")))),
      "discharge_config" -> cfg("discharge", Stats.json(Map("series_path" -> s"$fxp/flow_series",
        "output_path" -> out("discharge")))),
      "tide_config" -> cfg("tide", Stats.json(Map("series_path" -> s"$fxp/flow_series",
        "output_path" -> out("tide")))),
      "raw_rainfall_config" -> cfg("raw_rainfall", Stats.json(Map("series_path" -> s"$fxp/raw_series",
        "stations_csv" -> s"$fxp/raw_stations.csv", "output_path" -> out("raw_rainfall")))))))
    val extract = cfg("extract", Stats.json(Map(
      "results_csv" -> s"$fxp/resmike11_WL.csv", "stations_csv" -> s"$fxp/stations.csv",
      "jdbc_url" -> url, "fact_table" -> "facts", "run_table" -> "runs",
      "sim_tag" -> "hourly_run", "model" -> "mike11_2016", "variable" -> "WaterLevel", "unit" -> "m")))

    run("prep")(PrepMikeInputsJob.run(spark, prep, WindowStart, WindowEnd))
      .foreach(r => prepStatus(i) = r)
    for ((call, f) <- Seq("extract_insert" -> fgt(i), "extract_update" -> fgt(math.max(i - 1, 0)))) {
      run(call)(ExtractToWarehouseJob.run(spark, extract, f)).foreach { r =>
        extracted((i, call)) = r
        run.note("io.facts_upserted", r._1.toDouble)
      }
    }
    outputs(i) = out
  }

  def check(i: Int): Seq[(String, Boolean)] = {
    val out = outputs(i)
    val status = prepStatus.getOrElse(i, Nil).map(s => s._1 -> s._2).toMap
    val shapes = Map( // (lines, columns) of each generated MIKE input
      "rainfall" -> (1 + Steps15, 1 + Catchments),
      "discharge" -> (Steps15, 2),
      "tide" -> (Steps15 - sentinels, 2),
      "raw_rainfall" -> (1 + Steps15, 1 + RawStations))
    val stepChecks = Steps.flatMap { s =>
      Seq(s"$s ok" -> status.get(s).contains(true),
        s"$s shape ${shapes(s)}" -> (csvShape(new File(out(s))) == Some(shapes(s))))
    }
    val extractChecks = Seq("extract_insert", "extract_update").map { call =>
      s"$call returns $FactsPerExtract facts and the unmatched station" ->
        extracted.get((i, call)).contains((FactsPerExtract.toLong, Seq(Ghost)))
    }
    val c = DriverManager.getConnection(url)
    val (facts, fgts, runs) = try {
      def one(sql: String): Long = { val r = c.createStatement().executeQuery(sql); r.next(); r.getLong(1) }
      (one("SELECT COUNT(*) FROM facts"), one("SELECT COUNT(DISTINCT fgt) FROM facts"),
        one("SELECT COUNT(*) FROM runs"))
    } finally c.close()
    deleteTree(new File(base, s"tick-$i"))
    stepChecks ++ extractChecks :+
      (s"warehouse holds $FactsPerExtract x ${i + 1} fgts and $ResultStations runs" ->
        (facts == FactsPerExtract.toLong * (i + 1) && fgts == i + 1 && runs == ResultStations))
  }

  /** One warm tick alone is too noisy a sample; two per run, at least. */
  override def minWarm: Int = 2

  override def extras(warm: Seq[Seq[Call]]): Seq[(String, Seq[Double], String)] = Seq(
    ("prep_s", warm.flatMap(_.filter(_.name == "prep").map(_.wall)), "s"),
    ("extract_s", warm.map(_.filter(_.name.startsWith("extract")).map(_.wall).sum), "s"))
}

object MikeTick {
  val Fmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val WindowStart = "2019-05-26 00:00:00"
  val WindowEnd = "2019-05-31 00:00:00"
  val FgtBase: LocalDateTime = LocalDateTime.parse("2019-05-31T06:00:00")
  val Steps15 = 481 // 15-minute steps over the 5-day window, both ends included
  val Steps5 = 1441
  val ResultStations = 48
  val DimStations = 53
  val RainStations = 22
  val Catchments = 114
  val CoefficientRows = 204
  val RawStations = 46
  val FactsPerExtract: Int = Steps15 * ResultStations // 23,088
  val Ghost = "Unmapped Gauge"
  val Steps = Seq("rainfall", "discharge", "tide", "raw_rainfall")

  /** The warehouse schema of the engine's warehouse spec ("run" is reserved in Derby). */
  val WarehouseDdl: Seq[String] = Seq(
    """CREATE TABLE facts (tms_id VARCHAR(64) NOT NULL, time TIMESTAMP NOT NULL,
      |  fgt TIMESTAMP NOT NULL, value DOUBLE, PRIMARY KEY (tms_id, time, fgt))""".stripMargin,
    """CREATE TABLE runs (tms_id VARCHAR(64) NOT NULL PRIMARY KEY,
      |  sim_tag VARCHAR(64), source_id VARCHAR(64), variable_id VARCHAR(64),
      |  unit_id VARCHAR(64), station_id INT, start_date TIMESTAMP, latest_fgt TIMESTAMP)""".stripMargin,
    "CREATE TABLE source_dim (source_id VARCHAR(64), model VARCHAR(64) NOT NULL PRIMARY KEY)",
    "CREATE TABLE variable_dim (variable_id VARCHAR(64), variable VARCHAR(64) NOT NULL PRIMARY KEY)",
    "CREATE TABLE unit_dim (unit_id VARCHAR(64), unit VARCHAR(32) NOT NULL PRIMARY KEY)",
    """CREATE TABLE station_dim (station VARCHAR(64), station_id INT NOT NULL PRIMARY KEY,
      |  latitude DOUBLE, longitude DOUBLE)""".stripMargin)

  private val t0 = LocalDateTime.parse("2019-05-26T00:00:00")

  private def write(f: File, lines: Seq[String]): Unit =
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))

  private val seriesSchema = StructType(Seq(StructField("obs_id", IntegerType, false),
    StructField("time", TimestampNTZType, false), StructField("value", DoubleType, true)))
  private val flowSchema = StructType(Seq(StructField("time", TimestampNTZType, false),
    StructField("value", DoubleType, true)))

  private def parquet(spark: SparkSession, rows: Seq[Row], schema: StructType, path: File): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      .write.mode("overwrite").parquet(path.getAbsolutePath)

  /** Writes every fixture into `dir`; returns the number of tide sentinels. */
  def writeFixtures(spark: SparkSession, dir: File, rnd: scala.util.Random): Int = {
    def lat() = 6.85 + rnd.nextDouble() * 0.3
    def lon() = 79.85 + rnd.nextDouble() * 0.4
    // water-level result: 48 dim stations + one the dim does not know
    val names = (1 to DimStations).map(k => f"Station $k%02d")
    val ids = rnd.shuffle((1 to DimStations).toVector)
    write(new File(dir, "stations.csv"), "station,station_id,latitude,longitude" +:
      names.zip(ids).map { case (n, id) => f"$n,$id,${lat()}%.6f,${lon()}%.6f" })
    val cols = {
      val picked = rnd.shuffle(names).take(ResultStations)
      val at = rnd.nextInt(ResultStations + 1)
      picked.take(at) ++ Seq(Ghost) ++ picked.drop(at)
    }
    write(new File(dir, "resmike11_WL.csv"), ("Time Stamp" +: cols).mkString(",") +:
      (0 until Steps15).map { k =>
        (t0.plusMinutes(15L * k).format(Fmt) +: cols.map(_ => f"${0.2 + rnd.nextDouble() * 2.5}%.4f")).mkString(",")
      })
    // rainfall: 22 stations at 5 minutes, dry most of the time, a few negatives
    val rainIds = (1 to RainStations).map(100000 + _)
    parquet(spark, for (id <- rainIds; k <- 0 until Steps5) yield {
      val u = rnd.nextDouble()
      val v = if (u < 0.02) -rnd.nextDouble() else if (u < 0.7) 0.0 else math.round(rnd.nextDouble() * 50) / 10.0
      Row(id, t0.plusMinutes(5L * k), v)
    }, seriesSchema, new File(dir, "rain_series"))
    val paired = CoefficientRows - Catchments // catchments fed by two stations
    write(new File(dir, "coefficients.csv"), "name,curw_obs_id,coefficient" +:
      (1 to Catchments).flatMap { k =>
        val st = rnd.shuffle(rainIds)
        if (k <= paired) {
          val w = 0.05 + math.round(rnd.nextDouble() * 90) / 100.0
          Seq(f"C_$k%03d,${st(0)},$w%.2f", f"C_$k%03d,${st(1)},${1 - w}%.2f")
        } else Seq(f"C_$k%03d,${st(0)},1.00")
      })
    // raw rainfall: 46 stations with gaps
    val rawIds = (1 to RawStations).map(200000 + _)
    write(new File(dir, "raw_stations.csv"), "obs_id,station_name,latitude,longitude" +:
      rawIds.zipWithIndex.map { case (id, k) => f"$id,Raw Gauge ${k + 1}%02d,${lat()}%.6f,${lon()}%.6f" })
    parquet(spark, for (id <- rawIds; k <- 0 until Steps5 if rnd.nextDouble() >= 0.05) yield {
      val u = rnd.nextDouble()
      val v = if (u < 0.01) -1.0 else if (u < 0.75) 0.0 else math.round(rnd.nextDouble() * 40) / 10.0
      Row(id, t0.plusMinutes(5L * k), v)
    }, seriesSchema, new File(dir, "raw_series"))
    // discharge / tide: one 481-step series with sentinels away from both ends
    val nSentinel = 5 + rnd.nextInt(10)
    val sentinelAt = rnd.shuffle((1 until Steps15 - 1).toVector).take(nSentinel).toSet
    parquet(spark, (0 until Steps15).map { k =>
      val v = if (sentinelAt(k)) -99999.0
        else math.round((40 + 25 * math.sin(k / 30.0) + rnd.nextDouble() * 5) * 100) / 100.0
      Row(t0.plusMinutes(15L * k), v)
    }, flowSchema, new File(dir, "flow_series"))
    nSentinel
  }

  /** (lines, columns of the first line) of the single CSV part a step wrote. */
  def csvShape(dir: File): Option[(Int, Int)] = {
    val parts = Option(dir.listFiles).toSeq.flatten.filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".csv"))
    if (parts.size != 1) None
    else {
      val lines = Files.readAllLines(parts.head.toPath)
      if (lines.isEmpty) None else Some((lines.size, lines.get(0).split(",", -1).length))
    }
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
