package graft

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest
import java.sql.DriverManager
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.jobs.{ExtractToWarehouseJob, PrepMikeInputsJob}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.types._

/** One cron tick on a seeded synthetic fixture at the reference shapes
  * (FIXTURES.md): `PrepMikeInputsJob.run` over all four generators, then two
  * `ExtractToWarehouseJob.run` calls — an insert, then an update of every fact
  * with new values under the same fgt. It pins (a) the exact number of Spark
  * jobs each step starts, (b) the bytes of every MIKE input CSV and of every
  * warehouse table, and (c) the exchanges in each prep output's plan; it
  * replays a tick after each prep step fails alone. `ReferenceFixturesSpec`
  * covers the same shapes on the reference's real files.
  *
  * Fixture: a 481 x 48 water-level result plus one station the 53-row dim does
  * not know, 22 rain stations at 5 minutes over 5 days and a 204-row
  * coefficient table over 114 catchments, 46 raw stations with gaps, and a
  * 481-step discharge/tide series with -99999 sentinels. Two catchment and two
  * raw-station names sort differently in UTF-16 and UTF-8, so the pivot's
  * column order is pinned too. */
class MikeTickSpec extends SparkSpec {
  import MikeTickSpec._

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** SHA-256 of the single part file a sink wrote into `dir`. */
  private def csvHash(dir: String): String = {
    val parts = new File(dir).listFiles.filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.length == 1, s"$dir: ${parts.map(_.getName).toSeq}")
    sha256(Files.readAllBytes(parts.head.toPath))
  }

  /** SHA-256 of a table's rows, one comma-joined line per row, sorted. */
  private def tableHash(url: String, table: String): String = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table")
      val n = rs.getMetaData.getColumnCount
      val lines = mutable.ArrayBuffer.empty[String]
      while (rs.next()) lines += (1 to n).map(rs.getString).mkString(",")
      sha256(lines.sorted.mkString("\n").getBytes("UTF-8"))
    } finally c.close()
  }

  /** The fixture, written once for the suite. */
  private lazy val fx: String = {
    val dir = Files.createTempDirectory("miketick").toFile
    writeFixtures(spark, dir, new scala.util.Random(7))
    dir.getAbsolutePath
  }

  /** A flat JSON config `name.json` in `dir`; returns its path. */
  private def cfg(dir: File, name: String, kv: (String, String)*): String = {
    val f = new File(dir, s"$name.json")
    Files.writeString(f.toPath, kv.map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{", ", ", "}"))
    f.getAbsolutePath
  }

  /** The prep config of one tick in `dir`, every step writing `<dir>/<step>_out`
    * and reading its fixture series unless `series` names another; returns the
    * config's path and the outputs by step. */
  private def prepConfig(dir: File, series: Map[String, String] = Map.empty):
      (String, Map[String, String]) = {
    val out = Steps.map(s => s -> s"$dir/${s}_out").toMap
    def from(step: String) = series.getOrElse(step, s"$fx/${SeriesOf(step)}")
    (cfg(dir, "prep",
      "rainfall_config" -> cfg(dir, "rainfall", "series_path" -> from("rainfall"),
        "coefficients_csv" -> s"$fx/coefficients.csv", "output_path" -> out("rainfall")),
      "discharge_config" -> cfg(dir, "discharge", "series_path" -> from("discharge"),
        "output_path" -> out("discharge")),
      "tide_config" -> cfg(dir, "tide", "series_path" -> from("tide"),
        "output_path" -> out("tide")),
      "raw_rainfall_config" -> cfg(dir, "raw_rainfall", "series_path" -> from("raw_rainfall"),
        "stations_csv" -> s"$fx/raw_stations.csv", "output_path" -> out("raw_rainfall"))),
      out)
  }

  /** (step, succeeded, error) of one prep tick over the fixture window. */
  private def prep(config: String): Seq[(String, Boolean, Option[String])] =
    PrepMikeInputsJob.run(spark, config, Start, End)

  /** The part files a sink wrote into `dir`: a re-run writes new names. */
  private def parts(dir: String): Set[String] =
    new File(dir).listFiles.map(_.getName).filter(_.startsWith("part-")).toSet

  test("one MIKE tick: Spark jobs per step and the bytes of every output") {
    val run = Files.createTempDirectory("miketick_run").toFile
    val url = "jdbc:derby:memory:miketickspec;create=true"
    val c = DriverManager.getConnection(url)
    try WarehouseDdl.foreach(c.createStatement().execute) finally c.close()
    val (prepCfg, out) = prepConfig(run)
    def extract(results: String) = cfg(run, s"extract_$results",
      "results_csv" -> s"$fx/$results", "stations_csv" -> s"$fx/stations.csv",
      "jdbc_url" -> url, "fact_table" -> "facts", "run_table" -> "runs",
      "sim_tag" -> "hourly_run", "model" -> "mike11_2016",
      "variable" -> "WaterLevel", "unit" -> "m")
    val fgt = "2019-05-31 06:00:00"

    val sc = spark.sparkContext
    val jobs = new StepJobs
    TestBus.settle(sc)
    sc.addSparkListener(jobs)
    // a generated method past the JVM's 64 KB limit fails the tick here instead
    // of running interpreted without a word
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val counts = try {
      def step[A](body: => A): (A, Map[String, Int]) = {
        val a = body
        TestBus.settle(sc)
        (a, jobs.drain())
      }
      val (status, prepJobs) = step(prep(prepCfg))
      assert(status.map(s => s._1 -> s._2) == Steps.map(_ -> true), status)
      val (insert, insertJobs) = step(ExtractToWarehouseJob.run(spark,
        extract("resmike11_WL.csv"), fgt))
      val (update, updateJobs) = step(ExtractToWarehouseJob.run(spark,
        extract("resmike11_WL_v2.csv"), fgt))
      assert(insert == (23088L, Seq(Ghost)))
      assert(update == (23088L, Seq(Ghost)))
      prepJobs ++ insertJobs.map { case (s, n) => s"${s}_insert" -> n } ++
        updateJobs.map { case (s, n) => s"${s}_update" -> n }
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      sc.removeSparkListener(jobs)
    }

    val hashes = Steps.map(s => s -> csvHash(out(s))) ++
      Tables.map(t => t -> tableHash(url, t))
    assert(counts == ExpectedJobs)
    assert(hashes.toMap == ExpectedHashes)
  }

  test("each MIKE prep output plans as one aggregate: exchanges per sink plan") {
    val run = Files.createTempDirectory("miketick_plans").toFile
    val (prepCfg, out) = prepConfig(run)
    val sinks = new SinkExchanges
    TestBus.settle(spark.sparkContext)
    spark.listenerManager.register(sinks)
    val status = try {
      val s = prep(prepCfg)
      TestBus.settle(spark.sparkContext)
      s
    } finally spark.listenerManager.unregister(sinks)
    assert(status.forall(_._2), status)
    val byStep = out.map { case (step, dir) =>
      step -> sinks.counts(new File(dir).toURI.getPath.stripSuffix("/")) }
    assert(byStep == ExpectedExchanges)
  }

  test("D8 replay: a prep step that fails alone re-runs on the next tick; " +
    "the committed steps are skipped") {
    for (broken <- Steps) {
      val run = Files.createTempDirectory(s"miketick_replay_$broken").toFile
      // a copy of the step's series whose one part file is cut in half
      val copy = new File(run, "series")
      Files.createDirectories(copy.toPath)
      val part = new File(s"$fx/${SeriesOf(broken)}").listFiles
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map(f => Files.copy(f.toPath, copy.toPath.resolve(f.getName))).toSeq match {
          case Seq(p) => p
          case ps => fail(s"one part file expected: $ps")
        }
      val good = Files.readAllBytes(part)
      Files.write(part, good.take(good.length / 2))
      val (prepCfg, out) = prepConfig(run, Map(broken -> copy.getAbsolutePath))

      val failed = prep(prepCfg)
      assert(failed.map(s => s._1 -> s._2) == Steps.map(s => s -> (s != broken)),
        s"$broken: $failed")
      // raw_rainfall and discharge fail in a collect before their write;
      // rainfall and tide in the query stage their write runs first (the
      // aggregate's shuffle, the series broadcast), before anything commits
      assert(!new File(out(broken), "_SUCCESS").exists, broken)
      val committed = Steps.filter(_ != broken).map(s => s -> parts(out(s))).toMap

      Files.write(part, good)
      val replayed = prep(prepCfg)
      assert(replayed.forall(_._2), s"$broken: $replayed")
      assert(committed.map { case (s, _) => s -> parts(out(s)) } == committed, broken)
      assert(Steps.map(s => s -> csvHash(out(s))).toMap ==
        ExpectedHashes.filter(h => Steps.contains(h._1)), broken)
    }
  }

  test("a rain series with obs_id BIGINT fails its step loudly") {
    val run = Files.createTempDirectory("miketick_bigint").toFile
    val wide = Map("rainfall" -> "rain_series", "raw_rainfall" -> "raw_series").map {
      case (step, name) =>
        val path = s"$run/$name"
        spark.read.parquet(s"$fx/$name")
          .withColumn("obs_id", org.apache.spark.sql.functions.col("obs_id").cast("bigint"))
          .write.parquet(path)
        step -> path
    }
    val (prepCfg, out) = prepConfig(run, wide)
    val status = prep(prepCfg)
    assert(status.map(s => s._1 -> s._2) == Steps.map(s => s -> !wide.contains(s)), status)
    for ((step, _, err) <- status if wide.contains(step)) {
      assert(err.exists(_.contains("obs_id")), s"$step: $err")
      assert(!new File(out(step), "_SUCCESS").exists, step)
    }
  }
}

object MikeTickSpec {
  val Steps = Seq("rainfall", "discharge", "tide", "raw_rainfall")
  /** The fixture series each prep step reads. */
  val SeriesOf = Map("rainfall" -> "rain_series", "discharge" -> "flow_series",
    "tide" -> "flow_series", "raw_rainfall" -> "raw_series")
  val Start = "2019-05-26 00:00:00"
  val End = "2019-05-31 00:00:00"
  val Tables = Seq("facts", "runs", "source_dim", "variable_dim", "unit_dim",
    "station_dim")
  val Ghost = "Unmapped Gauge"

  /** One plan execution per output; the dims, runs, pivot keys and the result
    * CSV's header start no job of their own, and each prep output is one
    * aggregate over its wide matrix (raw_rainfall: 3 jobs for its active
    * stations, 3 for the k-NN map, 2 for the write). Before that: rainfall 9,
    * raw_rainfall 16, discharge 6, tide 4 with long-form windows and
    * self-joins; rainfall 17, raw_rainfall 26, extract 22 on an empty warehouse
    * and 27 after, then 5 while the header was read by a Spark job. */
  val ExpectedJobs: Map[String, Int] = Map(
    "rainfall" -> 3, "discharge" -> 4, "tide" -> 2, "raw_rainfall" -> 8,
    "extract_insert" -> 4, "extract_update" -> 4)

  /** Recorded when every step still inferred its pivot keys, range-sorted its
    * sink and upserted one row per statement: the outputs must not move. */
  val ExpectedHashes: Map[String, String] = Map(
    "rainfall" -> "089e3a8c50e20702f4885b80f2f3783892ec0baa6ef1e230b853252ad5a45b26",
    "discharge" -> "9aca48cb3b8abcb212bc36e8c4d5be33967050baf4397c0b229f663f219a1854",
    "tide" -> "95e9860cb95ae5f7f81c052cbae9c5c363c3fa3352818d9c10e321c617631d1b",
    "raw_rainfall" -> "29f10d987606458e3f2b5d7eb10280c2c10f9a8a7d21ac704cfb71f95a5dde7c",
    "facts" -> "e6f5f1af2ff04d1af453adc4d7345dc685928918a70c1564ed9528ce9e516631",
    "runs" -> "e5f68e26581a62062f6f5ebc4819d62a2a928ad60b50db35347c25a00dd6ef98",
    "source_dim" -> "528d92f7918573d4c6b2bffba3fe9bbd061bebc60e5cd60ddd67c66113977f7a",
    "variable_dim" -> "03460e4cc8d3d2455f6102cf0b7cefebb9af211aae8d50987cb9fc239c68709c",
    "unit_dim" -> "f273767cc798ca0f5606540ac32e910457a157f3bc03a0a59563fcd33cd3e20e",
    "station_dim" -> "6a6c82f5803294e085e5d6454005253be839fdebc11253ffb732034ecc14512b")

  /** (shuffle, broadcast) exchanges in the initial AQE plan of each prep
    * sink: one aggregate over the wide matrix, or one spine join. Before that,
    * with long-form windows and self-joins: rainfall (3, 3), raw_rainfall
    * (7, 9), discharge (1, 1) and tide (1, 1). */
  val ExpectedExchanges: Map[String, (Int, Int)] = Map(
    "rainfall" -> (1, 0), "raw_rainfall" -> (1, 0),
    "discharge" -> (0, 1), "tide" -> (0, 1))

  /** (shuffle, broadcast) exchanges in the initial AQE plans of every file
    * write, by output path. */
  final class SinkExchanges extends QueryExecutionListener {
    private val byPath = mutable.Map.empty[String, (Int, Int)]

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.optimizedPlan.collectFirst { case w: InsertIntoHadoopFsRelationCommand =>
        w.outputPath.toUri.getPath.stripSuffix("/") }.foreach { path =>
        val initial = qe.executedPlan.collect { case a: AdaptiveSparkPlanExec => a.initialPlan }
        def count(p: SparkPlan => Boolean) = initial.map(_.collect { case n if p(n) => n }.size).sum
        synchronized(byPath(path) = (count(_.isInstanceOf[ShuffleExchangeLike]),
          count(_.isInstanceOf[BroadcastExchangeLike])))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def counts(path: String): (Int, Int) = synchronized(byPath(path))
  }

  /** Spark jobs per MIKE step, attributed like mikebench's probe: the first
    * job class on the job's own call site, else on its SQL execution's (jobs
    * started on other threads, such as broadcasts). */
  final class StepJobs extends SparkListener {
    private val steps = Seq(
      "graft.jobs.RawRainfallInputJob" -> "raw_rainfall",
      "graft.jobs.RainfallInputJob" -> "rainfall",
      "graft.jobs.DischargeInputJob" -> "discharge",
      "graft.jobs.TideInputJob" -> "tide",
      "graft.jobs.ExtractToWarehouseJob" -> "extract")
    private val execSites = mutable.Map.empty[Long, String]
    private val counts = mutable.Map.empty[String, Int].withDefaultValue(0)

    private def step(site: String): Option[String] =
      site.split('\n').iterator.map(_.trim).flatMap(f =>
        steps.collectFirst { case (cls, s) if f.startsWith(cls + "$.") => s })
        .nextOption()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized(execSites(s.executionId) = s.details)
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val own = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).details
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSites.get(id.toLong)).getOrElse("")
      counts(step(own).orElse(step(exec)).getOrElse("other")) += 1
    }
    def drain(): Map[String, Int] = synchronized {
      val m = counts.toMap; counts.clear(); m
    }
  }

  /** The warehouse schema of `WarehouseJobSpec` ("run" is reserved in Derby). */
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

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val T0 = LocalDateTime.parse("2019-05-26T00:00:00")
  private val Steps15 = 481
  private val Steps5 = 1441

  private def write(f: File, lines: Seq[String]): Unit =
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))

  private val seriesSchema = StructType(Seq(StructField("obs_id", IntegerType, false),
    StructField("time", TimestampNTZType, false), StructField("value", DoubleType, true)))
  private val flowSchema = StructType(Seq(StructField("time", TimestampNTZType, false),
    StructField("value", DoubleType, true)))

  /** Writes the fixture into `dir`, every value drawn from `rnd`. */
  def writeFixtures(spark: SparkSession, dir: File, rnd: scala.util.Random): Unit = {
    def parquet(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(new File(dir, name).getAbsolutePath)
    def lat() = 6.85 + rnd.nextDouble() * 0.3
    def lon() = 79.85 + rnd.nextDouble() * 0.4
    // water level: 48 of the 53 dim stations plus one the dim does not know,
    // and a second result with new values for the update extract
    val names = (1 to 53).map(k => f"Station $k%02d")
    write(new File(dir, "stations.csv"), "station,station_id,latitude,longitude" +:
      names.zip(rnd.shuffle((1 to 53).toVector)).map { case (n, id) =>
        f"$n,$id,${lat()}%.6f,${lon()}%.6f" })
    val cols = {
      val picked = rnd.shuffle(names).take(48)
      val at = rnd.nextInt(49)
      picked.take(at) ++ Seq(Ghost) ++ picked.drop(at)
    }
    for (f <- Seq("resmike11_WL.csv", "resmike11_WL_v2.csv"))
      write(new File(dir, f), ("Time Stamp" +: cols).mkString(",") +:
        (0 until Steps15).map { k =>
          (T0.plusMinutes(15L * k).format(Fmt) +:
            cols.map(_ => f"${0.2 + rnd.nextDouble() * 2.5}%.4f")).mkString(",")
        })
    // rainfall: 22 stations at 5 minutes, mostly dry, a few negatives; 204
    // coefficient rows over 114 catchments (90 fed by two stations)
    val rainIds = (1 to 22).map(100000 + _)
    parquet(for (id <- rainIds; k <- 0 until Steps5) yield {
      val u = rnd.nextDouble()
      val v = if (u < 0.02) -rnd.nextDouble()
        else if (u < 0.7) 0.0 else math.round(rnd.nextDouble() * 50) / 10.0
      Row(id, T0.plusMinutes(5L * k), v)
    }, seriesSchema, "rain_series")
    val catchments = (1 to 112).map(k => f"C_$k%03d") ++ Seq("！Madiwela", "😀Kolonnawa")
    write(new File(dir, "coefficients.csv"), "name,curw_obs_id,coefficient" +:
      catchments.zipWithIndex.flatMap { case (name, k) =>
        val st = rnd.shuffle(rainIds)
        if (k < 90) {
          val w = 0.05 + math.round(rnd.nextDouble() * 90) / 100.0
          Seq(f"$name,${st(0)},$w%.2f", f"$name,${st(1)},${1 - w}%.2f")
        } else Seq(f"$name,${st(0)},1.00")
      })
    // raw rainfall: 46 stations, about 5% of the 5-minute readings missing
    val rawIds = (1 to 46).map(200000 + _)
    val rawNames = (1 to 44).map(k => f"Raw Gauge $k%02d") ++ Seq("！Hanwella", "😀Kottawa")
    write(new File(dir, "raw_stations.csv"), "obs_id,station_name,latitude,longitude" +:
      rawIds.zip(rawNames).map { case (id, n) => f"$id,$n,${lat()}%.6f,${lon()}%.6f" })
    parquet(for (id <- rawIds; k <- 0 until Steps5 if rnd.nextDouble() >= 0.05) yield {
      val u = rnd.nextDouble()
      val v = if (u < 0.01) -1.0
        else if (u < 0.75) 0.0 else math.round(rnd.nextDouble() * 40) / 10.0
      Row(id, T0.plusMinutes(5L * k), v)
    }, seriesSchema, "raw_series")
    // discharge / tide: one 481-step series, sentinels away from both ends
    val sentinelAt = rnd.shuffle((1 until Steps15 - 1).toVector).take(9).toSet
    parquet((0 until Steps15).map { k =>
      val v = if (sentinelAt(k)) -99999.0
        else math.round((40 + 25 * math.sin(k / 30.0) + rnd.nextDouble() * 5) * 100) / 100.0
      Row(T0.plusMinutes(15L * k), v)
    }, flowSchema, "flow_series")
  }
}
