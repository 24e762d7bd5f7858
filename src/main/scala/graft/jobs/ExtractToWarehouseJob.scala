package graft.jobs

import graft.io.{JdbcUpsert, MikeCsv, VersionedFactStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CLI for the output-extraction pipeline (SURVEY.md §3.2) — the engine's
  * `outputs/extract_water_level.py`: wide MIKE result CSV -> unpivot -> station-dim
  * join -> deterministic series ids -> idempotent fact upsert keyed
  * (tms_id, time, fgt), with the unmatched-station branch reported.
  *
  * Config JSON:
  * {
  *   "results_csv": "<wide MIKE result csv dir/file>",
  *   "stations_csv": "<csv station,station_id,latitude,longitude>",
  *   "jdbc_url": "<warehouse url>", "fact_table": "facts",
  *   "sim_tag": "...", "model": "mike11_2016", "variable": "WaterLevel", "unit": "m"
  * }
  * Usage: ExtractToWarehouseJob <config.json> -f "yyyy-MM-dd HH:mm:ss"   (fgt)
  *    or: ExtractToWarehouseJob <config.json> --gated
  *
  * `--gated` runs the reference's cron front-gate instead of taking an
  * explicit fgt (T3; `outputs/extract_mike_data_to_db.sh:5-32` via
  * `RunDirGate`): every run directory under config `outputs_root` named with
  * today's (UTC+5:30) date whose result CSV is fresher than
  * `max_age_minutes` (default 40) is extracted with the fgt parsed from the
  * directory name.
  */
object ExtractToWarehouseJob {

  val stationSchema: StructType = StructType(Seq(
    StructField("station", StringType, nullable = false),
    StructField("station_id", IntegerType, nullable = false),
    StructField("latitude", DoubleType, nullable = false),
    StructField("longitude", DoubleType, nullable = false)))

  def main(args: Array[String]): Unit = {
    val cfgPath = args(0)
    val gated = args.contains("--gated")
    val fgt = args.sliding(2, 1).collectFirst { case Array("-f", v) => v }
    if (!gated && fgt.isEmpty) sys.error("missing -f <fgt timestamp> (or --gated)")
    val spark = graft.GraftSession()
    try {
      if (gated) runGated(spark, cfgPath)
      else run(spark, cfgPath, fgt.get)
    } finally spark.stop()
  }

  /** Returns (facts upserted, unmatched station names).
    *
    * Full reference shape (outputs/extract_water_level.py:200-240 + 90-97):
    *  1. resolve source/variable/unit dims get-or-create (ids are deterministic
    *     content hashes, so there is no id-allocator to coordinate);
    *  2. register CSV stations into the warehouse station dim get-or-create and
    *     join facts against the WAREHOUSE dim (stations already known to the
    *     warehouse keep working even if dropped from the CSV), collected once
    *     into a local frame that the fact join, the run rows and the unmatched
    *     list share;
    *  3. upsert facts keyed (tms_id, time, fgt) — row count from inside the
    *     writer, the plan executes once;
    *  4. run bookkeeping: insert_run/update_start_date once per new series,
    *     update_latest_fgt every tick.
    * Dims and runs are written on the driver over plain JDBC; only the facts
    * take a distributed Spark job. */
  def run(spark: SparkSession, cfgPath: String, fgt: String): (Long, Seq[String]) = {
    val cfg = JobConfig.read(spark, cfgPath)
    runWithCfg(spark, cfg, cfg.req("results_csv"), fgt)
  }

  /** T3 gated mode (ref `outputs/extract_mike_data_to_db.sh:5-32`): one
    * extract per fresh today-named run directory, fgt from the dirname.
    * `nowMs`/`todayOverride` injectable for tests and replays. Returns
    * (directory, facts upserted) per admitted run. */
  def runGated(spark: SparkSession, cfgPath: String,
               nowMs: Long = System.currentTimeMillis(),
               todayOverride: Option[String] = None): Seq[(String, Long)] = {
    val cfg = JobConfig.read(spark, cfgPath)
    val dirs = RunDirGate.freshRunDirs(
      cfg.req("outputs_root"),
      resultFile = cfg.str("result_file", "resmike11_WL.csv"),
      maxAgeMinutes = cfg.str("max_age_minutes", "40").toLong,
      nowMs = nowMs, todayOverride = todayOverride)
    dirs.map { rd =>
      System.err.println(s"[extract] gated run: ${rd.dir} fgt=${rd.fgt}")
      val (n, _) = runWithCfg(spark, cfg, rd.resultCsv, rd.fgt)
      rd.dir -> n
    }
  }

  private def runWithCfg(spark: SparkSession, cfg: JobConfig,
                         resultsCsv: String, fgt: String): (Long, Seq[String]) = {
    val url = cfg.req("jdbc_url")
    val (simTag, model) = (cfg.req("sim_tag"), cfg.req("model"))
    val (variable, unit) = (cfg.req("variable"), cfg.req("unit"))
    val wide = MikeCsv.readWideCsv(spark, resultsCsv)
    val csvDim = MikeCsv.readDimCsv(spark, cfg.req("stations_csv"),
      stationSchema)
    // dim get-or-create (S12/J7; ref outputs/extract_water_level.py:217-223)
    import graft.ops.TimeSeriesOps.seriesId
    import spark.implicits._
    JdbcUpsert.getOrCreateDim(spark,
      Seq(model).toDF("model")
        .select(seriesId(lit("source"), col("model")).as("source_id"), col("model")),
      url, cfg.str("source_table", "source_dim"), Seq("model"))
    JdbcUpsert.getOrCreateDim(spark,
      Seq(variable).toDF("variable")
        .select(seriesId(lit("variable"), col("variable")).as("variable_id"), col("variable")),
      url, cfg.str("variable_table", "variable_dim"), Seq("variable"))
    JdbcUpsert.getOrCreateDim(spark,
      Seq(unit).toDF("unit")
        .select(seriesId(lit("unit"), col("unit")).as("unit_id"), col("unit")),
      url, cfg.str("unit_table", "unit_dim"), Seq("unit"))
    val warehouseDim = JdbcUpsert.getOrCreateDim(spark, csvDim,
        url, cfg.str("station_table", "station_dim"), Seq("station_id"))
      .select("station", "station_id", "latitude", "longitude")
    val dim = spark.createDataFrame(
      java.util.Arrays.asList(warehouseDim.collect(): _*), warehouseDim.schema)
    val (facts, _) = MikeJobs.extractToWarehouse(wide, dim, fgt,
      simTag, model, variable, unit)
    // optional lake sink (100 TB path): fgt-partitioned versioned parquet deltas
    // alongside (or ahead of) the relational warehouse. Both sinks are actions,
    // so the fact plan is persisted while it feeds two of them.
    val lakeDir = cfg.str("lake_dir", "")
    if (lakeDir.nonEmpty)
      facts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = try {
      if (lakeDir.nonEmpty) VersionedFactStore.appendTick(facts, lakeDir)
      JdbcUpsert.upsert(facts, url,
        cfg.req("fact_table"), Seq("tms_id", "time", "fgt"))
    } finally if (lakeDir.nonEmpty) facts.unpersist()
    // T5 run bookkeeping (ref :90-97)
    JdbcUpsert.maintainRuns(MikeJobs.runMeta(wide, dim, simTag, model,
      variable, unit), url, cfg.str("run_table", "run"), fgt)
    // the unmatched branch from the schema: what the facts' anti-join finds,
    // without running the CSV -> unpivot -> join plan a second time
    val known = LocalDim.column(dim, "station").toSet
    val missing = MikeJobs.stationColumns(wide).filterNot(known)
    // ref behavior: log stations absent from the dim (extract_water_level.py:103-104)
    missing.foreach(m => System.err.println(s"[extract] station not in dim: $m"))
    (n, missing)
  }
}
