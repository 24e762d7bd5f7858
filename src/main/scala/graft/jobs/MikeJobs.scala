package graft.jobs

import graft.ops.TimeSeriesOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's pipelines restated as single lazy plans (SURVEY.md §3).
  * Each builder is a pure plan function — no side effects, no collects — so Catalyst
  * sees the whole tree: the reference's 22-iteration join loop and 114-catchment
  * nested merge loop each collapse into one shuffle
  * (ref: inputs/gen_mike_input_rf_linux.py:155-162,180-202). The plan functions
  * still do no collects: the job layer collects each dim once (`LocalDim`) and
  * passes in the local frame and what a plan needs from it on the driver —
  * pivot keys, column orders — so every output plan runs exactly once.
  */
object MikeJobs {

  /** 3.1 rainfall input: long obs series + coefficient dim -> per-catchment 15-min
    * wide matrix.
    * series:  (obs_id, time, value)   raw 5-min observations
    * coeffs:  (name, obs_id, coefficient)  204-row dim -> broadcast
    * Steps: cleanse negatives (P3) -> right-closed 15-min resample (A1) -> row-mean
    * impute (W4) -> weighted catchment fold (A3) -> pivot wide (R1).
    * `catchments` are the output columns: the coefficient table's names in
    * `sparkOrder`. */
  def rainfallInput(spark: SparkSession, series: DataFrame, coeffs: DataFrame,
                    startTs: String, endTs: String,
                    catchments: Seq[String]): DataFrame = {
    val spine = timeSpine(spark, startTs, endTs, 15)
    val clean = cleanseNegatives(series, "value")
    val res = resampleSum(clean, "time", 900L, Seq("obs_id"), "value")
    // align on the 15-min spine so imputation sees explicit gaps
    val ids = coeffs.select(col("obs_id")).distinct()
    val grid = broadcast(spine).crossJoin(broadcast(ids))
    val aligned = grid.join(res, Seq("obs_id", "time"), "left")
    val imputed = imputeRowMean(aligned, "time", "value")
    val folded = weightedGroupSum(imputed, coeffs, "obs_id",
      "name", "time", "value", "coefficient")
    pivotWide(folded.withColumn("value", round(col("value"), 1)),
      "time", "name", "value", catchments)
  }

  /** 3.2 extract-to-warehouse: wide MIKE result matrix -> long fact rows with
    * deterministic series ids and fgt versioning, plus the unmatched-station branch
    * the reference logs (ref: outputs/extract_water_level.py:103-104): the wide
    * frame's station COLUMNS the dim does not name, so finding them reads the dim
    * only, never the facts. Returns (facts, unmatched). */
  def extractToWarehouse(wide: DataFrame, stationDim: DataFrame, fgt: String,
                         simTag: String, model: String, variable: String,
                         unit: String): (DataFrame, DataFrame) = {
    val long = unpivotLong(wide, Seq("time"), "station", "value")
      .withColumn("value", round(col("value"), 3))
    val joined = long.join(broadcast(stationDim), Seq("station"), "left")
    val matched = joined.filter(col("station_id").isNotNull)
      .withColumn("tms_id", seriesId(lit(simTag), lit(model), lit(variable),
        lit(unit), col("station_id")))
      .withColumn("fgt", lit(fgt).cast("timestamp_ntz"))
      .select(col("tms_id"), col("time"), col("fgt"), col("value"))
    val spark = wide.sparkSession
    import spark.implicits._
    val unmatched = stationColumns(wide).toDF("station")
      .join(stationDim.select(col("station")), Seq("station"), "left_anti")
    (matched, unmatched)
  }

  /** The station columns of a wide MIKE result — its driver-known schema. */
  def stationColumns(wide: DataFrame): Seq[String] =
    wide.columns.filterNot(_ == "time").toSeq

  /** T5: run-dimension rows for the series this extract touches — one row per
    * matched station, carrying the same deterministic tms_id as the facts plus the
    * resolved dim ids (ref run_meta: outputs/extract_water_level.py:226-238).
    * Station membership comes from the wide frame's COLUMN LIST (driver-known
    * schema), so building this frame scans no data at all. */
  def runMeta(wide: DataFrame, stationDim: DataFrame, simTag: String, model: String,
              variable: String, unit: String): DataFrame = {
    stationDim.filter(col("station").isin(stationColumns(wide): _*))
      .select(
        seriesId(lit(simTag), lit(model), lit(variable), lit(unit),
          col("station_id")).as("tms_id"),
        lit(simTag).as("sim_tag"),
        seriesId(lit("source"), lit(model)).as("source_id"),
        seriesId(lit("variable"), lit(variable)).as("variable_id"),
        seriesId(lit("unit"), lit(unit)).as("unit_id"),
        col("station_id"))
  }

  /** 3.3 raw rainfall input with spatial gap-fill — the reference's
    * `gen_mike_input_rf_linux_all_stations_raw.py` pipeline: per-station 15-min
    * right-closed resample, negatives cleansed, gaps filled from the 1st then 2nd
    * nearest station (≤ maxKm, k-NN over great-circle distance), remaining gaps
    * row-mean imputed, rounded to 1 decimal, pivoted wide by station NAME
    * (ref: :257-294). The k-NN map is computed once from the tiny station dim
    * (broadcast); every fill is a column-level coalesce — no iterative driver loops.
    *
    * stations: (obs_id, station_name, latitude, longitude); `stationNames` are the
    * output columns: its names in `sparkOrder`. */
  def rawRainfallInput(spark: SparkSession, series: DataFrame, stations: DataFrame,
                       startTs: String, endTs: String, stationNames: Seq[String],
                       maxKm: Double = 100.0): DataFrame = {
    // faithful ordering (ref :268-277): raw -> dense 5-min spine (gaps -> NaN) ->
    // 15-min right-closed resample where an all-NaN bucket sums to 0.0 (the pandas
    // 0.25 quirk — missing data reads as ZERO rain) -> negatives -> NaN. Only the
    // negative-reading gaps are then neighbor-filled.
    val spine5 = timeSpine(spark, startTs, endTs, 5)
    val ids = stations.select(col("obs_id"))
    val grid5 = broadcast(spine5).crossJoin(broadcast(ids))
    val aligned5 = grid5.join(series, Seq("obs_id", "time"), "left")
    val res = resampleSum(aligned5, "time", 900L, Seq("obs_id"), "value",
      nullAsZero = true)
    val aligned = cleanseNegatives(res, "value")
    // neighbor map: rank-1 and rank-2 nearest stations within maxKm
    val knn = graft.ops.GeoOps.knnJoin(
      stations.select(col("obs_id").as("id"), col("latitude"), col("longitude")),
      stations.select(col("obs_id").as("id"), col("latitude"), col("longitude")),
      k = 2, maxKm = maxKm)
    val neighbors = knn.groupBy(col("origin_id").as("obs_id"))
      .pivot("rank", Seq(1, 2))
      .agg(first(col("neighbor_id")))
      .select(col("obs_id"), col("1").as("n1"), col("2").as("n2"))
    val filled = neighborCoalesce(aligned, neighbors, "obs_id", "time", "value")
    val imputed = imputeRowMean(filled, "time", "value")
    val named = imputed.join(broadcast(
        stations.select(col("obs_id"), col("station_name"))), "obs_id")
    pivotWide(named.withColumn("value", round(col("value"), 1)),
      "time", "station_name", "value", stationNames)
  }

  /** 3.3 discharge/tide input: single long series -> spine-aligned, sentinel-cleansed,
    * last-row-patched headerless series (the minimum end-to-end slice, SURVEY.md §7.2;
    * ref: inputs/gen_mike_input_tide_linux.py:88-115).
    *
    * divergence: the reference's discharge variant calls `dropna()` without
    * assigning the result (inputs/gen_mike_input_dis_linux.py:108 — a no-op bug);
    * the engine implements the INTENDED drop. Likewise the reference computes
    * `round(1)` and discards it (inputs/gen_mike_input_rf_linux.py:204) — the
    * engine applies the intended rounding in rainfallInput. The reference's
    * `finally: destroy_Pool(pool)` on a possibly-unbound pool
    * (inputs/gen_mike_input_dis_linux.py:115) and the `'%M' not in ('00')`
    * substring quirk (inputs/gen_mike_input_rf_obs_win.py:90) have no analog here:
    * resource lifetimes are Spark-managed and window validation is explicit
    * (RainfallInputJob.validateWindowTs). */
  def tideInput(spark: SparkSession, series: DataFrame,
                startTs: String, endTs: String, stepMinutes: Int = 15): DataFrame = {
    val spine = timeSpine(spark, startTs, endTs, stepMinutes)
    val aligned = alignToSpine(broadcast(spine), series)
    val clean = cleanseSentinel(aligned, "value")
    val patched = patchLastRow(clean, "time", "value")
    patched.na.drop(Seq("value"))
  }

  /** 3.3 discharge input — `prepare_mike_dis_input`
    * (ref: inputs/gen_mike_input_dis_linux.py:166-186): 15-min spine left-join
    * (no resample — discharge is already on the grid), last-row patch (NaN or
    * negative -> 0), then the INTENDED dropna (the reference calls `dropna()`
    * without assigning, ref :182 — a no-op bug; divergence documented on
    * `tideInput`). Unlike tide there is no sentinel cleanse. */
  def dischargeInput(spark: SparkSession, series: DataFrame,
                     startTs: String, endTs: String,
                     stepMinutes: Int = 15): DataFrame = {
    val spine = timeSpine(spark, startTs, endTs, stepMinutes)
    val aligned = alignToSpine(broadcast(spine), series)
    val patched = patchLastRow(aligned, "time", "value")
    patched.na.drop(Seq("value"))
  }

  /** 3.5 obs-window rainfall generator — `prepare_mike_rf_input`
    * (ref: inputs/gen_mike_input_rf_obs_win.py:130-182): per-station custom
    * N-min re-bucket (A7/S6, the per-station `extract_obs_rain_custom_min_intervals`
    * loop collapsed into ONE hash aggregate) -> spine left-merge where gaps stay
    * NULL and render as blank cells (this generator has no pandas 0-quirk: the
    * re-bucketed series are MERGED onto the spine, not resampled over it) ->
    * negative sums -> NULL (P3, ref :112-115 applied at :164) -> the pandas
    * object-dtype ROUND QUIRK (ref :170-171: `fillna('')` first turns every
    * gap-bearing station column to dtype object, which `DataFrame.round(1)`
    * silently skips — so only gap-FREE stations are rounded to 1 decimal; gap
    * stations keep full precision) -> station_id -> station_name rename via the
    * dim (J5, ref :174-175) -> pivot wide (R1).
    *
    * `stationOrder` pins the reference's column order (stations-CSV row order).
    * The gap-flag window partitions by station — dim-scale cardinality, not
    * data-scale. */
  def obsRainfallInput(spark: SparkSession, series: DataFrame, stations: DataFrame,
                       startTs: String, endTs: String, stepMinutes: Int,
                       stationOrder: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spine = timeSpine(spark, startTs, endTs, stepMinutes)
    val res = resampleSum(series, "time", stepMinutes * 60L, Seq("hash_id"), "value",
      nullAsZero = false)
    val grid = broadcast(spine).crossJoin(broadcast(stations.select(col("hash_id"))))
    val aligned = grid.join(res, Seq("hash_id", "time"), "left")
    val cleansed = cleanseNegatives(aligned, "value")
    val gapFlag = max(when(col("value").isNull, 1).otherwise(0))
      .over(Window.partitionBy(col("hash_id")))
    val rounded = cleansed.withColumn("__gaps", gapFlag)
      .withColumn("value",
        when(col("__gaps") === 0, round(col("value"), 1)).otherwise(col("value")))
    val named = rounded.join(broadcast(
      stations.select(col("hash_id"), col("station_name"))), "hash_id")
    pivotWide(named, "time", "station_name", "value", stationOrder)
  }

  /** A6 probe frame: the one-row MAX over the series' time column. Kept as a
    * separate frame so callers (and the plan spec) can assert the physical
    * plan: on a `JdbcScan.table` (DSv2) source this MAX compiles into the
    * database (`PushedAggregates: [MAX(..)]`) — the cron-tick freshness probe
    * costs the warehouse one scalar, not a table scan. */
  def obsEndFrame(series: DataFrame, timeCol: String = "time"): DataFrame =
    series.agg(max(col(timeCol)).as("obs_end"))

  /** A6: `get_obs_end` — the latest observed timestamp of a series, used by the
    * discharge job as its `latest_fgt` tag
    * (ref: inputs/gen_mike_input_dis_linux.py:176). One max aggregate; temporal
    * type depends on the source (parquet ntz vs JDBC TIMESTAMP), both map to
    * the same wall-clock LocalDateTime under the UTC session. */
  def getObsEnd(series: DataFrame, timeCol: String = "time"): Option[java.time.LocalDateTime] =
    obsEndFrame(series, timeCol).first() match {
      case r if r.isNullAt(0) => None
      case r => r.get(0) match {
        case t: java.time.LocalDateTime => Some(t)
        // via Instant + explicit UTC, NOT toLocalDateTime: the session runs
        // UTC, but the JVM default zone may be anything (the reference's boxes
        // run IST) — both external routes must agree on the same wall clock
        case t: java.sql.Timestamp =>
          Some(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC))
        case t: java.time.Instant =>
          Some(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
        case other => throw new IllegalArgumentException(
          s"unsupported temporal type ${other.getClass.getName} in '$timeCol' " +
            "(expected LocalDateTime, Timestamp, or Instant)")
      }
    }
}
