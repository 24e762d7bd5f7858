package graft.jobs

import graft.ops.TimeSeriesOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's pipelines restated as single lazy plans (SURVEY.md §3).
  * Each builder is a pure plan function: no side effects, and the only values it
  * reads on the driver are dim-scale ones — station ids, coefficients, the k-NN
  * map — which it writes into the plan as literals. The job layer collects each
  * dim once (`LocalDim`), so only the k-NN map's collect starts jobs of its own,
  * and every output plan runs exactly once. The matrices are built wide, as pandas builds
  * them: the resample aggregates into one column per station, and the row-mean
  * fill, the neighbor fill and the catchment fold are column expressions over
  * that row — one aggregate per output, no window, no self-join, where the
  * reference runs a 22-iteration join loop and a 114-catchment nested merge
  * loop (ref: inputs/gen_mike_input_rf_linux.py:104-108,155-162,180-202).
  */
object MikeJobs {

  /** 3.1 rainfall input: long obs series + coefficient dim -> per-catchment 15-min
    * wide matrix.
    * series:  (obs_id, time, value)   raw 5-min observations
    * coeffs:  (name, obs_id, coefficient)  local 204-row dim, read on the driver
    * Steps: cleanse negatives (P3) -> right-closed 15-min resample (A1), one
    * column per coefficient station -> row-mean impute (W4) -> weighted
    * catchment fold (A3), one column per catchment in `sparkOrder`. */
  def rainfallInput(spark: SparkSession, series: DataFrame, coeffs: DataFrame,
                    startTs: String, endTs: String): DataFrame = {
    val members = coeffs.select(col("name"), col("obs_id"), col("coefficient"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    val ids = members.map(_._2).distinct
    // a station-bucket cell is NULL when the station has no rows in the bucket
    // (the grid gap imputation fills), else the sum of its cleansed rows with the
    // pandas 0-quirk: rows whose values all cleansed away sum to 0.0
    val cells = resampleWide(spark, cleanseNegatives(series, "value"), "obs_id", ids,
      coalesce(col("value"), lit(0.0)), startTs, endTs, 15)
    val imputed = cells.withColumn("__mean", rowMean(ids.map(k => col(k.toString))))
    imputed.select(col("time") +: sparkOrder(members.map(_._1)).map { name =>
      round(weightedSum(members.collect { case (`name`, k, w) =>
        coalesce(col(k.toString), col("__mean")) -> w }), 1).as(name)
    }: _*)
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
    * row-mean imputed, rounded to 1 decimal, one column per station NAME in
    * `sparkOrder` (ref: :257-294). The k-NN map is collected once from the local
    * station dim; every fill is a column-level coalesce — no driver loops.
    *
    * stations: (obs_id, station_name, latitude, longitude), a local dim. */
  def rawRainfallInput(spark: SparkSession, series: DataFrame, stations: DataFrame,
                       startTs: String, endTs: String,
                       maxKm: Double = 100.0): DataFrame = {
    val named = stations.select(col("obs_id"), col("station_name")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toSeq
    val ids = named.map(_._1).distinct
    val located = stations.select(col("obs_id").as("id"), col("latitude"), col("longitude"))
    // neighbor map: rank-1 and rank-2 nearest stations within maxKm
    val neighbors = graft.ops.GeoOps.knnJoin(located, located, k = 2, maxKm = maxKm)
      .select(col("origin_id"), col("rank"), col("neighbor_id")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
      .groupBy(_._1).map { case (k, ns) => k -> ns.sortBy(_._2).map(_._3) }
    // faithful ordering (ref :268-277): raw -> dense 5-min spine, so readings off
    // it drop -> 15-min right-closed resample where a bucket with no readings
    // sums to 0.0 (the pandas 0.25 quirk — missing data reads as ZERO rain) ->
    // negatives -> NaN. Only the negative-reading gaps are then neighbor-filled.
    val onGrid = series.where(col("time").between(lit(startTs).cast("timestamp_ntz"),
      lit(endTs).cast("timestamp_ntz")) && ceilBucket(col("time"), 300L) === col("time"))
    val cells = resampleWide(spark, onGrid, "obs_id", ids, col("value"), startTs, endTs, 15)
      .select(col("time") +: ids.map { k =>
        val c = coalesce(col(k.toString), lit(0.0))
        when(c < 0, lit(null)).otherwise(c).as(k.toString)
      }: _*)
    val filled = cells.select(col("time") +: ids.map(k => coalesce(
      (k +: neighbors.getOrElse(k, Nil)).map(n => col(n.toString)): _*).as(k.toString)): _*)
    val imputed = filled.withColumn("__mean", rowMean(ids.map(k => col(k.toString))))
    val idOf = named.reverse.map(_.swap).toMap // a name's first station
    imputed.select(col("time") +: sparkOrder(named.map(_._2)).map(name =>
      round(coalesce(col(idOf(name).toString), col("__mean")), 1).as(name)): _*)
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
                startTs: String, endTs: String, stepMinutes: Int = 15): DataFrame =
    dischargeInput(spark, cleanseSentinel(series, "value"), startTs, endTs, stepMinutes)

  /** 3.3 discharge input — `prepare_mike_dis_input`
    * (ref: inputs/gen_mike_input_dis_linux.py:166-186): 15-min spine left-join
    * (no resample — discharge is already on the grid), last-row patch (NaN or
    * negative -> 0), then the INTENDED dropna (the reference calls `dropna()`
    * without assigning, ref :182 — a no-op bug; divergence documented on
    * `tideInput`). Unlike tide there is no sentinel cleanse. */
  def dischargeInput(spark: SparkSession, series: DataFrame,
                     startTs: String, endTs: String,
                     stepMinutes: Int = 15): DataFrame = {
    val aligned = alignToSpine(timeSpine(spark, startTs, endTs, stepMinutes), series)
    // P6/W2: MIKE needs a closed boundary — a missing or negative value on the
    // spine's last row is patched to 0 (ref: inputs/gen_mike_input_dis_linux.py:104-106;
    // inputs/gen_mike_input_tide_linux.py:110-111). That row is the one spine time
    // in (endTs − step, endTs], which the driver knows: a row predicate, not a
    // global ranking window over one partition.
    val last = col("time") > lit(endTs).cast("timestamp_ntz") -
      expr(s"INTERVAL $stepMinutes MINUTES")
    aligned.withColumn("value", when(last && (col("value").isNull || col("value") < 0),
      lit(0.0)).otherwise(col("value"))).na.drop(Seq("value"))
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
