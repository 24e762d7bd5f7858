package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Core keyed, versioned time-series operators.
  *
  * Re-expresses the reference's eager pandas dataflows (SURVEY.md §2; reference
  * `CUrW-SL/curw_mike_data_handler`, read-only at /root/reference) as lazy, composable
  * `DataFrame => DataFrame` transforms so Catalyst owns planning and Tungsten owns
  * execution. Nothing here collects to the driver; every transform is a narrow map or a
  * single shuffle that scales horizontally: the spine join broadcasts the series when it
  * fits and is one sort-merge shuffle when it does not, and the resample is one hash
  * aggregate with map-side partial aggregation. The MIKE matrices are built wide, as the reference builds them: the
  * resample aggregates straight into one column per station, and the row mean and the
  * catchment fold are column expressions over that row — no window, no join
  * (ref: inputs/gen_mike_input_rf_linux.py:104-108,180-202).
  */
object TimeSeriesOps {

  /** S7: dense, regular time spine at N-minute frequency.
    * ref: inputs/gen_mike_input_rf_linux.py:144-145 (5-min),
    * inputs/gen_mike_input_dis_linux.py:92-93 (15-min).
    * Inclusive of both endpoints, matching `pd.date_range`.
    * NTZ (wall-clock) semantics — the reference operates in naive local time
    * (SURVEY.md §1.2). `sequence` stays on the driver-planned literal path, so the
    * generated rows are produced distributed after `explode`.
    */
  def timeSpine(spark: SparkSession, startTs: String, endTs: String,
                stepMinutes: Int, timeCol: String = "time"): DataFrame =
    spark.sql(
      s"""SELECT explode(sequence(timestamp_ntz'$startTs', timestamp_ntz'$endTs',
         |interval $stepMinutes minutes)) AS $timeCol""".stripMargin)

  /** J1: align a long-layout series onto the dense spine; gaps become NULLs to be
    * imputed. ref: inputs/gen_mike_input_rf_linux.py:162 (loop of 22 sequential
    * left-joins — here it is ONE join; the wide shape comes later from pivot).
    * The spine is the preserved side of the left join, so Spark can broadcast only
    * the series: a series under the broadcast threshold is broadcast, a larger one is
    * sort-merge shuffled. A `broadcast(spine)` hint is ignored.
    */
  def alignToSpine(spine: DataFrame, series: DataFrame, timeCol: String = "time"): DataFrame =
    spine.join(series, Seq(timeCol), "left")

  /** A1: right-closed, right-labeled time bucket — bucket (t-step, t] gets label t,
    * pandas `resample(step, label='right', closed='right')` semantics
    * (ref: inputs/gen_mike_input_rf_linux.py:165). A timestamp exactly on a bucket
    * boundary stays in its own bucket. Pure integer arithmetic (no float division) so
    * results are bit-exact and the expression stays inside whole-stage codegen:
    * ceil(t/step)*step == t + pmod(-t, step).
    */
  def ceilBucket(ts: Column, stepSeconds: Long): Column = {
    val stepUs = stepSeconds * 1000000L
    val us = unix_micros(ts.cast("timestamp"))
    timestamp_micros(us + pmod(-us, lit(stepUs))).cast("timestamp_ntz")
  }

  /** A1/A7: resample a long-layout series to a coarser right-closed grid with SUM.
    * `nullAsZero=true` replicates the pandas 0.25 quirk that an all-NaN bucket sums to
    * 0.0 where SQL would yield NULL (SURVEY.md §7.4.1) — pinned explicitly.
    * One hash aggregate; partial aggregation happens map-side before the shuffle.
    */
  def resampleSum(df: DataFrame, timeCol: String, stepSeconds: Long,
                  keyCols: Seq[String], valueCol: String,
                  nullAsZero: Boolean = true): DataFrame = {
    val bucketed = df.withColumn(timeCol, ceilBucket(col(timeCol), stepSeconds))
    val agged = bucketed.groupBy((keyCols :+ timeCol).map(col): _*)
      .agg(sum(col(valueCol)).as(valueCol))
    if (nullAsZero) agged.withColumn(valueCol, coalesce(col(valueCol), lit(0.0))) else agged
  }

  /** P3: negative readings are sensor noise -> NULL.
    * ref: inputs/gen_mike_input_rf_linux.py:98-101 (`num[num < 0] = np.nan`). */
  def cleanseNegatives(df: DataFrame, valueCol: String): DataFrame =
    df.withColumn(valueCol,
      when(col(valueCol) < 0, lit(null)).otherwise(col(valueCol)))

  /** P4: sentinel missing-marker -> NULL.
    * ref: inputs/gen_mike_input_tide_linux.py:82-85 (`-99999.0`). */
  def cleanseSentinel(df: DataFrame, valueCol: String,
                      sentinel: Double = -99999.0): DataFrame =
    df.withColumn(valueCol,
      when(col(valueCol) === sentinel, lit(null)).otherwise(col(valueCol)))

  /** A1 + R1 in one hash aggregate: a long `(keyCol, time, …)` series resampled
    * right-closed (as `resampleSum`) straight into the wide time × key matrix,
    * one column per driver-held key, named by it. A cell is the SUM of `value`
    * over the key's rows in the bucket, NULL when it has none. The spine's rows
    * enter the aggregate with a NULL key, so every spine time is a row without
    * a grid join; buckets off the spine drop. No keys, no rows (as an empty
    * spine × keys grid). */
  def resampleWide(spark: SparkSession, series: DataFrame, keyCol: String,
                   keys: Seq[Int], value: Column, startTs: String, endTs: String,
                   stepMinutes: Int): DataFrame = {
    val spine = timeSpine(spark, startTs, endTs, stepMinutes)
    if (keys.isEmpty) spine.where(lit(false))
    else series.select(col(keyCol).as("__k"), col("time"), value.cast("double").as("__v"))
      .unionByName(spine.select(lit(null).cast(series.schema(keyCol).dataType).as("__k"),
        col("time"), lit(null).cast("double").as("__v")))
      .withColumn("time", ceilBucket(col("time"), stepMinutes * 60L))
      .where(col("time").between(lit(startTs).cast("timestamp_ntz"),
        lit(endTs).cast("timestamp_ntz")))
      .groupBy(col("time"))
      .agg(sum(when(col("__k") === keys.head, col("__v"))).as(keys.head.toString),
        keys.tail.map(k => sum(when(col("__k") === k, col("__v"))).as(k.toString)): _*)
  }

  /** A2/W4 in wide layout: the mean over the non-NULL `cols` of a row — the
    * reference's NaN-skipping `mean(axis=1)`, NULL when every column is NULL
    * (ref: inputs/gen_mike_input_rf_linux.py:104-108). It sums in column
    * order, as pandas does. Project it as its own column and let each fill
    * reference that: written inline into every column of a matrix, the
    * expression grows with the square of the column count, and the generated
    * code passes the JVM's 64 KB method limit. */
  def rowMean(cols: Seq[Column]): Column = {
    val n = cols.map(c => when(c.isNull, 0).otherwise(1)).foldLeft(lit(0))(_ + _)
    if (cols.isEmpty) lit(null).cast("double")
    else when(n > 0, cols.map(c => coalesce(c, lit(0.0))).foldLeft(lit(0.0))(_ + _) / n)
  }

  /** A3/J2 in wide layout: Σ weight × column over `terms`, skipping NULL
    * columns as SQL SUM does — NULL only when every term is NULL. The weights
    * are driver-held literals (a coefficient dim), so one catchment is one
    * expression over its member columns where the reference merges one
    * weighted frame per member (ref: inputs/gen_mike_input_rf_linux.py:180-202). */
  def weightedSum(terms: Seq[(Column, Double)]): Column =
    when(terms.map(_._1.isNotNull).foldLeft(lit(false))(_ || _),
      terms.map { case (c, w) => coalesce(c * w, lit(0.0)) }.foldLeft(lit(0.0))(_ + _))

  /** R1: long -> wide pivot (`time × station` matrix for MIKE interchange).
    * ref: inputs/gen_mike_input_rf_linux.py:155-162 (loop-of-joins). `keys` are
    * required and are the output's column order — the single-file CSV contract
    * needs a deterministic one (SURVEY.md §7.4.8). Callers read them from the dim
    * on the driver: letting Spark infer them would run the whole upstream plan a
    * second time just to collect its distinct keys. Pass them through
    * `sparkOrder` for the layout Spark's own `pivot(col)` would give.
    */
  def pivotWide(long: DataFrame, timeCol: String, keyCol: String, valueCol: String,
                keys: Seq[String]): DataFrame =
    long.groupBy(col(timeCol)).pivot(keyCol, keys).agg(first(col(valueCol)))

  /** The distinct `keys` in the order Spark's `pivot(col)` infers them: nulls
    * first, then `UTF8String` byte order — UTF-8, which is not
    * `String.compareTo`'s UTF-16 order once a key holds a character above
    * U+FFFF (a surrogate pair sorts below U+E000..U+FFFF in UTF-16 only). */
  def sparkOrder(keys: Seq[String]): Seq[String] =
    keys.distinct.sortBy(k => Option(k).map(UTF8String.fromString))(
      Ordering.Option(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)))

  /** R2: wide -> long unpivot for warehouse insert.
    * ref: outputs/extract_water_level.py:75-78 (per-column loop).
    * Uses the native `unpivot` (Spark 3.4+) which plans as a single Expand — no
    * shuffle, no N-pass scan. */
  def unpivotLong(wide: DataFrame, idCols: Seq[String],
                  varCol: String = "station", valueCol: String = "value"): DataFrame =
    wide.unpivot(idCols.map(col).toArray, varCol, valueCol)

  /** F7: deterministic 64-hex series/content id from metadata columns — the engine's
    * replacement for the adapter's `generate_timeseries_id` (SURVEY.md §0.1; id shape
    * visible at inputs/configs/tide_config.json:5). Content-hash ids need no central
    * id-allocator, so dimension get-or-create is coordination-free on a cluster. */
  def seriesId(cols: Column*): Column = sha2(concat_ws(":", cols: _*), 256)

  /** As-of join (point-in-time lookup): for every left row, the LATEST right row
    * with the same key and `rightTime <= leftTime` (within `toleranceSeconds` if
    * given). The reference approximates this with dense-spine alignment (J1); this
    * is the general, scale-path form.
    *
    * Implementation: tag + union both sides, ONE sort per key partition, forward-fill
    * the right-side values with `last(ignoreNulls)` — a single shuffle on the key,
    * no range-join explosion, no per-row binary search. At equal timestamps the
    * right row sorts first, so a same-instant right row is visible to the left row.
    * Right value columns are returned with their own names; both inputs must share
    * ONLY `keyCols` + `timeCol`.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               timeCol: String, toleranceSeconds: Long = -1L): DataFrame = {
    val rightVals = right.columns.filterNot((keyCols :+ timeCol).contains).toSeq
    val leftVals = left.columns.filterNot((keyCols :+ timeCol).contains).toSeq
    val l = left.withColumn("__side", lit(1))
      .withColumn("__rt", lit(null).cast("timestamp_ntz"))
    val r = right.withColumn("__side", lit(0))
      .withColumn("__rt", col(timeCol).cast("timestamp_ntz"))
    val lAligned = l.select((keyCols :+ timeCol).map(col) ++
      leftVals.map(col) ++ rightVals.map(c => lit(null).cast(
        right.schema(c).dataType).as(c)) ++ Seq(col("__side"), col("__rt")): _*)
    val rAligned = r.select((keyCols :+ timeCol).map(col) ++
      leftVals.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
      rightVals.map(col) ++ Seq(col("__side"), col("__rt")): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(timeCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lAligned.unionByName(rAligned)
      .withColumn("__lastRt", last(col("__rt"), ignoreNulls = true).over(w))
    val withVals = rightVals.foldLeft(filled)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    val tolerated = if (toleranceSeconds >= 0) {
      val stale = col("__lastRt").isNull ||
        (unix_micros(col(timeCol).cast("timestamp")) -
          unix_micros(col("__lastRt").cast("timestamp"))) >
          toleranceSeconds * 1000000L
      rightVals.foldLeft(withVals)((d, c) =>
        d.withColumn(c, when(stale, lit(null)).otherwise(col(c))))
    } else withVals
    tolerated.filter(col("__side") === 1)
      .withColumnRenamed("__lastRt", "asof_time")
      .drop("__side", "__rt")
  }
}
