package graft.operators

import graft.functions.{Mix64, RollingHash64}
import graft.ops.Quantiles
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable Count-Min frequency sketches (Cormode & Muthukrishnan 2005) as
  * first-class DataFrames — the missing third of the engine's sketch triad
  * (HLL answers "how many distinct", Bloom answers "seen before?", Count-Min
  * answers "roughly how often?"). The 100 TB questions it serves: heavy-hitter
  * tokens / domains / ids per source without a vocabulary-sized exact count
  * table, frequency caps during admission, and day-over-day frequency upkeep
  * by summing yesterday's sketch with today's batch sketch — nothing
  * rescanned.
  *
  * Estimates NEVER undercount (each of the d counters is the true count plus
  * collision mass; the min over d rows keeps the overcount small at the
  * classic e·n/w rate with probability 1−e^−d) — the one-sided contract the
  * frequency-cap and heavy-hitter compositions rest on: whatever the sketch
  * reports below a threshold truly is below it.
  *
  * Hashing reuses the engine's oracle-proven primitives — FNV-1a 64
  * (`RollingHash64`) through the splitmix64 finalizer (`Mix64`) — and carves
  * the d row-buckets out of DISJOINT `wLog2`-bit fields of the one mixed hash
  * (d·wLog2 ≤ 64, the Bloom position idiom), so the whole sketch is exact
  * integer arithmetic: buildable, mergeable (counter sum), and re-derivable
  * row-for-row in plain SQL — an APPROXIMATE structure with an EXACT oracle.
  *
  * Spark-first shape: the only corpus-scale operation in `build` is one
  * map-combinable count aggregate whose shuffle carries at most
  * `strata × d × 2^wLog2` rows per mapper; `estimate` is d broadcast joins of
  * the (tiny, bounded) sketch frame against the probe's bit fields — the
  * probe side is never shuffled. Nothing here is a `groupBy(value)` over the
  * corpus vocabulary.
  */
object CountMin {

  private def checkParams(wLog2: Int, d: Int): Unit = {
    require(wLog2 >= 4 && wLog2 <= 20, s"wLog2 must be in [4, 20], got $wLog2")
    require(d >= 1 && d * wLog2 <= 64,
      s"need 1 <= d and d*wLog2 <= 64, got d=$d wLog2=$wLog2")
  }

  /** Row-r bucket of a mixed hash: the r-th disjoint `wLog2`-bit field,
    * lowest field first — exact, no per-row modular mixing chain. */
  private def bucketOf(h: Column, wLog2: Int, r: Int): Column =
    shiftrightunsigned(h, r * wLog2)
      .bitwiseAND(lit((1L << wLog2) - 1L)).cast("int")

  /** Build the sketch over `value` per `strata` group: one row per
    * (strata…, row, bucket) with the summed weight — sparse (buckets never
    * hit are absent; estimates treat absent as zero, exactly right for a
    * counter nothing hashed into). `weight` defaults to 1 per input row;
    * pass a pre-aggregated count column to build from a (value, count)
    * frame instead of raw occurrences. */
  def build(df: DataFrame, strata: Seq[String], value: Column,
            wLog2: Int = 12, d: Int = 3,
            weight: Column = lit(1L)): DataFrame = {
    checkParams(wLog2, d)
    val h = Mix64(RollingHash64(value))
    df.select((strata.map(col) :+ h.as("__h") :+
        weight.cast("long").as("__w")): _*)
      .select((strata.map(col) :+
        posexplode(array((0 until d).map(r =>
          bucketOf(col("__h"), wLog2, r)): _*)) :+ col("__w")): _*)
      .withColumnRenamed("pos", "row")
      .withColumnRenamed("col", "bucket")
      .groupBy((strata.map(col) :+ col("row") :+ col("bucket")): _*)
      .agg(sum(col("__w")).as("cnt"))
  }

  /** Point-frequency estimate: `df` plus an `est` long — d broadcast joins
    * of the (tiny) sketch frame against the probe's d bit fields, min over
    * rows; absent buckets read as zero; `df` is never shuffled. Never an
    * undercount. */
  def estimate(df: DataFrame, value: Column, sketch: DataFrame,
               strata: Seq[String], wLog2: Int = 12, d: Int = 3): DataFrame = {
    checkParams(wLog2, d)
    // hash once per row — the d joins derive their buckets from this column
    val hashed = df.withColumn("__h", Mix64(RollingHash64(value)))
    (0 until d).foldLeft(hashed.withColumn("est", lit(Long.MaxValue))) {
      (acc, r) =>
        val f = sketch.filter(col("row") === r)
          .select((strata.map(col) :+
            col("bucket").as(s"__b$r") :+ col("cnt").as(s"__cnt$r")): _*)
        acc
          .withColumn(s"__b$r", bucketOf(col("__h"), wLog2, r))
          .join(broadcast(f), strata :+ s"__b$r", "left")
          .withColumn("est",
            least(col("est"), coalesce(col(s"__cnt$r"), lit(0L))))
          .drop(s"__b$r", s"__cnt$r")
    }.drop("__h")
  }

  /** Heavy hitters: every distinct `value` in `candidates` whose estimate
    * meets `threshold`, with the estimate attached. The candidate frame is
    * the caller's cheap superset (a sample, a shard, yesterday's hitters +
    * today's new values) — the sketch turns "count the whole vocabulary
    * exactly" into "probe a bounded candidate set against a constant-size
    * frame", the composition that stands at 100 TB. One-sided: a true
    * hitter in the candidate set is NEVER missed (estimates never
    * undercount); false hitters surface at the collision rate and are
    * cheap to verify exactly afterwards. */
  def heavyHitters(candidates: DataFrame, value: Column, sketch: DataFrame,
                   strata: Seq[String], threshold: Long,
                   wLog2: Int = 12, d: Int = 3): DataFrame =
    estimate(candidates, value, sketch, strata, wLog2, d)
      .filter(col("est") >= threshold)

  /** `floor(a / b)` for non-negative longs, shared idiom. */
  private[operators] def div(a: Column, b: Column): Column =
    Quantiles.div(a, b)
}
