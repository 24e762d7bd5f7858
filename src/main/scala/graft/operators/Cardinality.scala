package graft.operators

import graft.functions.{Mix64, RollingHash64}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable approximate-cardinality sketches — the HyperLogLog register
  * form (Flajolet et al. 2007; Heule et al. 2013 for the small-range
  * correction), built so the 100 TB corpus-report questions ("how many
  * distinct tokens / URLs / ids per source?") cost one map-combinable
  * aggregate whose shuffle is `strata × 2ᵖ` rows — NEVER a `countDistinct`
  * shuffle of the values themselves.
  *
  * The register transform is exact integer arithmetic over the engine's own
  * FNV-1a 64 hash (`RollingHash64`, the q85-oracle-proven primitive) passed
  * through the splitmix64 finalizer (`Mix64` — FNV's high bits are weak on
  * short strings, and HLL reads the hash positionally):
  * `bucket` = top-p bits, `rho` = leading-zero count of the remainder + 1 —
  * both re-derivable in plain SQL (`length(bin(w))` gives ⌊log₂ w⌋+1 in any
  * engine), so a register frame is hash-green oracle material even though
  * the ESTIMATE it backs is approximate. Registers are the engine's sketch
  * interchange format: persist them, merge them across days/shards by
  * elementwise max, estimate at read time.
  *
  * Spark-first shape: `approx_count_distinct` exists, but its HLL++ binary
  * is opaque to other engines and not register-addressable; this form keeps
  * the sketch a first-class DataFrame — joinable, unionable, storable in
  * parquet, and cross-checkable row by row.
  */
object Cardinality {

  /** Sparse HLL registers of `value` per `strata` group: one row per
    * (strata…, bucket) with the max rho observed — buckets never hit are
    * simply absent (the estimator re-adds them as zeros). The ONLY
    * corpus-scale operation is the map-combinable max aggregate; its
    * shuffle carries at most `strata × 2ᵖ` rows per mapper. */
  def hllRegisters(df: DataFrame, strata: Seq[String], value: Column,
                   p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"precision p must be in [4, 16], got $p")
    // FNV-1a's high bits are nearly constant on short inputs; the splitmix64
    // finalizer gives the positional bit fields HLL carves out full avalanche
    val h = Mix64(RollingHash64(value))
    val wBits = 64 - p
    val mask = (1L << wBits) - 1L
    val w = h.bitwiseAND(lit(mask))
    val rho = when(w === 0L, lit(wBits + 1))
      .otherwise(lit(wBits + 1) - length(bin(w))).cast("int")
    df.select((strata.map(col) :+
        shiftrightunsigned(h, wBits).cast("int").as("bucket") :+
        rho.as("rho")): _*)
      .groupBy((strata.map(col) :+ col("bucket")): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Cardinality estimate per stratum from a register frame: the standard
    * HLL harmonic mean with the linear-counting fallback in the small
    * range (E ≤ 2.5m with empty registers present). The per-stratum fold
    * runs IN-ROW over the bucket-sorted register list (≤ 2ᵖ entries), so
    * the double summation order is fixed — the estimate is deterministic
    * under any partitioning, not just accurate. */
  def hllEstimate(registers: DataFrame, strata: Seq[String],
                  p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"precision p must be in [4, 16], got $p")
    val m = 1 << p
    val alpha = p match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    registers
      .groupBy(strata.map(col): _*)
      .agg(sort_array(collect_list(struct(col("bucket"), col("rho"))))
        .as("__rs"))
      .withColumn("__sum", aggregate(col("__rs"), lit(0.0),
        (acc, x) => acc + pow(lit(2.0), -x("rho").cast("double"))))
      .withColumn("__nz", (lit(m.toLong) - size(col("__rs"))).cast("double"))
      .withColumn("__e",
        lit(alpha * m.toDouble * m.toDouble) / (col("__sum") + col("__nz")))
      .withColumn("estimate",
        when(col("__nz") > 0.0 && col("__e") <= lit(2.5 * m),
          lit(m.toDouble) * log(lit(m.toDouble) / col("__nz")))
          .otherwise(col("__e"))
          .cast("long"))
      .select((strata.map(col) :+ col("estimate")): _*)
  }
}
