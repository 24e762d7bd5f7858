package graft.operators

import graft.functions.{Mix64, RollingHash64}
import graft.ops.Quantiles
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable Bloom-filter membership sketches (Bloom 1970) as first-class
  * DataFrames — the 100 TB pre-filter move: materialize a benchmark /
  * blocklist / seen-before set as a `strata × 2^bitsLog2 / 32`-row bit-word
  * frame once, then test membership against the corpus with BROADCAST
  * joins — no shuffle of the corpus, no join against the set itself. False
  * positives at the classic `(1 − e^(−kn/m))^k` rate; false negatives
  * never (the property the pre-filter contract rests on: whatever the
  * filter rejects, the exact operator never needed to see).
  *
  * Hashing reuses the engine's oracle-proven primitives — FNV-1a 64
  * (`RollingHash64`) through the splitmix64 finalizer (`Mix64`) — and
  * carves the k probe positions out of DISJOINT `bitsLog2`-bit fields of
  * the one mixed hash (k·bitsLog2 ≤ 64), so the whole sketch is exact
  * integer arithmetic: buildable, mergeable (bitwise OR), and re-derivable
  * row-for-row in plain SQL. Bit words are 32-bit (stored in longs) so no
  * engine ever touches the sign bit. */
object Bloom {

  /** Bits per stored word — 32 keeps every word value positive in BIGINT
    * arithmetic in any engine (bit 31 of a 32-bit word is still bit 31 of a
    * positive long). */
  val WordBits = 32

  private def checkParams(bitsLog2: Int, k: Int): Unit = {
    require(bitsLog2 >= 8 && bitsLog2 <= 20,
      s"bitsLog2 must be in [8, 20], got $bitsLog2")
    require(k >= 1 && k * bitsLog2 <= 64,
      s"need 1 <= k and k*bitsLog2 <= 64, got k=$k bitsLog2=$bitsLog2")
  }

  /** The k probe positions of a mixed hash column: disjoint bit fields,
    * lowest field first — exact, no modular mixing chain per probe. */
  private def positionsOf(h: Column, bitsLog2: Int, k: Int): Seq[Column] =
    (0 until k).map(i =>
      shiftrightunsigned(h, i * bitsLog2)
        .bitwiseAND(lit((1L << bitsLog2) - 1L)))

  private def positions(value: Column, bitsLog2: Int, k: Int): Seq[Column] =
    positionsOf(Mix64(RollingHash64(value)), bitsLog2, k)

  /** `2^bitCol` as an exact long for bitCol in [0, 31] — `pow` on a
    * correctly-rounded IEEE double is exact for integer powers below 2⁵³,
    * and needs no variable-shift builtin. */
  private def bitValue(bitCol: Column): Column =
    pow(lit(2.0), bitCol.cast("double")).cast("long")

  /** Build the filter over `value` per `strata` group: one row per
    * (strata…, word_idx) with the OR of its set bits — sparse (words never
    * hit are absent; probes treat absent as all-zero). The only
    * corpus-scale operation is the map-combinable bit_or aggregate; its
    * shuffle carries at most `strata × 2^bitsLog2 / 32` rows per mapper. */
  def build(df: DataFrame, strata: Seq[String], value: Column,
            bitsLog2: Int = 16, k: Int = 3): DataFrame = {
    checkParams(bitsLog2, k)
    df.select((strata.map(col) :+
        explode(array(positions(value, bitsLog2, k): _*)).as("__p")): _*)
      .select((strata.map(col) :+
        Quantiles.div(col("__p"), lit(WordBits.toLong)).cast("int")
          .as("word_idx") :+
        bitValue(pmod(col("__p"), lit(WordBits.toLong))).as("__bv")): _*)
      .groupBy((strata.map(col) :+ col("word_idx")): _*)
      .agg(bit_or(col("__bv")).as("bits"))
  }

  /** Membership test: `df` plus a `might_contain` boolean — k broadcast
    * joins of the (tiny) filter frame against the probe's k word positions,
    * bit tests via bitwise AND; absent words read as zero; `df` is never
    * shuffled. Never a false negative. */
  def probe(df: DataFrame, value: Column, filter: DataFrame,
            strata: Seq[String], bitsLog2: Int = 16, k: Int = 3): DataFrame = {
    checkParams(bitsLog2, k)
    // hash once per row — the k joins derive their positions from this
    // column instead of re-walking FNV + mix k times
    val hashed = df.withColumn("__h", Mix64(RollingHash64(value)))
    val ps = positionsOf(col("__h"), bitsLog2, k)
    (0 until k).foldLeft(hashed.withColumn("might_contain", lit(true))) {
      (acc, i) =>
        val f = filter.select((strata.map(col) :+
          col("word_idx").as(s"__w$i") :+ col("bits").as(s"__bits$i")): _*)
        acc
          .withColumn(s"__w$i",
            Quantiles.div(ps(i), lit(WordBits.toLong)).cast("int"))
          .withColumn(s"__bv$i",
            bitValue(pmod(ps(i), lit(WordBits.toLong))))
          .join(broadcast(f), strata :+ s"__w$i", "left")
          .withColumn("might_contain", col("might_contain") &&
            (coalesce(col(s"__bits$i"), lit(0L))
              .bitwiseAND(col(s"__bv$i")) =!= 0L))
          .drop(s"__w$i", s"__bits$i", s"__bv$i")
    }.drop("__h")
  }
}
