package graft

import graft.functions.{Mix64, RollingHash64}
import graft.operators.Cardinality
import org.apache.spark.sql.functions._

/** HLL register sketches: register exactness vs a local reference, and
  * estimate accuracy in both HLL and linear-counting ranges. */
class CardinalitySpec extends SparkSpec {
  import spark.implicits._

  private def refRegisters(values: Seq[String], p: Int): Map[Int, Int] = {
    val wBits = 64 - p
    values.foldLeft(Map.empty[Int, Int]) { (regs, v) =>
      val h = Mix64.mix(RollingHash64.hashBytes(v.getBytes("UTF-8")))
      val bucket = (h >>> wBits).toInt
      val w = h & ((1L << wBits) - 1L)
      val rho = if (w == 0L) wBits + 1
        else wBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      regs.updated(bucket, math.max(regs.getOrElse(bucket, 0), rho))
    }
  }

  test("hllRegisters: bit-identical to the local FNV+clz reference") {
    val values = (0 until 5000).map(i => s"tok$i")
    for (p <- Seq(4, 8, 12)) {
      val got = Cardinality.hllRegisters(
          values.toDF("v").repartition(7), Nil, col("v"), p)
        .as[(Int, Int)].collect().toMap
      assert(got === refRegisters(values, p), s"p=$p")
    }
  }

  test("hllEstimate: within 10% on 20k distinct (p=8), partition-invariant") {
    val df = (0 until 60000).map(i => (s"s${i % 3}", s"v${i % 20000}"))
      .toDF("src", "v")
    val est = Cardinality.hllEstimate(
        Cardinality.hllRegisters(df.repartition(11), Seq("src"), col("v")),
        Seq("src"))
      .as[(String, Long)].collect().toMap
    // each src sees the same 20k distinct values (i mod 3 and i mod 20000
    // cycle independently over 60k rows)
    for ((s, e) <- est) {
      assert(math.abs(e - 20000.0) / 20000.0 < 0.10, s"$s -> $e")
    }
    val est1 = Cardinality.hllEstimate(
        Cardinality.hllRegisters(df.repartition(1), Seq("src"), col("v")),
        Seq("src"))
      .as[(String, Long)].collect().toMap
    assert(est === est1)
  }

  test("hllEstimate: linear counting keeps the small range honest") {
    val df = (0 until 30).map(i => s"only$i").toDF("v")
    val e = Cardinality.hllEstimate(
        Cardinality.hllRegisters(df, Nil, col("v")), Nil)
      .as[Long].head()
    assert(math.abs(e - 30.0) <= 5.0, s"got $e")
  }
}
