package graft

import graft.functions.{Mix64, RollingHash64}
import graft.operators.CountMin
import org.apache.spark.sql.functions._

/** Count-Min frequency sketches: counter exactness vs a local reference,
  * the never-undercount contract, weighted build equivalence,
  * and heavy-hitter recall over a bounded candidate set. */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private val WLog2 = 12
  private val D = 3

  private def refCounters(values: Seq[String]): Map[(Int, Int), Long] =
    values.foldLeft(Map.empty[(Int, Int), Long]) { (cs, v) =>
      val h = Mix64.mix(RollingHash64.hashBytes(v.getBytes("UTF-8")))
      (0 until D).foldLeft(cs) { (acc, r) =>
        val b = ((h >>> (r * WLog2)) & ((1L << WLog2) - 1L)).toInt
        acc.updated((r, b), acc.getOrElse((r, b), 0L) + 1L)
      }
    }

  private def refEstimate(v: String, cs: Map[(Int, Int), Long]): Long = {
    val h = Mix64.mix(RollingHash64.hashBytes(v.getBytes("UTF-8")))
    (0 until D).map { r =>
      val b = ((h >>> (r * WLog2)) & ((1L << WLog2) - 1L)).toInt
      cs.getOrElse((r, b), 0L)
    }.min
  }

  test("build: bit-identical to the local reference, partition-invariant") {
    val values = (0 until 3000).map(i => s"token ${i % 700}")
    val exp = refCounters(values)
    for (parts <- Seq(1, 7)) {
      val got = CountMin.build(values.toDF("v").repartition(parts), Nil,
          col("v"), WLog2, D)
        .as[(Int, Int, Long)].collect().map { case (r, b, c) => ((r, b), c) }
        .toMap
      assert(got === exp, s"parts=$parts")
    }
  }

  test("estimate: never undercounts, and matches the reference min exactly") {
    val values = (0 until 5000).map(i => s"w${i % 900}")
    val exact = values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cs = refCounters(values)
    val sketch = CountMin.build(values.toDF("v"), Nil, col("v"), WLog2, D)
    val probes = exact.keys.toSeq.sorted
    val got = CountMin.estimate(probes.toDF("v"), col("v"), sketch, Nil,
        WLog2, D)
      .select("v", "est").as[(String, Long)].collect().toMap
    probes.foreach { v =>
      assert(got(v) === refEstimate(v, cs), s"estimate mismatch for $v")
      assert(got(v) >= exact(v), s"undercount for $v: ${got(v)} < ${exact(v)}")
    }
  }

  test("weighted build from a (value, count) frame == raw-occurrence build") {
    val values = (0 until 5000).map(i => s"u${i % 300}")
    val raw = CountMin.build(values.toDF("v"), Nil, col("v"), WLog2, D)
      .as[(Int, Int, Long)].collect().toSet
    val pre = values.toDF("v").groupBy($"v").agg(count(lit(1)).as("c"))
    val weighted = CountMin.build(pre, Nil, col("v"), WLog2, D,
        weight = col("c"))
      .as[(Int, Int, Long)].collect().toSet
    assert(weighted === raw)
  }

  test("heavyHitters: every true hitter in the candidate set is returned") {
    // planted: 20 hot tokens at 400 occurrences over a 2000-token noise tail
    val hot = (0 until 20).flatMap(i => Seq.fill(400)(s"hot$i"))
    val noise = (0 until 20000).map(i => s"cold${i % 2000}")
    val corpus = (hot ++ noise).toDF("v")
    val sketch = CountMin.build(corpus, Nil, col("v"), WLog2, D)
    val cands = ((0 until 20).map(i => s"hot$i") ++
      (0 until 200).map(i => s"cold$i")).toDF("v")
    val hits = CountMin.heavyHitters(cands, col("v"), sketch, Nil,
        threshold = 400L, WLog2, D)
      .select("v", "est").as[(String, Long)].collect().toMap
    (0 until 20).foreach { i =>
      assert(hits.contains(s"hot$i"), s"missed planted hitter hot$i")
      assert(hits(s"hot$i") >= 400L)
    }
    // overcount stays near theory: e*n/w ~ 2.7*28000/4096 ~ 18 per row;
    // a cold token (true count 10) surviving a 400 threshold would need a
    // 390-overcount on ALL 3 rows — astronomically unlikely
    val falseHitters = hits.keys.filter(_.startsWith("cold"))
    assert(falseHitters.isEmpty, s"false hitters: $falseHitters")
  }

  test("strata isolation: counters are per-stratum, probes read their own") {
    val df = Seq(("s0", "x"), ("s0", "x"), ("s0", "x"), ("s1", "x"))
      .toDF("src", "v")
    val sketch = CountMin.build(df, Seq("src"), col("v"), WLog2, D)
    val probes = Seq(("s0", "x"), ("s1", "x"), ("s1", "y")).toDF("src", "v")
    val got = CountMin.estimate(probes, col("v"), sketch, Seq("src"),
        WLog2, D)
      .select("src", "v", "est").as[(String, String, Long)].collect().toSet
    assert(got === Set(("s0", "x", 3L), ("s1", "x", 1L), ("s1", "y", 0L)))
  }
}
