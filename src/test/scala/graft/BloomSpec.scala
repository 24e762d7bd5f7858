package graft

import graft.functions.{Mix64, RollingHash64}
import graft.operators.Bloom
import org.apache.spark.sql.functions._

/** Bloom membership sketches: word exactness vs a local reference, the
  * no-false-negative contract, and the false-positive rate staying near
  * theory. */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private def refWords(values: Seq[String], bitsLog2: Int,
                       k: Int): Map[Int, Long] =
    values.foldLeft(Map.empty[Int, Long]) { (ws, v) =>
      val h = Mix64.mix(RollingHash64.hashBytes(v.getBytes("UTF-8")))
      (0 until k).foldLeft(ws) { (acc, i) =>
        val p = (h >>> (i * bitsLog2)) & ((1L << bitsLog2) - 1L)
        val w = (p / 32L).toInt
        acc.updated(w, acc.getOrElse(w, 0L) | (1L << (p % 32L)))
      }
    }

  test("build: bit-identical to the local reference, partition-invariant") {
    val values = (0 until 2000).map(i => s"gram $i of text")
    val exp = refWords(values, 16, 3)
    for (parts <- Seq(1, 7)) {
      val got = Bloom.build(values.toDF("v").repartition(parts), Nil,
          col("v"))
        .as[(Int, Long)].collect().toMap
      assert(got === exp, s"parts=$parts")
    }
  }

  test("probe: members always hit (no false negatives), absent words = miss") {
    val members = (0 until 2000).map(i => s"member$i")
    val filter = Bloom.build(members.toDF("v"), Nil, col("v"))
    val hits = Bloom.probe(members.toDF("v"), col("v"), filter, Nil)
      .filter(col("might_contain")).count()
    assert(hits === 2000L)
  }

  test("probe: false-positive rate near theory (k=3, n=2000, m=65536)") {
    val members = (0 until 2000).map(i => s"member$i")
    val filter = Bloom.build(members.toDF("v"), Nil, col("v"))
    val nonMembers = (0 until 10000).map(i => s"other$i")
    val fp = Bloom.probe(nonMembers.toDF("v"), col("v"), filter, Nil)
      .filter(col("might_contain")).count()
    // theory: (1 - e^(-kn/m))^3 ~ 6.7e-4 -> expect ~7 of 10000; allow 1%
    assert(fp < 100L, s"false positives: $fp / 10000")
  }

  test("probe superset contract vs an exact membership join") {
    val bench = (0 until 500).map(i => s"g$i").toDF("v")
    val corpus = (250 until 1250).map(i => s"g$i").toDF("v")
    val filter = Bloom.build(bench, Nil, col("v"))
    val flagged = Bloom.probe(corpus, col("v"), filter, Nil)
      .filter(col("might_contain")).select("v").as[String].collect().toSet
    val exact = (250 until 500).map(i => s"g$i").toSet
    assert(exact.subsetOf(flagged))
  }

  test("sharedNgramsBloom: composition == exact sharedNgrams, and it prunes") {
    // planted corpus: the q47 shape on real docs — every 97th doc is the
    // benchmark, the rest the corpus; most corpus grams are NOT shared, so
    // the pre-filter has real work to reject
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val docs = all.filter(col("doc_id") % 97 =!= 0)
    val bench = all.filter(col("doc_id") % 97 === 0)
    val exact = graft.operators.Contamination
      .sharedNgrams(docs, bench, "doc_id", "text", n = 5)
    val composed = graft.operators.Contamination
      .sharedNgramsBloom(docs, bench, "doc_id", "text", n = 5, stats = true)
    // identical verdicts and counts (no-false-negative law end-to-end)
    val a = exact.select("doc_id", "shared_ngrams", "contaminated")
    val b = composed.select("doc_id", "shared_ngrams", "contaminated")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "bloom-composed contamination diverged from the exact join: " +
        a.exceptAll(b).limit(3).collect().mkString(" | "))
    // the pre-filter must actually prune: corpus-wide, kept grams ≈
    // shared + fp-residue << total. With m=65536 bits, k=3 and a bench of
    // ~a few thousand grams the fp rate is well under 5%.
    val Seq(total, kept, shared) = composed
      .agg(sum("n_grams"), sum("bloom_kept_grams"), sum("shared_ngrams"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    assert(kept >= shared, "pre-filter lost a true match (false negative!)")
    assert(kept - shared <= (total - shared) / 20,
      s"fp residue ${kept - shared} exceeds 5% of the ${total - shared} " +
        "non-matching grams — the pre-filter isn't pruning")
  }
}
