package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Scratch profiling main for the LOW-DIVERSITY corpus regime (not part of
  * the driver contract): documents drawn from a tiny vocabulary (the
  * WarcProbe synthetic text — 14 stems + one doc-unique token) make every
  * shingle's document frequency huge, so a HASH-ordered prefix filter's
  * candidate join degenerates toward Σ df² — quadratic wall on a corpus
  * whose true near-dup pair count is ZERO. Times candidate generation and
  * the full exact-Jaccard pass at increasing n to expose/verify the curve.
  *
  * Usage: FloodProbe <n> [threshold] */
object FloodProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    import spark.implicits._
    val n = args(0).toLong
    val threshold = args.drop(1).headOption.map(_.toDouble).getOrElse(0.8)
    val docs = spark.range(n).as[Long]
      .map(d => (d, WarcProbe.docText(d))).toDF("doc_id", "text")
      .repartition(32).cache()
    docs.count()
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[flood-probe] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$rows  n=$n t=$threshold")
    }
    time("candidates") {
      Dedup.ngramPrefixCandidates(docs, "doc_id", "text", 3, threshold, Nil)
        .count()
    }
    time("full-jaccard") {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, threshold, Nil)
        .count()
    }
    time("dedupedCorpus") {
      Dedup.dedupedCorpus(docs, "doc_id", "text", 3, threshold, Nil).count()
    }
    spark.stop()
  }
}
