package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch profiling main for the dedup family (not part of the driver contract). */
object DedupProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROBE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val d2k = docs.filter(col("doc_id") < 2000)

    import graft.functions.TextFns
    time("q23.tokenize-only") {
      d2k.repartition(32)
        .select(col("doc_id"), TextFns.sortedHashedShingles(col("text"), 3).as("sh"))
        .agg(sum(size(col("sh")))).count()
    }
    time("q23.prefix-explode") {
      val tS = 500000L
      d2k.repartition(32)
        .withColumn("__sh", TextFns.sortedHashedShingles(col("text"), 3))
        .filter(size(col("__sh")) > 0)
        .withColumn("__sz", size(col("__sh")).cast("long"))
        .withColumn("__p", (col("__sz") - expr(s"($tS * __sz + 999999) div 1000000") + 1).cast("int"))
        .select(col("doc_id"), explode(slice(col("__sh"), lit(1), col("__p"))).as("tok"))
        .count()
    }
    time("q23.candidates") {
      Dedup.ngramPrefixCandidates(d2k, "doc_id", "text", 3, 0.5, Seq("lang")).count()
    }
    time("q23.full") {
      Dedup.ngramJaccardPairs(d2k, "doc_id", "text", 3, 0.5, Seq("lang")).count()
    }
    time("q46.embedding-lsh") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val jit = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), e => e + lit(0.02f)).as("embedding"))
      Dedup.embeddingCosinePairs(
        emb.select(col("vec_id"), col("embedding")).unionByName(jit),
        "vec_id", "embedding",
        threshold = 0.98, blockCols = Nil, lshPlanes = 12, lshBands = 8).count()
    }
    for (i <- 1 to 5) time(s"q48.repetition-$i") {
      val df = SparkEntry.queries("q48_repetition_quality")(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      1L
    }
    time("q24.sig-only") {
      graft.functions.MinHashSketch.register(spark)
      docs.repartition(32)
        .select(col("doc_id"), TextFns.sortedHashedShingles(col("text"), 2).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(graft.functions.MinHashSketch.sketchCol(col("sh"), 64).as("sig"))
        .select(sum(size(col("sig")))).count()
    }
    time("q24.full") {
      Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 32, threshold = 0.3).count()
    }
    time("q25.full") {
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 12).count()
    }

    // NEGATIVE RESULT, kept as the receipt (see BASELINE.md): a CMS est<2
    // pre-filter CANNOT prune the line-dedup winner shuffle. On a
    // mostly-unique 2M-line corpus with 3×2^16 counters the candidate
    // fraction measures 1.0000 — the additive error e·n/w (~80 here) makes
    // count-1-vs-2 indistinguishable once n >> w, and provisioning w ~ n
    // makes the sketch corpus-sized (unbroadcastable at 100 TB). Exact
    // single-pass lineDedup remains the scale shape; CMS stays for heavy
    // hitters, where the threshold dwarfs the error floor (q100).
    {
      val n = 500000L
      val synth = spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws("\n",
          concat(lit("unique payload line number "), col("id"),
            lit(" alpha beta gamma")),
          concat(lit("second unique for "), col("id"),
            lit(" delta epsilon zeta")),
          concat(lit("third unique for "), col("id"), lit(" eta theta iota")),
          when(col("id") % 20 === 0,
            lit("all rights reserved boilerplate line"))
            .otherwise(concat(lit("fourth unique "), col("id"),
              lit(" kappa lambda mu")))).as("text"))
        .repartition(32).persist()
      synth.count()
      import graft.operators.CountMin
      val lines = synth.select(col("doc_id"),
        explode(split(col("text"), "\n", -1)).as("__line"))
      val sketch = CountMin.build(lines, Nil, col("__line"), 16, 3)
      val cand = CountMin.estimate(lines, col("__line"), sketch, Nil, 16, 3)
        .filter(col("est") >= 2L).count()
      println(f"PROBE cms.candidate-fraction     ${cand.toDouble / (4 * n)}%8.4f  ($cand of ${4 * n} lines)")
      for (i <- 1 to 2) {
        time(s"lineDedup.exact-$i") {
          Dedup.lineDedup(synth, "doc_id", "text")
            .agg(sum(col("n_removed"))).count()
        }
      }
      synth.unpersist()
    }
    spark.stop()
  }
}
