package graft

import org.apache.spark.sql.functions._

/** r18 dev tool: bisect the BM25 scoring tail's cost at bench scale.
  * Usage: runMain graft.Bm25Probe [srcDir] */
object Bm25Probe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val queries = docs.filter(pmod(col("doc_id"), lit(37L)) === 0L)
      .select(col("doc_id").as("q_id"),
        array_join(slice(graft.functions.TextFns.words(col("text")), 1, 5),
          " ").as("q_text"))
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[bm25probe] $label ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val idx = graft.operators.Bm25.buildIndex(docs, "doc_id", "text")
    val name = "graft_probe_bm25"
    time("save")(idx.save(name, nBuckets = 32))
    val loaded = graft.operators.Bm25.Bm25Index.load(spark, name)
    val qTerms = queries.select(col("q_id"),
      explode(array_distinct(graft.functions.TextFns.words(col("q_text"))))
        .as("token")).localCheckpoint(eager = true)
    val qTok = qTerms.select(col("token")).distinct().localCheckpoint(true)
    for (rep <- 1 to 2) {
      println(s"[bm25probe] === rep $rep ===")
      time("tf scan only")(noop(loaded.tf))
      time("tf join qTerms")(noop(loaded.tf.join(broadcast(qTerms), "token")))
      val dfq = loaded.df.join(broadcast(qTok), "token")
      val avgdlE3 = 1000L * loaded.totTokens / loaded.nDocs
      val idf = dfq.select(col("token"),
        round(log((lit(loaded.nDocs.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)) * 1e6).cast("long").as("idf_e6"))
      val normed = loaded.dl.select(col("doc_id"),
        (lit((1000L - 750L) * 1000L) +
          graft.ops.Quantiles.div(lit(750L * 1000000L) * col("dl"),
            lit(avgdlE3))).as("norm_e6"))
      time("hits full project")(noop(
        loaded.tf.join(broadcast(qTerms), "token")
          .join(broadcast(idf), "token")
          .join(normed, "doc_id")
          .select(col("q_id"), col("doc_id"),
            graft.ops.Quantiles.div(
              col("idf_e6") * col("tf") * lit(1200L + 1000L),
              lit(1000L) * col("tf") +
                graft.ops.Quantiles.div(lit(1200L) * col("norm_e6"),
                  lit(1000000L))).as("term_e6"))))
      time("+ score agg")(noop(
        loaded.tf.join(broadcast(qTerms), "token")
          .join(broadcast(idf), "token")
          .join(normed, "doc_id")
          .select(col("q_id"), col("doc_id"),
            graft.ops.Quantiles.div(
              col("idf_e6") * col("tf") * lit(1200L + 1000L),
              lit(1000L) * col("tf") +
                graft.ops.Quantiles.div(lit(1200L) * col("norm_e6"),
                  lit(1000000L))).as("term_e6"))
          .groupBy(col("q_id"), col("doc_id"))
          .agg(sum(col("term_e6")).as("score_e6"),
            count(lit(1)).as("n_terms"))))
      time("full search")(noop(graft.operators.Bm25.search(loaded, queries,
        "q_id", "q_text", k = 10)))
    }
    spark.stop()
  }
}
