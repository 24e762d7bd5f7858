package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Scale-census probe (r10 verdict #3/#4): prices the operators whose sf10
  * cost was previously argued from shape rather than measured.
  *
  *  - `scrub` / `novelty` / `fuzzy`: the three "flat by construction" census
  *    rows (q95/q104/q110 run on fixed slices) executed over the FULL corpus;
  *  - `reportfold` / `cmsfold`: one corpus-sized store build (batch 0) then a
  *    BATCH-SIZED fold (batch 1) against that corpus-sized store — the
  *    steady-state streaming upkeep cost the BASELINE.md streaming rows price;
  *  - `annserve`: IVF+PQ index build+persist once, then the serve-only query
  *    batch against the loaded index — the AnnServeStream micro-batch cost.
  *
  * Usage: runMain graft.ScaleProbe <sfDir> [op,op,…]
  * Prints one JSON line per op: {"op":…,"sec":…,"sf":…}. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val sel = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(op: String): Boolean = sel.forall(_.contains(op))
    val spark = GraftSession()
    val tag = new java.io.File(sfDir).getName
    def timed(op: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"""{"op":"$op","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"sf":"$tag"}""")
      spark.catalog.clearCache()
    }
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def noop(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save()
      Dedup.release(df)
    }

    if (want("scrub"))
      timed("scrub_full")(noop(
        Dedup.scrubSharedWindows(docs, "doc_id", "text", 20)))
    if (want("novelty"))
      timed("novelty_full")(noop(
        Dedup.windowNoveltyStats(docs, "doc_id", "text", 20)))
    if (want("fuzzy"))
      timed("fuzzy_full")(noop(Dedup.incrementalJaccardMatches(
        docs, docs.filter(col("doc_id") < 1000).select(col("doc_id"), col("text")),
        "doc_id", "text", 3, 0.8, Nil)))

    if (want("reportfold")) {
      val store = s"/tmp/scaleprobe_report_$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      timed("report_fold_corpus")(
        graft.streaming.ReportStream.foldReportBatch(docs, 0L,
          "text", "source", "lang", store, 8, 2, 2000000L))
      val batch = docs.filter(pmod(col("doc_id"), lit(499L)) === 0)
      timed("report_fold_batch")(
        graft.streaming.ReportStream.foldReportBatch(batch, 1L,
          "text", "source", "lang", store, 8, 2, 2000000L))
      timed("report_render")(noop(graft.streaming.ReportStream
        .currentReport(spark, store, "source").get))
    }
    if (want("cmsfold")) {
      val store = s"/tmp/scaleprobe_cms_$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      def toks(d: org.apache.spark.sql.DataFrame) = Dedup.ensureParallel(d)
        .select(col("source"),
          explode(graft.functions.TextFns.words(col("text"))).as("__t"))
      timed("cms_fold_corpus")(graft.streaming.SketchStream.foldCmsBatch(
        toks(docs), 0L, Seq("source"), "__t", store, 12, 3, 2))
      timed("cms_fold_batch")(graft.streaming.SketchStream.foldCmsBatch(
        toks(docs.filter(pmod(col("doc_id"), lit(499L)) === 0)),
        1L, Seq("source"), "__t", store, 12, 3, 2))
    }
    if (want("annserve")) {
      val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val dir = s"/tmp/scaleprobe_ivfpq_$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      timed("annserve_build") {
        Similarity.buildIvfPqIndex(embs, nCentroids = 16).save(dir)
      }
      val index = Similarity.IvfPqIndex.load(spark, dir)
      val queries = embs.filter(col("vec_id") < 10)
      timed("annserve_batch")(noop(
        Similarity.ivfPqSearch(index, queries, k = 5, nProbe = 4)))
    }
    spark.stop()
  }
}
