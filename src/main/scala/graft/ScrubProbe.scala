package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Scratch profiling main for the scrub-rebuild comparison (not part of the
  * driver contract): alternates the in-row `ScrubTokensExpr` route and the
  * exploded reference on the same corpus, twice each, plus the shared
  * candidate prefix (window explode + first-occurrence agg + dup filter) so
  * the rebuild halves can be attributed separately from the shared half. */
object ScrubProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val dir = args(0)
    val w = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    def docs = spark.read.parquet(s"$dir/documents.parquet")
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"PROBE $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      spark.catalog.clearCache()
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save()
      Dedup.release(df)
    }
    time("shared-prefix")(noop(Dedup.duplicateWindowStarts(
      Dedup.ensureParallel(docs), "doc_id", "text", w)))
    for (round <- 1 to 2) {
      time(s"inrow-$round")(noop(
        Dedup.scrubSharedWindows(docs, "doc_id", "text", w)))
      time(s"exploded-$round")(noop(
        Dedup.scrubSharedWindowsExploded(docs, "doc_id", "text", w)))
    }
    spark.stop()
  }
}
