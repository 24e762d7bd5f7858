package graft

import graft.functions.{RollingHash64, SortedIntersectCount}
import org.apache.spark.sql.SparkSessionExtensions

/** Catalyst integration point: registers the engine's native expressions so they are
  * usable from plain SQL in any session created with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * a session builder's `withExtensions(new GraftExtensions)`):
  *
  *   SELECT rolling_hash64(text)             -- codegen'd FNV-style rolling hash
  *   SELECT sorted_intersect_count(a, b)     -- allocation-free sorted-set intersect
  *
  * Injected via the extensions API (not per-session temp functions) so the functions
  * exist on every executor/session of a cluster deployment without driver-side
  * registration calls. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_hash64"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[RollingHash64].getName, "rolling_hash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        RollingHash64(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_intersect_count"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SortedIntersectCount(exprs.head, exprs(1))))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sketch"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MinHashSketch].getName, "minhash_sketch"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.MinHashSketch(exprs.head,
          exprs(1).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_hashed_shingles"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.SortedHashedShinglesExpr].getName,
        "sorted_hashed_shingles"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.SortedHashedShinglesExpr(exprs.head,
          exprs(1).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_signature"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MinHashSignature].getName, "minhash_signature"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.MinHashSignature(exprs.head,
          exprs(1).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.SimHash64Expr].getName, "simhash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.SimHash64Expr(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("text_stats"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.TextStatsExpr].getName, "text_stats"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.TextStatsExpr(exprs.head, Nil)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("topk_struct"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.TopKAgg].getName, "topk_struct"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.TopKAgg(exprs.head,
          exprs(1).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("vector_sum"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.VectorSumAgg].getName, "vector_sum"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.VectorSumAgg(exprs.head)))
    // crawl kernels (r13/r14): URL canonicalization, RFC 3986 resolution,
    // HTML text extraction, hyperlink extraction — the SQL surface of the
    // crawl-to-corpus path
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("url_normalize"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.UrlNormalizeExpr].getName, "url_normalize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.UrlNormalizeExpr(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("url_host"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.UrlHostExpr].getName, "url_host"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.UrlHostExpr(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("url_resolve"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.UrlResolveExpr].getName, "url_resolve"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.UrlResolveExpr(exprs.head, exprs(1))))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("html_to_text"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.HtmlToTextExpr].getName, "html_to_text"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.HtmlToTextExpr(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("extract_links"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.ExtractLinksExpr].getName, "extract_links"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.ExtractLinksExpr(exprs.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("robots_rules"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.RobotsRulesExpr].getName, "robots_rules"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.RobotsRulesExpr(exprs.head, exprs(1))))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("robots_allowed"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.RobotsAllowedExpr].getName, "robots_allowed"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.RobotsAllowedExpr(exprs.head, exprs(1), exprs(2))))
  }
}
