package graft.operators

import graft.functions.{CharEntropyExpr, TextFns, TextStatsExpr}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus data-card reports — the per-source audit frame a curation run
  * publishes next to its output ("what did we train on?"): volumes, vocabulary,
  * length, sub-word quality, and language mix in ONE result, every figure an
  * exact integer (counts, floor-divided means, e6 rates) so the report is
  * bit-reproducible and oracle-checkable.
  *
  * Scale shape: ONE corpus scan computes every per-doc signal in-row (native
  * word/entropy kernels — no explode for the doc-grain stats), one
  * map-combinable per-stratum aggregate folds them, and the only explode is
  * the token pass feeding the exact per-source vocabulary count (vocab-sized
  * shuffle; at whole-corpus scale swap in the q93 HLL register frame — the
  * report column is the exact twin of that estimate).
  *
  * The additive per-stratum intermediate (`reportCarrier`) is split from
  * the presentation math (`render`) so [[corpusReport]] and
  * [[corpusReportFull]] share both. The derived columns (means, rates) are
  * computed only at render time. */
object Reports {

  /** The additive per-stratum carrier:
    * (strata, n_docs, n_tokens, ent_sum, low_n, en_n) — every column an
    * exact long SUM. */
  private def reportCarrier(docs: DataFrame, textCol: String,
                            strataCol: String, langCol: String,
                            entropyFloorE6: Long): DataFrame = {
    // the per-doc word/entropy kernels must not run at file-count
    // parallelism on a few-file corpus (r10 receipt lesson)
    val perDoc = Dedup.ensureParallel(docs).select(col(strataCol),
      TextStatsExpr(col(textCol), Nil)("n_words").as("__nw"),
      CharEntropyExpr(col(textCol)).as("__ent"),
      when(col(langCol) === "en", 1L).otherwise(0L).as("__en"))
    perDoc.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nw")).as("n_tokens"),
        sum(col("__ent")).as("ent_sum"),
        sum(when(col("__ent") < entropyFloorE6, 1L).otherwise(0L))
          .as("low_n"),
        sum(col("__en")).as("en_n"))
  }

  /** Presentation math over a carrier + a per-stratum vocabulary frame
    * (`vocab(strataCol, n_distinct_tokens)`, exact counts). LEFT join: a
    * stratum whose docs all tokenize to zero words has carrier rows but no
    * vocab row, and an audit artifact
    * that silently omits a stratum misanswers "what did we train on" (r9
    * ADVICE) — it renders with n_distinct_tokens = 0 instead. */
  private def render(carrier: DataFrame, vocab: DataFrame,
                     strataCol: String): DataFrame = {
    val d = graft.ops.Quantiles.div _
    carrier.join(vocab, Seq(strataCol), "left")
      .select(col(strataCol), col("n_docs"), col("n_tokens"),
        coalesce(col("n_distinct_tokens"), lit(0L)).as("n_distinct_tokens"),
        d(col("n_tokens"), col("n_docs")).as("mean_doc_tokens"),
        d(col("ent_sum"), col("n_docs")).as("mean_entropy_e6"),
        d(col("low_n") * 1000000L, col("n_docs")).as("low_entropy_rate_e6"),
        d(col("en_n") * 1000000L, col("n_docs")).as("en_rate_e6"))
  }

  /** Per-`strataCol` report over `docs(textCol, langCol, strataCol)`:
    * n_docs, n_tokens, n_distinct_tokens, mean_doc_tokens (floor),
    * mean_entropy_e6 (floor), low_entropy_rate_e6 (share of docs under
    * `entropyFloorE6`), en_rate_e6 (share of docs with `langCol = 'en'`). */
  def corpusReport(docs: DataFrame, textCol: String,
                   strataCol: String, langCol: String,
                   entropyFloorE6: Long = 2000000L): DataFrame = {
    val d = Dedup.ensureParallel(docs)
    val vocab = d.select(col(strataCol),
        explode(TextFns.words(col(textCol))).as("__t"))
      .groupBy(col(strataCol))
      .agg(countDistinct(col("__t")).as("n_distinct_tokens"))
    render(reportCarrier(d, textCol, strataCol, langCol,
      entropyFloorE6), vocab, strataCol)
  }

  /** Per-stratum top-`k` tokens as ONE presentation string
    * ("tok:cnt,tok:cnt,…", count DESC then signed-FNV ASC — q67's
    * hash-verified tie-break, so the pick is deterministic and
    * SQL-reproducible without a lexicographic sort assumption) from a
    * (strata, __t, cnt) count frame. Heap-aggregated (`TopKAgg`): the shuffle
    * carries ≤ k rows per (stratum, mapper), never the vocabulary. */
  private def topTokens(counts: DataFrame, strataCol: String,
                               k: Int): DataFrame =
    graft.ops.TopK.topKPerGroup(counts, Seq(strataCol), col("cnt"),
        graft.functions.RollingHash64(col("__t")),
        Seq(col("__t"), col("cnt")), k)
      .groupBy(col(strataCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"),
          concat(col("__t"), lit(":"), col("cnt")).as("s")))),
        x => x("s")), ",").as("top_tokens"))

  /** The FULL data card (q111): [[corpusReport]]'s exact columns plus the two
    * mixture diagnostics the curation decisions actually ride on —
    *  - `kl_vs_mix_e6`: per-stratum unigram KL vs the corpus mix
    *    (`DataMix.sourceTokenKl`'s exact e6-integer convention), the
    *    reweighting signal;
    *  - `top_tokens`: the stratum's `k` heaviest tokens with exact counts
    *    ("tok:cnt,…").
    * Strata whose docs all tokenize to zero words render with kl 0 and an
    * empty token list (LEFT joins — the audit must not drop them).
    * Cost: two extra token passes over the corpus beyond [[corpusReport]]'s
    * one (counts for KL + hitters are map-combinable aggregates) — the card
    * is a once-per-run artifact, not a hot path.
    *
    * The result is an EAGER localCheckpoint (strata-sized, tiny), so each
    * invocation pins one checkpointed RDD for the session; callers that care
    * (long-lived sessions invoking many cards) free it with
    * `Dedup.release(result)` once consumed — the same contract as the Dedup
    * composites (r10 ADVICE). */
  def corpusReportFull(docs: DataFrame, textCol: String,
                       strataCol: String, langCol: String, k: Int = 5,
                       entropyFloorE6: Long = 2000000L): DataFrame = {
    val d = Dedup.ensureParallel(docs)
    // ONE token pass serves all three token-derived column families: the
    // (strata, token) count frame is the KL operator's own intermediate,
    // the vocabulary is its per-stratum row count (== countDistinct), and
    // the hitters heap ranks it directly (r10 review: the original form
    // paid three corpus-sized tokenize+explode passes for the same card)
    val counts = d.select(col(strataCol),
        explode(TextFns.words(col(textCol))).as("__t"))
      .groupBy(col(strataCol), col("__t"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = counts.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_distinct_tokens"))
    val kl = graft.operators.DataMix
      .sourceTokenKlFromCounts(
        counts.select(col(strataCol), col("__t"), col("cnt").as("c_si")),
        strataCol)
      .select(col(strataCol), col("kl_e6").as("kl_vs_mix_e6"))
    val out = render(reportCarrier(d, textCol, strataCol, langCol,
        entropyFloorE6), vocab, strataCol)
      .join(kl, Seq(strataCol), "left")
      .join(topTokens(counts, strataCol, k), Seq(strataCol), "left")
      .withColumn("kl_vs_mix_e6", coalesce(col("kl_vs_mix_e6"), lit(0L)))
      .withColumn("top_tokens", coalesce(col("top_tokens"), lit("")))
      .localCheckpoint(true)
    counts.unpersist(blocking = false)
    out
  }
}
