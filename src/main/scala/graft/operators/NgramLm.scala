package graft.operators

import graft.functions.TextFns
import graft.ops.Quantiles
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-scale n-gram language-model training and perplexity scoring — the
  * CCNet-style quality filter (Wenzek et al. 2019 arXiv:1911.00359 filter
  * Common Crawl by LM perplexity; the reference pipeline's validation
  * predicates are the same shape at time-series scale): train a smoothed
  * bigram model ON the corpus with two map-combinable count aggregates, then
  * score every document's negative log-likelihood in one pass.
  *
  * Model: add-one (Laplace) bigram LM over `TextFns.words` tokens —
  * `p(w2 | w1) = (c(w1,w2) + 1) / (c(w1·) + V)` with `c(w1·)` the count of
  * bigrams starting at `w1` and `V` the training vocabulary size. Per-token
  * log-probs are rounded to scaled integers (`round(ln(p)·1e6)`) BEFORE the
  * per-document sum, so totals are exact integer arithmetic — associative,
  * partition-order-independent, and reproducible in plain SQL (the q83
  * oracle re-derives every count and every scaled log-prob).
  *
  * Scale shape: bigram counts are one `groupBy(w1, w2)` over the exploded
  * corpus — fully map-combinable, shuffle bounded by the DISTINCT bigram
  * count (vocabulary-squared worst case, Zipf-tiny in practice), never by
  * corpus rows; context counts reduce the bigram frame again (vocab-sized);
  * V is one `countDistinct` action at train time. Scoring joins the exploded
  * doc-bigram frame to the model on (w1, w2) — ONE corpus-scale hash
  * shuffle, skew absorbed by AQE (the model side holds one row per bigram) —
  * and picks up context counts via an explicit vocab-sized broadcast.
  * Documents with fewer than two tokens have no bigrams and drop out, like
  * every occurrence-based scorer in this family (q82). */
object NgramLm {

  /** A trained bigram LM: `bigrams(w1, w2, c12)`, `contexts(w1, c1)`, and the
    * training vocabulary size. On a heavy (corpus-scale) training source
    * `bigrams` comes back PINNED (size-gated `Dedup.persistIfHeavy`) so the
    * multiply-referencing scoring plans re-tokenize the corpus once, not
    * once per reference. `Dedup.release` on a scored frame (or on
    * `lm.bigrams`) after the last scoring action frees the pin (a no-op
    * when the gate stayed closed). */
  final case class BigramLm(bigrams: DataFrame, contexts: DataFrame,
                            vocabSize: Long)

  /** Adjacent-token pairs as an in-row array of `struct(w1, w2)` — no join,
    * no window: the slice/zip runs inside the row. */
  private def bigramPairs(toks: Column): Column =
    when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  /** Train on `docs(textCol)`: two count aggregates + one vocab action. */
  def trainBigram(docs: DataFrame, textCol: String): BigramLm = {
    // tokenize + explode would otherwise run at file-count parallelism on a
    // few-file corpus (the r10 receipt's lesson — q83's sf10 census was
    // dominated by serial token passes)
    val toks = Dedup.ensureParallel(docs)
      .select(TextFns.words(col(textCol)).as("__ts"))
    // size-gated pin (r17 opt): the bigram table is VOCAB-sized (Zipf,
    // never corpus-sized) but its subtree is a full corpus tokenize pass,
    // and it is referenced from BOTH the scoring join and `contexts` —
    // without the pin a single scoring plan at cluster scale re-tokenizes
    // the corpus once per reference (q84's one plan held 12 parquet scans
    // of the corpus; see plans/r17/q84_domain_llr_{before,after}.txt).
    // Gated on the source size because at bench scale the re-scan is
    // cheaper than the pin (Dedup.persistIfHeavy scaladoc).
    val bigrams = Dedup.persistIfHeavy(toks
      .select(explode(bigramPairs(col("__ts"))).as("__b"))
      .groupBy(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .agg(count(lit(1)).as("c12")), docs)
    val contexts = bigrams.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = toks.select(explode(col("__ts")).as("__t"))
      .agg(countDistinct(col("__t"))).head().getLong(0)
    require(v > 0, "cannot train a bigram LM on an empty-vocabulary corpus")
    BigramLm(bigrams, contexts, v)
  }

  /** Score every document under `lm`: bigram count, total and per-bigram
    * negative log-likelihood in e6 scaled-integer form (perplexity is
    * `exp(avg_nll_e6 / 1e6)` — monotone, so ranking/filtering works on the
    * integer directly). Bigrams unseen in training back off to the smoothed
    * floor `1 / (c1 + V)` (or `1 / V` for an unseen context) — never zero,
    * never a log of zero. */
  def scoreBigram(docs: DataFrame, idCol: String, textCol: String,
                  lm: BigramLm): DataFrame = {
    val docBi = Dedup.ensureParallel(docs)
      .select(col(idCol), explode(bigramPairs(TextFns.words(col(textCol))))
        .as("__b"))
      .select(col(idCol), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val lp = round(
      log((coalesce(col("c12"), lit(0L)) + 1L).cast("double") /
        (coalesce(col("c1"), lit(0L)) + lit(lm.vocabSize)).cast("double"))
        * 1e6).cast("long")
    docBi
      .join(lm.bigrams, Seq("w1", "w2"), "left")
      .join(broadcast(lm.contexts), Seq("w1"), "left")
      .withColumn("__lp", lp)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("__lp"))).as("nll_e6"))
      .withColumn("avg_nll_e6", Quantiles.div(col("nll_e6"), col("n_bigrams")))
  }

  /** A per-stratum bigram LM family (r14): `bigrams`/`contexts` carry the
    * strata columns in their keys, `vocab` is one (strata → v) row per
    * stratum. The per-LANGUAGE curation shape — real CCNet/mC4 pipelines
    * split by language FIRST and train one LM per language; one global LM
    * scores every non-majority language as gibberish. */
  final case class StrataBigramLm(bigrams: DataFrame, contexts: DataFrame,
                                  vocab: DataFrame, strata: Seq[String])

  /** [[trainBigram]] keyed by `strata` (e.g. `Seq("lang")`): the SAME two
    * count aggregates with the strata columns in the group keys — one job
    * trains every stratum's LM in one pass, no per-language loop, no
    * driver-side model state. Shuffle stays bounded by Σ per-stratum
    * distinct bigrams. */
  def trainBigramBy(docs: DataFrame, textCol: String,
                    strata: Seq[String]): StrataBigramLm = {
    require(strata.nonEmpty, "strata must be non-empty (use trainBigram)")
    val toks = Dedup.ensureParallel(docs)
      .select((strata.map(col) :+ TextFns.words(col(textCol)).as("__ts")): _*)
    // size-gated pin for the same reason as trainBigram's bigrams (r17
    // opt): vocab-sized frame, corpus-scale subtree, multiply referenced
    val bigrams = Dedup.persistIfHeavy(toks
      .select((strata.map(col) :+ explode(bigramPairs(col("__ts")))
        .as("__b")): _*)
      .groupBy((strata.map(col) :+ col("__b.w1").as("w1") :+
        col("__b.w2").as("w2")): _*)
      .agg(count(lit(1)).as("c12")), docs)
    val contexts = bigrams
      .groupBy((strata.map(col) :+ col("w1")): _*)
      .agg(sum(col("c12")).as("c1"))
    val vocab = toks
      .select((strata.map(col) :+ explode(col("__ts")).as("__t")): _*)
      .groupBy(strata.map(col): _*)
      .agg(countDistinct(col("__t")).as("__v"))
    StrataBigramLm(bigrams, contexts, vocab, strata)
  }

  /** [[scoreBigram]] under a per-stratum LM family: every document scores
    * under ITS OWN stratum's model (bigram/context joins keyed by
    * strata + words, the vocab-sized model sides broadcast; smoothing uses
    * the stratum's V). Documents whose stratum has no trained model drop
    * (inner vocab join) — score against the family you trained. */
  def scoreBigramBy(docs: DataFrame, idCol: String, textCol: String,
                    lm: StrataBigramLm): DataFrame = {
    val strata = lm.strata
    val docBi = Dedup.ensureParallel(docs)
      .select((col(idCol) +: strata.map(col) :+
        explode(bigramPairs(TextFns.words(col(textCol)))).as("__b")): _*)
      .select((col(idCol) +: strata.map(col) :+ col("__b.w1").as("w1") :+
        col("__b.w2").as("w2")): _*)
    val lp = round(
      log((coalesce(col("c12"), lit(0L)) + 1L).cast("double") /
        (coalesce(col("c1"), lit(0L)) + col("__v")).cast("double"))
        * 1e6).cast("long")
    docBi
      .join(lm.bigrams, strata ++ Seq("w1", "w2"), "left")
      .join(broadcast(lm.contexts), strata :+ "w1", "left")
      .join(broadcast(lm.vocab), strata)
      .withColumn("__lp", lp)
      .groupBy((col(idCol) +: strata.map(col)): _*)
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("__lp"))).as("nll_e6"))
      .withColumn("avg_nll_e6", Quantiles.div(col("nll_e6"), col("n_bigrams")))
  }

  /** Domain log-likelihood-ratio scoring (the DSIR/CCNet selection signal,
    * Xie et al. 2023 arXiv:2302.03169): score every document under an
    * IN-DOMAIN LM and a BASE LM and emit `llr_e6 = base avg-NLL − domain
    * avg-NLL` — positive means the document looks more like the target
    * domain than the background; select by thresholding or top-k. Both
    * scoring passes share the exploded doc-bigram shape; the model frames
    * are independent, so this is two scoring plans joined on the doc id —
    * no new machinery, which is the point of keeping the scorer an
    * operator. */
  def domainLlr(docs: DataFrame, idCol: String, textCol: String,
                domainLm: BigramLm, baseLm: BigramLm): DataFrame = {
    // ONE exploded doc-bigram pass scores under BOTH models (r17 opt): the
    // two models' per-bigram log-probs are independent column expressions,
    // so joining both (vocab-sized) model frames onto one docBi frame and
    // folding two sums in one doc-keyed aggregate is value-identical to the
    // old two-scoring-plans-joined-on-id form — while halving the corpus
    // tokenize passes and dropping one corpus-scale shuffle (the second
    // groupBy(id)) plus the final doc-keyed join outright
    // (plans/r17/q84_domain_llr_{before,after}.txt: 12 → 3 corpus scans).
    val docBi = Dedup.ensureParallel(docs)
      .select(col(idCol), explode(bigramPairs(TextFns.words(col(textCol))))
        .as("__b"))
      .select(col(idCol), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    def lp(c12: Column, c1: Column, v: Long): Column = round(
      log((coalesce(c12, lit(0L)) + 1L).cast("double") /
        (coalesce(c1, lit(0L)) + lit(v)).cast("double")) * 1e6).cast("long")
    docBi
      .join(domainLm.bigrams.select(col("w1"), col("w2"),
        col("c12").as("__dc12")), Seq("w1", "w2"), "left")
      .join(broadcast(domainLm.contexts.select(col("w1"),
        col("c1").as("__dc1"))), Seq("w1"), "left")
      .join(baseLm.bigrams.select(col("w1"), col("w2"),
        col("c12").as("__bc12")), Seq("w1", "w2"), "left")
      .join(broadcast(baseLm.contexts.select(col("w1"),
        col("c1").as("__bc1"))), Seq("w1"), "left")
      .withColumn("__dlp", lp(col("__dc12"), col("__dc1"), domainLm.vocabSize))
      .withColumn("__blp", lp(col("__bc12"), col("__bc1"), baseLm.vocabSize))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("__dlp"))).as("__dnll"),
        (-sum(col("__blp"))).as("__bnll"))
      .select(col(idCol), col("n_bigrams"),
        Quantiles.div(col("__dnll"), col("n_bigrams")).as("domain_nll_e6"),
        Quantiles.div(col("__bnll"), col("n_bigrams")).as("base_nll_e6"))
      .withColumn("llr_e6", col("base_nll_e6") - col("domain_nll_e6"))
  }

  /** Top-k collocations by pointwise mutual information — the corpus-level
    * phrase/diagnostic extraction built on the SAME bigram counts the LM
    * trains on: `pmi_e6 = round((ln c12 + ln N − ln c1* − ln c*2)·10⁶)`
    * where N = total bigram occurrences, c1* / c*2 the marginal first-/
    * second-position counts, `minCount` suppressing the unstable low-count
    * tail. One e6 rounding of one double expression — deterministic in both
    * engines. Selection is (pmi_e6 DESC, w1, w2) through a LIMIT —
    * `TakeOrderedAndProject`, per-partition heaps, never a full sort; all
    * frames after the corpus token pass are vocab-sized. */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5L,
                   k: Int = 50): DataFrame = {
    // size-gated pin (r17 opt): referenced by the marginals, the total, and
    // the selection itself — four corpus tokenize passes in one plan at
    // cluster scale otherwise
    val bigrams = Dedup.persistIfHeavy(Dedup.ensureParallel(docs)
      .select(TextFns.words(col(textCol)).as("__ts"))
      .select(explode(bigramPairs(col("__ts"))).as("__b"))
      .groupBy(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .agg(count(lit(1)).as("c12")), docs)
    val left = bigrams.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val right = bigrams.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val n = bigrams.agg(sum(col("c12")).as("n"))
    bigrams.filter(col("c12") >= minCount)
      .join(broadcast(left), Seq("w1"))
      .join(broadcast(right), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("pmi_e6",
        round((log(col("c12")) + log(col("n")) -
          log(col("c1")) - log(col("c2"))) * 1000000.0).cast("long"))
      .select(col("w1"), col("w2"), col("c12"), col("pmi_e6"))
      .orderBy(col("pmi_e6").desc, col("w1"), col("w2"))
      .limit(k)
  }
}
