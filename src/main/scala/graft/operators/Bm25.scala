package graft.operators

import graft.functions.TextFns
import graft.io.BucketedStore
import graft.ops.Quantiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** BM25 ranked retrieval (Robertson–Spärck Jones / Okapi, the Lucene-default
  * scoring): given a corpus and a small table of queries, the top-k documents
  * per query. In a training-data pipeline this is the RETRIEVAL primitive —
  * decontamination-by-retrieval (pull the corpus docs closest to an eval
  * benchmark, then audit/scrub), targeted curation (mine docs near a seed
  * set), and the sparse half of any hybrid (BM25 + ANN) search stack; the
  * engine's dense half is `Similarity`.
  *
  * Scoring (Lucene's BM25, k1 = k1E3/1000, b = bE3/1000):
  *   idf(t)  = ln((N − df + 0.5)/(df + 0.5) + 1)              [always > 0]
  *   s(q,d)  = Σ_{t ∈ q∩d} idf·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  *
  * Cross-engine determinism: every factor is a scaled integer — idf_e6 =
  * round(idf·1e6) (one IEEE ln+round, identical in DuckDB); the length norm
  * norm_e6 = (1000−bE3)·1000 + ⌊bE3·dl·10⁶ / avgdl_e3⌋ with avgdl_e3 =
  * ⌊1000·Σdl / N⌋; the per-term score term_e6 = ⌊idf_e6·tf·(k1E3+1000) /
  * (1000·tf + ⌊k1E3·norm_e6/10⁶⌋)⌋. Long sums are associative, so scores are
  * bit-identical under any partitioning — and re-derivable in plain SQL
  * (q134). The quantization error is ~1e-6 relative — irrelevant to ranking,
  * decisive for reproducibility.
  *
  * Scale: the query table is BROADCAST twice (its distinct terms restrict
  * both the df frame and the tf frame before anything heavy); the only
  * corpus-sized shuffles are the tf aggregate and the per-doc length join
  * — and on the PERSISTED index route ([[Bm25Index]]) even those are paid
  * ONCE at build time: tf and dl save bucketed+sorted on the doc id (their
  * serve-time join is exchange-free), df saves bucketed on the token (the
  * tick merge is exchange-free on the corpus-vocabulary side). Nothing
  * output-side exceeds |queries|·k rows — the TopK heap aggregate never
  * materializes a full ranking. */
object Bm25 {

  /** The persisted serving index: the corpus-sized aggregates a BM25 search
    * needs, paid once at build and maintained INCREMENTALLY by [[add]] /
    * [[remove]] ticks — the q78/q62 admission discipline applied to
    * retrieval (r14 verdict #1: a per-call corpus scan is not a serving
    * stack).
    *
    *  - `tf` (id, token, tf): the postings. Bucketed+sorted on the id.
    *  - `dl` (id, dl): per-doc token counts. Same bucketing ⇒ the serve-time
    *    length-norm join moves zero corpus rows.
    *  - `df` (token, df): FULL-vocabulary document frequencies — the point
    *    of the index: serve-time restricts it to the query's terms by
    *    broadcast instead of re-aggregating the corpus.
    *  - `nDocs` / `totTokens`: the scalars behind idf and avgdl.
    *
    * Maintenance contract: [[add]]/[[remove]] produce frames EXACTLY equal
    * to a from-scratch [[buildIndex]] over the post-tick corpus (exact
    * integer count arithmetic — spec-pinned bit-for-bit, and q140 pins the
    * add-tick under the DuckDB full-rebuild oracle). [[save]] each tick:
    * the returned frames are lazy views over the stored ones, and chaining
    * ticks without re-saving deepens the plan (the VersionedFactStore
    * rolling-tick discipline).
    *
    * A doc whose text tokenizes to NOTHING leaves no tf row but DOES carry
    * a `(id, dl = 0)` row in `dl` (r16): it is a real doc for nDocs/avgdl,
    * and the dl row is what lets a later [[remove]] of its id decrement
    * `nDocs` correctly — without it an add-then-remove of an empty doc
    * left avgdl drifted forever. Zero-dl rows never join postings, so the
    * serve path is unchanged. */
  final case class Bm25Index(tf: DataFrame, dl: DataFrame, df: DataFrame,
                             idCol: String, nDocs: Long, totTokens: Long) {
    /** Free the persisted build/tick frames this in-memory index pins —
      * every one is reachable from `tf`, `dl` or `df`, so this is
      * [[Dedup.release]] on the three: call after the final action on an
      * UNSAVED index — [[save]] calls it itself, the stored tables are the
      * artifact from then on and [[Bm25Index.load]] pins nothing. */
    def release(): Unit = Seq(tf, dl, df).foreach(Dedup.release)

    /** Persist as BucketedStore tables `<name>_tf/_dl/_df/_meta`. The
      * 1-row meta frame rides the same save path: a non-persistent
      * metastore forgets the catalog entry between sessions while the
      * warehouse DIRECTORY survives, and only BucketedStore.save clears
      * that stale location (restart-idempotent publish). */
    def save(name: String, nBuckets: Int = 8): Unit = {
      val spark = tf.sparkSession
      import spark.implicits._
      // the four tables are independent writes off already-materialized
      // pins — submit them concurrently so the later writes back-fill the
      // earlier ones' task tails (guide §2.6 overlap independent jobs);
      // sequential saves paid four full job latencies end to end
      graft.Concurrent.all(spark)(
        () => BucketedStore.save(tf, s"${name}_tf", idCol, nBuckets),
        () => BucketedStore.save(dl, s"${name}_dl", idCol, nBuckets),
        () => BucketedStore.save(df, s"${name}_df", "token", nBuckets),
        () => BucketedStore.save(
          Seq((idCol, nDocs, totTokens)).toDF("id_col", "n_docs",
            "tot_tokens"), s"${name}_meta", "id_col", 1))
      // the saves consumed the in-memory frames: the tables are the
      // artifact now, serve via load()
      release()
    }
  }

  object Bm25Index {
    def load(spark: SparkSession, name: String): Bm25Index = {
      val meta = spark.table(s"${name}_meta").first()
      Bm25Index(BucketedStore.load(spark, s"${name}_tf"),
        BucketedStore.load(spark, s"${name}_dl"),
        BucketedStore.load(spark, s"${name}_df"),
        meta.getString(0), meta.getLong(1), meta.getLong(2))
    }
  }

  /** Build the serving index: ONE tokenize pass, one tf aggregate (the
    * only corpus shuffle), dl/df/scalars derived off it. The tf frame is
    * persisted for the derivation fan-out; [[Bm25Index.save]] (or the
    * caller's own action) consumes it. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val tf = Dedup.ensureParallel(docs)
      .select(col(idCol), explode(TextFns.words(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // dl covers EVERY doc, zero-token ones included (dl = 0), so remove
    // ticks see the full corpus; the id-keyed left join co-partitions with
    // the aggregate's own shuffle. dl is persisted too — its left side is
    // the raw corpus, so without the pin every serve-path action touching
    // dl (totTokens, each search's norm join) would re-scan the source.
    val dl = docs.select(col(idCol))
      .join(tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("dl"), lit(0L)).as("dl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // dl covers EVERY doc (the left join above), so one aggregate yields
    // both scalars — the r17 shape paid two sequential actions (docs.count
    // + the dl sum), i.e. one extra corpus scan and driver round trip per
    // build (r18, guide §1.2/§5)
    val meta = dl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .first()
    val (nDocs, totTokens) = (meta.getLong(0), meta.getLong(1))
    Bm25Index(tf, dl, df, idCol, nDocs, totTokens)
  }

  /** Admission tick: fold a batch of NEW docs into the index — work is
    * O(batch) plus one exchange-free (bucketed) merge per frame, never a
    * corpus re-scan. Ids must be new; re-admitting a live id double-counts
    * (dedup the batch against the corpus first — the engine's admission
    * operators exist for exactly that). */
  def add(index: Bm25Index, batch: DataFrame, textCol: String): Bm25Index = {
    val idc = index.idCol
    val btf = Dedup.ensureParallel(batch)
      .select(col(idc), explode(TextFns.words(col(textCol))).as("token"))
      .groupBy(col(idc), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // same dl-covers-every-doc contract as buildIndex (zero-token batch
    // docs get dl = 0), keeping add == rebuild bit-for-bit
    val bdl = batch.select(col(idc))
      .join(btf.groupBy(col(idc)).agg(sum(col("tf")).as("dl")),
        Seq(idc), "left")
      .select(col(idc), coalesce(col("dl"), lit(0L)).as("dl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bdf = btf.groupBy(col("token")).agg(count(lit(1)).as("bdf"))
    // bdl covers every batch doc — one aggregate for both scalars (r18,
    // same as buildIndex)
    val bMeta = bdl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .first()
    val (addedDocs, addedTokens) = (bMeta.getLong(0), bMeta.getLong(1))
    val mergedDf = index.df.join(bdf, Seq("token"), "full_outer")
      .select(col("token"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("bdf"), lit(0L)))
          .as("df"))
    Bm25Index(index.tf.unionByName(btf), index.dl.unionByName(bdl),
      mergedDf, idc, index.nDocs + addedDocs,
      index.totTokens + addedTokens)
  }

  /** Deletion tick (the q86 inverse): drop `ids` (a one-column frame of
    * doc ids) from the index. df decrements by the removed docs' postings
    * and zero-df tokens drop, so the result is exactly the rebuild over
    * the surviving corpus. Unknown ids no-op. */
  def remove(index: Bm25Index, ids: DataFrame): Bm25Index = {
    val idc = index.idCol
    val doomed = ids.select(col(ids.columns.head).as(idc)).distinct()
    val rtf = index.tf.join(broadcast(doomed), Seq(idc))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rdf = rtf.groupBy(col("token")).agg(count(lit(1)).as("rdf"))
    val removedTokens = rtf.agg(coalesce(sum(col("tf")), lit(0L)))
      .first().getLong(0)
    val removedDocs = index.dl.join(broadcast(doomed), Seq(idc)).count()
    val newDf = index.df.join(rdf, Seq("token"), "left")
      .select(col("token"),
        (col("df") - coalesce(col("rdf"), lit(0L))).as("df"))
      .filter(col("df") > 0L)
    Bm25Index(index.tf.join(broadcast(doomed), Seq(idc), "left_anti"),
      index.dl.join(broadcast(doomed), Seq(idc), "left_anti"),
      newDf, idc, index.nDocs - removedDocs,
      index.totTokens - removedTokens)
  }

  /** Serve a query batch from the index: identical semantics (and exact
    * scores) to [[topK]], but the corpus-sized aggregates come from the
    * store — per-call work is the query-restricted postings join, not the
    * corpus tokenize/aggregate. On a bucketed-saved index the tf⋈dl join
    * is exchange-free (both sides bucket on the id, the broadcast term
    * restriction preserves the scan's partitioning).
    *
    * `allowedIds` (one doc-id column, optional) is METADATA-FILTERED
    * serving, Lucene semantics: candidates restrict to the allowed set
    * BEFORE the per-query top-k fills, while idf/avgdl stay CORPUS-level
    * — a filter narrows who competes, it does not re-weigh the language
    * (surviving docs score bit-identically to the unfiltered search;
    * spec-pinned). The semi-join rides the id bucketing, exchange-free
    * on the postings side.
    *
    * `excludePairs` (columns = query id, doc id, optional) is PER-QUERY
    * exclusion — the hard-negative-mining primitive: exclude each query's
    * GOLD documents and the top-k that fills is exactly the
    * retrieval-training negatives (BM25-confusable, label-clean). The
    * anti-join lands on the hit-sized score frame before the top-k heap,
    * so exclusion costs one broadcast of the gold set (q144 pins the
    * whole route under the DuckDB oracle). */
  def search(index: Bm25Index, queries: DataFrame, qIdCol: String,
             qTextCol: String, k: Int, k1E3: Long = 1200L, bE3: Long = 750L,
             minDf: Long = 1L, maxHits: Long = 0L,
             allowedIds: DataFrame = null,
             excludePairs: DataFrame = null): DataFrame = {
    require(k >= 1 && k1E3 >= 0 && bE3 >= 0 && bE3 <= 1000,
      s"need k >= 1, k1E3 >= 0, bE3 in [0,1000], got $k/$k1E3/$bE3")
    // size-gated single evaluation (r17 opt, r18 leak fix): qTerms is
    // referenced by BOTH the df restriction (via qTok) and the scoring
    // join's broadcast — when the query set derives from a corpus-scale
    // frame (the bench fixture's corpus-filter queries; any mined query
    // set) each reference re-runs that scan+tokenize. qTerms is broadcast-
    // bound by construction, so when the gate opens it is collected ONCE
    // into a LocalRelation instead of persisted: the r17 persist had no
    // release path and leaked a cache entry per search call (VERDICT #1).
    // At bench scale the gate stays closed and the plan is unchanged.
    val qTerms = Dedup.localizeIfHeavy(queries.select(col(qIdCol),
      explode(array_distinct(TextFns.words(col(qTextCol)))).as("token")),
      queries)
    val qTok = qTerms.select(col("token")).distinct()
    val dfq = index.df.join(broadcast(qTok), "token")
    val tf =
      if (allowedIds == null) index.tf
      else index.tf.join(
        allowedIds.select(col(allowedIds.columns.head).as(index.idCol))
          .distinct(), Seq(index.idCol), "left_semi")
    rankedHits(tf, index.dl, dfq, index.nDocs, index.totTokens,
      index.idCol, qTerms, qIdCol, k, k1E3, bE3, minDf, maxHits,
      excludePairs)
  }

  /** Top-`k` docs per query by BM25, from scratch in one call (build the
    * corpus aggregates, score, discard) — the ad-hoc form; a serving stack
    * uses [[buildIndex]]/[[search]]. Returns (qIdCol, rn, idCol, score_e6,
    * n_terms) — rn is 1-based rank by (score desc, doc id asc), n_terms the
    * number of query terms the doc matched. Queries with no matching doc
    * emit nothing. */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, qIdCol: String, qTextCol: String,
           k: Int, k1E3: Long = 1200L, bE3: Long = 750L,
           minDf: Long = 1L, maxHits: Long = 0L): DataFrame = {
    require(k >= 1 && k1E3 >= 0 && bE3 >= 0 && bE3 <= 1000,
      s"need k >= 1, k1E3 >= 0, bE3 in [0,1000], got $k/$k1E3/$bE3")
    val tf = Dedup.ensureParallel(docs)
      .select(col(idCol), explode(TextFns.words(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    // Σdl == Σtf — fold the total straight off the pinned postings (r18):
    // the old dl.agg re-ran dl's doc-keyed shuffle just to sum it, and the
    // scoring plan then evaluated dl AGAIN for the length norm; now the
    // postings-sized groupBy(id) runs exactly once, inside the scoring plan.
    // The two scalar actions are INDEPENDENT (the doc count never needs the
    // postings), so they submit concurrently (guide §2.6) — the metadata
    // count back-fills the tokenize+aggregate job instead of preceding it
    // as a separate driver round trip.
    val Seq(nDocs, totTokens) = graft.Concurrent.all(docs.sparkSession)(
      () => docs.count(),
      () => tf.agg(coalesce(sum(col("tf")), lit(0L))).first().getLong(0))
    // same double-reference single evaluation as [[search]]'s qTerms
    // (r17 opt, r18 leak-free form)
    val qTerms = Dedup.localizeIfHeavy(queries.select(col(qIdCol),
      explode(array_distinct(TextFns.words(col(qTextCol)))).as("token")),
      queries)
    val qTok = qTerms.select(col("token")).distinct()
    // df over the full corpus, but only for the query's terms: the broadcast
    // semi-restriction keeps the aggregate's OUTPUT query-sized (the shuffle
    // input is the tf frame either way — that aggregate is the index build).
    // Pinned only when the maxHits estimator will reference it a second
    // time (r18): with the budget off, dfq feeds exactly one consumer and
    // the persist was a pure extra materialization job + codegen break.
    val dfq0 = tf.join(broadcast(qTok), "token")
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val dfq = if (maxHits > 0L)
      dfq0.persist(StorageLevel.MEMORY_AND_DISK) // query-vocabulary-sized
    else dfq0
    rankedHits(tf, dl, dfq, nDocs, totTokens, idCol, qTerms, qIdCol,
      k, k1E3, bE3, minDf, maxHits)
  }

  /** The shared scoring tail: `dfq` is the query-term-restricted df frame
    * (pre-minDf); everything downstream — the hit-volume budget, idf, the
    * length norm, the per-term quantized score, the per-query heap top-k —
    * is identical between the ad-hoc and the indexed route (that identity
    * IS q140's oracle). */
  private def rankedHits(tf: DataFrame, dl: DataFrame, dfq: DataFrame,
                         nDocs: Long, totTokens: Long, idCol: String,
                         qTerms: DataFrame, qIdCol: String, k: Int,
                         k1E3: Long, bE3: Long, minDf: Long,
                         maxHits: Long,
                         excludePairs: DataFrame = null): DataFrame = {
    require(totTokens > 0L, "BM25 over an empty corpus")
    val avgdlE3 = 1000L * totTokens / nDocs
    val dfg = dfq.filter(col("df") >= minDf)
    val idf = dfg.select(col("token"),
      round(log((lit(nDocs.toDouble) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) + lit(1.0)) * 1e6).cast("long").as("idf_e6"))
    // hit-volume budget (the pair-budget discipline applied to retrieval):
    // the scoring join emits EXACTLY Σ_{(q,t∈q)} df(t) rows — a corpus
    // whose query terms are stopword-frequent (every term in most docs)
    // goes output-quadratic by construction. One query-sized agg prices it
    // before the join materializes; refuse loudly, never ENOSPC.
    if (maxHits > 0L) {
      val est = qTerms.join(broadcast(dfg), "token")
        .agg(coalesce(sum(col("df")), lit(0L))).first().getLong(0)
      require(est <= maxHits,
        s"bm25TopK: the per-term document frequencies bound the scoring " +
          s"join at $est hit rows, over the maxHits budget of $maxHits — " +
          s"refusing before any join work. Raise maxHits, raise minDf " +
          s"(stopword-frequent query terms carry ~zero idf but pay full " +
          s"scan cost), or batch the query set.")
    }
    val normed = dl.select(col(idCol),
      (lit((1000L - bE3) * 1000L) +
        Quantiles.div(lit(bE3 * 1000000L) * col("dl"), lit(avgdlE3)))
        .as("norm_e6"))
    // r18 reorder (guide §3.3 "join first on the un-exploded key, explode
    // after"): the doc-keyed length-norm join now runs on the POSTINGS
    // frame (|tf| rows) instead of the exploded hit frame (Σ df(q-terms)
    // rows — 2.4M vs 116k at sf0.1, and stopword-frequent query sets make
    // the gap arbitrary), and the hit explosion happens in ONE combined
    // broadcast probe (qTerms⋈idf, query-term-sized) that feeds the partial
    // score aggregate inside the same stage. On the bucketed index the
    // tf⋈dl join stays exchange-free (both sides bucket on the id) — the
    // first shuffle any row sees is still the hit-sized score aggregate,
    // now fed map-side. Value-identical: inner-join reassociation only.
    val qidf = qTerms.join(broadcast(idf), "token")
      .select(col(qIdCol), col("token"), col("idf_e6"))
    val hits = tf.join(normed, idCol)
      .join(broadcast(qidf), "token")
      .select(col(qIdCol), col(idCol),
        Quantiles.div(col("idf_e6") * col("tf") * lit(k1E3 + 1000L),
          lit(1000L) * col("tf") +
            Quantiles.div(lit(k1E3) * col("norm_e6"), lit(1000000L)))
          .as("term_e6"))
    val scores0 = hits.groupBy(col(qIdCol), col(idCol))
      .agg(sum(col("term_e6")).as("score_e6"), count(lit(1)).as("n_terms"))
    val scores =
      if (excludePairs == null) scores0
      else scores0.join(broadcast(excludePairs
          .select(col(excludePairs.columns.head).as(qIdCol),
            col(excludePairs.columns(1)).as(idCol)).distinct()),
        Seq(qIdCol, idCol), "left_anti")
    graft.ops.TopK.topKPerGroup(scores, Seq(qIdCol), col("score_e6"),
      col(idCol), Seq(col(idCol), col("score_e6"), col("n_terms")), k)
      .select(col(qIdCol), col("rn"), col(idCol), col("score_e6"),
        col("n_terms"))
  }
}
