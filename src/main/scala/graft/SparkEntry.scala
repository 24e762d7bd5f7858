package graft

import graft.functions.{TextFns, VectorFns}
import graft.operators.{Bpe, Contamination, DataMix, Dedup, GopherRules, Multimodal, NgramLm, Similarity, TfIdf}
import graft.ops.{GeoOps, TimeSeriesOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — SURVEY.md §7 + the builder prompt.
  *
  * Every SURVEY.md §2 operator claimed done has a `queries` entry exercising it on
  * the driver-provided TPC-H-ish tables AND (where SQL-expressible) a DuckDB oracle
  * in `oracleSql` that must hash-match.
  *
  * Cross-engine determinism conventions (Spark vs DuckDB must agree bit-for-bit):
  *  - Double SUMs are computed over scaled integers (`round(x*100)::long`) — integer
  *    addition is associative, so results are independent of partitioning and
  *    aggregation order, which plain float sums are not. Final division back to a
  *    double is a single IEEE op, identical in both engines. This is also the right
  *    cluster-scale design: deterministic aggregates make runs reproducible at 1000
  *    executors.
  *  - Timestamps are kept/returned as TIMESTAMP_NTZ (the tables are naive wall-clock,
  *    like the reference's Asia/Colombo-naive times) or formatted strings.
  *    `events.ts` has shipped as both parquet TIMESTAMP(NANOS) and timestamp[us];
  *    the loader normalizes either to a canonical nanos-epoch long via
  *    [[graft.io.EventsTs]], matching DuckDB's `CAST(ts AS TIMESTAMP)`.
  *  - Every query ends in a deterministic total ORDER BY.
  *  - Every arithmetic oracle output column carries an explicit BIGINT cast:
  *    DuckDB promotes windowed/grouped SUM(BIGINT) and `//` to HUGEINT, and the
  *    driver's hasher canonicalizes types, not just values — an uncast column
  *    hash-fails even when every value matches (r16: q149/q152). New oracles are
  *    swept by `DESCRIBE` in tools/oracle_types.py — zero HUGEINT columns allowed.
  */
object SparkEntry {

  // ---------- helpers ----------

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // nanosAsLong: harmless for timestamp[us] data, required if the testdata
    // generation flips back to TIMESTAMP(NANOS). UTC pin: the driver may hand us
    // a bare session, and downstream timestamp/format functions must agree with
    // the DuckDB oracle's naive reading on any host zone.
    graft.io.EventsTs.prepareSession(s)
    val df = s.read.parquet(s"$dir/$name.parquet")
    // ts normalization is an events-table contract; other tables with a column
    // that happens to be named `ts` must pass through untouched.
    if (name == "events") graft.io.EventsTs.toNanosLong(df) else df
  }

  /** Exact integer cents: round(x*100) as long; each term exact, sums associative. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Scaled integer with arbitrary scale (e.g. 1e4 for price*(1-disc)). */
  private def scaled(c: Column, s: Double): Column = round(c * s).cast("long")

  /** Exact long -> double currency. */
  private def money(c: Column, s: Double = 100.0): Column = c.cast("double") / s

  /** events.ts (normalized nanos long — see EventsTs) -> epoch micros
    * (matches DuckDB CAST(ts AS TIMESTAMP)). */
  private val tsUs: Column = expr("ts div 1000")

  /** events.ts nanos long -> TIMESTAMP_NTZ at micro precision. */
  private val tsNtz: Column = timestamp_micros(tsUs).cast("timestamp_ntz")

  /** Right-closed right-labeled bucket on epoch micros (integer arithmetic). */
  private def ceilUs(us: Column, stepUs: Long): Column =
    us + pmod(-us, lit(stepUs))

  // ---------- flagship ----------

  /** Flagship: the rainfall-input pipeline shape (SURVEY.md §3.1) on the events
    * table — cleanse -> right-closed resample -> spine align -> row-mean impute ->
    * weighted catchment fold -> pivot wide. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    qMikePipeline(spark, "/root/testdata/sf0.001")

  // ---------- queries ----------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_agg" -> qPricingAgg,
    "q02_filter_project" -> qFilterProject,
    "q03_broadcast_join" -> qBroadcastJoin,
    "q04_multiway_join" -> qMultiwayJoin,
    "q05_anti_join" -> qAntiJoin,
    "q06_topk_orders" -> qTopkOrders,
    "q07_topk_per_group" -> qTopkPerGroup,
    "q08_running_sum" -> qRunningSum,
    "q09_pivot_wide" -> qPivotWide,
    "q10_unpivot_long" -> qUnpivotLong,
    "q11_time_spine_align" -> qTimeSpineAlign,
    "q12_resample_right_closed" -> qResampleRightClosed,
    "q13_cleanse_impute" -> qCleanseImpute,
    "q14_knn_spatial" -> qKnnSpatial,
    "q15_series_id" -> qSeriesId,
    "q16_string_ops" -> qStringOps,
    "q17_time_funcs" -> qTimeFuncs,
    "q18_last_row_patch" -> qLastRowPatch,
    "q19_neighbor_coalesce" -> qNeighborCoalesce,
    "q20_union_distinct" -> qUnionDistinct,
    "q21_weighted_fold" -> qWeightedFold,
    "q22_dedup_exact" -> qDedupExact,
    "q23_dedup_ngram_jaccard" -> qDedupNgram,
    "q24_dedup_minhash_lsh" -> qDedupMinhash,
    "q25_dedup_simhash" -> qDedupSimhash,
    "q26_ann_cosine_topk" -> qAnnCosine,
    "q27_text_quality" -> qTextQuality,
    "q28_lang_id" -> qLangId,
    "q29_token_count" -> qTokenCount,
    "q30_fingerprint" -> qFingerprint,
    "q31_embedding_dedup" -> qEmbeddingDedup,
    "q32_sessionize" -> qSessionize,
    "q33_mike_pipeline" -> ((s: SparkSession, d: String) => qMikePipeline(s, d)),
    "q34_scan_stats" -> qScanStats,
    "q35_asof_prior" -> qAsofPrior,
    "q36_rollup" -> qRollup,
    "q37_scalar_subquery" -> qScalarSubquery,
    "q38_set_ops" -> qSetOps,
    "q39_json_extract" -> qJsonExtract,
    "q40_date_parts" -> qDateParts,
    "q41_try_cast" -> qTryCast,
    "q42_curation_pipeline" -> qCuration,
    "q43_ann_ivf_topk" -> qAnnIvf,
    "q44_rolling_window" -> qRollingWindow,
    "q45_median_argmax" -> qMedianArgmax,
    "q46_embedding_dedup_lsh" -> qEmbeddingDedupLsh,
    "q47_contamination" -> qContamination,
    "q48_repetition_quality" -> qRepetition,
    "q49_dedup_clusters" -> qDedupClusters,
    "q50_data_mixture" -> qDataMixture,
    "q51_pii_redact" -> qPiiRedact,
    "q52_sequence_packing" -> qSequencePacking,
    "q53_doc_chunking" -> qDocChunking,
    "q54_range_join" -> qRangeJoin,
    "q55_dedup_corpus" -> qDedupCorpus,
    "q56_embedding_dedup_corpus" -> qEmbeddingDedupCorpus,
    "q57_lsh_containment" -> qLshContainment,
    "q58_ivf_full_probe" -> qIvfFullProbe,
    "q59_simhash_containment" -> qSimhashContainment,
    "q60_embedding_dedup_lsh_corpus" -> qEmbeddingDedupLshCorpus,
    "q61_split_assign" -> qSplitAssign,
    "q62_incremental_dedup" -> qIncrementalDedup,
    "q63_topk_heap" -> qTopkHeap,
    "q64_kmeans_assign" -> qKmeansAssign,
    "q65_doc_frequency" -> qDocFrequency,
    "q66_source_quantiles" -> qSourceQuantiles,
    "q67_tfidf_keywords" -> qTfIdfKeywords,
    "q68_incremental_embedding" -> qIncrementalEmbedding,
    "q69_shared_windows" -> qSharedWindows,
    "q70_pq_assign" -> qPqAssign,
    "q71_pq_search" -> qPqSearch,
    "q72_ivfpq_full_probe" -> qIvfPqFullProbe,
    "q73_sample_stratified" -> qSampleStratified,
    "q74_sample_budget" -> qSampleBudget,
    "q75_simhash_corpus" -> qSimhashCorpus,
    "q76_quality_survivors" -> qQualitySurvivors,
    "q77_ivfpq_partial_probe" -> qIvfPqPartialProbe,
    "q78_incremental_components" -> qIncrementalComponents,
    "q79_semantic_dedup" -> qSemanticDedup,
    "q80_line_dedup" -> qLineDedup,
    "q81_shard_export" -> qShardExport,
    "q82_vocab_oov" -> qVocabOov,
    "q83_lm_perplexity" -> qLmPerplexity,
    "q84_domain_llr" -> qDomainLlr,
    "q85_classifier_margin" -> qClassifierMargin,
    "q86_forget_components" -> qForgetComponents,
    "q87_temperature_mixture" -> qTemperatureMixture,
    "q88_bpe_tokens" -> qBpeTokens,
    "q89_perplexity_buckets" -> qPerplexityBuckets,
    "q90_gopher_rules" -> qGopherRules,
    "q91_dsir_resample" -> qDsirResample,
    "q92_line_scrub" -> qLineScrub,
    "q93_hll_registers" -> qHllRegisters,
    "q94_bloom_prefilter" -> qBloomPrefilter,
    "q95_window_scrub" -> qWindowScrub,
    "q96_hll_estimate" -> qHllEstimate,
    "q97_bloom_contamination" -> qBloomContamination,
    "q98_ngram_repetition" -> qNgramRepetition,
    "q99_bench_scrub" -> qBenchScrub,
    "q100_cms_hitters" -> qCmsHitters,
    "q101_line_freq_cap" -> qLineFreqCap,
    "q102_text_normalize" -> qTextNormalize,
    "q103_char_entropy" -> qCharEntropy,
    "q104_window_novelty" -> qWindowNovelty,
    "q105_embedding_outliers" -> qEmbeddingOutliers,
    "q106_source_kl" -> qSourceKl,
    "q107_collocations" -> qCollocations,
    "q108_corpus_report" -> qCorpusReport,
    "q109_chunk_overlap" -> qChunkOverlap,
    "q110_fuzzy_contamination" -> qFuzzyContamination,
    "q111_corpus_report_full" -> qCorpusReportFull,
    "q112_media_band_pairs" -> qMediaBandPairs,
    "q113_media_admission_matches" -> qMediaAdmissionMatches,
    "q114_video_shared_frames" -> qVideoSharedFrames,
    "q115_media_dhash64" -> qMediaDhash,
    "q116_media_near_dup_e2e" -> qMediaNearDupE2e,
    "q117_media_admission_e2e" -> qMediaAdmitE2e,
    "q118_video_admission_sigs" -> qVideoAdmissionSigs,
    "q119_video_dhash_frames" -> qVideoDhashFrames,
    "q120_video_near_dup_e2e" -> qVideoNearDupE2e,
    "q121_audio_afp64" -> qAudioAfp64,
    "q122_warc_ingest" -> qWarcIngest,
    "q123_wet_docs" -> qWetDocs,
    "q124_flood_dedup_df_route" -> qFloodDedupDfRoute,
    "q125_http_response_docs" -> qHttpResponseDocs,
    "q126_html_to_text" -> qHtmlToText,
    "q127_media_store_ticks" -> qMediaStoreTicks,
    "q128_html_main_text" -> qHtmlMainText,
    "q129_url_normalize" -> qUrlNormalize,
    "q130_banned_word_gate" -> qBannedWordGate,
    "q131_lang_id_margins" -> qLangIdMargins,
    "q132_per_lang_perplexity" -> qPerLangPerplexity,
    "q133_justext_main_text" -> qJustextMainText,
    "q134_bm25_topk" -> qBm25TopK,
    "q135_link_graph_rank" -> qLinkGraphRank,
    "q136_anchor_texts" -> qAnchorTexts,
    "q137_robots_gate" -> qRobotsGate,
    "q138_link_components" -> qLinkComponents,
    "q139_hybrid_rrf" -> qHybridRrf,
    "q140_bm25_indexed" -> qBm25Indexed,
    "q141_hybrid_served" -> qHybridServed,
    "q142_crawl_frontier" -> qFrontier,
    "q143_sitemap_parse" -> qSitemapParse,
    "q144_hard_negatives" -> qHardNegatives,
    "q145_split_by_component" -> qSplitByComponent,
    "q146_quality_survivors_by" -> qSurvivorsBy,
    "q147_ivfpq_forget_serve" -> qIvfPqForgetServe,
    "q148_bpe_chunking" -> qBpeChunking,
    "q149_bpe_packing" -> qBpePacking,
    "q150_training_pairs" -> qTrainingPairs,
    "q151_token_ids" -> qTokenIds,
    "q152_packed_layout" -> qPackedLayout,
    "q153_packed_chunks" -> qPackedChunks,
    "q154_retrieval_eval" -> qRetrievalEval,
    "q155_byte_bpe" -> qByteBpe,
    "q156_container_census" -> qContainerCensus,
    "q157_epoch_plan" -> qEpochPlan,
    "q158_shard_manifest" -> qShardManifest,
    "q159_epoch_materialize" -> qExecuteEpochPlan,
    "q160_packed_examples" -> qExamples)

  /** A1-family hash aggregate (TPC-H Q1 shape): partial+final agg, no skew. */
  private def qPricingAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp_ntz"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        money(sum(cents(col("l_extendedprice")))).as("sum_base"),
        money(sum(scaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 1e4)), 1e4)
          .as("sum_disc_price"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** P1/P2/P7/P8: projection + predicate filter + cast + rounding; filters and the
    * two-column projection reach the parquet scan (PushedFilters / ReadSchema). */
  private def qFilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000)
      .select(col("o_orderkey"),
        money(cents(col("o_totalprice"))).as("total_2dp"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy(col("o_orderkey"))

  /** J3: broadcast hash join of the fact against a small dim. */
  private def qBroadcastJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        money(sum(scaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 1e4)), 1e4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))

  /** Multi-way join chain (dims broadcast, fact streams). The per-line revenue
    * aggregation is pushed BELOW the fact-fact join (partial-aggregation
    * pushdown Catalyst does not perform): lineitem collapses to one exact
    * integer partial per order first, so the orderkey shuffle carries order
    * partials, not every line item — at 100 TB that is the join's dominant
    * cost scaled down by the avg lines-per-order factor. The final group-by
    * re-aggregates the partials after the (join-key-determined) dims attach. */
  private def qMultiwayJoin(s: SparkSession, dir: String): DataFrame = {
    val perOrder = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(scaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 1e4))
        .as("rev_scaled"),
        count(lit(1)).as("n_lines"))
    perOrder
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(money(sum(col("rev_scaled")), 1e4).as("revenue"),
        sum(col("n_lines")).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** J4-implicit anti-join branch ("station not in dim"): customers with no
    * high-value order. */
  private def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** O1: global top-k -> TakeOrderedAndProject (no full sort at scale). */
  private def qTopkOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"),
        money(cents(col("o_totalprice"))).as("total_2dp"))

  /** W1: top-k per group via ranking window (deterministic tie-breaks). */
  private def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
    t(s, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("l_orderkey"), col("l_linenumber"),
        money(cents(col("l_extendedprice"))).as("price_2dp"), col("rn"))
      .orderBy(col("l_orderkey"), col("rn"))
  }

  /** K-means (Lloyd) assignment step over quantized embeddings — the trained
    * quantizer behind `buildIvfIndex(refineIters > 0)`: Knuth-hash seed pick
    * (SQL-reproducible), broadcast packed-centroid in-row argmax assignment,
    * native `VectorSumAgg` per-cell integer component sums (no posexplode of
    * the corpus by its dimensionality). The L1 of the exact integer sums is a
    * single BIGINT that moves if any component of any assignment moves. */
  private def qKmeansAssign(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssignReport(t(s, dir, "embeddings"), nCentroids = 16)
      .orderBy(col("cell"))

  /** Product-quantization assignment report (q64's PQ sibling): seed
    * codebooks (Knuth-hash pick, iters = 0 — the SQL-reproducible
    * configuration), encode every vector into m = 4 subspace codes via the
    * exact-integer L2 argmin, then per (subspace, code) emit the member count
    * and the exact id checksum. The oracle re-derives quantization, subspace
    * slicing, seeding, and the (d2, centroid_id) argmin order bit-for-bit —
    * pinning the encoding path `pqSearch` serves from. */
  private def qPqAssign(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val books = Similarity.pqTrain(emb, m = 4, ksub = 16, iters = 0)
    Similarity.pqEncode(emb, books, m = 4)
      .select(col("neighbor_id").as("vec_id"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("id_sum"))
      .orderBy(col("subspace"), col("code"))
  }

  /** PQ ADC search (q70's serving half): train seed codebooks (iters = 0, the
    * SQL-reproducible configuration), encode the corpus to m = 4 subspace
    * codes, then serve a 10-query batch from the CODES ALONE — each query
    * builds per-subspace dot-product lookup tables against the codebooks
    * (ksub·m integer dots, corpus-size-independent) and every encoded vector
    * is scored by m table lookups. The oracle re-derives quantization,
    * seeding, encoding, the per-query tables, AND the asymmetric cosine
    * (exact integer numerator / qn·√Σcentn2) bit-for-bit, then ranks with the
    * same (rounded cosine desc, neighbor_id asc) total order as q26. */
  private def qPqSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val books = Similarity.pqTrain(emb, m = 4, ksub = 16, iters = 0)
    val encoded = Similarity.pqEncode(emb, books, m = 4)
    Similarity.pqSearch(books, encoded, emb.filter(col("vec_id") < 10),
        k = 5, m = 4)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine_6dp"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The composed IVF+PQ serving index at FULL probe: every coarse cell is
    * probed, so the result must be exactly `pqSearch` over the whole encoded
    * corpus (the coarse cells partition it) — which is exactly q71's oracle.
    * The q58 invariant composed: oracle-pins the cell routing, the
    * cells-carry-codes store, AND the ADC arithmetic in one row, while the
    * partial-probe recall behavior is spec-pinned (SimilaritySpec). */
  private def qIvfPqFullProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val idx = Similarity.buildIvfPqIndex(emb, nCentroids = 16, m = 4,
      ksub = 16, iters = 0)
    Similarity.ivfPqSearch(idx, emb.filter(col("vec_id") < 10), k = 5,
        nProbe = 16, m = 4)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine_6dp"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The serving path END TO END under a PARTIAL probe (nProbe = 1 of 16),
    * hash-green: coarse centroids come from the Knuth-ordered seed pick
    * (`kmeansCentroids(iters = 0)` — SQL-reproducible, unlike the default
    * build's engine-hash pick), so the oracle re-derives the ENTIRE route:
    * cell assignment (q64 machinery), each query's probed cell (the same
    * argmax), PQ books/codes and the asymmetric cosine (q71 machinery), and
    * the final (rounded cosine desc, id asc) ranking — no planted-margin
    * assumptions, exact at any scale factor. The index round-trips through
    * its persisted parquet form, so the row serves from cell-partitioned
    * files under dynamic partition pruning (plan-asserted in PlanAuditSpec). */
  private def qIvfPqPartialProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cents = Similarity.kmeansCentroids(emb, nCentroids = 16, iters = 0)
    val idx = Similarity.buildIvfPqIndexFrom(emb, cents, m = 4, ksub = 16,
      iters = 0)
    // under the session warehouse, like every persisted serving artifact —
    // a fixed /tmp path races concurrent sessions on one host
    val tmp = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      .getPath.stripSuffix("/") +
      s"/graft_q77_index_${new java.io.File(dir).getName.replace('.', '_')}"
    idx.save(tmp)
    // the saved tables are the artifact: free the in-memory build's pins
    Seq(idx.cells, idx.centroids, idx.books).foreach(Dedup.release)
    val loaded = Similarity.IvfPqIndex.load(s, tmp)
    Similarity.ivfPqSearch(loaded, emb.filter(col("vec_id") < 10), k = 5,
        nProbe = 1)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine_6dp"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q147: the dense FORGET tick under the oracle — `ivfPqRemove` drops a
    * doomed id set (vec_id ≡ 3 mod 11, the q86 right-to-be-forgotten
    * shape) from q77's persisted IVF+PQ index, the maintained artifact
    * round-trips storage, and serving it must equal the partial-probe
    * search with the doomed candidates gone: q77's SQL with one predicate
    * added to the candidate side (books/centroids/assignment all stay
    * derived from the FULL corpus — the frozen-quantizer contract). */
  private def qIvfPqForgetServe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cents = Similarity.kmeansCentroids(emb, nCentroids = 16, iters = 0)
    val idx = Similarity.buildIvfPqIndexFrom(emb, cents, m = 4, ksub = 16,
      iters = 0)
    val kept = Similarity.ivfPqRemove(idx,
      emb.filter(pmod(col("vec_id"), lit(11L)) === 3L).select(col("vec_id")))
    val tmp = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      .getPath.stripSuffix("/") +
      s"/graft_q147_index_${new java.io.File(dir).getName.replace('.', '_')}"
    kept.save(tmp)
    // the saved tables are the artifact: free the in-memory pins
    Seq(kept.cells, kept.centroids, kept.books).foreach(Dedup.release)
    val loaded = Similarity.IvfPqIndex.load(s, tmp)
    Similarity.ivfPqSearch(loaded, emb.filter(col("vec_id") < 10), k = 5,
        nProbe = 1)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine_6dp"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** SemDeDup (the embedding-dedup family's FOURTH composite): k-means cells
    * as the blocking function — within-cell exact-cosine pairs, transitive
    * cluster resolution, min-id survivors. Deterministic end to end at
    * `iters = 0` (Knuth-ordered seed centroids — q64/q77's machinery), so
    * the oracle re-derives the ENTIRE route: cell assignment, the within-cell
    * pair set, the recursive-CTE closure, and each survivor's cell. The
    * corpus injects q60's identical-vector duplicates (odd ids take their
    * even neighbor's vector): identical vectors co-cell with certainty, so
    * the cell-blocked route must reproduce exactly the corpus-wide answer —
    * while the emitted `cell` column pins the learned blocking itself. */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").filter(col("vec_id") < 2000)
    val corpus = emb.select(col("vec_id"),
        (col("vec_id") - pmod(col("vec_id"), lit(2L))).as("__pid"))
      .join(emb.select(col("vec_id").as("__pid"), col("embedding")), "__pid")
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.kmeansCentroids(corpus, nCentroids = 8, iters = 0)
    val out = Dedup.semanticDedup(corpus, "vec_id", "embedding", nCells = 8,
      threshold = 0.98, iters = 0, centroids = cents)
    Similarity.assignCells(out, cents, "embedding", "cell")
      .select(col("vec_id"), col("cell"))
      .orderBy(col("vec_id"))
  }

  /** Corpus-global line dedup (the C4/RefinedWeb repeated-line pass) over a
    * corpus with REAL cross-document line overlap: each synthetic doc is a
    * 3-line sliding window of neighbor texts separated by a short "##" line,
    * so every line recurs in the two following docs and must survive only at
    * its first (doc, idx) occurrence — doc 0 keeps everything, every later
    * doc keeps its separators (1 token < minTokens, never dedupable) plus
    * its one novel line. The oracle re-derives tokenization (q29's
    * convention), winner choice, survivorship, and line-order reassembly. */
  private def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = d
      .join(d.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
        Seq("doc_id"))
      .join(d.select((col("doc_id") - 2).as("doc_id"), col("text").as("__t3")),
        Seq("doc_id"))
      .select(col("doc_id"), concat_ws("\n",
        col("text"), lit("##"), col("__t2"), lit("##"), col("__t3")).as("text"))
    Dedup.lineDedup(corpus, "doc_id", "text").orderBy(col("doc_id"))
  }

  /** Line frequency CAP (`Dedup.lineFrequencyCap`, maxCopies = 2) over
    * q80's exact corpus: the overlapping doc-triples give every text line a
    * natural corpus frequency of up to 3, so the cap's keep-the-2-earliest
    * semantics diverge from hard dedup on every flooded line (and `##`
    * separator lines stay untouched — below the dedupable token floor). The
    * winner aggregate is a 2-bounded heap per line (map-combinable), never a
    * ranking window; the oracle is the definition: ROW_NUMBER ≤ 2 over
    * (doc, idx) per line. */
  private def qLineFreqCap(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = d
      .join(d.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
        Seq("doc_id"))
      .join(d.select((col("doc_id") - 2).as("doc_id"), col("text").as("__t3")),
        Seq("doc_id"))
      .select(col("doc_id"), concat_ws("\n",
        col("text"), lit("##"), col("__t2"), lit("##"), col("__t3")).as("text"))
    Dedup.lineFrequencyCap(corpus, "doc_id", "text", maxCopies = 2)
      .orderBy(col("doc_id"))
  }

  /** CCNet-style text normalization (`TextFns.normalizeText`, native
    * `StripAccentsExpr`): the canonical form dedup/fingerprint hashing runs
    * on — lowercase, accents stripped, digits→0, whitespace collapsed. The
    * ASCII corpus is planted with accented vowels (%3 slice via translate)
    * plus a digits-and-double-spaces suffix on every doc, so all four
    * normalization stages fire with real variance; the oracle replays the
    * plant and the full pipeline through DuckDB's `strip_accents` (same NFD
    * + drop-combining-marks mapping on Latin script). Four chained codegen'd
    * projections — zero shuffle at any scale. */
  private def qTextNormalize(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = t(s, dir, "documents").select(id,
      concat(
        when(id % 3 === 0, translate(col("text"), "aeiou", "áéíóú"))
          .otherwise(col("text")),
        lit(" rev "), id.cast("string"), lit("  build  "),
        (id * 31).cast("string")).as("text"))
    graft.operators.Dedup.ensureParallel(planted)
      .select(id, length(col("text")).cast("long").as("orig_len"),
        TextFns.normalizeText(col("text")).as("text"))
      .withColumn("norm_len", length(col("text")).cast("long"))
      .select(id, col("orig_len"), col("norm_len"), col("text"))
      .orderBy(id)
  }

  /** Character-entropy quality signal (native `CharEntropyExpr`): the
    * sub-word gibberish detector — Shannon entropy of the per-code-point
    * distribution as an exact e6 integer (per-count log terms rounded BEFORE
    * summing, so no float summation order exists and DuckDB replays the
    * identical longs). The %41 slice is planted with a one-character mash
    * (near-zero entropy) so the low-diversity flag fires with real variance
    * against the natural docs' ≈ln(alphabet) band. One compiled loop per
    * row, zero shuffle. */
  private def qCharEntropy(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = t(s, dir, "documents").select(id,
      when(id % 41 === 0, repeat(lit("aa "), 40))
        .otherwise(col("text")).as("text"))
    graft.operators.Dedup.ensureParallel(planted)
      .select(id, length(col("text")).cast("long").as("n_chars"),
        graft.functions.CharEntropyExpr(col("text")).as("entropy_e6"))
      .withColumn("low_diversity", col("entropy_e6") < 2000000L)
      .orderBy(id)
  }

  /** Deterministic training-export shuffle: every document's shard and its
    * EXACT 1-based position within the shard's permutation order, computed
    * via histogram offsets + bounded bucket windows (never a whole-shard
    * sort in one task). The oracle is the definition itself: a per-shard
    * ROW_NUMBER over (knuth hash, id). */
  private def qShardExport(s: SparkSession, dir: String): DataFrame =
    DataMix.shardPositions(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))

  /** Vocabulary induction + coverage: top-20 tokens by corpus occurrence
    * count (ties by token — SQL-total order; 20 of the generator's 31-token
    * space, so coverage is PARTIAL and every OOV count is load-bearing),
    * then every document's exact out-of-vocabulary occurrence rate in
    * scaled-integer form. */
  private def qVocabOov(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val vocab = TfIdf.vocabulary(d, "text", 20)
    TfIdf.oovRate(d, "doc_id", "text", vocab).orderBy(col("doc_id"))
  }

  /** CCNet-style LM quality scoring: train the add-one bigram LM ON the
    * corpus (two map-combinable count aggregates), then every document's
    * exact scaled-integer negative log-likelihood — the perplexity-filter
    * signal. Self-scoring means every bigram is in-model, so the oracle can
    * inner-join; the operator's unseen-bigram backoff gets its own row (q84)
    * and spec. */
  private def qLmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val lm = NgramLm.trainBigram(d, "text")
    NgramLm.scoreBigram(d, "doc_id", "text", lm).orderBy(col("doc_id"))
  }

  /** DSIR-style domain selection signal: an IN-DOMAIN bigram LM (trained on
    * the src0 slice only) against the full-corpus BASE LM; `llr_e6` ranks
    * every document by how much more in-domain than generic it looks. Docs
    * outside src0 hit genuinely unseen bigrams/contexts under the domain
    * model, so this row exercises the smoothed backoff end to end. */
  private def qDomainLlr(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val domainLm = NgramLm.trainBigram(d.filter(col("source") === "src0"), "text")
    val baseLm = NgramLm.trainBigram(d, "text")
    NgramLm.domainLlr(d, "doc_id", "text", domainLm, baseLm)
      .orderBy(col("doc_id"))
  }

  /** Linear-classifier margin scoring (the fastText-style quality gate):
    * every document's EXACT integer dot product of FNV-hashed bag-of-words
    * counts with a deterministic e3-integer weight vector — the serving half
    * of `Classifier` (training is spec-pinned bit-exact against a local
    * reference; float weights aren't oracle-hashable, integer margins are).
    * The oracle re-derives the FNV-1a bucketing byte-for-byte (q67's
    * machinery) and every margin. */
  private def qClassifierMargin(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val weights = s.range(dim).select(col("id").cast("int").as("bucket"),
      (pmod(col("id") * 2654435761L, lit(4294967296L)) % 2001L - 1000L)
        .as("w_e3"))
    graft.operators.Classifier.marginScore(
        t(s, dir, "documents"), "doc_id", "text", weights, dim)
      .orderBy(col("doc_id"))
  }

  /** Per-source corpus length statistics with EXACT rank-based quantiles
    * (lower median, p90) in histogram form: `groupBy(source, n_tokens)` counts
    * (map-combinable, histogram-sized shuffle), then rank selection by an
    * in-row fold over each source's sorted histogram. NO corpus-scale Window —
    * the previous form ranked with `row_number().over(partitionBy(source))`,
    * which shuffles every document of a source to one task; this plan's
    * largest single-task payload is a source's DISTINCT-length histogram.
    * Same integer-exact answers (rank semantics match row_number over
    * (n_tokens, doc_id) because ranks select by n_tokens value only). */
  private def qSourceQuantiles(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"),
        size(TextFns.words(col("text"))).cast("long").as("n_tokens"))
    graft.ops.Quantiles.strataStats(
      toks, Seq("source"), col("n_tokens"),
      ranks = Seq(
        "median_tokens" -> (n => graft.ops.Quantiles.div(n + lit(1L), lit(2L))),
        "p90_tokens" -> (n =>
          greatest(lit(1L), graft.ops.Quantiles.div(n * lit(9L), lit(10L))))),
      nName = "n_docs", sumName = "total_tokens")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("median_tokens"), col("p90_tokens"))
      .orderBy(col("source"))
  }

  /** Per-document top-k TF-IDF keywords (keyword extraction): exact integer
    * scores (tf · round(ln(n/df)·1e6)), heap-ranked per doc with the FNV-1a
    * token hash as tie-break — a total order BOTH engines can express, so the
    * heap aggregate's ranking is hash-verified end-to-end (the oracle
    * re-derives idf, score, and the FNV fold in plain SQL). */
  private def qTfIdfKeywords(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.topTfIdf(t(s, dir, "documents"),
      "doc_id", "text", k = 5, minDf = 2)
      .select(col("doc_id"), col("rn"), col("token"), col("score"))
      .orderBy(col("doc_id"), col("rn"))

  /** Corpus document frequency (vocabulary construction): docs-per-token over
    * in-row-distinct tokens — one map-combinable count; top-50 by
    * (df desc, token asc), a total order. */
  private def qDocFrequency(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.documentFrequency(t(s, dir, "documents"),
      "doc_id", "text")
      .orderBy(col("df").desc, col("token"))
      .limit(50)

  /** W1 at scale: the same top-3-per-order row set as q07, produced by the
    * bounded-heap `TopKAgg` hash aggregate instead of a ranking window — the
    * shuffle carries at most k rows per (group, mapper), not the corpus, and
    * no per-group sort exists in the plan. Shares q07's oracle verbatim. */
  private def qTopkHeap(s: SparkSession, dir: String): DataFrame =
    graft.ops.TopK.topKPerGroup(
      graft.operators.Dedup.ensureParallel(t(s, dir, "lineitem")),
      Seq("l_orderkey"),
      cents(col("l_extendedprice")), col("l_linenumber").cast("long"),
      Seq(col("l_linenumber")), k = 3)
      .select(col("l_orderkey"), col("l_linenumber"),
        money(col("__sort")).as("price_2dp"), col("rn"))
      .orderBy(col("l_orderkey"), col("rn"))

  /** Cumulative (running) sum per key — frame-spec window; integer cents so the
    * running total is exact under any execution order. */
  private def qRunningSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("running_cents", sum(cents(col("value"))).over(w))
      .select(col("event_id"), col("user_id"), col("running_cents"))
      .orderBy(col("event_id"))
  }

  /** R1: long -> wide pivot with an explicit key list (stable columns). */
  private def qPivotWide(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity")))
      .select(col("l_linestatus"),
        coalesce(col("A"), lit(0.0)).as("qty_a"),
        coalesce(col("N"), lit(0.0)).as("qty_n"),
        coalesce(col("R"), lit(0.0)).as("qty_r"))
      .orderBy(col("l_linestatus"))

  /** R2: wide -> long unpivot (single Expand, no shuffle). */
  private def qUnpivotLong(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.unpivotLong(
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_tax"), col("l_discount")),
      Seq("l_orderkey", "l_linenumber"), "metric", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))

  /** S7/J1/A5: generated dense time spine + left join of bucketed aggregates;
    * gap hours surface as zero rows. */
  private def qTimeSpineAlign(s: SparkSession, dir: String): DataFrame = {
    val spine = TimeSeriesOps.timeSpine(s,
      "2024-01-01 00:00:00", "2024-01-30 23:00:00", 60, "hour")
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", tsNtz).as("hour"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("c"))
    spine.join(agg, Seq("hour"), "left")
      .select(col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("c"), lit(0L)).as("value_cents"))
      .orderBy(col("hour"))
  }

  /** A1: right-closed, right-labeled 15-min resample (pandas label='right',
    * closed='right'), pure integer bucket arithmetic. */
  private def qResampleRightClosed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("bucket",
        timestamp_micros(ceilUs(tsUs, 900000000L)).cast("timestamp_ntz"))
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      .orderBy(col("bucket"), col("event_type"))

  /** P3/P4 + A2/W4: sentinel cleanse then group-mean imputation; the mean is
    * computed over pre-fill values only (reference order-sensitivity pinned). */
  private def qCleanseImpute(s: SparkSession, dir: String): DataFrame = {
    val hourCol = timestamp_micros(ceilUs(tsUs, 3600000000L)).cast("timestamp_ntz")
    val v = when(col("value") > 400 || col("value") < 0, lit(null))
      .otherwise(col("value"))
    val w = Window.partitionBy(col("event_type"), col("hour"))
    t(s, dir, "events")
      .withColumn("hour", hourCol)
      .withColumn("v", v)
      .withColumn("group_mean",
        sum(cents(col("v"))).over(w).cast("double") /
          (lit(100.0) * count(col("v")).over(w)))
      .select(col("event_id"),
        coalesce(col("v"), col("group_mean")).as("v_filled"),
        col("v").isNull.as("was_imputed"))
      .orderBy(col("event_id"))
  }

  /** J6/F6/W1/O1: spatial k-NN — broadcast θ-join + great-circle distance (pure
    * column expression, codegen) + ranking window with rounded-distance tie-break. */
  private def qKnnSpatial(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      (col("c_custkey") % 171).cast("double") - 85.0,
      ((col("c_custkey") * 7) % 341).cast("double") - 170.0)
      .toDF("id", "latitude", "longitude")
    val supp = t(s, dir, "supplier").filter(col("s_suppkey") <= 40)
      .select(col("s_suppkey"),
        (col("s_suppkey") % 171).cast("double") - 85.0,
        ((col("s_suppkey") * 13) % 341).cast("double") - 170.0)
      .toDF("id", "latitude", "longitude")
    GeoOps.knnJoin(cust, supp, k = 3, maxKm = 5000.0)
      .select(col("origin_id").as("c_custkey"),
        col("neighbor_id").as("s_suppkey"),
        round(col("dist_km"), 3).as("dist_km_3dp"), col("rank"))
      .orderBy(col("c_custkey"), col("rank"))
  }

  /** F7: deterministic 64-hex content-hash series ids (coordination-free at scale). */
  private def qSeriesId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), col("source")).distinct()
      .withColumn("tms_id",
        TimeSeriesOps.seriesId(lit("curw_fcst"), col("lang"), col("source")))
      .orderBy(col("lang"), col("source"))

  /** F4/F5: grid-id string surgery — concat_ws, split + part select, %.6f format. */
  private def qStringOps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("grid_id",
        concat_ws("_", lit("rf"), col("user_id"), col("event_type")))
      .select(col("event_id"), col("grid_id"),
        split(col("grid_id"), "_").getItem(1).cast("long").as("parsed_user"),
        format_string("%.6f", col("user_id").cast("double") / 7.0).as("coord_6dp"))
      .orderBy(col("event_id"))

  /** F1/F2/F3/P9: timestamp parse/format, +5:30 naive offset shift, component
    * extraction (the reference's hand-rolled Asia/Colombo arithmetic). */
  private def qTimeFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        date_format(timestamp_micros(tsUs + lit(19800000000L)),
          "yyyy-MM-dd HH:mm:ss").as("sl_time"),
        minute(tsNtz).as("min_of_hour"),
        (minute(tsNtz) % 15 === 0 && second(tsNtz) === 0).as("on_quarter"))
      .orderBy(col("event_id"))

  /** P6/W2: last-row boundary patch per series. */
  private def qLastRowPatch(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"),
        date_format(tsNtz, "yyyy-MM-dd HH:mm:ss").as("last_time"),
        when(col("value") > 300, lit(0.0)).otherwise(col("value")).as("patched_value"))
      .orderBy(col("user_id"))
  }

  /** W3: prioritized coalesce from prior readings (neighbor gap-fill cascade). */
  private def qNeighborCoalesce(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("v", when(col("value") < 50, lit(null)).otherwise(cents(col("value"))))
      .withColumn("filled_cents",
        coalesce(col("v"), lag(col("v"), 1).over(w), lag(col("v"), 2).over(w)))
      .select(col("event_id"), col("filled_cents"))
      .orderBy(col("event_id"))
  }

  /** O3/A4: union + distinct across heterogeneous key sets. */
  private def qUnionDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("event_type").as("k"))
      .union(t(s, dir, "orders").select(col("o_orderstatus").as("k")))
      .distinct()
      .orderBy(col("k"))

  /** A3/J2: weighted group fold — ONE broadcast join + ONE hash aggregate replaces
    * the reference's 114-catchment nested merge loop. */
  private def qWeightedFold(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(money(sum(col("l_quantity").cast("long") * cents(col("p_retailprice"))))
        .as("weighted_value"),
        count(lit(1)).as("n"))
      .orderBy(col("p_brand"))

  /** Exact dedup: hash-groupBy on normalized content, lowest-id survivor. */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("content_sha"))

  /** Near-dup by exact n-gram Jaccard inside language blocks. */
  private def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      t(s, dir, "documents").filter(col("doc_id") < 2000),
      "doc_id", "text", n = 3, threshold = 0.5, blockCols = Seq("lang"))
      .orderBy(col("id_a"), col("id_b"))

  /** MinHash + LSH banding near-dup. Oracle: `OracleHashSql.q24MinhashLsh`
    * re-derives the whole pipeline (xxhash64 shingles, splitmix permutation
    * minima, band-value matching, exact Jaccard verify) in INT128 SQL; the
    * q57 containment invariant pins it against the exact pair set besides. */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 32, threshold = 0.3)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup. Oracle: `OracleHashSql.q25Simhash` recomputes the
    * 64-bit signatures (xxhash64 token bits, occurrence-weighted sign sums)
    * and the exact Hamming-radius pair set in SQL — the pigeonhole banding
    * provably adds no constraint beyond the radius, so band internals need
    * no model; q59 pins banded == brute force in-engine besides. */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 12)
      .orderBy(col("id_a"), col("id_b"))

  /** Brute-force cosine top-k ANN baseline (quantized-integer dot products =>
    * deterministic across partitionings). */
  private def qAnnCosine(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine_6dp"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Text quality scoring: word stats + stopword ratio (exact integer ratios). */
  private def qTextQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .transform(d => graft.operators.Dedup.ensureParallel(d, costWeight = 16))
      .withColumn("q", TextFns.qualityStruct(col("text"),
        Seq("the", "a", "of", "and", "is")))
      .select(col("doc_id"), col("q.n_words").as("n_words"),
        col("q.mean_word_len").as("mean_word_len"),
        col("q.stop_ratio").as("stop_ratio"))
      .orderBy(col("doc_id"))

  /** Language-ID heuristic: marker-stopword scores, fixed-priority argmax.
    * One native `stop_counts` pass scores all 5 languages (the per-language
    * filter lambdas of the column form evaluate interpreted). */
  private def qLangId(s: SparkSession, dir: String): DataFrame = {
    val scores = TextFns.langScores(col("text"))
    val scoreCols = scores.map { case (code, sc) => sc.cast("long").as(s"s_$code") }
    t(s, dir, "documents")
      .transform(d => graft.operators.Dedup.ensureParallel(d, costWeight = 16))
      .select((col("doc_id") +: scoreCols :+
        TextFns.langIdFromScores(scores).as("pred_lang")): _*)
      .orderBy(col("doc_id"))
  }

  /** BPE-ish regex token counting, aggregated per source. */
  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy(col("source"))

  /** Bag-of-words sha fingerprint (order/repetition-insensitive content id). */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .transform(d => graft.operators.Dedup.ensureParallel(d, costWeight = 16))
      .select(col("doc_id"), TextFns.fingerprintSha(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Embedding near-dup pairs within label blocks (quantized cosine).
    * `lshPlanes = 0` pins the EXACT all-pairs-within-block route on purpose:
    * this query is the deterministic verify oracle of the cosine-dedup family
    * (and at threshold 0.3 — far below the near-dup regime — hyperplane LSH is
    * the wrong tool by design; see `Dedup.embeddingCosinePairs`). The default
    * scale path is exercised by q46/q56. */
  private def qEmbeddingDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.3, blockCols = Seq("label"), lshPlanes = 0)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_6dp"))
      .orderBy(col("id_a"), col("id_b"))

  /** Embedding near-dup at scale: banded hyperplane-LSH blocking + exact cosine
    * verify — the sub-quadratic path q31 documents. Oracle:
    * `OracleHashSql.q46EmbeddingDedupLsh` re-derives the plane weights
    * (xxhash64-of-int chain), integer plane dots, band buckets, and the exact
    * cosine verify in SQL; subset-of-exact + recall pinned by DedupSpec too.
    *
    * The synthetic corpus has no natural near-dups, so it is doubled with a
    * deterministic +0.02 perturbation of every vector (cosine vs the original
    * ~0.999) — the regime LSH is FOR: 12-plane buckets make random collisions
    * ~2^-12 per band (candidate checks ~1e5, not ~1e7), while true near-dups
    * agree on nearly every plane. A low-threshold variant of this query is the
    * wrong tool by design: at cosine 0.4 the per-plane agreement is ~0.63 and
    * no plane/band choice gives both recall and a sub-quadratic candidate set. */
  private def qEmbeddingDedupLsh(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
    val jittered = base.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), e => e + lit(0.02f)).as("embedding"))
    Dedup.embeddingCosinePairs(base.select(col("vec_id"), col("embedding"))
        .unionByName(jittered), "vec_id", "embedding",
      threshold = 0.98, blockCols = Nil, lshPlanes = 12, lshBands = 8)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_6dp"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Benchmark contamination: corpus docs sharing 5-gram shingles with a held-out
    * benchmark slice (doc_id % 97 == 0 plays the benchmark role). Broadcast the
    * distinct benchmark gram set; the corpus pass is map-side. */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val all = t(s, dir, "documents")
    Contamination.sharedNgrams(
      all.filter(col("doc_id") % 97 =!= 0),
      all.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 5)
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition quality signals: distinct-word and top-bigram
    * multiplicities as one narrow in-row projection (no explode, no per-doc
    * groupBy — the fold runs inside the scan stage at any corpus size). */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .transform(d => graft.operators.Dedup.ensureParallel(d, costWeight = 16))
      .withColumn("r", TextFns.repetitionStruct(col("text")))
      .select(col("doc_id"), col("r.n_words").as("n_words"),
        col("r.n_distinct_words").as("n_distinct_words"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.top_bigram_n").as("top_bigram_n"))
      .orderBy(col("doc_id"))

  /** Duplicate-cluster resolution: near-dup pairs (q23's exact Jaccard set) ->
    * connected components (unified entry) -> min-id cluster
    * labels, the "keep one survivor per cluster" step after pairwise dedup. */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardComponents(t(s, dir, "documents").filter(col("doc_id") < 2000),
        "doc_id", "text", n = 3, threshold = 0.5, blockCols = Seq("lang"))
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))

  /** Incremental cluster-label maintenance (`Dedup.admitIntoComponents`):
    * q49's clusters REBUILT as three admission ticks — corpus (doc_id <
    * 1000) gets a plain CC run, then two batches (1000–1499, 1500–1999)
    * each contribute intra-batch Jaccard pairs plus batch↔current-corpus
    * incremental matches, merged into the standing labels frame by
    * contracting new edges through it (CC runs only on the batch-sized
    * quotient graph; the labels frame is streamed through broadcast joins,
    * never shuffled — the daily-tick shape at 100 TB). The three-tick pair
    * sets partition ALL near-dup pairs of the slice, so the composed labels
    * must equal one full-corpus CC bit-for-bit: the oracle is exactly q49's
    * recursive-CTE closure over doc_id < 2000. */
  private def qIncrementalComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
    val corpus0 = docs.filter(col("doc_id") < 1000)
    val batch1 = docs.filter(col("doc_id") >= 1000 && col("doc_id") < 1500)
    val batch2 = docs.filter(col("doc_id") >= 1500)
    val labels0 = Dedup.jaccardComponents(corpus0, "doc_id", "text", n = 3,
      threshold = 0.5, blockCols = Seq("lang"))
    // each tick's labels are materialized before the next consumes them —
    // the persisted-lake read/write boundary a real daily tick has (the next
    // tick reads the labels frame three times: endpoint probe, contraction,
    // final relabel); the checkpoint cuts the result off from the first
    // tick's blocks, so they are freed here
    val tick1 = Dedup.admitBatchIntoComponents(labels0, corpus0, batch1,
      "doc_id", "text", n = 3, threshold = 0.5, blockCols = Seq("lang"))
    val labels1 = tick1.localCheckpoint(eager = true)
    Dedup.release(tick1)
    val labels2 = Dedup.admitBatchIntoComponents(labels1,
      corpus0.unionByName(batch1), batch2,
      "doc_id", "text", n = 3, threshold = 0.5, blockCols = Seq("lang"))
    labels2.select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** Deletion maintenance (the inverse tick of q78): build standing labels
    * over the doc slice, then forget every doc_id ≡ 3 (mod 7) — a spread
    * batch that hits cluster roots (min-ids re-root), bridges (clusters
    * split), and singletons (rows vanish) — re-running CC ONLY on the
    * affected clusters. The oracle is the ground truth the incremental path
    * must reproduce bit-for-bit: the q78 recursive-CTE closure computed over
    * the SURVIVING corpus only. */
  private def qForgetComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
    // feeds BOTH the standing-labels build and the forget pass's streamed
    // sub-edge extraction — persist or the shingle pipeline runs twice
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.5, blockCols = Seq("lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels0 = Dedup.components(pairs)
    val deleted = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id").as("id"))
    val kept = Dedup.forgetFromComponents(labels0, pairs, deleted)
    // both consumers ran CC eagerly; the result no longer reaches the pairs
    Dedup.release(pairs)
    kept.select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled mixture sampling (α = ½): per-source admission rates
    * derived from the countᵅ re-weighting formula, membership by the Knuth
    * hash — every arithmetic step cross-engine exact (integer counts/weights,
    * correctly-rounded sqrt, left-associated double division on < 2⁵³
    * operands), so the oracle re-derives rates AND membership bit-for-bit. */
  private def qTemperatureMixture(s: SparkSession, dir: String): DataFrame =
    DataMix.temperatureSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", target = 200L, alpha = 0.5)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Distributed BPE tokenizer induction end to end: learn 6 merge rules on
    * the corpus (Sennrich on the vocab-sized word table — the one corpus-
    * scale pass is the word count), then price every document in BPE tokens.
    * The oracle re-derives the ENTIRE training loop — all six pair-count
    * aggregates, argmaxes (tie-break pinned to count DESC, pair ASC), and
    * greedy merge applications (a `list_reduce` string fold, provably equal
    * to the engine's array fold) — plus the distinct-word pricing join. */
  private def qBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val merges = Bpe.learn(d, "text", 6)
    Bpe.tokenCount(d, "doc_id", "text", merges)
      .select(col("doc_id"), col("n_words"), col("n_tokens_bpe"))
      .orderBy(col("doc_id"))
  }

  /** The q88 oracle, unrolled mechanically per training round: p_r = pair
    * counts over round r-1's symbol strings, b_r = the pinned argmax, s_r =
    * the greedy merge fold (string accumulator; LEFT JOIN ON TRUE keeps
    * words intact if no pair remains). */
  private def bpeOracleSql(nMerges: Int): String = {
    val footer =
      s"""enc AS (
         |  SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS nt
         |  FROM s$nMerges)
         |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(e.nt) AS BIGINT) AS n_tokens_bpe
         |FROM toks t JOIN enc e USING (word)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
    bpeCtes(nMerges) + "\n" + footer
  }

  /** The shared BPE-training CTE chain (q88/q148/q149): `toks` (word
    * occurrences WITH in-doc position — zipped unnests), `s0` (vocab with
    * symbol strings), and `nMerges` unrolled training rounds ending in
    * `s<nMerges>` (each word's final symbol string). Callers append their
    * own footer CTEs/SELECT. */
  private def bpeCtes(nMerges: Int): String = {
    val header =
      """WITH toks AS (
        |  SELECT doc_id, unnest(ws) AS word,
        |    unnest(range(1, len(ws) + 1)) AS pos
        |  FROM (SELECT doc_id, list_filter(
        |          string_split_regex(lower(trim(text)), '\s+'),
        |          w -> len(w) > 0) AS ws
        |        FROM documents)),
        |s0 AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    array_to_string(list_transform(range(1, len(word) + 1),
        |      i -> word[i]), ' ') || ' </w>' AS s
        |  FROM toks GROUP BY word),""".stripMargin
    header + "\n" + bpeRounds(nMerges)
  }

  /** The concat-and-cut CTE chain SHARED by the q153 and q158 oracles:
    * from [[bpeCtes]]'s trained `s6` to `cut` — dense sorted-order vocab
    * ids, per-doc position-ordered id streams, the per-shard prior-sum
    * walk, and the span-split arithmetic against 256-token bin
    * boundaries. Ends at the `cut` relation (doc_id, source, chunk_idx,
    * tk, prior, bin_id, st, en); callers append their own final SELECT. */
  private def packedPiecesCtes: String =
    """enc AS (
      |  SELECT word, string_split(s, ' ') AS bpe FROM s6),
      |vocab AS (
      |  SELECT token,
      |    CAST(ROW_NUMBER() OVER (ORDER BY token) AS BIGINT) AS token_id
      |  FROM (SELECT DISTINCT unnest(bpe) AS token FROM enc)),
      |wtok AS (
      |  SELECT word, unnest(range(1, len(bpe) + 1)) AS p,
      |    unnest(bpe) AS token
      |  FROM enc),
      |wid AS (
      |  SELECT w.word, list(v.token_id ORDER BY w.p) AS ids
      |  FROM wtok w JOIN vocab v USING (token) GROUP BY w.word),
      |stream AS (
      |  SELECT t.doc_id, flatten(list(i.ids ORDER BY t.pos)) AS tk
      |  FROM toks t JOIN wid i ON t.word = i.word
      |  GROUP BY t.doc_id),
      |walkbase AS (
      |  SELECT d.doc_id, d.source,
      |    CAST(COALESCE(len(c.tk), 0) AS BIGINT) AS n, c.tk,
      |    CAST(COALESCE(SUM(len(c.tk)) OVER (PARTITION BY d.source
      |      ORDER BY d.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS prior
      |  FROM documents d LEFT JOIN stream c ON d.doc_id = c.doc_id),
      |spans AS (
      |  SELECT doc_id, source, n, tk, prior,
      |    CAST(prior // 256 AS BIGINT) AS first_bin,
      |    CAST(CASE WHEN n > 0 THEN (prior + n - 1) // 256
      |         ELSE prior // 256 END AS BIGINT) AS last_bin
      |  FROM walkbase),
      |pieces AS (
      |  SELECT doc_id, source, n, tk, prior, first_bin,
      |    unnest(range(0, last_bin - first_bin + 1)) AS chunk_idx
      |  FROM spans),
      |cut AS (
      |  SELECT doc_id, source, chunk_idx, tk, prior,
      |    first_bin + chunk_idx AS bin_id,
      |    greatest(prior, (first_bin + chunk_idx) * 256) AS st,
      |    least(prior + n, (first_bin + chunk_idx + 1) * 256) AS en
      |  FROM pieces)""".stripMargin

  /** The water-filling fold CTEs SHARED by the q157 and q159 oracles
    * (weights/caps/sort/recursive fold over a preceding
    * `counts(src, n_docs, avail)` CTE; constants: budget 15000, weights
    * src0×50/src1×10, 1.5-epoch cap) — extracted so the two oracles can
    * never drift apart on the fold arithmetic. Callers open with
    * `WITH RECURSIVE … counts AS (…),` and append their final SELECT
    * (q157) or further CTEs (q159). */
  private def epochFoldCtes: String =
    """wtd AS (
      |  SELECT src, n_docs, avail,
      |    CAST(CASE src WHEN 'src0' THEN 50 WHEN 'src1' THEN 10
      |      ELSE 1 END AS BIGINT) AS w,
      |    CAST(avail // 1000 * 1500
      |      + (avail % 1000) * 1500 // 1000 AS BIGINT) AS cap
      |  FROM counts),
      |ord AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (
      |    ORDER BY CAST(cap AS DOUBLE) / CAST(w AS DOUBLE), src)
      |    AS BIGINT) AS rn
      |  FROM wtd),
      |fold(rn, r, wr, src, alloc) AS (
      |  SELECT CAST(0 AS BIGINT), CAST(15000 AS BIGINT),
      |    CAST(SUM(w) AS BIGINT), CAST(NULL AS VARCHAR),
      |    CAST(0 AS BIGINT)
      |  FROM wtd
      |  UNION ALL
      |  SELECT o.rn,
      |    CAST(f.r - LEAST(o.cap, f.r // f.wr * o.w
      |      + (f.r % f.wr) * o.w // f.wr) AS BIGINT),
      |    CAST(f.wr - o.w AS BIGINT), o.src,
      |    CAST(LEAST(o.cap, f.r // f.wr * o.w
      |      + (f.r % f.wr) * o.w // f.wr) AS BIGINT)
      |  FROM fold f JOIN ord o ON o.rn = f.rn + 1)""".stripMargin

  /** [[bpeCtes]] with the BYTE-LEVEL s0: each distinct word renders as its
    * UTF-8 bytes through the GPT byte↔unicode alphabet (`bmap` — the SAME
    * 256 constants [[graft.operators.Bpe.byteAlphabet]] carries,
    * interpolated as VALUES rows), then the identical training rounds run
    * over the byte symbols. */
  private def byteBpeCtes(nMerges: Int): String = {
    val bmapRows = graft.operators.Bpe.byteAlphabet.zipWithIndex
      .map { case (ch, b) =>
        s"('${f"$b%02X"}', '${ch.replace("'", "''")}')"
      }.mkString(", ")
    val header =
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(ws) AS word,
         |    unnest(range(1, len(ws) + 1)) AS pos
         |  FROM (SELECT doc_id, list_filter(
         |          string_split_regex(lower(trim(text)), '\\s+'),
         |          w -> len(w) > 0) AS ws
         |        FROM documents)),
         |bmap AS (SELECT * FROM (VALUES $bmapRows) AS t(hx, ch)),
         |wb AS (
         |  SELECT word, unnest(range(1, len(hp) + 1)) AS p, unnest(hp) AS h
         |  FROM (SELECT word, regexp_extract_all(hex(encode(word)), '..') AS hp
         |        FROM (SELECT DISTINCT word FROM toks))),
         |ws0 AS (
         |  SELECT w.word,
         |    array_to_string(list(m.ch ORDER BY w.p), ' ') || ' </w>' AS s
         |  FROM wb w JOIN bmap m ON m.hx = w.h GROUP BY w.word),
         |s0 AS (
         |  SELECT c.word, c.cnt, ws0.s
         |  FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM toks GROUP BY word) c
         |  JOIN ws0 USING (word)),""".stripMargin
    header + "\n" + bpeRounds(nMerges)
  }

  /** The training rounds shared by the char- and byte-level CTE chains:
    * p_r pair counts, b_r pinned argmax, s_r greedy merge fold. */
  private def bpeRounds(nMerges: Int): String =
    (1 to nMerges).map { r =>
      s"""p$r AS (
         |  SELECT pr, CAST(SUM(cnt) AS BIGINT) AS c FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(sy)),
         |      i -> sy[i] || ' ' || sy[i + 1])) AS pr
         |    FROM (SELECT cnt, string_split(s, ' ') AS sy FROM s${r - 1}))
         |  GROUP BY pr),
         |b$r AS (
         |  SELECT string_split(pr, ' ')[1] AS ma, string_split(pr, ' ')[2] AS mb
         |  FROM p$r ORDER BY c DESC, pr LIMIT 1),
         |s$r AS (
         |  SELECT word, cnt,
         |    CASE WHEN ma IS NULL THEN s ELSE
         |      list_reduce(string_split(s, ' '), (acc, x) ->
         |        CASE WHEN (acc = ma OR right(acc, len(ma) + 1) = ' ' || ma)
         |              AND x = mb
         |          THEN CASE WHEN acc = ma THEN ma || mb
         |               ELSE left(acc, len(acc) - len(ma)) || ma || mb END
         |          ELSE acc || ' ' || x END)
         |    END AS s
         |  FROM s${r - 1} LEFT JOIN b$r ON TRUE),""".stripMargin
    }.mkString("\n")

  /** q148: BPE-budget chunking — q109's strided windows with boundaries in
    * REAL tokenizer units: the corpus trains 6 merge rules (q88's loop),
    * every document's ordered BPE stream reassembles through the
    * vocab-sized pricing join, and 16-token/stride-8 windows cut over the
    * SYMBOL stream. The oracle replays the whole route: the q88 training
    * CTEs, the position-ordered stream rebuild, and byte-equal chunk shas
    * over the identical slices. */
  private def qBpeChunking(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val merges = Bpe.learn(d, "text", 6)
    graft.operators.Packing.chunkBpe(d, "doc_id", "text", merges,
        chunkSize = 16, stride = 8)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** q149: BPE-budget sequence packing — q52's sharded bin walk with the
    * budget measured in BPE tokens (what a training batch actually pays;
    * a whitespace-word budget under-counts sub-word-heavy text). Same
    * per-shard exclusive-prefix window, same determinism; the oracle
    * re-derives token prices via q88's CTEs and the bin ids via the
    * identical windowed integer division. */
  private def qBpePacking(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val merges = Bpe.learn(d, "text", 6)
    graft.operators.Packing.packBinsBpe(d, "doc_id", "text", Seq("source"),
        tokenBudget = 256L, merges = merges)
      .select(col("doc_id"), col("source"), col("n_tokens_bpe"),
        col("bin_id"))
      .orderBy(col("doc_id"))
  }

  /** q151: INTEGER token-id encoding — the stream an LLM batch reader (and
    * an embedding matrix) actually indexes: the corpus trains 6 merge
    * rules (q88), the slice's realized vocabulary gets dense 1-based ids
    * in token sort order (`Bpe.vocab` — `ROW_NUMBER() OVER (ORDER BY
    * token)` exactly), and every document's position-ordered id stream
    * rebuilds through the same broadcast pricing join as q148. The oracle
    * replays training, vocabulary, ids, and the per-position walk. */
  private def qTokenIds(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val merges = Bpe.learn(d, "text", 6)
    graft.operators.Packing.encodeIdsBpe(d.filter(col("doc_id") < 300),
        "doc_id", "text", merges)
      .select(col("doc_id"),
        posexplode(col("token_ids")).as(Seq("pos", "token_id")))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** q152: the PACKED-EXAMPLE layout — q149's bins plus each doc's token
    * OFFSET within its bin: the (shard, bin, doc, offset) table a training
    * reader materializes batches from. The offset window is (shard, bin)-
    * scoped — budget-bounded partitions, never a corpus sort. */
  private def qPackedLayout(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val merges = Bpe.learn(d, "text", 6)
    graft.operators.Packing.packedLayout(d, "doc_id", "text", Seq("source"),
        tokenBudget = 256L, merges = merges)
      .select(col("doc_id"), col("source"), col("n_tokens_bpe"),
        col("bin_id"), col("offset_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q153: the TOKENIZED-EXPORT piece contract (r17 concat-and-cut) — each
    * shard's docs concatenate in id order into one virtual BPE-token
    * stream and the stream cuts at every 256-token bin boundary, so a doc
    * longer than the budget becomes budget-aligned PIECES (chunk_idx
    * 0, 1, …) instead of silently overflowing its bin (the r16 defect the
    * verdict flagged). Every (source, bin) holds exactly 256 tokens except
    * the shard's last; piece_sha pins each piece's exact token-id slice.
    * The oracle replays training (q88's CTEs), the id-stream rebuild
    * (q151's vocab walk at full corpus), and the span-split arithmetic. */
  private def qPackedChunks(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val merges = Bpe.learn(d, "text", 6)
    val (pieces, _) = graft.operators.Packing.tokenizedCorpus(
      d, "doc_id", "text", Seq("source"), tokenBudget = 256L, merges)
    pieces.select(col("doc_id"), col("source"), col("chunk_idx"),
        col("n_tokens_bpe"), col("bin_id"), col("offset_tokens"),
        when(col("n_tokens_bpe") > 0,
          sha2(array_join(transform(col("token_ids"),
            x => x.cast("string")), " "), 256)).as("piece_sha"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** q158: the SHARD MANIFEST over q153's packed pieces — per (shard, bin)
    * counts plus a content sha of the bin's whole token stream in offset
    * order ([[graft.operators.Packing.shardManifest]]): the checksum table
    * a training reader validates a shard against before spending GPU-hours
    * on it. The oracle replays q153's training + stream + span-split CTEs
    * and rolls the same groups up with an ordered string_agg — any slip in
    * the packing arithmetic OR the manifest fold turns the row red. */
  private def qShardManifest(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val merges = Bpe.learn(d, "text", 6)
    val (pieces, _) = graft.operators.Packing.tokenizedCorpus(
      d, "doc_id", "text", Seq("source"), tokenBudget = 256L, merges)
    graft.operators.Packing.shardManifest(pieces, "doc_id", Seq("source"))
      .orderBy(col("source"), col("bin_id"))
  }

  /** q160: MATERIALIZED training examples over q153's packed pieces —
    * [[graft.operators.Packing.examples]]: one row per (shard, bin) with
    * the gap-free token stream (hashed — the oracle re-derives the sha
    * from its exact id slices) and the doc-boundary metadata a loss mask
    * needs (piece offsets + source doc ids, in offset order). The
    * reader-side fold of the whole packing family, under the gate. */
  private def qExamples(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val merges = Bpe.learn(d, "text", 6)
    val (pieces, _) = graft.operators.Packing.tokenizedCorpus(
      d, "doc_id", "text", Seq("source"), tokenBudget = 256L, merges)
    graft.operators.Packing.examples(pieces, "doc_id", Seq("source"))
      .select(col("source"), col("bin_id"), col("n_tokens"),
        sha2(array_join(transform(col("token_ids"),
          x => x.cast("string")), " "), 256).as("stream_sha"),
        // r18 (r17 verdict #4): the boundary lists ship as deterministic
        // space-joined strings, not arrays — the driver's pandas-based hash
        // compare cannot factorize array cells (q160 was UNMEASURED in
        // r17's CORRECTNESS run: `TypeError: unhashable type`). Same values
        // in the same offset order, scalar-encoded; the oracle string_aggs
        // identically.
        array_join(transform(col("doc_offsets"), x => x.cast("string")), " ")
          .as("doc_offsets"),
        array_join(transform(col("doc_ids"), x => x.cast("string")), " ")
          .as("doc_ids"))
      .orderBy(col("source"), col("bin_id"))
  }

  /** q154: retrieval-quality evaluation — recall@10 / MRR@10 / nDCG@10 of
    * q134's BM25 hits against a deterministic gold set (each query doc,
    * plus its id-adjacent neighbors that exist in the corpus — exercises
    * multi-gold recall, misses, and rank spread). All metrics are exact
    * e6 integers (pre-quantized DCG discount table, floor division), so
    * the oracle re-derives every value: q134's BM25 CTEs + the same
    * constants. The QA gate a training-data user runs on a retrieval
    * product before trusting it. */
  private def qRetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(pmod(col("doc_id"), lit(37L)) === 0L)
      .select(col("doc_id").as("q_id"),
        array_join(slice(graft.functions.TextFns.words(col("text")), 1, 5),
          " ").as("q_text"))
    val hits = graft.operators.Bm25.topK(docs, "doc_id", "text",
      queries, "q_id", "q_text", k = 10)
    val gold = queries.select(col("q_id"),
        explode(array(lit(-1L), lit(0L), lit(1L))).as("__d"))
      .select(col("q_id"), (col("q_id") + col("__d")).as("doc_id"))
      .join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      // the semi-join leads with its key — restore evaluate's positional
      // (query id, doc id) contract
      .select(col("q_id"), col("doc_id"))
    graft.operators.Retrieval.evaluate(
        hits.select(col("q_id"), col("doc_id"), col("rn")), gold, k = 10)
      .orderBy(col("q_id"))
  }

  /** q155: BYTE-LEVEL BPE (the GPT-style alphabet option) — q88's full
    * training-loop replay with the initial alphabet swapped from corpus
    * characters to the CLOSED 256-symbol byte↔unicode table: every
    * word's UTF-8 bytes render through the same constants both engines
    * carry, 6 merge rounds re-derive in SQL (identical pair counts,
    * argmaxes, greedy folds — just over byte symbols), and the per-doc
    * token prices must match. No out-of-alphabet token can exist on any
    * UTF-8 input (spec-pinned on emoji/CJK/control bytes). */
  private def qByteBpe(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val merges = Bpe.learn(d, "text", 6, byteLevel = true)
    Bpe.tokenCount(d, "doc_id", "text", merges, byteLevel = true)
      .orderBy(col("doc_id"))
  }

  /** q156: the COMPRESSED-CONTAINER census — the perceptual-codec seam's
    * governable half made real (the r16 verdict's #5): a synthetic
    * MP4/Matroska lake (spec-true box / EBML layouts, every field a
    * closed-form function of doc_id — SyntheticMedia.mp4/mkv) walks
    * through the REAL [[graft.operators.Mp4Codec]]/[[graft.operators.MkvCodec]]
    * parsers, and the census (duration, codec ids, geometry, channel
    * layout, rate) must invert the builder exactly — the q115 discipline
    * at the container layer. The oracle re-derives every field from
    * doc_id in plain SQL; frame decode stays behind the documented stub
    * boundary. */
  private def qContainerCensus(s: SparkSession, dir: String): DataFrame = {
    val lake = graft.operators.SyntheticMedia.containerFrame(
      t(s, dir, "documents"), "doc_id")
    graft.operators.Multimodal.containerCensus(lake)
      .select(col("media_id"), col("container"), col("brand"),
        col("duration_ms"), col("video_codec"), col("width"), col("height"),
        col("audio_codec"), col("channels"), col("sample_rate"))
      .orderBy(col("media_id"))
  }

  /** q157: the TOKEN-BUDGET EPOCH PLAN — the "how many epochs of each
    * source" table a pretraining run is configured from: a 15k-token
    * budget splits across the 20 sources weight-proportionally
    * (src0 × 50, src1 × 10, rest × 1), each source capped at 1.5 epochs
    * of its available tokens, capped sources' unused share water-filling
    * to the rest ([[graft.operators.DataMix.epochPlan]] — one greedy fold
    * over the strata sorted by saturation point, exact integer arithmetic
    * throughout). At sf0.01 the two up-weighted sources saturate at
    * 1500 milli-epochs and the other 18 share the remainder; the oracle
    * replays the fold as a recursive CTE over the same sort order. */
  private def qEpochPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("n_tok", size(TextFns.words(col("text"))).cast("long"))
    graft.operators.DataMix.epochPlan(docs, "source", col("n_tok"), 15000L,
        Map("src0" -> 50L, "src1" -> 10L), maxEpochsE3 = 1500L)
      .orderBy(col("source"))
  }

  /** q159: MATERIALIZE q157's epoch plan — the (doc, epoch_idx) table a
    * training reader consumes ([[graft.operators.DataMix.executeEpochPlan]]):
    * saturated sources replicate whole (one row per full epoch), the
    * remainder tops up with the deterministic knuth-hash-order prefix
    * (q74's membership) as the fractional final epoch. At sf0.01 the two
    * up-weighted sources run 1 full epoch + a fractional prefix and the
    * other 18 are purely fractional; the oracle replays q157's fold CTE,
    * unnests the full epochs, and re-derives the prefix with the q74
    * running-sum window. */
  private def qExecuteEpochPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextFns.words(col("text"))).cast("long").as("n_tok"))
    val plan = graft.operators.DataMix.epochPlan(docs, "source",
      col("n_tok"), 15000L, Map("src0" -> 50L, "src1" -> 10L),
      maxEpochsE3 = 1500L)
    graft.operators.DataMix.executeEpochPlan(docs, "source", "doc_id",
        col("n_tok"), plan)
      .select(col("source"), col("doc_id"), col("n_tok"), col("epoch_idx"))
      .orderBy(col("source"), col("doc_id"), col("epoch_idx"))
  }

  /** CCNet perplexity bucketing: score every document under the self-trained
    * bigram LM (q83's exact machinery), then split the corpus into
    * head/middle/tail TERCILES by exact (avg_nll, doc_id) rank — via the
    * histogram-offset rank plan (`Quantiles.rankBuckets`), never a
    * corpus-scale ranking window. The oracle re-derives LM scores AND the
    * even-spread bucket rule from a plain ROW_NUMBER. */
  private def qPerplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val lm = NgramLm.trainBigram(d, "text")
    val scored = NgramLm.scoreBigram(d, "doc_id", "text", lm)
    graft.ops.Quantiles.rankBuckets(scored, "doc_id", col("avg_nll_e6"),
        nBuckets = 3, binStep = 10000L)
      .select(col("doc_id"), col("avg_nll_e6"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Gopher line-repetition rule battery (`GopherRules.battery`): the corpus
    * is re-lined into 8-word lines (`chunkIntoLines` — these texts carry no
    * newlines) and each document PLANTS `doc_id % 5` repeats of its own
    * first line — the self-repeating boilerplate pathology the rule family
    * exists to catch (no natural duplicate lines exist in this corpus; the
    * plant is deterministic, so the oracle re-derives it). Every stat is an
    * in-row fold and every flag an integer cross-multiplication: the whole
    * battery is one narrow projection in the scan stage. All four flags and
    * the keep verdict have real variance here (sf0.01: 250/365/262/119
    * firing, 73 kept of 500). */
  private def qGopherRules(s: SparkSession, dir: String): DataFrame = {
    val ls = split(GopherRules.chunkIntoLines(col("text"), 8), "\n")
    val planted = t(s, dir, "documents")
      .select(col("doc_id"), ls.as("__ls"))
      .filter(size(col("__ls")) > 0)
      .select(col("doc_id"), array_join(
        concat(col("__ls"), array_repeat(element_at(col("__ls"), 1),
          pmod(col("doc_id"), lit(5L)).cast("int"))), "\n").as("text"))
    GopherRules.battery(planted, "doc_id", "text").orderBy(col("doc_id"))
  }

  /** The remedy paired with q90's flags: `GopherRules.dropRepeatedLines`
    * scrubs every within-document line repeat (first occurrence stays in
    * place) over the SAME planted corpus, returning the cleaned text and the
    * removal count — pure in-row, the corpus is never shuffled. The oracle
    * re-derives the plant and the first-index survivorship walk. */
  private def qLineScrub(s: SparkSession, dir: String): DataFrame = {
    val ls = split(GopherRules.chunkIntoLines(col("text"), 8), "\n")
    val planted = t(s, dir, "documents")
      .select(col("doc_id"), ls.as("__ls"))
      .filter(size(col("__ls")) > 0)
      .select(col("doc_id"), array_join(
        concat(col("__ls"), array_repeat(element_at(col("__ls"), 1),
          pmod(col("doc_id"), lit(5L)).cast("int"))), "\n").as("text"))
    GopherRules.dropRepeatedLines(planted, "text")
      .select(col("doc_id"), col("text"), col("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** DSIR importance resampling (`DataMix.importanceResample`): q84's
    * domain-vs-base LLR weights drive a deterministic Gumbel-top-k draw of
    * 400 docs — sampling ∝ exp(llr), the paper's selection step, with the
    * Gumbel noise derived from each row's own Knuth hash so the oracle
    * reproduces every key exactly (ln at e6 rounding, the q83 convention).
    * Selection is TakeOrderedAndProject — per-partition heaps, never a
    * corpus sort. */
  private def qDsirResample(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val domainLm = NgramLm.trainBigram(d.filter(col("source") === "src0"), "text")
    val baseLm = NgramLm.trainBigram(d, "text")
    val scored = NgramLm.domainLlr(d, "doc_id", "text", domainLm, baseLm)
      .select(col("doc_id"), col("llr_e6"))
    DataMix.importanceResample(scored, "doc_id", "llr_e6", k = 400)
      .select(col("doc_id"), col("llr_e6"), col("gumbel_e6"), col("key_e6"))
      .orderBy(col("key_e6").desc, col("doc_id"))
  }

  /** Mergeable distinct-token cardinality sketch per source
    * (`Cardinality.hllRegisters`, p=8): the full register frame — exact
    * integer rows (FNV-1a top-8-bit bucket, leading-zero rank max), so the
    * APPROXIMATE sketch is EXACTLY oracle-checkable; the estimate it backs
    * is spec-tested against true distinct counts. The corpus pass shuffles
    * at most sources × 256 rows per mapper. */
  private def qHllRegisters(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .transform(d => graft.operators.Dedup.ensureParallel(d, costWeight = 16))
      .select(col("source"), explode(TextFns.words(col("text"))).as("token"))
    graft.operators.Cardinality.hllRegisters(toks, Seq("source"),
        col("token"), p = 8)
      .orderBy(col("source"), col("bucket"))
  }

  /** Count-Min frequency sketch + heavy-hitter probe (`CountMin.build`/
    * `estimate`): the frequency third of the sketch triad (q93 HLL counts
    * distincts, q94 Bloom answers membership). The corpus pass is ONE
    * map-combinable count aggregate into a constant-size (source × 3 × 2¹²)
    * counter frame; the bounded candidate set (distinct tokens of a fixed
    * doc slice) probes it through 3 broadcast joins, min over rows. The
    * APPROXIMATE sketch is EXACTLY oracle-checkable (every bucket is integer
    * arithmetic on the mixed FNV hash), and the output carries the exact
    * count beside the estimate — est_cnt ≥ exact_cnt on every row is the
    * never-undercount contract the frequency-cap composition rests on. */
  private def qCmsHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val docs = t(s, dir, "documents")
      .transform(d => graft.operators.Dedup.ensureParallel(d, costWeight = 16))
    def toks(df: DataFrame): DataFrame = df.select(col("source"),
      explode(TextFns.words(col("text"))).as("token"))
    val corpus = toks(docs)
    val sketch = CountMin.build(corpus, Seq("source"), col("token"),
      wLog2 = 12, d = 3)
    val cands = toks(docs.filter(col("doc_id") < 50)).distinct()
    // exact counts ONLY over the bounded candidate set — never a
    // vocabulary-sized exact count table
    val exact = corpus.join(broadcast(cands), Seq("source", "token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("exact_cnt"))
    CountMin.estimate(cands, col("token"), sketch, Seq("source"),
        wLog2 = 12, d = 3)
      .withColumnRenamed("est", "est_cnt")
      .join(exact, Seq("source", "token"))
      .select(col("source"), col("token"), col("est_cnt"), col("exact_cnt"))
      .orderBy(col("est_cnt").desc, col("source"), col("token"))
      .limit(100)
  }

  /** Bloom-filter contamination PRE-FILTER (`Bloom.build`/`probe`): the
    * benchmark 5-gram set becomes a 2¹⁶-bit word frame, and every corpus
    * gram is membership-tested through k=3 broadcast joins — the shape that
    * replaces q47's gram-set join when the corpus is 100 TB and the filter
    * must run map-side. Per-doc `bloom_hits ≥` the exact shared count by
    * construction (no false negatives — spec-pinned against q47); the
    * APPROXIMATE filter is EXACTLY oracle-checkable because every bit
    * position is integer arithmetic on the mixed FNV hash. */
  private def qBloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val all = t(s, dir, "documents")
      .transform(d => graft.operators.Dedup.ensureParallel(d, costWeight = 16))
    def grams(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(TextFns.stringShingles(col("text"), 5)).as("gram"))
    val bench = grams(all.filter(col("doc_id") % 97 === 0))
      .select("gram").distinct()
    val filter = graft.operators.Bloom.build(bench, Nil, col("gram"))
    graft.operators.Bloom.probe(
        grams(all.filter(col("doc_id") % 97 =!= 0)), col("gram"), filter, Nil)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("might_contain"), 1)).as("bloom_hits"))
      .orderBy(col("doc_id"))
  }

  /** The word n-gram half of the Gopher repetition battery
    * (`GopherRules.ngramBattery` / `NgramRepetitionExpr`): top-{2,3,4}-gram
    * character concentration (multiplicity × joined-gram length, ties to the
    * binary-smallest gram) and dup-{5..10}-gram character coverage (union
    * over word positions — overlapping duplicate windows count a word once),
    * flagged by integer cross-multiplication at the paper's thresholds. One
    * compiled pass per doc; the corpus is never shuffled. Every 7th doc gets
    * its first 8 words re-appended (the plant is deterministic, the oracle
    * re-derives it) so the dup-{5..8} coverage branch has real variance on
    * the repeat-free synthetic corpus; top-{2,3,4} flags fire naturally. */
  private def qNgramRepetition(s: SparkSession, dir: String): DataFrame = {
    val ws8 = array_join(slice(TextFns.words(col("text")), 1, 8), " ")
    val planted = t(s, dir, "documents").withColumn("text",
      when(pmod(col("doc_id"), lit(7L)) === 0,
        concat_ws(" ", col("text"), ws8)).otherwise(col("text")))
    GopherRules.ngramBattery(planted, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** The bloom pre-filter COMPOSED with the exact contamination join
    * (`Contamination.sharedNgramsBloom`, stats shape) — the 100 TB production
    * form of q47: the benchmark's distinct 5-grams become a KB-sized bloom
    * word-frame, corpus grams are rejected map-side, and ONLY survivors reach
    * the exact join. Output makes the pruning observable per doc (`n_grams`
    * vs `bloom_kept_grams`) next to the exact verdict, which is identical to
    * q47's by the no-false-negative property (also pinned by spec). */
  private def qBloomContamination(s: SparkSession, dir: String): DataFrame = {
    val all = t(s, dir, "documents")
    graft.operators.Contamination.sharedNgramsBloom(
        all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 5,
        stats = true)
      .orderBy(col("doc_id"))
  }

  /** Span-level decontamination (`Contamination.scrubBenchWindows`): every
    * 20-token span whose content appears verbatim in the benchmark slice
    * (doc_id%97==0) is cut from the corpus doc, the rest survives in place.
    * Planted contamination: for every benchmark doc, a synthetic corpus doc
    * (+600000) carries its neighbor's text with the benchmark's first 30
    * words appended — the scrub must remove exactly that span (11 matching
    * windows covering 30 tokens) and nothing else; the oracle re-derives the
    * plant, the window match (as strings) and the rebuild. */
  private def qBenchScrub(s: SparkSession, dir: String): DataFrame = {
    val all = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val bench = all.filter(col("doc_id") % 97 === 0)
    val base = all.filter(col("doc_id") % 97 =!= 0)
    val planted = bench.as("b")
      .join(all.as("n"), col("n.doc_id") === col("b.doc_id") + 1)
      .select((col("b.doc_id") + 600000L).as("doc_id"),
        concat_ws(" ", col("n.text"),
          array_join(slice(TextFns.words(col("b.text")), 1, 30), " "))
          .as("text"))
    graft.operators.Contamination.scrubBenchWindows(
        base.unionByName(planted), bench, "doc_id", "text", windowTokens = 20)
      .orderBy(col("doc_id"))
  }

  /** Exact-substring dedup with REMOVAL (`Dedup.scrubSharedWindows`) over
    * q69's synthetic corpus (every 9th doc re-appears concatenated into a
    * 500000-offset twin): tokens covered by a 20-token window whose content
    * occurs earlier in the corpus are cut, docs reassembled in order, first
    * occurrences survive in place, fully-scrubbed docs remain as empty
    * husks. The oracle re-derives windows as strings, the global
    * first-occurrence rule, the drop mask, and every rebuilt text. */
  private def qWindowScrub(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") < 1000)
      .select(col("doc_id"), col("text"))
    val synth = base.as("a")
      .join(base.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .filter(pmod(col("a.doc_id"), lit(9L)) === 1)
      .select((col("a.doc_id") + 500000L).as("doc_id"),
        concat_ws(" ", col("a.text"), col("b.text")).as("text"))
    Dedup.scrubSharedWindows(base.unionByName(synth), "doc_id", "text",
        windowTokens = 20)
      .orderBy(col("doc_id"))
  }

  /** Per-document window novelty (`Dedup.windowNoveltyStats`): q95's exact
    * corpus (base slice + concatenated synth docs) scored instead of
    * scrubbed — each doc's fraction of 20-token windows that are
    * corpus-global first occurrences, as a floor-divided e6 integer, with
    * the drop-gate flag at 50%. Synth docs score near zero (only their seam
    * windows are novel), their base sources keep 10⁶ — the doc-level
    * duplication-ratio gate production pipelines use when span surgery
    * would leave husks. Same blocked shape as the scrub minus the token
    * explode: one min-struct agg + one hash join, no pairs. */
  private def qWindowNovelty(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") < 1000)
      .select(col("doc_id"), col("text"))
    val synth = base.as("a")
      .join(base.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .filter(pmod(col("a.doc_id"), lit(9L)) === 1)
      .select((col("a.doc_id") + 500000L).as("doc_id"),
        concat_ws(" ", col("a.text"), col("b.text")).as("text"))
    Dedup.windowNoveltyStats(base.unionByName(synth), "doc_id", "text",
        windowTokens = 20)
      .withColumn("mostly_dup", col("novelty_e6") < 500000L)
      .orderBy(col("doc_id"))
  }

  /** Embedding outlier detection (`Similarity.centroidCosine`): every vector
    * scored by cosine against its own LABEL's centroid — the exact integer
    * mean of the label's quantized members (truncated per-component division,
    * identical in both engines), so the approximate geometry rides exact
    * longs and the oracle re-derives centroid, dot, norms and the rounded
    * cosine bit-for-bit. The low-cosine tail is the mislabeled/corrupted
    * member surface a curation gate drops. Corpus-scale cost: one quantize
    * pass + a labels×dims aggregate + a broadcast join — the corpus never
    * shuffles. */
  private def qEmbeddingOutliers(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidCosine(t(s, dir, "embeddings"), "vec_id", "embedding",
        Seq("label"))
      .select(col("vec_id"), col("label"), col("n_members"),
        round(col("cosine"), 6).as("cos_6dp"))
      .withColumn("outlier", col("cos_6dp") < 0.0)
      .orderBy(col("vec_id"))

  /** Per-source token-distribution KL divergence vs the corpus mix
    * (`DataMix.sourceTokenKl`): the mixture-reweighting diagnostic in the
    * exact e6 integer convention — each token's log-ratio rounded once,
    * multiplied by its exact count, integer-summed, truncated-divided. The
    * corpus pays one map-combinable (source, token) count pass; everything
    * downstream is vocab-sized. */
  private def qSourceKl(s: SparkSession, dir: String): DataFrame =
    DataMix.sourceTokenKl(t(s, dir, "documents"), "text", "source")
      .orderBy(col("source"))

  /** Top-k collocations by PMI (`NgramLm.collocations`): phrase extraction
    * on the exact bigram counts the LM trains on, e6-rounded log-ratio,
    * low-count tail suppressed, (pmi DESC, w1, w2) total order through a
    * LIMIT — TakeOrderedAndProject, never a full sort. */
  private def qCollocations(s: SparkSession, dir: String): DataFrame =
    NgramLm.collocations(t(s, dir, "documents"), "text", minCount = 5L,
      k = 50)

  /** Sliding-context chunking (`Packing.chunkTokensStrided`, 16-token
    * windows at stride 8): q53's disjoint chunks with 8 tokens of overlap at
    * every boundary — the form training prep actually emits so no example
    * starts cold. In-row like q53: no shuffle, the output amplification is
    * the semantics. */
  private def qChunkOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.chunkTokensStrided(t(s, dir, "documents"),
        "doc_id", "text", chunkSize = 16, stride = 8)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** FUZZY benchmark contamination (`Dedup.incrementalJaccardMatches`, bench
    * as the "incoming" side): q47/q97/q99 catch VERBATIM overlap — this row
    * catches the paraphrase case production decontamination also runs (a
    * benchmark item lightly edited into the corpus shares most of its
    * 3-gram shingles without any exact window surviving). Planted: the %11=5
    * slice rides into the bench set with a suffix edit (high-but-<1 Jaccard
    * vs its source), the %11=7 slice as genuinely novel bench items (no
    * match, and their absence from the output is load-bearing). PPJoin
    * prefix-filter candidates — bench×corpus only, never corpus×corpus. */
  private def qFuzzyContamination(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") < 2000)
    val corpus = base.select(col("doc_id"), col("text"))
    val bench = base.filter(pmod(col("doc_id"), lit(11L)) === 5)
      .select((col("doc_id") + 700000L).as("doc_id"),
        concat(col("text"), lit(" benchmark suffix tail")).as("text"))
      .unionByName(base.filter(pmod(col("doc_id"), lit(11L)) === 7)
        .select((col("doc_id") + 800000L).as("doc_id"),
          concat(lit("novel benchmark question item "),
            col("doc_id").cast("string")).as("text")))
    Dedup.incrementalJaccardMatches(corpus, bench, "doc_id", "text",
        n = 3, threshold = 0.5, blockCols = Nil)
      .select(col("id_a").as("bench_id"), col("id_b").as("doc_id"),
        round(col("jaccard"), 6).as("jaccard_6dp"))
      .orderBy(col("bench_id"), col("doc_id"))
  }

  /** Per-source data card (`Reports.corpusReport`): volumes, vocabulary,
    * mean length, sub-word quality, language mix — the audit frame a
    * curation run publishes beside its output, every figure an exact integer
    * (counts, floor means, e6 rates). One in-row scan for the doc-grain
    * signals + one token pass for the exact vocabulary column (whose
    * at-scale twin is the q93/q96 HLL estimate). */
  private def qCorpusReport(s: SparkSession, dir: String): DataFrame =
    graft.operators.Reports.corpusReport(t(s, dir, "documents"),
        "text", "source", "lang")
      // explicit order: the row order the oracle pins previously fell out of
      // the aggregate plan by accident; the r10 LEFT-join render reshuffled it
      .orderBy(col("source"))

  /** The FULL data card (q108 + the two mixture diagnostics curation rides
    * on): per-stratum KL-vs-mix in the exact e6 convention (q106's math) and
    * the top-5 token list with exact counts under the (cnt DESC, signed-FNV
    * ASC) total order — q67's hash-verified tie-break, re-derived by the
    * oracle so the pick itself is checked. This is the artifact
    * `CurationJob` publishes beside its output. */
  private def qCorpusReportFull(s: SparkSession, dir: String): DataFrame =
    graft.operators.Reports.corpusReportFull(t(s, dir, "documents"),
        "text", "source", "lang")
      .orderBy(col("source"))

  /** The HLL ESTIMATE end-to-end (`Cardinality.hllEstimate` over q93's
    * registers): because the harmonic-mean fold runs in-row over the
    * bucket-SORTED register list, its double summation order is fixed — the
    * approximate estimate is bit-deterministic, and the oracle re-derives
    * it with the identical left-associated fold, the identical
    * alpha·m² literal, and the identical linear-counting branch. An
    * approximate sketch whose every output bit is still exact. */
  private def qHllEstimate(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .transform(d => graft.operators.Dedup.ensureParallel(d, costWeight = 16))
      .select(col("source"), explode(TextFns.words(col("text"))).as("token"))
    graft.operators.Cardinality.hllEstimate(
        graft.operators.Cardinality.hllRegisters(toks, Seq("source"),
          col("token"), p = 8),
        Seq("source"), p = 8)
      .orderBy(col("source"))
  }

  /** Quality-ranked survivor selection over q49's exact cluster machinery:
    * per near-dup cluster keep the member with the LARGEST n_chars (ties:
    * smallest id) instead of the min id — the "keep the best copy" curation
    * semantic. The winner comes from a bounded-heap top-1 aggregate per
    * component (no per-cluster ranking window); the oracle re-derives the
    * same clusters via the recursive CTE and ranks members with
    * row_number(order by n_chars desc, doc_id). */
  private def qQualitySurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5, blockCols = Seq("lang"))
    val kept = Dedup.survivorsByScore(docs, "doc_id", pairs, col("n_chars"))
    Dedup.release(pairs) // CC consumed them eagerly; the result cannot reach them
    kept.select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end Jaccard corpus dedup (the composite pipelines call): exact
    * prefix-filtered pairs -> connected components -> min-id survivors. Exact
    * Jaccard makes the survivor set deterministic: DuckDB reproduces it with
    * the q49 recursive-CTE closure + an anti-join (formerly the twin of the
    * then-oracle-less q24/q25 — both now carry their own hash-chain oracles). */
  private def qDedupCorpus(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupedCorpus(t(s, dir, "documents").filter(col("doc_id") < 2000),
      "doc_id", "text", n = 3, threshold = 0.5, blockCols = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** End-to-end embedding corpus dedup through the EXACT pair route
    * (`lshPlanes = 0` — the deterministic oracle of the cosine composite; the
    * default banded-LSH route is hash-green on its own via q60). The exact
    * route is quadratic per label block BY DESIGN, so the input is capped to a
    * deterministic slice (vec_id < 2000, like q55's doc slice): the one
    * quadratic query in the bench stays O(slice²) at every scale factor
    * instead of growing ~sf² with corpus size. */
  private def qEmbeddingDedupCorpus(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupedCorpusByEmbedding(
      t(s, dir, "embeddings").filter(col("vec_id") < 2000),
      "vec_id", "embedding",
      threshold = 0.35, blockCols = Seq("label"), lshPlanes = 0)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))

  /** Hard correctness signal for the MinHash-LSH family, independent of q24's
    * generated hash-chain oracle: every LSH-surfaced pair
    * must appear in the exact prefix-filtered Jaccard pair set at the same
    * threshold, and none may carry a below-threshold jaccard. Both invariant
    * counts are structurally zero — if banding or verification ever emitted a
    * false pair, the Spark side goes non-zero and this row turns red. */
  private def qLshContainment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
    // persisted: the full LSH pipeline (shingle → signature → band join →
    // verify) feeds BOTH invariant branches below — without the persist each
    // branch recomputes it end to end (multi-branch recompute trap)
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, blockCols = Nil)
    val missing = lsh.select(col("id_a"), col("id_b"))
      .join(exact, Seq("id_a", "id_b"), "left_anti")
    val below = lsh.filter(col("jaccard") < 0.5)
    missing.agg(count(lit(1)).as("violations"))
      .withColumn("invariant", lit("lsh_pair_not_in_exact"))
      .unionByName(below.agg(count(lit(1)).as("violations"))
        .withColumn("invariant", lit("lsh_jaccard_below_threshold")))
      .select(col("invariant"), col("violations"))
      .orderBy(col("invariant"))
  }

  /** Hard correctness signal for the SimHash family, independent of q25's
    * generated hash-chain oracle: over the SAME
    * in-engine signature frame, the banded pair set must EQUAL the brute-force
    * `bit_count(xor) <= maxHamming` pair set — a missing pair breaks the
    * pigeonhole recall guarantee, an extra pair breaks the exact Hamming
    * verify, a duplicate breaks the first-shared-band single-emission
    * contract. All three counts are structurally zero (oracle = the constant
    * table, like q57). The brute side is a broadcast of the bounded
    * signature slice (doc_id < 2000 — one long per doc), so the quadratic
    * reference stays O(slice²) at any corpus scale. */
  private def qSimhashContainment(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val maxHamming = 12 // q25's family parameterization
    val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
    val sig = Dedup.simhash64(docs, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val band = Dedup.simhashBandPairs(sig, "doc_id", maxHamming)
      .select(col("id_a"), col("id_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val brute = sig.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
      .join(broadcast(sig.select(col("doc_id").as("id_b"), col("simhash").as("hb"))),
        col("id_a") < col("id_b") &&
          bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .select(col("id_a"), col("id_b"))
    val missing = brute.join(band, Seq("id_a", "id_b"), "left_anti")
    val extra = band.join(brute, Seq("id_a", "id_b"), "left_anti")
    missing.agg(count(lit(1)).as("violations"))
      .withColumn("invariant", lit("brute_pair_missing_from_bands"))
      .unionByName(extra.agg(count(lit(1)).as("violations"))
        .withColumn("invariant", lit("band_pair_not_in_brute")))
      .unionByName(band.agg((count(lit(1)) -
          count_distinct(struct(col("id_a"), col("id_b")))).as("violations"))
        .withColumn("invariant", lit("band_pair_duplicates")))
      .select(col("invariant"), col("violations"))
      .orderBy(col("invariant"))
  }

  /** The SimHash corpus composite (the dedup family's third member): banded
    * signature pairs → cluster resolution → min-id survivors, checked
    * against the survivor set independently derived from the BRUTE-FORCE
    * Hamming pair route (broadcast bit_count join over the bounded signature
    * frame + the same CC). Emits q59-style zero-violation constants — the
    * signatures themselves are not SQL-re-derivable, but equality with an
    * exhaustive second route is red-capable all the same. */
  private def qSimhashCorpus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // the row deliberately runs TWO full routes (composite + brute) and two
    // CC resolutions; the doc_id<1000 slice keeps that double verification
    // from dominating the suite while still covering hundreds of clusters
    val maxHamming = 8
    val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      .select(col("doc_id"), col("text"))
    val composite = Dedup.dedupedCorpusBySimhash(docs, "doc_id", "text",
        maxHamming)
      .select(col("doc_id")).persist(StorageLevel.MEMORY_AND_DISK)
    val sig = Dedup.simhash64(docs, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val brutePairs = sig.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
      .join(broadcast(sig.select(col("doc_id").as("id_b"), col("simhash").as("hb"))),
        col("id_a") < col("id_b") &&
          bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .select(col("id_a"), col("id_b"))
    val labels = Dedup.components(brutePairs)
    Dedup.release(sig) // CC consumed the brute pairs eagerly
    val bruteSurvivors = docs.select(col("doc_id"))
      .join(labels.filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    composite.join(bruteSurvivors, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .withColumn("invariant", lit("composite_minus_brute"))
      .unionByName(bruteSurvivors.join(composite, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .withColumn("invariant", lit("brute_minus_composite")))
      .unionByName(composite.agg(
          when(count(lit(1)) > 0, lit(0L)).otherwise(lit(1L)).as("violations"))
        .withColumn("invariant", lit("composite_empty")))
      .select(col("invariant"), col("violations"))
      .orderBy(col("invariant"))
  }

  /** The cosine composite's PRODUCTION route — default `lshPlanes = 12` —
    * hash-green (q56 pins the composite through the exact oracle route only).
    * The corpus is injected with deterministic duplicates: every odd vec_id
    * takes its even neighbor's vector, so each near-dup pair is an
    * IDENTICAL-vector pair, which hyperplane LSH recovers with CERTAINTY
    * (identical vectors agree on every plane — recall is structural here, not
    * probabilistic; jittered-vector recall is pinned separately by q46 +
    * DedupSpec). At threshold 0.98 no natural pair qualifies (max natural
    * cosine ~0.51 on this corpus), so the survivor set is exactly what the
    * recursive-CTE exact oracle computes. */
  private def qEmbeddingDedupLshCorpus(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("label"),
        (col("vec_id") - pmod(col("vec_id"), lit(2L))).as("__pid"))
      .join(emb.select(col("vec_id").as("__pid"), col("embedding")), "__pid")
      .select(col("vec_id"), col("label"), col("embedding"))
    Dedup.dedupedCorpusByEmbedding(corpus, "vec_id", "embedding",
      threshold = 0.98, blockCols = Nil) // lshPlanes DEFAULT — the scale path
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** Deterministic train/val/test split assignment (Knuth-hash cumulative
    * thresholds): membership is stable under any partitioning, engine, or
    * incremental reload — a narrow projection, no shuffle, no RNG. */
  private def qSplitAssign(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataMix.assignSplit(t(s, dir, "documents"), "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id"))

  /** Deterministic stratified subsample — the curation "cap each source at N
    * rows" move: per source, the 7 documents with the smallest Knuth id hash
    * (reproducible under any partitioning or re-run, unlike RNG samplers),
    * ranked via the bounded-heap top-k aggregate so no per-source ranking
    * window exists anywhere in the plan. The oracle re-derives the hash
    * order with row_number. */
  private def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataMix.sampleStratified(t(s, dir, "documents"),
        Seq("source"), 7, "doc_id", Seq("doc_id"))
      .orderBy(col("source"), col("rn"))

  /** Token-budget sampling (q73's weighted sibling): per source, the greedy
    * Knuth-hash-order prefix of documents whose inclusive cumulative token
    * count stays within 700. The engine resolves the cutoff with the
    * histogram-bucket fold (only ONE hash bucket per source enters a window
    * — never the stratum); the oracle re-derives the same greedy prefix with
    * a running-sum window, so the histogram plan's answer must match the
    * naive plan's bit-for-bit. */
  private def qSampleBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("n_tok", size(TextFns.words(col("text"))).cast("long"))
    graft.operators.DataMix.sampleToBudget(docs, Seq("source"), 700L,
        "doc_id", col("n_tok"))
      .select(col("source"), col("doc_id"), col("n_tok"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Batch incremental dedup — admission of a new batch against the EXISTING
    * corpus: exact copies of corpus docs
    * (id + 100000) must be rejected, genuinely novel docs (id + 200000,
    * synthetic unique text) admitted. The candidate join runs incoming ×
    * corpus only — a daily increment never re-dedups the lake. */
  private def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") < 2000)
    val corpus = base.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val copies = base.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"), col("lang"))
    val fresh = base.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(lit("genuinely new content item "), col("doc_id")).as("text"),
        lit("xx").as("lang"))
    Dedup.admitNew(corpus, copies.unionByName(fresh), "doc_id", "text",
      n = 3, threshold = 0.5, blockCols = Nil)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Incremental EMBEDDING admission — q62's cosine twin on the PRODUCTION
    * LSH route (default lshPlanes = 12): exact copies of corpus vectors
    * (id + 100000) must be rejected — an identical vector agrees on every
    * hyperplane band, so LSH recall is structural here, not probabilistic —
    * while held-out natural vectors (id + 200000) are admitted (max natural
    * cross cosine ~0.51 << 0.98). The candidate join runs increment × corpus
    * only; the oracle re-checks admission with the exact quadratic quantized
    * cosine over the same bounded slice (vec_id < 2000, O(slice²) at any sf). */
  private def qIncrementalEmbedding(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings").filter(col("vec_id") < 2000)
    val corpus = base.filter(pmod(col("vec_id"), lit(5L)) =!= 0)
    val copies = corpus.filter(pmod(col("vec_id"), lit(5L)) === 1)
      .select((col("vec_id") + 100000L).as("vec_id"), col("label"),
        col("embedding"))
    val fresh = base.filter(pmod(col("vec_id"), lit(5L)) === 0)
      .select((col("vec_id") + 200000L).as("vec_id"), col("label"),
        col("embedding"))
    Dedup.admitNewByEmbedding(corpus, copies.unionByName(fresh),
      "vec_id", "embedding", threshold = 0.98)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** Exact-substring dedup signal: pairs of documents sharing at least one
    * exact 20-token window, with the count of distinct shared windows — the
    * long-verbatim-overlap detector whole-document Jaccard dilutes away. The
    * corpus is injected with deterministic concatenations (every 9th doc
    * fused with its successor), so each synthetic doc shares every window of
    * both parents; the oracle re-derives the window sets as strings (the
    * 64-bit window hash is collision-free at any realistic scale, so
    * hash-match counts == string-match counts). */
  private def qSharedWindows(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").filter(col("doc_id") < 1000)
      .select(col("doc_id"), col("text"))
    val synth = base.as("a")
      .join(base.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .filter(pmod(col("a.doc_id"), lit(9L)) === 1)
      .select((col("a.doc_id") + 500000L).as("doc_id"),
        concat_ws(" ", col("a.text"), col("b.text")).as("text"))
    Dedup.sharedWindowPairs(base.unionByName(synth), "doc_id", "text",
      windowTokens = 20)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Deterministic data-mixture report: per-source totals vs Knuth-hash sampled
    * counts — reproducible corpus re-weighting with zero RNG, a narrow filter at
    * any scale. */
  private def qDataMixture(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataMix.mixtureReport(t(s, dir, "documents"), "doc_id",
      "source", Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
      defaultFraction = 0.1)
      .orderBy(col("source"))

  /** PII scrub: email/IP/phone redaction over deterministically augmented text
    * (the synthetic corpus is clean, so each doc is salted with a known
    * email+phone+IP suffix — both engines redact the same material). */
  private def qPiiRedact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("aug", concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 077-123-4567 at 192.168.0.1")))
      .select(col("doc_id"), TextFns.redactPii(col("aug")).as("redacted"))
      .orderBy(col("doc_id"))

  /** Sharded sequence packing: per-source exclusive-prefix token sums -> bin
    * ids. The window runs per shard, never globally — the corpus-wide running
    * sum that would serialize on one task does not exist in this plan. */
  private def qSequencePacking(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packBins(t(s, dir, "documents"), "doc_id", "text",
      Seq("source"), tokenBudget = 256L)
      .orderBy(col("doc_id"))

  /** In-row doc chunking into 16-token training chunks (sequence+slice+
    * posexplode — a narrow projection; chunk payload carried as sha). */
  private def qDocChunking(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
      chunkSize = 16)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Bucketed interval join: event cent-values against overlapping per-nation
    * bands. The bucketed plan is a hash join on the grid cell — the naive
    * BETWEEN join would be a BroadcastNestedLoopJoin (PlanAuditSpec bans it,
    * and q54 is deliberately NOT on its allowlist). */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "events").select(col("event_id"), cents(col("value")).as("v"))
    val ivals = t(s, dir, "nation").select(col("n_nationkey"),
      (col("n_nationkey") * 1500L).as("lo"),
      (col("n_nationkey") * 1500L + 2000L).as("hi"))
    graft.ops.RangeJoin.pointInInterval(pts, ivals, "v", "lo", "hi",
      bucketWidth = 1000L)
      .select(col("event_id"), col("n_nationkey"), col("v"))
      .orderBy(col("event_id"), col("n_nationkey"))
  }

  /** Sessionization: gap > 30 min starts a new session (lag + running count). */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("gap_us", tsUs - lag(tsUs, 1).over(wOrd))
      .withColumn("is_new",
        when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(wRun))
      .select(col("event_id"), col("user_id"), col("session_id"))
      .orderBy(col("event_id"))
  }

  /** Flagship composite — the reference's rainfall pipeline restated (SURVEY.md §3.1):
    * sentinel cleanse (P3/P4) -> right-closed hourly resample with the pandas
    * all-null-bucket=0 quirk (A1) -> dense spine × key grid align (S7/J1) ->
    * row-mean impute across sibling series (A2/W4) -> weighted catchment fold (A3)
    * -> pivot to the wide MIKE matrix (R1). One lazy plan, three shuffles total. */
  def qMikePipeline(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val hourUs = 3600000000L
    // 1. cleanse + right-closed hourly resample to integer cents
    val res = t(s, dir, "events")
      .withColumn("v", when(col("value") > 450 || col("value") < 0, lit(null))
        .otherwise(col("value")))
      .withColumn("bucket", timestamp_micros(ceilUs(tsUs, hourUs)).cast("timestamp_ntz"))
      .groupBy(col("bucket"), col("event_type"))
      .agg(coalesce(sum(cents(col("v"))), lit(0L)).as("c")) // pandas: all-NaN bucket -> 0
    // 2. spine × type grid, left-align (gaps -> null)
    val spine = TimeSeriesOps.timeSpine(s,
      "2024-01-01 01:00:00", "2024-01-31 00:00:00", 60, "bucket")
    val typesDf = s.createDataFrame(types.map(Tuple1(_))).toDF("event_type")
    val grid = broadcast(spine).crossJoin(broadcast(typesDf))
    val aligned = grid.join(res, Seq("bucket", "event_type"), "left")
    // 3. row-mean impute across sibling types at the same bucket (pre-fill mean)
    val w = Window.partitionBy(col("bucket"))
    val mean = sum(col("c")).over(w).cast("double") /
      count(col("c")).over(w).cast("double")
    val imputed = aligned.withColumn("filled_c",
      round(coalesce(col("c").cast("double"), mean)).cast("long"))
    // 4. weighted catchment fold: event types -> 2 "catchments" with coefficients
    val folded = imputed
      .withColumn("catchment",
        when(col("event_type").isin("click", "view"), lit("engagement"))
          .otherwise(lit("conversion")))
      .withColumn("coef10",
        when(col("event_type") === "purchase", lit(20L))
          .when(col("event_type") === "error", lit(5L))
          .otherwise(lit(10L)))
      .groupBy(col("bucket"), col("catchment"))
      .agg(sum(col("coef10") * col("filled_c")).as("wc"))
    // 5. pivot wide (value back to currency units)
    folded.groupBy(col("bucket"))
      .pivot("catchment", Seq("conversion", "engagement"))
      .agg(first(col("wc")))
      .select(col("bucket"),
        money(col("conversion"), 1000.0).as("conversion"),
        money(col("engagement"), 1000.0).as("engagement"))
      .orderBy(col("bucket"))
  }

  /** A5/A6: scan statistics — existence gates and latest-observation lookups. */
  private def qScanStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .agg(count(lit(1)).as("n_rows"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"),
        date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_ship"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  /** As-of (point-in-time) join semantics via a running conditional max — each event
    * sees the latest purchase at-or-before its own time in the same series. The
    * window form avoids a range-join shuffle entirely: one sort per partition key. */
  private def qAsofPrior(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("pp_us",
        max(when(col("event_type") === "purchase", tsUs)).over(w))
      .select(col("event_id"), col("user_id"),
        date_format(timestamp_micros(col("pp_us")), "yyyy-MM-dd HH:mm:ss")
          .as("prior_purchase_time"))
      .orderBy(col("event_id"))
  }

  /** Rollup (hierarchical grouping sets) with grouping id. */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Scalar subquery: orders above the global mean price (mean via exact ints). */
  private def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    val thr = t(s, dir, "orders").agg(
      (sum(cents(col("o_totalprice"))).cast("double") /
        count(lit(1)).cast("double")).as("thr"))
    t(s, dir, "orders")
      .crossJoin(broadcast(thr))
      .filter(cents(col("o_totalprice")).cast("double") > col("thr"))
      .select(col("o_orderkey"), money(cents(col("o_totalprice"))).as("total_2dp"))
      .orderBy(col("o_orderkey"))
  }

  /** INTERSECT / EXCEPT set ops: nations with customers vs with suppliers. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
    val su = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
    c.intersect(su).withColumn("kind", lit("both"))
      .union(c.except(su).withColumn("kind", lit("customers_only")))
      .orderBy(col("kind"), col("nk"))
  }

  /** F10: attribute extraction from the JSON-ish props payload (regex form — engine
    * and oracle share RE2/Java-compatible syntax). */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long").as("k_val"))
      .orderBy(col("event_id"))

  /** F3: date-part extraction with explicit cross-engine weekday convention
    * (Spark dayofweek is 1=Sunday; emitted as Sunday=0 to match DuckDB dow). */
  private def qDateParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") < 200)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow_sun0"))
      .orderBy(col("o_orderkey"))

  /** F8: float/int-parse guard — the reference's `isfloat` try/except becomes
    * `try_cast` (parse failure -> NULL, no job abort). */
  private def qTryCast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("s",
        when(pmod(col("event_id"), lit(2)) === 0, col("user_id").cast("string"))
          .otherwise(col("event_type")))
      .selectExpr("event_id", "s", "try_cast(s AS BIGINT) AS parsed")
      .orderBy(col("event_id"))

  /** Training-data curation pipeline: quality gate -> exact dedup (keep lowest id
    * per content hash) -> top-5 per language by an exact-integer quality score.
    * Composes text analysis, dedup and ranking the way a real corpus-curation job
    * would; every stage is one hash-partitionable pass. */
  private def qCuration(s: SparkSession, dir: String): DataFrame = {
    // one native text_stats pass supplies both word count and stopword hits;
    // the stats struct is FENCED so the word-count filter below cannot be
    // pushed under the guard exchange into the scan with the kernel inlined
    // (the simhash64 trap — r11 audit), and the single fenced struct keeps
    // one kernel evaluation per row
    val st = graft.functions.PushdownFence(graft.functions.TextStatsExpr(
      col("text"), Seq("the", "a", "of", "and", "is")))
    val base = graft.operators.Dedup.ensureParallel(t(s, dir, "documents"))
      .withColumn("__st", st)
      .withColumn("n_words", col("__st")("n_words"))
      .withColumn("stop_cnt", col("__st")("stop_count"))
      .withColumn("sha", sha2(lower(trim(col("text"))), 256))
      .filter(col("n_words") >= 20)
      .drop("__st")
    val dedup = base.withColumn("rn",
        row_number().over(Window.partitionBy(col("sha")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    // quality: fewer stopwords per word is "denser"; exact rational as double
    val score = (col("stop_cnt") * 10000L).cast("double") / col("n_words").cast("double")
    dedup.withColumn("score", score)
      .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("score").asc, col("n_words").desc, col("doc_id"))))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("doc_id"), col("n_words"), col("score"))
      .orderBy(col("lang"), col("rank"))
  }

  /** IVF-bucketed ANN — the scale path beside q26's exact baseline. Oracle:
    * `OracleHashSql.q43AnnIvf` re-derives the engine-hash seed pick (the
    * xxhash64 BIGINT chain), Voronoi assignment, 4-probe serve, and in-cell
    * ranking in SQL; recall vs brute force is spec-verified besides. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
      nCentroids = 16, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine_6dp"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hard correctness signal for the IVF family, independent of q43's
    * generated hash-chain oracle: probing ALL cells scores every corpus
    * vector, so the result must reproduce the exact brute-force ranking — the
    * oracle below IS q26's brute-force SQL. Any defect in cell assignment
    * (a vector landing in no/two cells) or in ranking surfaces as a hash
    * mismatch on this row. */
  private def qIvfFullProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
      nCentroids = 16, nProbe = 16)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine_6dp"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Range-frame rolling accumulation (the rolling-rainfall extension SURVEY.md §2.5
    * anticipates): per event_type, the trailing 1-hour sum at every event — a VALUE
    * range frame (rangeBetween on epoch micros), not a row frame. Integer cents keep
    * it exact. */
  private def qRollingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L)
    t(s, dir, "events")
      .withColumn("us", tsUs)
      .withColumn("rolling_1h_cents", sum(cents(col("value"))).over(w))
      .select(col("event_id"), col("event_type"), col("rolling_1h_cents"))
      .orderBy(col("event_id"))
  }

  /** Exact median (interpolated percentile at 0.5 over integer cents — the only
    * interpolation point where Spark's and DuckDB's formulas are bit-identical) and
    * a deterministic argmax via integer pair-encoding (max of value*1e7+id decodes
    * to the highest-value event with the LARGEST id on value ties — encode-order
    * determinism where a bare max_by would be tie-unstable). */
  private def qMedianArgmax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(cast(round(value*100) as bigint), 0.5)").as("median_cents"),
        (max(cents(col("value")) * 10000000L + col("event_id")) % 10000000L)
          .as("top_event_id"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  // ---------- DuckDB oracles ----------

  /** Brute-force ANN ranking in DuckDB SQL — the oracle of BOTH q26 (the
    * exact baseline) and q58 (IVF probing every cell must reproduce it). */
  private val bruteForceAnnSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i ->
        |      CAST(ROUND(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE) /
        |    (sqrt(CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i ->
        |      CAST(ROUND(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(q.qv[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)) *
        |     sqrt(CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
        |      CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)))
        |      AS cosine
        |  FROM q, embeddings e WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY round(cosine, 6) DESC, neighbor_id) AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine_6dp, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** RETIRED (round 10): every query now carries a full SQL oracle — the last
    * four hash-internal rows (q24/q25/q43/q46) are closed by `OracleHashSql`'s
    * INT128 re-derivation of the xxhash64/splitmix chains, so no row needs a
    * twin mapping any more. Kept (empty) because Verify emits `twins.json`
    * and the driver tolerates an empty ledger; the former twin queries
    * (q55/q58/q59/q60) remain as independent invariant rows. */
  def twins: Map[String, String] = Map.empty

  /** q98 oracle, generated per n (hand-writing 9 near-identical CTE families
    * invites drift): top-{2,3,4} via count-per-gram + a (cnt DESC, g ASC)
    * row_number pick; dup-{5..10} via duplicate grams -> distinct covered
    * token positions -> summed word lengths — the same coverage-union
    * semantics the compiled expression implements. */
  private def ngramRepetitionSql: String = {
    val tops = Seq((2, 20), (3, 18), (4, 16))
    val dups = Seq((5, 15), (6, 14), (7, 13), (8, 12), (9, 11), (10, 10))
    def gramList(n: Int) =
      s"list_transform(range(1, len(ws) - ${n - 2}), " +
        s"i -> array_to_string(ws[i:i+${n - 1}], ' '))"
    val topCtes = tops.map { case (n, _) =>
      s"""g$n AS (
         |  SELECT doc_id, unnest(${gramList(n)}) AS g
         |  FROM toks WHERE len(ws) >= $n),
         |t$n AS (
         |  SELECT doc_id, cnt AS top${n}_n, cnt * len(g) AS top${n}_chars
         |  FROM (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM g$n GROUP BY doc_id, g)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY cnt DESC, g ASC) = 1)""".stripMargin
    }
    val dupCtes = dups.map { case (n, _) =>
      s"""w$n AS (
         |  SELECT doc_id, u.p AS p, u.g AS g FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - ${n - 2}),
         |      i -> {'p': i, 'g': array_to_string(ws[i:i+${n - 1}], ' ')})) AS u
         |    FROM toks WHERE len(ws) >= $n)),
         |d$n AS (SELECT doc_id, g FROM w$n
         |        GROUP BY doc_id, g HAVING COUNT(*) >= 2),
         |c$n AS (SELECT DISTINCT doc_id, idx FROM (
         |  SELECT w.doc_id, unnest(range(w.p, w.p + $n)) AS idx
         |  FROM w$n w JOIN d$n d ON d.doc_id = w.doc_id AND d.g = w.g)),
         |s$n AS (
         |  SELECT c.doc_id, CAST(SUM(len(t.ws[c.idx])) AS BIGINT)
         |    AS dup${n}_chars
         |  FROM c$n c JOIN toks t USING (doc_id) GROUP BY c.doc_id)""".stripMargin
    }
    val statSel =
      tops.map { case (n, _) =>
        s"COALESCE(t$n.top${n}_n, 0) AS top${n}_n,\n" +
          s"  COALESCE(t$n.top${n}_chars, 0) AS top${n}_chars" }
        .mkString(",\n  ") + ",\n  " +
      dups.map { case (n, _) =>
        s"COALESCE(s$n.dup${n}_chars, 0) AS dup${n}_chars" }.mkString(",\n  ")
    val flagSel =
      tops.map { case (n, p) =>
        s"COALESCE(t$n.top${n}_chars, 0) * 100 > b.n_word_chars * $p" +
          s" AS flag_top$n" }.mkString(",\n  ") + ",\n  " +
      dups.map { case (n, p) =>
        s"COALESCE(s$n.dup${n}_chars, 0) * 100 > b.n_word_chars * $p" +
          s" AS flag_dup$n" }.mkString(",\n  ")
    val keepExpr = "NOT (" +
      (tops.map { case (n, p) =>
        s"COALESCE(t$n.top${n}_chars, 0) * 100 > b.n_word_chars * $p" } ++
       dups.map { case (n, p) =>
        s"COALESCE(s$n.dup${n}_chars, 0) * 100 > b.n_word_chars * $p" })
        .mkString(" OR ") + ") AS keep"
    val joins =
      tops.map { case (n, _) => s"LEFT JOIN t$n ON t$n.doc_id = b.doc_id" }
        .mkString("\n") + "\n" +
      dups.map { case (n, _) => s"LEFT JOIN s$n ON s$n.doc_id = b.doc_id" }
        .mkString("\n")
    s"""WITH toks0 AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      w -> len(w) > 0) AS ws
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN ws || ws[1:8] ELSE ws END AS ws
       |  FROM toks0),
       |base AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(list_reduce(list_prepend(0::BIGINT,
       |      list_transform(ws, w -> len(w))), (a, b) -> a + b) AS BIGINT)
       |      AS n_word_chars
       |  FROM toks),
       |${(topCtes ++ dupCtes).mkString(",\n")}
       |SELECT b.doc_id, b.n_words, b.n_word_chars,
       |  $statSel,
       |  $flagSel,
       |  $keepExpr
       |FROM base b
       |$joins
       |ORDER BY b.doc_id""".stripMargin
  }

  /** Shared DuckDB re-derivation of the bloom word-frame over the planted
    * benchmark's distinct 5-grams — q47's gram construction, the q93
    * FNV+splitmix64 HUGEINT chain once per distinct gram, 3 disjoint 16-bit
    * position fields, 32-bit words. Consumed by the q94 (probe counts) and
    * q97 (probe -> exact-join composition) oracles. */
  private val bloomGramChainSql: String =
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0) AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 3),
        |    i -> array_to_string(ws[i:i+4], ' ')))) AS g
        |  FROM toks WHERE len(ws) >= 5),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        |gd AS (SELECT DISTINCT g FROM grams),
        |fnv AS (
        |  SELECT g, list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(0, octet_length(encode(g))), i ->
        |          CAST(strpos('123456789ABCDEF',
        |                 hex(encode(g))[CAST(2*i+1 AS BIGINT)]) * 16
        |             + strpos('123456789ABCDEF',
        |                 hex(encode(g))[CAST(2*i+2 AS BIGINT)]) AS BIGINT))),
        |      (h, byt) -> ((h - (h % 256)
        |          + xor(CAST(h % 256 AS BIGINT), byt)::HUGEINT)
        |        * 1099511628211::HUGEINT)
        |        % 18446744073709551616::HUGEINT) AS h
        |  FROM gd),
        |x1 AS (
        |  SELECT g, CASE WHEN x < 0
        |      THEN x::HUGEINT + 18446744073709551616::HUGEINT
        |      ELSE x::HUGEINT END AS a
        |  FROM (SELECT g, xor(
        |      CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |        THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT),
        |      CAST(h // 1073741824::HUGEINT AS BIGINT)) AS x FROM fnv)),
        |m1 AS (
        |  SELECT g,
        |    ((a // 4294967296::HUGEINT * 13787848793156543929::HUGEINT)
        |       % 4294967296::HUGEINT * 4294967296::HUGEINT
        |     + (a % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT)
        |      % 18446744073709551616::HUGEINT AS z
        |  FROM x1),
        |x2 AS (
        |  SELECT g, CASE WHEN x < 0
        |      THEN x::HUGEINT + 18446744073709551616::HUGEINT
        |      ELSE x::HUGEINT END AS a
        |  FROM (SELECT g, xor(
        |      CAST(CASE WHEN z >= 9223372036854775808::HUGEINT
        |        THEN z - 18446744073709551616::HUGEINT ELSE z END AS BIGINT),
        |      CAST(z // 134217728::HUGEINT AS BIGINT)) AS x FROM m1)),
        |m2 AS (
        |  SELECT g,
        |    ((a // 4294967296::HUGEINT * 10723151780598845931::HUGEINT)
        |       % 4294967296::HUGEINT * 4294967296::HUGEINT
        |     + (a % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT)
        |      % 18446744073709551616::HUGEINT AS z
        |  FROM x2),
        |mixed AS (
        |  SELECT g, CASE WHEN x < 0
        |      THEN x::HUGEINT + 18446744073709551616::HUGEINT
        |      ELSE x::HUGEINT END AS h
        |  FROM (SELECT g, xor(
        |      CAST(CASE WHEN z >= 9223372036854775808::HUGEINT
        |        THEN z - 18446744073709551616::HUGEINT ELSE z END AS BIGINT),
        |      CAST(z // 2147483648::HUGEINT AS BIGINT)) AS x FROM m2)),
        |pos AS (
        |  SELECT g,
        |    CAST(h % 65536::HUGEINT AS BIGINT) AS p0,
        |    CAST((h // 65536::HUGEINT) % 65536::HUGEINT AS BIGINT) AS p1,
        |    CAST((h // 4294967296::HUGEINT) % 65536::HUGEINT AS BIGINT) AS p2
        |  FROM mixed),
        |bloomw AS (
        |  SELECT word_idx, bit_or(bv) AS bits FROM (
        |    SELECT CAST(p // 32 AS INT) AS word_idx,
        |      (1::BIGINT << CAST(p % 32 AS INT)) AS bv
        |    FROM (SELECT unnest([p0, p1, p2]) AS p
        |          FROM pos JOIN bench USING (g)))
        |  GROUP BY word_idx)""".stripMargin

  // ---------- media-family driver oracles (q112+, r12) ----------

  /** Synthesized 64-bit perceptual-signature frame (q112/q113): base =
    * xxhash64(doc_id % 97), then doc_id % 4 bit flips at
    * (doc_id·7 + j·17) % 64 — ~5 docs per near-dup group at sf0.01, pair
    * hamming ≤ 6 within a group, cross-group matches vanishing. Mirrored by
    * `OracleHashSql.synthSigCtes` in HUGEINT SQL. */
  private def mediaSigFrame(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"),
        (col("doc_id").cast("long") % 97).as("grp"))
    val sim = (0 until 3).foldLeft(xxhash64(col("grp"))) { (acc, j) =>
      when(col("media_id") % 4 > j, acc.bitwiseXOR(expr(
        s"shiftleft(CAST(1 AS BIGINT), CAST((media_id * 7 + ${j * 17}) % 64 AS INT))")))
        .otherwise(acc)
    }
    d.select(col("media_id"), sim.as("simhash"))
  }

  /** q112: `Dedup.simhashBandPairs` (the media `imageNearDupPairs` banding
    * stage verbatim) vs DuckDB's brute-force radius truth. */
  private def qMediaBandPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashBandPairs(mediaSigFrame(s, dir), "media_id", maxHamming = 6)
      .orderBy(col("id_a"), col("id_b"))

  /** q113: `Dedup.simhashBandMatchesBetween` (the `mediaAdmissionMatches`
    * engine, corpus collapse ON) vs the brute-force incoming × min-id-rep
    * truth. */
  private def qMediaAdmissionMatches(s: SparkSession, dir: String): DataFrame = {
    val sig = mediaSigFrame(s, dir)
    Dedup.simhashBandMatchesBetween(
        sig.filter(col("media_id") % 5 === 0),
        sig.filter(col("media_id") % 5 =!= 0),
        "media_id", maxHamming = 6)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Synthesized clip frame-signature frame (q114/q118): clip doc_id has
    * ((doc_id div 60) % 4)+1 frames, frame j's signature =
    * xxhash64((doc_id % 60)·8 + j) — same-group clips share prefix frames,
    * so shared count = min frame count. Mirrored by
    * `OracleHashSql.synthFrameCtes`. */
  private def videoFrameSigs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"))
      .withColumn("j", explode(sequence(lit(0L), expr("media_id div 60") % 4)))
      .withColumn("fsig", xxhash64((col("media_id") % 60) * 8 + col("j")))
      .select("media_id", "fsig")

  /** q114: `Multimodal.videoNearDupPairsFromSigs` (the clip near-dup engine
    * the job's video tick runs) vs the distinct-shared-signature truth. The
    * DuckDB oracle is exact brute-force pairs, so the engine must run the
    * EXACT path: the synthetic corpus has a FIXED 60 signature groups, so
    * bucket size grows with sf and any finite `maxBucket` would star-collapse
    * above it (sf10: ~8k-row buckets > 4096) — a correct engine turning the
    * row red. `maxBucket = 0` IS the exact path (guard disabled, zero extra
    * jobs); the flood guard itself is pinned by MultimodalSpec/DedupSpec. */
  private def qVideoSharedFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoNearDupPairsFromSigs(videoFrameSigs(s, dir),
        minSharedFrames = 2, maxBucket = 0)
      .orderBy(col("id_a"), col("id_b"))

  /** q118: `Multimodal.videoAdmissionMatchesFromSigs` — the video admission
    * probe over a persisted frame-signature store. */
  private def qVideoAdmissionSigs(s: SparkSession, dir: String): DataFrame = {
    val fs = videoFrameSigs(s, dir)
    Multimodal.videoAdmissionMatchesFromSigs(
        fs.filter(col("media_id") % 7 =!= 0),
        fs.filter(col("media_id") % 7 === 0),
        minSharedFrames = 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q115: REAL decode end-to-end — `SyntheticMedia`'s binary PGM/PPM lake
    * through `Multimodal.perceptualHashes` (PnmCodec parse → lumaGrid →
    * dhash64); DuckDB re-derives every pixel and the exact integer hash
    * math. A single bit off anywhere in the decode chain turns the row red. */
  private def qMediaDhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualHashes(
        graft.operators.SyntheticMedia.mediaFrame(t(s, dir, "documents")),
        Multimodal.anyImagePhashHasher())
      .orderBy(col("media_id"))

  /** q116: `Multimodal.imageNearDupPairs` end-to-end (decode + banding +
    * exact hamming verify) vs brute force over the SQL-derived dhashes. */
  private def qMediaNearDupE2e(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageNearDupPairs(
        graft.operators.SyntheticMedia.mediaFrame(t(s, dir, "documents")),
        Multimodal.anyImagePhashHasher(), maxHamming = 8)
      .orderBy(col("id_a"), col("id_b"))

  /** q117: `Multimodal.admitNewMedia` end-to-end — the media admission gate
    * (decode gate + banded store match + anti-join) against the engine's own
    * corpus signature store; incoming = copy index ≡ 0 (mod 5), so every
    * group holds both sides. */
  private def qMediaAdmitE2e(s: SparkSession, dir: String): DataFrame = {
    val media = graft.operators.SyntheticMedia.mediaFrame(t(s, dir, "documents"))
    val incoming = media.filter(expr("media_id div 40") % 5 === 0)
    val corpus = media.filter(expr("media_id div 40") % 5 =!= 0)
    val corpusHashes = Multimodal.perceptualHashes(corpus,
      Multimodal.anyImagePhashHasher())
    Multimodal.admitNewMedia(corpusHashes, incoming,
        Multimodal.anyImagePhashHasher(), maxHamming = 8)
      .select(col("media_id"), col("kind"))
      .orderBy(col("media_id"))
  }

  /** q119: REAL Y4M decode end-to-end — `SyntheticMedia`'s 9×8 gray clips
    * through `frameSignatures` (stream-header walk, FRAME markers, luma
    * extraction, per-frame dhash64); DuckDB re-derives every frame pixel. */
  private def qVideoDhashFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSignatures(
        graft.operators.SyntheticMedia.videoFrame(t(s, dir, "documents")),
        Multimodal.y4mFrameHasher())
      .orderBy(col("media_id"), col("frame_idx"))

  /** q120: `videoNearDupPairs` end-to-end with REAL decoded payloads (via
    * the mixed-format `anyVideoFrameHasher` route the job runs). Exact path
    * (`maxBucket = 0` disables the star-collapse guard) for the same reason
    * as q114: the oracle is brute-force truth and the synthetic group count
    * is sf-independent. */
  private def qVideoNearDupE2e(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoNearDupPairs(
        graft.operators.SyntheticMedia.videoFrame(t(s, dir, "documents")),
        Multimodal.anyVideoFrameHasher(), minSharedFrames = 2,
        maxBucket = 0)
      .orderBy(col("id_a"), col("id_b"))

  /** q121: REAL RIFF/WAVE decode + `WavCodec.afp64` end-to-end — 65-frame
    * payloads make the energy envelope per-sample, so DuckDB re-derives the
    * exact fingerprint from the amplitude function. */
  private def qAudioAfp64(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualHashes(
        graft.operators.SyntheticMedia.audioFrame(t(s, dir, "documents")),
        Multimodal.anyAudioFpHasher())
      .orderBy(col("media_id"))

  /** q122: WARC ingestion end-to-end — `SyntheticWarc` renders REAL
    * multi-record, gzip-member-per-record WARC files from the documents
    * table; `Warc.recordsFromFrame` walks them with the production parser
    * (CRLF headers, Content-Length framing, member-concatenated gzip); the
    * response-type filter drops each file's warcinfo record. DuckDB
    * re-derives URI, record id, BYTE length, and text from the table — any
    * framing slip turns the row red. */
  private def qWarcIngest(s: SparkSession, dir: String): DataFrame =
    graft.io.Warc.recordsFromFrame(
        graft.operators.SyntheticWarc.warcFrame(t(s, dir, "documents")))
      .toDF()
      .filter(col("rec_type") === "response")
      .select(col("target_uri"), col("record_id"), col("content_length"),
        col("payload").cast("string").as("text"))
      .orderBy(col("target_uri"))

  /** q123: the WET route — `conversion` records through `Warc.wetDocs`
    * (the curation pipeline's entry row: url, date, text). */
  private def qWetDocs(s: SparkSession, dir: String): DataFrame =
    graft.io.Warc.wetDocs(graft.io.Warc.recordsFromFrame(
        graft.operators.SyntheticWarc.warcFrame(t(s, dir, "documents"),
          wet = true)))
      .orderBy(col("url"))

  /** q125: REAL HTTP response captures end-to-end — `SyntheticWarc
    * .httpWarcFrame` renders `application/http; msgtype=response` records
    * whose payloads are full HTTP messages (status lines incl. 404s,
    * case-varied headers, Content-Length framing with trailing junk,
    * 13-byte chunked transfer coding with extensions and trailers, an
    * ISO-8859-1 charset body); `Warc.textDocs` parses the envelope for
    * real. DuckDB re-derives status, media type, and the decoded text from
    * `documents` in closed form — any slip in the header split, chunk walk,
    * charset decode, CL truncation, or the HTTP-level (not WARC-level)
    * media-type filter turns the row red. */
  private def qHttpResponseDocs(s: SparkSession, dir: String): DataFrame =
    graft.io.Warc.textDocs(graft.io.Warc.recordsFromFrame(
        graft.operators.SyntheticWarc.httpWarcFrame(t(s, dir, "documents"))))
      .toDF()
      .orderBy(col("url"))

  /** q130: the C4-style banned-wordlist gate — per-doc hit counts over a
    * fixed word list in ONE compiled tokenize pass (`StopCountsExpr`,
    * kernel token semantics), docs over the threshold dropped. DuckDB
    * re-derives both the count and the gate with the established
    * tokenizer; the list uses words that actually occur in the corpus so
    * the gate bites. */
  private def qBannedWordGate(s: SparkSession, dir: String): DataFrame = {
    val banned = Seq("agg", "vector", "tide")
    val hits = element_at(
      graft.functions.StopCountsExpr(
        coalesce(col("text"), lit("")), Seq(banned)), 1)
    graft.operators.Dedup.ensureParallel(t(s, dir, "documents"))
      .select(col("doc_id"),
        graft.functions.PushdownFence(hits).as("banned_hits"))
      .filter(col("banned_hits") <= 2)
      .orderBy(col("doc_id"))
  }

  /** q133: jusText main-text extraction — q128's planted page upgraded to
    * the r14 four-class scheme (stopword density + context
    * re-classification). Every rule bites somewhere on the page: the nav
    * and footer die on link density; the 4-word h1 is SHORT in a mixed
    * neighborhood (dies); the DOC TEXT's verdict is a pure integer function
    * of its word count and stopword density (variable per doc — DuckDB
    * re-derives it); the 4-word "It was so good" is rescued ONLY when the
    * doc text is GOOD on its left (its right neighbor is always good); a
    * stopword-dense long block is GOOD; two NEARGOOD blocks (one
    * [low,high)-density, one dense-but-short) are rescued by the adjacent
    * GOOD; a fluent zero-stopword sales pitch and a fluent
    * newsletter-signup NEARGOOD between BADs both die. */
  private def qJustextMainText(s: SparkSession, dir: String): DataFrame = {
    val esc = regexp_replace(regexp_replace(regexp_replace(
      coalesce(col("text"), lit("")), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val html = concat(
      lit("<html><body>" +
        "<nav><a href=\"/\">Home</a> <a>About</a> <a>Contact</a> " +
        "<a>Careers</a></nav>" +
        "<h1>Quarterly earnings report summary</h1><p>"), esc,
      lit("</p><p>It was so good</p>" +
        "<p>the cat sat on the mat and the dog lay in the sun today</p>" +
        "<p>a cat ran to the park today</p>" +
        "<p>it was the best of the worst</p>" +
        "<p>buy cheap deals now best offers sale discount here</p>" +
        "<p>please sign up for our newsletter to get the latest updates</p>" +
        "<footer><a>terms of service</a> <a>privacy policy</a></footer>" +
        "</body></html>"))
    // function words PLUS corpus-frequent words (the synthetic corpus is
    // technical word-soup with almost no English function words — jusText
    // lists are per-language/per-corpus dials, and a list the corpus never
    // hits would leave the doc-text verdict constant): 449/500 GOOD-or-
    // NEARGOOD, 33 GOOD-above-lenHigh (rescuing the short block), 51 BAD
    // at sf0.01 — every branch of the verdict function carries variance.
    // None of these words appear in the PLANTED blocks, whose verdicts
    // stay closed-form.
    val stops = Seq("the", "a", "an", "and", "of", "to", "in", "it",
      "was", "is", "for", "on", "with", "that", "join", "hash", "row",
      "batch", "scan", "column", "filter", "data")
    graft.operators.Dedup.ensureParallel(t(s, dir, "documents"))
      .select(col("doc_id"),
        graft.functions.TextFns.htmlMainTextJustext(html, 5, 500000, stops,
          10, 250000, 450000).as("text"))
      .orderBy(col("doc_id"))
  }

  /** Synthetic deterministic crawl for the link-graph rows (q135/q136):
    * page i lives at site i%23 and links (a) its site's hub page i%10 —
    * href deliberately MIXED-CASE with the default :443 port, so
    * normalization is load-bearing; (b) page (7i+1)%n via a ROOT-RELATIVE
    * href, so RFC 3986 resolution is load-bearing; (c) page (13i+5)%n on
    * the NEXT site with a tracking param and an `&amp;`-escaped separator,
    * so entity decoding and tracking-param stripping are load-bearing.
    * The DuckDB oracles re-derive the edges from these closed-form
    * formulas — the engine must arrive at the same graph through
    * extract_links → url_resolve → url_normalize. */
  private def linkCrawlPages(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.count()
    val i = col("doc_id")
    def str(c: org.apache.spark.sql.Column) = c.cast("string")
    val site = str(pmod(i, lit(23L)))
    val page = concat(lit("https://site"), site, lit(".example.com/p/"), str(i))
    val html = concat(
      lit("<html><body><h1>Page "), str(i), lit("</h1>"),
      lit("<a href=\"HTTPS://Site"), site, lit(".Example.COM:443/p/"),
      str(pmod(i, lit(10L))), lit("\">hub "), str(pmod(i, lit(10L))),
      lit("</a> <a href='/p/"), str(pmod(i * 7L + 1L, lit(n))),
      lit("'>next "), str(pmod(i, lit(7L))),
      lit("</a> <a href=\"https://site"), str(pmod(i + 1L, lit(23L))),
      lit(".example.com/p/"), str(pmod(i * 13L + 5L, lit(n))),
      lit("?utm_source=feed&amp;x="), str(pmod(i, lit(3L))),
      lit("\">cross</a></body></html>"))
    graft.operators.Dedup.ensureParallel(docs)
      .select(page.as("url"), html.as("html"))
  }

  /** q135: crawl link graph + scaled-integer PageRank — the centrality
    * prior web curation keys on (Common Crawl publishes host ranks for
    * this). Raw HTML → extract_links → url_resolve → url_normalize →
    * distinct edges → 3 PageRank iterations, every step integer-exact;
    * DuckDB re-derives the graph in closed form and unrolls the three
    * iterations as CTEs. Top-50 nodes by (rank desc, url asc). */
  private def qLinkGraphRank(s: SparkSession, dir: String): DataFrame = {
    val links = graft.operators.LinkGraph.links(
      linkCrawlPages(s, dir), "url", "html")
    graft.operators.LinkGraph.pageRank(links, iters = 3)
      .orderBy(col("pr_e12").desc, col("node"))
      .limit(50)
  }

  /** q136: anchor-text aggregation — per target URL, the top-3 anchor
    * texts by occurrence (ties: FNV-1a 64 asc, q67's hash-verified total
    * order). The strongest free-text description of a page is what OTHER
    * pages call it; this is the signal's build step. Self-links and
    * duplicate (src,dst) pairs keep — multiplicity IS the anchor count. */
  private def qAnchorTexts(s: SparkSession, dir: String): DataFrame = {
    val links = graft.operators.LinkGraph.links(
      linkCrawlPages(s, dir), "url", "html")
    graft.operators.LinkGraph.anchorTopK(links, 3)
      .orderBy(col("dst"), col("rn"))
  }

  /** q134: BM25 top-10 retrieval — the sparse-retrieval primitive
    * (decontamination-by-retrieval, seed-set mining, the lexical half of
    * hybrid search). Queries are every 37th document's first five words;
    * scoring is the quantized Lucene BM25 (exact scaled integers — see
    * [[graft.operators.Bm25]]), so DuckDB re-derives every score and the
    * full (score desc, doc_id asc) ranking bit-for-bit. */
  private def qBm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(pmod(col("doc_id"), lit(37L)) === 0L)
      .select(col("doc_id").as("q_id"),
        array_join(slice(graft.functions.TextFns.words(col("text")), 1, 5),
          " ").as("q_text"))
    graft.operators.Bm25.topK(docs, "doc_id", "text",
      queries, "q_id", "q_text", k = 10)
      .orderBy(col("q_id"), col("rn"))
  }

  /** q140: BM25 served from the PERSISTED, INCREMENTALLY-MAINTAINED index
    * — the q58/q72 degeneracy pattern applied to retrieval: the corpus
    * splits 4/5 base + 1/5 "daily batch"; the index builds over the base,
    * an [[graft.operators.Bm25.add]] admission tick folds the batch in,
    * the ticked index round-trips through its BucketedStore form (tf/dl
    * bucketed on doc_id — the serve-time length-norm join is
    * exchange-free, spec-pinned in Bm25Spec), and the search must equal
    * q134's from-scratch answer bit-for-bit — the oracle IS q134's
    * full-corpus SQL, verbatim. */
  private def qBm25Indexed(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(pmod(col("doc_id"), lit(37L)) === 0L)
      .select(col("doc_id").as("q_id"),
        array_join(slice(graft.functions.TextFns.words(col("text")), 1, 5),
          " ").as("q_text"))
    val name = "graft_q140_bm25_" +
      new java.io.File(dir).getName.replace('.', '_')
    val base = graft.operators.Bm25.buildIndex(
      docs.filter(pmod(col("doc_id"), lit(5L)) =!= 4L), "doc_id", "text")
    val ticked = graft.operators.Bm25.add(base,
      docs.filter(pmod(col("doc_id"), lit(5L)) === 4L), "text")
    // 32 buckets: the layout's parallelism dial — the serve-time scans run
    // at bucket-count parallelism by design (no exchange below them)
    ticked.save(name, nBuckets = 32)
    val loaded = graft.operators.Bm25.Bm25Index.load(s, name)
    graft.operators.Bm25.search(loaded, queries, "q_id", "q_text", k = 10)
      .orderBy(col("q_id"), col("rn"))
  }

  /** q141: the PRODUCTION hybrid — q139's fusion with both lists served
    * from persisted indexes instead of per-call corpus scans: sparse from
    * the BucketedStore BM25 index (q140's machinery), dense from the
    * saved IVF+PQ index under a PARTIAL probe (q77's machinery — Knuth
    * seed centroids, cell-partitioned parquet served under dynamic
    * partition pruning, plan-pinned in PlanAuditSpec). The oracle
    * re-derives BOTH rankings (q134's BM25 CTEs + q77's coarse-assign/
    * PQ-codes/ADC CTEs at the q-set) and the RRF fold. */
  private def qHybridServed(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val dname = new java.io.File(dir).getName.replace('.', '_')
    val queries = docs.filter(pmod(col("doc_id"), lit(37L)) === 0L)
      .select(col("doc_id").as("q_id"),
        array_join(slice(graft.functions.TextFns.words(col("text")), 1, 5),
          " ").as("q_text"))
    // SERVING semantics: the indexes are the standing artifacts — build
    // only when absent or stale. Freshness = the row count PLUS a CONTENT
    // fingerprint (bit_xor(xxhash64(id, payload)) — order-independent and
    // overflow-free under ANSI; the count covers the xor's even-
    // multiplicity blind spot), stored beside each
    // index at build), not a row count: a regenerated sf dir with the
    // same cardinality but different content under a surviving warehouse
    // must rebuild, never serve old rankings. The first call in a session
    // pays the build; every later call measures what the row claims:
    // retrieval off the persisted stores. One corpus pass prices the
    // check (the same pass the old count-only check paid).
    val bmName = s"graft_q141_bm25_$dname"
    // count AND xor-fold together: the xor alone is blind to content
    // changes of even multiplicity (identical row hashes cancel pairwise)
    val dMeta = docs.agg(count(lit(1)).as("n"),
      bit_xor(xxhash64(col("doc_id"), col("text"))).as("fp")).first()
    val (docN, docFp) = (dMeta.getLong(0), dMeta.getLong(1))
    val bmFresh = s.catalog.tableExists(s"${bmName}_fp") &&
      (try {
        val r = s.table(s"${bmName}_fp").first()
        r.getLong(0) == docN && r.getLong(1) == docFp
      } catch { case _: Exception => false }) // old-schema fp table -> rebuild
    if (!bmFresh) {
      graft.operators.Bm25.buildIndex(docs, "doc_id", "text")
        .save(bmName, nBuckets = 32)
      import s.implicits._
      graft.io.BucketedStore.save(Seq((docN, docFp)).toDF("n", "fp"),
        s"${bmName}_fp", "fp", 1)
    }
    val sparse = graft.operators.Bm25.search(
        graft.operators.Bm25.Bm25Index.load(s, bmName),
        queries, "q_id", "q_text", k = 10)
      .select(col("q_id"), col("doc_id"), col("rn").cast("long").as("r_s"))
    // the dense cache lives UNDER THE SESSION'S WAREHOUSE like the BM25
    // tables (a fixed /tmp path races concurrent sessions on one host)
    val tmp = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      .getPath.stripSuffix("/") + s"/graft_q141_ivfpq_$dname"
    val eMeta = emb.agg(count(lit(1)).as("n"),
      bit_xor(xxhash64(col("vec_id"), col("embedding"))).as("fp")).first()
    val (embN, embFp) = (eMeta.getLong(0), eMeta.getLong(1))
    val denseFresh =
      (try {
        val r = s.read.parquet(s"$tmp/fp").first()
        r.getLong(0) == embN && r.getLong(1) == embFp
      } catch { case _: Exception => false })
    if (!denseFresh) {
      val cents = Similarity.kmeansCentroids(emb, nCentroids = 16,
        iters = 0)
      Similarity.buildIvfPqIndexFrom(emb, cents, m = 4, ksub = 16,
        iters = 0).save(tmp)
      import s.implicits._
      Seq((embN, embFp)).toDF("n", "fp").write.mode("overwrite")
        .parquet(s"$tmp/fp")
    }
    val dloaded = Similarity.IvfPqIndex.load(s, tmp)
    val dense = Similarity.ivfPqSearch(dloaded,
        emb.filter(pmod(col("vec_id"), lit(37L)) === 0L), k = 10, nProbe = 1)
      .select(col("query_id").as("q_id"), col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("r_d"))
    graft.operators.Retrieval.rrfFuse(sparse, dense, k = 5)
      .orderBy(col("q_id"), col("rn"))
  }

  /** q142: crawl-frontier construction under the oracle — every stage of
    * [[graft.operators.LinkGraph.frontier]] in closed form so DuckDB
    * re-derives the ENTIRE fetch list: candidate targets (two link
    * formulas per page, half pointing past the crawled horizon) ∪ each
    * site's `Sitemap:` URL; the anti-join against the crawled set
    * (a target is crawled iff its index < N on its own host); the RFC
    * 9309 verdict (q137's starts_with algebra: prefix disallow, longer
    * allow rescues one sub-tree); the closed-form host rank; and the
    * per-host cap-5 pick by FNV-1a asc (q136's byte-exact HUGEINT FNV
    * walk re-derives the politeness ordering itself). */
  private def qFrontier(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.count()
    val i = col("doc_id")
    def str(c: org.apache.spark.sql.Column) = c.cast("string")
    val site = pmod(i, lit(23L))
    val pageUrl = concat(lit("https://s"), str(site), lit(".test/p/"),
      str(i))
    val dst1 = concat(lit("https://s"), str(site), lit(".test/p/"),
      str(pmod(i * 7L + 1L, lit(2L * n))))
    val nextSite = pmod(site + 1L, lit(23L))
    val dst2 = concat(lit("https://s"), str(nextSite), lit(".test/p/"),
      str(pmod(i * 13L + 5L, lit(2L * n))))
    val links = docs
      .select(pageUrl.as("src"), dst1.as("dst"), lit("").as("anchor"))
      .unionByName(docs
        .select(pageUrl.as("src"), dst2.as("dst"), lit("").as("anchor")))
    val crawled = docs.select(pageUrl.as("url"))
    val sites = docs.select(site.as("k")).distinct()
    // sites k % 5 != 0 advertise a FRACTIONAL Crawl-delay of (k%5).5
    // seconds (the politeness calendar's ms conversion under the oracle);
    // k % 5 == 0 sites advertise none -> fetch_after_ms NULL
    val robots = sites.select(
      concat(lit("s"), str(col("k")), lit(".test")).as("host"),
      concat(lit("User-agent: *\nDisallow: /p/"), str(col("k")),
        lit("\nAllow: /p/"), str(col("k")), str(pmod(col("k"), lit(10L))),
        when(pmod(col("k"), lit(5L)) =!= 0L,
          concat(lit("\nCrawl-delay: "), str(pmod(col("k"), lit(5L))),
            lit(".5"))).otherwise(lit("")),
        lit("\nSitemap: https://s"), str(col("k")),
        lit(".test/sitemap.xml\n")).as("robots_txt"))
    val hostRank = sites.select(
      concat(lit("s"), str(col("k")), lit(".test")).as("host"),
      ((lit(23L) - col("k")) * lit(1000000L)).as("pr_e12"))
    graft.operators.LinkGraph.frontier(links, crawled, hostRank, robots,
        agent = "graftbot", hostCap = 5)
      .orderBy(col("host"), col("rn"))
  }

  /** q143: sitemap-protocol parsing — the frontier's EXPANSION step
    * ([[graft.functions.SitemapExpr]]) under the oracle. Each doc renders
    * one of the three shipped shapes in closed form: `<urlset>` with two
    * entries (one carrying `lastmod` and an `&amp;` reference the kernel
    * must decode), `<sitemapindex>` with a nested child (kind =
    * "sitemap"), or the plain-text form with a non-URL line the parser
    * must drop. DuckDB re-derives every (pos, loc, lastmod, kind) row
    * without parsing anything — the shapes are closed-form by doc_id. */
  private def qSitemapParse(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val i = col("doc_id")
    def str(c: org.apache.spark.sql.Column) = c.cast("string")
    val k = pmod(i, lit(23L))
    val urlset = concat(
      lit("<?xml version=\"1.0\"?>\n<urlset xmlns=\"http://www.sitemaps" +
        ".org/schemas/sitemap/0.9\">\n <url>\n  <loc> https://s"), str(k),
      lit(".test/p/"), str(i), lit(" </loc>\n  <lastmod>2024-01-0"),
      str(pmod(i, lit(4L)) + 1L),
      lit("</lastmod>\n </url>\n <url><loc>https://s"), str(k),
      lit(".test/x?a="), str(i),
      lit("&amp;b=1</loc></url>\n</urlset>\n"))
    val index = concat(
      lit("<sitemapindex>\n <sitemap>\n  <loc>https://s"), str(k),
      lit(".test/sm/"), str(i),
      lit(".xml</loc>\n </sitemap>\n</sitemapindex>\n"))
    val plain = concat(
      lit("https://s"), str(k), lit(".test/t/"), str(i),
      lit("\nnot a url line\nhttps://s"), str(k), lit(".test/t2/"), str(i),
      lit("\n"))
    val body = when(pmod(i, lit(3L)) === 0L, urlset)
      .when(pmod(i, lit(3L)) === 1L, index)
      .otherwise(plain)
    Dedup.ensureParallel(docs)
      .select(col("doc_id"),
        posexplode(graft.functions.SitemapExpr(body)).as(Seq("pos", "e")))
      .select(col("doc_id"), col("pos"), col("e.loc").as("loc"),
        col("e.lastmod").as("lastmod"), col("e.kind").as("kind"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** q144: hard-negative mining — the retrieval-TRAINING data product
    * (DPR/contrastive fine-tuning needs, per query, the top-ranked
    * documents that are NOT the gold answer: confusable by the retriever,
    * clean by the labels). Queries are q134's (%37 first-5-words); the
    * gold pair is the query's own source doc (its top hit by
    * construction); `Bm25.search(excludePairs = gold)` anti-joins the
    * hit-sized score frame before the top-k heap fills, so every emitted
    * rank is a usable negative. The oracle is q134's machinery with the
    * gold exclusion injected before the ranking — rank math, scores, and
    * the exclusion all under the hash. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(pmod(col("doc_id"), lit(37L)) === 0L)
      .select(col("doc_id").as("q_id"),
        array_join(slice(graft.functions.TextFns.words(col("text")), 1, 5),
          " ").as("q_text"))
    val gold = queries.select(col("q_id"), col("q_id").as("doc_id"))
    graft.operators.Bm25.search(
        graft.operators.Bm25.buildIndex(docs, "doc_id", "text"),
        queries, "q_id", "q_text", k = 10, excludePairs = gold)
      .orderBy(col("q_id"), col("rn"))
  }

  /** q145: LEAKAGE-CONTROLLED train/val/test split — membership keys on
    * the dedup COMPONENT root (q49's clusters over the planted near-dup
    * slice), so a near-duplicate cluster lands in ONE split and a test
    * doc can never have a train twin (the silent benchmark-inflation
    * failure of plain id-hash splits). Unlabeled docs are their own
    * singleton key. The oracle composes q49's recursive closure with
    * q61's Knuth-threshold CASE applied to the key — keying, clustering,
    * and assignment all under the hash. */
  private def qSplitByComponent(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
    val labels = Dedup.jaccardComponents(docs, "doc_id", "text", n = 3,
      threshold = 0.5, blockCols = Seq("lang"))
    graft.operators.DataMix.assignSplitByComponent(
        docs.select(col("doc_id")), "doc_id",
        labels.select(col("id"), col("component")),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select(col("doc_id"), col("split_key"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** q150: the TRAINING-PAIRS product under the oracle — the exact row
    * shape `CurationJob training_pairs_output_path` publishes (sparse
    * side), composed from q144 + q145's machinery in ONE derivation:
    * gold-excluded BM25 hard negatives per sampled query JOINED to the
    * query's leakage-controlled split (keyed on its dedup cluster root).
    * The oracle re-derives the BM25 ranking (q134's CTEs + the exclusion
    * predicate), the recursive-CTE closure, the Knuth split CASE, and the
    * final join — the whole data product hashed, not just its parts. */
  private def qTrainingPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
    val queries = docs.filter(pmod(col("doc_id"), lit(37L)) === 0L)
      .select(col("doc_id").as("q_id"),
        array_join(slice(graft.functions.TextFns.words(col("text")), 1, 5),
          " ").as("q_text"))
    val gold = queries.select(col("q_id"), col("q_id").as("doc_id"))
    val neg = graft.operators.Bm25.search(
        graft.operators.Bm25.buildIndex(docs, "doc_id", "text"),
        queries, "q_id", "q_text", k = 10, excludePairs = gold)
      .select(col("q_id"), col("rn"), col("doc_id").as("neighbor_id"),
        col("score_e6"))
    val labels = Dedup.jaccardComponents(docs, "doc_id", "text", n = 3,
      threshold = 0.5, blockCols = Seq("lang"))
    val qSplit = graft.operators.DataMix.assignSplitByComponent(
        queries.select(col("q_id").as("doc_id")), "doc_id",
        labels.select(col("id"), col("component")),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select(col("doc_id").as("q_id"), col("split_key"), col("split"))
    neg.join(qSplit, Seq("q_id"))
      .select(col("q_id"), col("rn"), col("neighbor_id"), col("score_e6"),
        col("split_key"), col("split"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** q146: QUALITY-AWARE dedup survivor selection — the composites default
    * to min-id winners (cheapest deterministic choice); real curation
    * keeps the BEST duplicate (RefinedWeb keeps the longest capture of a
    * template family). `Dedup.survivorsBy` keeps each q49-cluster's
    * max-`n_chars` member (tie: min id), singletons surviving as
    * themselves; one TopK heap per component, never a corpus window. The
    * oracle composes q49's closure with a per-key (n_chars desc, id)
    * ROW_NUMBER — clustering, keying, and the winner rule all hashed. */
  private def qSurvivorsBy(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
    val labels = Dedup.jaccardComponents(docs, "doc_id", "text", n = 3,
      threshold = 0.5, blockCols = Seq("lang"))
    Dedup.survivorsBy(docs, "doc_id",
        labels.select(col("id"), col("component")), col("n_chars"))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q137: RFC 9309 robots verdicts — crawl governance (retroactive robots
    * compliance over a captured corpus; Common Crawl ships robots.txt
    * captures so consumers can do exactly this). Each host's synthetic
    * robots.txt carries a `*` group (prefix disallow + a LONGER allow that
    * rescues a sub-tree) and a `graftbot` group (its own disallow + a
    * blanket allow), plus a Sitemap line and comments; the engine must
    * select the right group per agent, apply longest-match with
    * allow-wins-ties, and DuckDB re-derives both verdict columns in
    * closed form (prefix-only rules → starts_with algebra). */
  private def qRobotsGate(s: SparkSession, dir: String): DataFrame = {
    val i = col("doc_id")
    val site = pmod(i, lit(23L))
    def str(c: org.apache.spark.sql.Column) = c.cast("string")
    val robots = concat(
      lit("# synthetic robots\nUser-agent: *\nDisallow: /p/"), str(site),
      lit("\nAllow: /p/"), str(site), str(pmod(site, lit(10L))),
      lit("\n\nUser-agent: graftbot\nDisallow: /p/"), str(site * 2L),
      lit("\nAllow: /\nSitemap: https://x.test/s.xml\n"))
    val path = concat(lit("/p/"), str(i))
    val withRules = graft.operators.Dedup.ensureParallel(
        t(s, dir, "documents"))
      .select(col("doc_id"), path.as("path"),
        graft.functions.RobotsExprs.robotsRules(robots, lit("graftbot"))
          .as("__rg"),
        graft.functions.RobotsExprs.robotsRules(robots, lit("otherbot"))
          .as("__ro"))
    withRules.select(col("doc_id"), col("path"),
      graft.functions.RobotsExprs.robotsAllowed(col("path"),
        transform(col("__rg"), x => x.getField("pattern")),
        transform(col("__rg"), x => x.getField("allow")))
        .as("allowed_graftbot"),
      graft.functions.RobotsExprs.robotsAllowed(col("path"),
        transform(col("__ro"), x => x.getField("pattern")),
        transform(col("__ro"), x => x.getField("allow")))
        .as("allowed_other"))
      .orderBy(col("doc_id"))
  }

  /** q138: connected components over the crawl's SAME-SITE link graph —
    * site-cluster / mirror-family detection, the dedup CC machinery
    * (min-label propagation with checkpointed rounds) generalized from
    * near-dup pairs to hyperlink structure. Node ids are closed-form longs
    * (site·10⁷ + pathId·10) so DuckDB's recursive closure re-derives every
    * label; the cross-site edge is deliberately excluded (it makes the
    * 23-site graph one giant component — a constant, not a signal). */
  private def qLinkComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.count()
    val i = col("doc_id")
    val site = pmod(i, lit(23L))
    val page = (site * 10000000L + i * 10L).as("id_a")
    val hub = (site * 10000000L + pmod(i, lit(10L)) * 10L).as("id_b")
    val nxt = (site * 10000000L + pmod(i * 7L + 1L, lit(n)) * 10L).as("id_b")
    val pairs = docs.select(page, hub)
      .unionByName(docs.select(page, nxt))
      .filter(col("id_a") =!= col("id_b"))
    Dedup.components(pairs)
      .select(col("id").as("node_id"), col("component"))
      .orderBy(col("node_id"))
  }

  /** q139: HYBRID retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    * of the sparse (BM25, q134) and dense (quantized cosine, q26) lists:
    * rrf_e6(q,d) = Σ_lists ⌊10⁶/(60 + rank)⌋, top-5 per query by
    * (rrf desc, doc_id asc). The modern search-stack default — each list
    * covers the other's blind spots, and the fusion needs only ranks, so
    * the integer-exact discipline carries through: DuckDB re-derives both
    * rankings AND the fused order. Doc and vector ids share the 0..N-1
    * id space (embeddings are the documents' embeddings). */
  private def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val queries = docs.filter(pmod(col("doc_id"), lit(37L)) === 0L)
      .select(col("doc_id").as("q_id"),
        array_join(slice(graft.functions.TextFns.words(col("text")), 1, 5),
          " ").as("q_text"))
    val sparse = graft.operators.Bm25.topK(docs, "doc_id", "text",
        queries, "q_id", "q_text", k = 10)
      .select(col("q_id"), col("doc_id"), col("rn").cast("long").as("r_s"))
    val dense = Similarity.bruteForceTopK(
        emb.filter(pmod(col("vec_id"), lit(37L)) === 0L), emb, k = 10)
      .select(col("query_id").as("q_id"), col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("r_d"))
    graft.operators.Retrieval.rrfFuse(sparse, dense, k = 5)
      .orderBy(col("q_id"), col("rn"))
  }

  /** q132: PER-LANGUAGE perplexity bucketing — the q89 CCNet gate the way
    * real multilingual pipelines run it (CCNet/mC4 split by language FIRST;
    * one global LM scores every minority language as gibberish): ONE job
    * trains all five languages' bigram LMs (`NgramLm.trainBigramBy` — the
    * strata ride the count-aggregate keys, no per-language loop), every doc
    * scores under ITS language's model with that language's vocabulary in
    * the smoothing denominator, and terciles are ranked WITHIN language
    * (`rankBuckets(strata = lang)`). The oracle re-derives per-lang counts,
    * vocab, every scaled log-prob, and the per-lang even-spread rule. */
  private def qPerLangPerplexity(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val lm = NgramLm.trainBigramBy(d, "text", Seq("lang"))
    val scored = NgramLm.scoreBigramBy(d, "doc_id", "text", lm)
    graft.ops.Quantiles.rankBuckets(scored, "doc_id", col("avg_nll_e6"),
        nBuckets = 3, binStep = 10000L, strata = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("avg_nll_e6"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** q131: multi-class language-ID margins — the fastText-LID serving path
    * (`Classifier.multiclassMargins` over hashed char-2/3-gram features,
    * the codegen `CharNgramBucketsExpr` kernel) with deterministic
    * e3-integer one-vs-rest weights (q85's formula extended per language),
    * plus the argmax pick with the lexicographic tie-break. The oracle
    * re-derives EVERYTHING: `substr` char n-grams, the byte-exact FNV-1a
    * HUGEINT walk, positive-mod bucketing, the weight formula, all four
    * margins per doc, and the pick. Training is spec-pinned separately
    * (bit-exact vs a local reference + true separation on a planted
    * trilingual corpus) — float-free serving is what an oracle can hash. */
  private def qLangIdMargins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = 64
    val weights = Seq("de", "en", "fr", "it").zipWithIndex.flatMap {
      case (l, li) => (0 until dim).map { b =>
        (l, b, ((li.toLong * dim + b) * 2654435761L) % 4294967296L % 2001L
          - 1000L)
      }
    }.toDF("lang", "bucket", "w_e3")
    val m = graft.operators.Classifier.multiclassMargins(
      t(s, dir, "documents"), "doc_id", "text", weights,
      nMin = 2, nMax = 3, dim = dim)
    val pick = m.groupBy(col("doc_id"))
      .agg(min(struct((-col("margin_e3")).as("n"), col("lang").as("l")))
        .as("__w"))
      .select(col("doc_id"), col("__w.l").as("__best"))
    m.join(pick, Seq("doc_id"))
      .withColumn("is_pick", col("lang") === col("__best"))
      .drop("__best")
      .orderBy(col("doc_id"), col("lang"))
  }

  /** q129: URL canonicalization — closed-form synthetic URLs covering the
    * whole rule surface (mixed-case scheme/host, default vs real ports,
    * leading/trailing/only tracking params, fragments) through the codegen
    * `UrlNormalizeExpr`/`UrlHostExpr` kernels; DuckDB re-derives the
    * canonical form and host exactly. */
  private def qUrlNormalize(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m5 = (col("doc_id") % 5).cast("string")
    val url = concat(
      lit("HTTP://Example"), m5, lit(".COM"),
      when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":8080")),
      lit("/Path/"), id,
      when(col("doc_id") % 3 === 0, concat(lit("?utm_source=x&q="), id))
        .when(col("doc_id") % 3 === 1,
          concat(lit("?q="), id, lit("&utm_campaign=y&fbclid=z")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))
    graft.operators.Dedup.ensureParallel(t(s, dir, "documents"))
      .select(col("doc_id"),
        graft.functions.UrlFns.urlNormalize(url).as("url_norm"),
        graft.functions.UrlFns.urlHost(url).as("host"))
      .orderBy(col("doc_id"))
  }

  /** q128: main-text (boilerplate-stripped) extraction — each document
    * wrapped in a page with planted boilerplate: a short title, an
    * all-link nav bar (word count PASSES so only the link-density rule
    * kills it), a 3-word heading, the content paragraph, a mixed
    * content+link paragraph (kept WITH its anchor text), an all-link
    * footer. DuckDB re-derives the kept blocks in closed form — a slip in
    * block cutting, link-char accounting, or either classification rule
    * turns the row red. */
  private def qHtmlMainText(s: SparkSession, dir: String): DataFrame = {
    val esc = regexp_replace(regexp_replace(regexp_replace(
      coalesce(col("text"), lit("")), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val html = concat(
      lit("<html><head><title>graft capture</title>" +
        "<style>nav { color: red; }</style></head><body>" +
        "<nav><a href=\"/\">Home</a> <a>About</a> <a>Contact</a> " +
        "<a>Careers</a> <a>Blog</a> <a>Press</a></nav>" +
        "<h1>A short head</h1><p>"), esc,
      lit("</p><p>Read the full story at <a>this link</a> now please</p>" +
        "<footer><a>terms of service</a> <a>privacy policy notice</a>" +
        "</footer></body></html>"))
    graft.operators.Dedup.ensureParallel(t(s, dir, "documents"))
      .select(col("doc_id"),
        graft.functions.TextFns.htmlMainText(html).as("text"))
      .orderBy(col("doc_id"))
  }

  /** q127: the maintained signature store ACROSS TICKS under the driver's
    * hash compare — the multi-tick twin of q78's closure discipline (r12
    * verdict #7). Three real `MediaCurationJob` runs against one store:
    * tick t1 seeds it, t2 admits against t1's published survivors and then
    * COMPACTS t1 into the reserved fold partition (store_keep_ticks=1), t3
    * admits against the post-fold store (`SignatureStore.readExcluding`
    * walking `tick=__folded__` rows by src_tick + t2's live partition).
    * DuckDB re-derives all three survivor sets in closed form — the
    * admission chain composes, so a fold that lost/duplicated-wrong rows,
    * an exclusion slip, or a store read past the compare turns the row
    * red. The query itself also REQUIRES the fold physically happened
    * (t1's partition gone, `__folded__` present). */
  private def qMediaStoreTicks(s: SparkSession, dir: String): DataFrame = {
    // doc_id < 2000 (the q55/q124 convention): the row pins STORE SEMANTICS
    // — fold, exclusion, composed admission — which are corpus-size
    // invariant; the store's scale story is the 500k-image receipt family
    val media = graft.operators.SyntheticMedia.mediaFrame(
        t(s, dir, "documents").filter(col("doc_id") < 2000))
      .localCheckpoint(eager = true) // synthesize once, feed three ticks
    val g5 = expr("media_id div 40") % 5
    val tmp = java.nio.file.Files.createTempDirectory("graft_q127").toString
    val store = s"$tmp/store"
    def tick(name: String, m: DataFrame, keepTicks: Int): DataFrame = {
      m.write.parquet(s"$tmp/$name/in")
      val keep = if (keepTicks > 0) s""", "store_keep_ticks": $keepTicks""" else ""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/$name/cfg.json"),
        s"""{"media_path": "$tmp/$name/in", "output_path": "$tmp/$name/out",
           | "modality": "image", "max_hamming": 8,
           | "store_path": "$store", "tick_id": "$name"$keep}"""
          .stripMargin.replace("\n", " "))
      graft.jobs.MediaCurationJob.run(s, s"$tmp/$name/cfg.json")
      s.read.parquet(s"$tmp/$name/out/media").select(col("media_id"))
    }
    val t1 = tick("t1", media.filter(g5 === 1 || g5 === 2), 0)
    val t2 = tick("t2", media.filter(g5 === 3 || g5 === 4), keepTicks = 1)
    // the fold must have physically happened before t3 probes the store
    val storePath = new org.apache.hadoop.fs.Path(store)
    val fs = storePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(storePath,
        s"tick=${graft.io.SignatureStore.FoldedTick}")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(storePath, "tick=t1")),
      "q127 store did not compact t1 into the fold partition")
    val t3 = tick("t3", media.filter(g5 === 0), 0)
    graft.operators.Dedup.release(media)
    val out = t1.withColumn("tick", lit(1))
      .unionByName(t2.withColumn("tick", lit(2)))
      .unionByName(t3.withColumn("tick", lit(3)))
      .select(col("tick"), col("media_id"))
      .orderBy(col("tick"), col("media_id"))
      // pin the (survivor-bounded) result so the run's temp tree — three
      // tick lakes with payload blobs — can be deleted NOW instead of
      // leaking one tree per verify/bench invocation
      .localCheckpoint(eager = true)
    def rmTree(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rmTree)
      f.delete(); ()
    }
    rmTree(new java.io.File(tmp))
    out
  }

  /** q126: HTML→text extraction — closed-form synthetic HTML wrapped around
    * each document (DOCTYPE, title with numeric character references, style
    * and script elements whose raw text contains fake tags and a bare `<`,
    * a comment hiding markup, a quoted attribute containing `>`, the
    * entity-escaped document text, `&nbsp;`), stripped by the codegen
    * `HtmlToTextExpr` kernel. DuckDB re-derives the expected text in closed
    * form — any slip in raw-text skipping, comment/declaration dropping,
    * quote-aware tag scan, entity decode, or whitespace collapse turns the
    * row red. */
  private def qHtmlToText(s: SparkSession, dir: String): DataFrame = {
    val esc = regexp_replace(regexp_replace(regexp_replace(
      coalesce(col("text"), lit("")), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), id,
      lit(" &#68;&#x6f;c</title>" +
        "<style type=\"text/css\">body { color: #fff; } p > a { x: y; }</style>" +
        "<script>if (1 < 2) { document.write(\"<p>not text</p>\"); }</script>" +
        "</head>\n<body><!-- comment <p>ghost</p> -->" +
        "<h1 class=\"t\" data-x=\"a>b\">Doc &amp; "), id,
      lit("</h1>\n<p>"), esc,
      lit("</p>&nbsp;<a href='x>y'>end</a></body></html>"))
    // few-file guard: the extraction kernel must not run at file-count
    // parallelism on a 2-file corpus (ParallelismAudit contract)
    graft.operators.Dedup.ensureParallel(t(s, dir, "documents"))
      .select(col("doc_id"),
        graft.functions.TextFns.htmlToText(html).as("text"))
      .orderBy(col("doc_id"))
  }

  /** q124: the df-ordered (rarest-first) prefix route under the driver's
    * hash compare — the flood-adaptive machinery was spec-only. A
    * LOW-DIVERSITY corpus is synthesized in closed form (8-stem vocabulary,
    * 25 near-dup groups, one doc-unique trailing marker — the shape that
    * makes hash-ordered prefixes quadratic), the route is FORCED via the
    * dial (the conf is read eagerly at operator construction, inside the
    * restore window), and DuckDB re-derives the same text and brute-forces
    * exact Jaccard truth. Any slip in the df encoding, the prefix rebuild,
    * or the candidate-superset proof under the reordering turns the row
    * red. */
  private def qFloodDedupDfRoute(s: SparkSession, dir: String): DataFrame = {
    val prior = s.conf.getOption(Dedup.FloodAvgBucketKey)
    s.conf.set(Dedup.FloodAvgBucketKey, "0") // force the df-ordered route
    try {
      import s.implicits._
      val stems = Array("alpha", "beta", "gamma", "delta",
        "epsil", "zeta", "eta", "theta")
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).filter(col("doc_id") < 2000)
        .as[Long].map { d =>
          val pert = (d / 25) % 60
          val words = (0 until 60).map { i =>
            val bump = if (i.toLong == pert) d % 97 else 0L
            stems(((d % 25 * 7 + i * 3 + bump) % 8).toInt)
          }
          (d, words.mkString(" ") + s" d$d")
        }.toDF("doc_id", "text")
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8, Nil)
        .orderBy(col("id_a"), col("id_b"))
    } finally prior match {
      case Some(p) => s.conf.set(Dedup.FloodAvgBucketKey, p)
      case None => s.conf.unset(Dedup.FloodAvgBucketKey)
    }
  }

  /** q134/q140/q144 shared oracle machinery: quantized Lucene BM25
    * re-derived end to end over the FULL corpus. One SQL body, an
    * injectable pre-ranking filter: "" pins the plain top-k (q134
    * from-scratch == q140 indexed+ticked, bit-for-bit); the
    * gold-exclusion predicate pins hard-negative mining (q144). */
  private def bm25RankedSql(scFilter: String): String =
    bm25TopkSqlBody.replace("FROM sc__FILTER__", s"FROM sc$scFilter")

  private lazy val bm25TopkSql: String = bm25RankedSql("")

  /** q154 oracle: q134's BM25 ranking CTEs with the final top-k SELECT
    * swapped for the retrieval-quality fold — gold = each query doc plus
    * its id-adjacent corpus neighbors, metrics in exact e6 integers. The
    * DCG discount table and its prefix sums come from
    * [[graft.operators.Retrieval.discountsE6]] — the SAME constants the
    * Spark plan carries, interpolated as VALUES rows (the contract is the
    * table, not a per-engine log). */
  private lazy val retrievalEvalSql: String = {
    val disc = graft.operators.Retrieval.discountsE6(10)
    val prefix = disc.scanLeft(0L)(_ + _).tail
    val discRows = disc.zipWithIndex
      .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
    val pfxRows = prefix.zipWithIndex
      .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
    // the footer re-opens the WITH list the ranked CTE closed, hence the
    // leading comma
    val footer =
      s""", hitsk AS (
         |  SELECT q_id, doc_id, CAST(rn AS BIGINT) AS rnk
         |  FROM ranked WHERE rn <= 10),
         |gold AS (
         |  SELECT qd.q_id, qd.q_id + dd.d AS doc_id
         |  FROM (SELECT doc_id AS q_id FROM documents WHERE doc_id % 37 = 0)
         |    qd, (VALUES (-1), (0), (1)) AS dd(d)
         |  WHERE EXISTS (SELECT 1 FROM documents x
         |                WHERE x.doc_id = qd.q_id + dd.d)),
         |disc AS (SELECT r, CAST(disc_e6 AS BIGINT) AS disc_e6
         |         FROM (VALUES $discRows) AS t(r, disc_e6)),
         |pfx AS (SELECT m, CAST(idcg_e6 AS BIGINT) AS idcg_e6
         |        FROM (VALUES $pfxRows) AS t(m, idcg_e6)),
         |rel AS (
         |  SELECT h.q_id, h.rnk FROM hitsk h
         |  JOIN gold g ON g.q_id = h.q_id AND g.doc_id = h.doc_id),
         |ragg AS (
         |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS hits_at_k,
         |    MIN(rnk) AS minr, CAST(SUM(d.disc_e6) AS BIGINT) AS dcg
         |  FROM rel JOIN disc d ON d.r = rel.rnk GROUP BY q_id),
         |gagg AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_gold
         |         FROM gold GROUP BY q_id)
         |SELECT g.q_id, g.n_gold,
         |  CAST(COALESCE(r.hits_at_k, 0) AS BIGINT) AS hits_at_k,
         |  (1000000 * COALESCE(r.hits_at_k, 0)) // g.n_gold AS recall_e6,
         |  CAST(COALESCE(1000000 // r.minr, 0) AS BIGINT) AS mrr_e6,
         |  (1000000 * COALESCE(r.dcg, 0))
         |    // p.idcg_e6 AS ndcg_e6
         |FROM gagg g LEFT JOIN ragg r USING (q_id)
         |JOIN pfx p ON p.m = least(g.n_gold, 10)
         |ORDER BY g.q_id""".stripMargin
    bm25RankedSql("").replace(
      "SELECT q_id, rn, doc_id, score_e6, n_terms FROM ranked\n" +
        "WHERE rn <= 10 ORDER BY q_id, rn",
      footer)
  }

  private val bm25TopkSqlBody: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(ws) AS token FROM toks)
      |  GROUP BY doc_id, token),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY doc_id),
      |st AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
      |              (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS tot),
      |av AS (SELECT (1000 * tot) // n AS avgdl_e3 FROM st),
      |q AS (SELECT doc_id AS q_id, unnest(list_distinct(ws[1:5])) AS token
      |      FROM toks WHERE doc_id % 37 = 0),
      |dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
      |        WHERE token IN (SELECT token FROM q) GROUP BY token),
      |idf AS (SELECT token,
      |    CAST(round(ln(((SELECT CAST(n AS DOUBLE) FROM st) - df + 0.5)
      |      / (df + 0.5) + 1.0) * 1000000.0) AS BIGINT) AS idf_e6
      |  FROM dfq),
      |nrm AS (SELECT doc_id,
      |    250000 + (750000000 * dl) // (SELECT avgdl_e3 FROM av) AS norm_e6
      |  FROM dl),
      |hits AS (
      |  SELECT q.q_id, tf.doc_id,
      |    (idf.idf_e6 * tf.tf * 2200)
      |      // (1000 * tf.tf + (1200 * nrm.norm_e6) // 1000000) AS term_e6
      |  FROM tf JOIN q USING (token) JOIN idf USING (token)
      |  JOIN nrm ON nrm.doc_id = tf.doc_id),
      |sc AS (
      |  SELECT q_id, doc_id, CAST(SUM(term_e6) AS BIGINT) AS score_e6,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms
      |  FROM hits GROUP BY q_id, doc_id),
      |ranked AS (
      |  SELECT q_id, doc_id, score_e6, n_terms,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY score_e6 DESC, doc_id) AS INT) AS rn
      |  FROM sc__FILTER__)
      |SELECT q_id, rn, doc_id, score_e6, n_terms FROM ranked
      |WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin

  /** q141 oracle: the BM25 CTEs (bm25TopkSql's machinery, k = 10) + the
    * IVF+PQ ADC CTEs (q77's machinery re-keyed to the %37 query set,
    * nProbe = 1, k = 10) + q139's RRF fold over the two rank lists. */
  private val hybridServedSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(ws) AS token FROM toks)
      |  GROUP BY doc_id, token),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY doc_id),
      |st AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
      |              (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS tot),
      |av AS (SELECT (1000 * tot) // n AS avgdl_e3 FROM st),
      |q AS (SELECT doc_id AS q_id, unnest(list_distinct(ws[1:5])) AS token
      |      FROM toks WHERE doc_id % 37 = 0),
      |dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
      |        WHERE token IN (SELECT token FROM q) GROUP BY token),
      |idf AS (SELECT token,
      |    CAST(round(ln(((SELECT CAST(n AS DOUBLE) FROM st) - df + 0.5)
      |      / (df + 0.5) + 1.0) * 1000000.0) AS BIGINT) AS idf_e6
      |  FROM dfq),
      |nrm AS (SELECT doc_id,
      |    250000 + (750000000 * dl) // (SELECT avgdl_e3 FROM av) AS norm_e6
      |  FROM dl),
      |bhits AS (
      |  SELECT q.q_id, tf.doc_id,
      |    (idf.idf_e6 * tf.tf * 2200)
      |      // (1000 * tf.tf + (1200 * nrm.norm_e6) // 1000000) AS term_e6
      |  FROM tf JOIN q USING (token) JOIN idf USING (token)
      |  JOIN nrm ON nrm.doc_id = tf.doc_id),
      |sc AS (
      |  SELECT q_id, doc_id, CAST(SUM(term_e6) AS BIGINT) AS score_e6
      |  FROM bhits GROUP BY q_id, doc_id),
      |sparse AS (
      |  SELECT q_id, doc_id, rn FROM (
      |    SELECT q_id, doc_id,
      |      CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rn
      |    FROM sc) WHERE rn <= 10),
      |dq AS (
      |  SELECT vec_id, list_transform(embedding, x ->
      |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS cv
      |  FROM embeddings),
      |dn AS (
      |  SELECT vec_id, cv,
      |    sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)) AS nrm
      |  FROM dq),
      |coarse AS (
      |  SELECT vec_id AS coarse_id, cv AS coarse_v, nrm AS coarse_n FROM dn
      |  ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
      |assign AS (
      |  SELECT vec_id, coarse_id AS cell FROM (
      |    SELECT v.vec_id, c.coarse_id,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
      |        ROUND(CAST(list_sum(list_transform(range(1, len(v.cv) + 1),
      |            i -> v.cv[i] * c.coarse_v[i])) AS DOUBLE) /
      |          (v.nrm * c.coarse_n), 6) DESC, c.coarse_id) AS rk
      |    FROM dn v CROSS JOIN coarse c) WHERE rk = 1),
      |seeds AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY (vec_id * 2654435761) % 4294967296,
      |      vec_id) - 1 AS centroid_id, cv
      |  FROM dq ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
      |sub AS (SELECT * FROM (VALUES (0, 1, 16), (1, 17, 16), (2, 33, 16),
      |  (3, 49, 16)) AS t(s, off, len)),
      |books AS (
      |  SELECT r.s, sd.centroid_id,
      |    list_slice(sd.cv, r.off, r.off + r.len - 1) AS centv,
      |    list_sum(list_transform(list_slice(sd.cv, r.off, r.off + r.len - 1),
      |      x -> x * x)) AS centn2
      |  FROM seeds sd CROSS JOIN sub r),
      |cand AS (
      |  SELECT v.vec_id, b.s, b.centroid_id,
      |    b.centn2 - 2 * list_sum(list_transform(range(1, r.len + 1), i ->
      |      list_slice(v.cv, r.off, r.off + r.len - 1)[i] * b.centv[i])) AS d2
      |  FROM dq v CROSS JOIN sub r JOIN books b ON b.s = r.s),
      |codes AS (
      |  SELECT vec_id, s, centroid_id AS code FROM (
      |    SELECT vec_id, s, centroid_id,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, s
      |        ORDER BY d2, centroid_id) AS rn
      |    FROM cand) WHERE rn = 1),
      |dqueries AS (
      |  SELECT dn.vec_id AS query_id, dn.cv,
      |    sqrt(CAST(list_sum(list_transform(dn.cv, x -> x * x)) AS DOUBLE)) AS qn,
      |    a.cell AS probe_cell
      |  FROM dn JOIN assign a USING (vec_id) WHERE dn.vec_id % 37 = 0),
      |dhits AS (
      |  SELECT qu.query_id, qu.qn, c.vec_id AS neighbor_id,
      |    SUM(list_sum(list_transform(range(1, r.len + 1), i ->
      |      list_slice(qu.cv, r.off, r.off + r.len - 1)[i] * b.centv[i])))
      |      AS num,
      |    SUM(b.centn2) AS cn2
      |  FROM codes c
      |  JOIN assign a ON a.vec_id = c.vec_id
      |  JOIN sub r ON r.s = c.s
      |  JOIN books b ON b.s = c.s AND b.centroid_id = c.code
      |  JOIN dqueries qu ON a.cell = qu.probe_cell
      |  WHERE qu.query_id != c.vec_id
      |  GROUP BY 1, 2, 3),
      |dpairs AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(num AS DOUBLE) / (qn * sqrt(CAST(cn2 AS DOUBLE))) AS cosine
      |  FROM dhits),
      |dense AS (
      |  SELECT query_id AS q_id, neighbor_id AS doc_id, rn FROM (
      |    SELECT query_id, neighbor_id,
      |      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY round(cosine, 6) DESC, neighbor_id) AS BIGINT) AS rn
      |    FROM dpairs) WHERE rn <= 10),
      |fused AS (
      |  SELECT COALESCE(s.q_id, d.q_id) AS q_id,
      |    COALESCE(s.doc_id, d.doc_id) AS doc_id,
      |    COALESCE(1000000 // (60 + s.rn), 0)
      |      + COALESCE(1000000 // (60 + d.rn), 0) AS rrf_e6
      |  FROM sparse s FULL OUTER JOIN dense d
      |    ON s.q_id = d.q_id AND s.doc_id = d.doc_id),
      |ranked AS (
      |  SELECT q_id, doc_id, rrf_e6,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY rrf_e6 DESC, doc_id) AS INT) AS rn
      |  FROM fused)
      |SELECT q_id, rn, doc_id, rrf_e6 FROM ranked
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000.0) AS BIGINT)) AS DOUBLE)/10000.0 AS sum_disc_price,
        |  SUM(l_quantity)/COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT o_orderkey,
        |  CAST(CAST(ROUND(o_totalprice*100) AS BIGINT) AS DOUBLE)/100.0 AS total_2dp,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 150000
        |ORDER BY o_orderkey""".stripMargin,
    "q03_broadcast_join" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000.0) AS BIGINT)) AS DOUBLE)/10000.0 AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q04_multiway_join" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000.0) AS BIGINT)) AS DOUBLE)/10000.0 AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q06_topk_orders" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(ROUND(o_totalprice*100) AS BIGINT) AS DOUBLE)/100.0 AS total_2dp
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q07_topk_per_group" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(ROUND(l_extendedprice*100) AS BIGINT) AS DOUBLE)/100.0 AS price_2dp, rn
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |        ORDER BY l_extendedprice DESC, l_linenumber) AS rn FROM lineitem)
        |WHERE rn <= 3 ORDER BY l_orderkey, rn""".stripMargin,
    "q08_running_sum" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS running_cents
        |FROM events ORDER BY event_id""".stripMargin,
    "q09_pivot_wide" ->
      """SELECT l_linestatus,
        |  COALESCE(SUM(l_quantity) FILTER (WHERE l_returnflag='A'), 0) AS qty_a,
        |  COALESCE(SUM(l_quantity) FILTER (WHERE l_returnflag='N'), 0) AS qty_n,
        |  COALESCE(SUM(l_quantity) FILTER (WHERE l_returnflag='R'), 0) AS qty_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q10_unpivot_long" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
        |    FROM lineitem WHERE l_orderkey < 500
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem WHERE l_orderkey < 500
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem WHERE l_orderkey < 500
        |) ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "q11_time_spine_align" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |    TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hour),
        |agg AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    COUNT(*) AS n, CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1)
        |SELECT s.hour, COALESCE(a.n, 0) AS n_events, COALESCE(a.c, 0) AS value_cents
        |FROM spine s LEFT JOIN agg a ON s.hour = a.hour ORDER BY s.hour""".stripMargin,
    "q12_resample_right_closed" ->
      """WITH b AS (
        |  SELECT make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))
        |    + (900000000 - epoch_us(CAST(ts AS TIMESTAMP)) % 900000000) % 900000000) AS bucket,
        |    event_type, value
        |  FROM events)
        |SELECT bucket, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM b GROUP BY bucket, event_type ORDER BY bucket, event_type""".stripMargin,
    "q13_cleanse_impute" ->
      """WITH c AS (
        |  SELECT event_id, event_type,
        |    make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))
        |      + (3600000000 - epoch_us(CAST(ts AS TIMESTAMP)) % 3600000000) % 3600000000) AS hour,
        |    CASE WHEN value > 400 OR value < 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |w AS (
        |  SELECT event_id, v,
        |    CAST(SUM(CAST(ROUND(v*100) AS BIGINT)) OVER (PARTITION BY event_type, hour) AS DOUBLE)
        |      / (100.0 * COUNT(v) OVER (PARTITION BY event_type, hour)) AS group_mean
        |  FROM c)
        |SELECT event_id, COALESCE(v, group_mean) AS v_filled,
        |  v IS NULL AS was_imputed
        |FROM w ORDER BY event_id""".stripMargin,
    "q14_knn_spatial" ->
      """WITH cust AS (
        |  SELECT c_custkey AS id, CAST(c_custkey % 171 AS DOUBLE) - 85.0 AS lat,
        |    CAST((c_custkey * 7) % 341 AS DOUBLE) - 170.0 AS lon FROM customer),
        |supp AS (
        |  SELECT s_suppkey AS id, CAST(s_suppkey % 171 AS DOUBLE) - 85.0 AS lat,
        |    CAST((s_suppkey * 13) % 341 AS DOUBLE) - 170.0 AS lon
        |  FROM supplier WHERE s_suppkey <= 40),
        |pairs AS (
        |  SELECT c.id AS c_custkey, s.id AS s_suppkey,
        |    acos(greatest(least(
        |      sin(radians(c.lat))*sin(radians(s.lat)) +
        |      cos(radians(c.lat))*cos(radians(s.lat))*cos(radians(s.lon)-radians(c.lon)),
        |      1.0), -1.0)) * 6371.0 AS dist_km
        |  FROM cust c JOIN supp s ON c.id != s.id),
        |ranked AS (
        |  SELECT c_custkey, s_suppkey, dist_km,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey
        |      ORDER BY round(dist_km, 6), s_suppkey) AS rank
        |  FROM pairs WHERE dist_km <= 5000.0)
        |SELECT c_custkey, s_suppkey, round(dist_km, 3) AS dist_km_3dp, rank
        |FROM ranked WHERE rank <= 3 ORDER BY c_custkey, rank""".stripMargin,
    "q15_series_id" ->
      """SELECT lang, source,
        |  sha256(concat_ws(':', 'curw_fcst', lang, source)) AS tms_id
        |FROM (SELECT DISTINCT lang, source FROM documents)
        |ORDER BY lang, source""".stripMargin,
    "q16_string_ops" ->
      """SELECT event_id,
        |  concat_ws('_', 'rf', user_id, event_type) AS grid_id,
        |  CAST(string_split(concat_ws('_', 'rf', user_id, event_type), '_')[2] AS BIGINT) AS parsed_user,
        |  printf('%.6f', CAST(user_id AS DOUBLE) / 7.0) AS coord_6dp
        |FROM events ORDER BY event_id""".stripMargin,
    "q17_time_funcs" ->
      """SELECT event_id,
        |  strftime(make_timestamp(epoch_us(CAST(ts AS TIMESTAMP)) + 19800000000),
        |    '%Y-%m-%d %H:%M:%S') AS sl_time,
        |  minute(CAST(ts AS TIMESTAMP)) AS min_of_hour,
        |  (minute(CAST(ts AS TIMESTAMP)) % 15 = 0 AND
        |   second(CAST(ts AS TIMESTAMP)) = 0) AS on_quarter
        |FROM events ORDER BY event_id""".stripMargin,
    "q18_last_row_patch" ->
      """SELECT user_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS last_time,
        |  CASE WHEN value > 300 THEN 0.0 ELSE value END AS patched_value
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q19_neighbor_coalesce" ->
      """WITH v AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN value < 50 THEN NULL
        |         ELSE CAST(ROUND(value*100) AS BIGINT) END AS v
        |  FROM events)
        |SELECT event_id,
        |  COALESCE(v, LAG(v, 1) OVER w, LAG(v, 2) OVER w) AS filled_cents
        |FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "q20_union_distinct" ->
      """SELECT DISTINCT k FROM (
        |  SELECT event_type AS k FROM events
        |  UNION ALL SELECT o_orderstatus FROM orders)
        |ORDER BY k""".stripMargin,
    "q21_weighted_fold" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(p_retailprice*100) AS BIGINT)) AS DOUBLE)/100.0
        |    AS weighted_value,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q22_dedup_exact" ->
      """SELECT sha256(lower(trim(text))) AS content_sha,
        |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_sha""".stripMargin,
    "q23_dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents WHERE doc_id < 2000),
        |sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |SELECT id_a, id_b, jaccard FROM pairs
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // The last four hash-internal rows, oracle'd by re-deriving the engine's
    // xxhash64/splitmix chains in INT128 SQL (OracleHashSql — the q93/q94
    // pattern generalized); the containment twins q55/q58/q59/q60 remain as
    // independent invariant rows.
    "q24_dedup_minhash_lsh" -> OracleHashSql.q24MinhashLsh,
    "q25_dedup_simhash" -> OracleHashSql.q25Simhash,
    "q43_ann_ivf_topk" -> OracleHashSql.q43AnnIvf,
    "q46_embedding_dedup_lsh" -> OracleHashSql.q46EmbeddingDedupLsh,
    "q26_ann_cosine_topk" -> bruteForceAnnSql,
    // probing every IVF cell must reproduce brute force EXACTLY (see qIvfFullProbe)
    "q58_ivf_full_probe" -> bruteForceAnnSql,
    "q27_text_quality" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / CAST(len(ws) AS DOUBLE)
        |    AS mean_word_len,
        |  CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and','is'], w))) AS DOUBLE)
        |    / CAST(len(ws) AS DOUBLE) AS stop_ratio
        |FROM toks ORDER BY doc_id""".stripMargin,
    "q28_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and','is'], w))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(ws, w -> list_contains(['der','die','und','das','ist'], w))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(ws, w -> list_contains(['el','la','y','que','es'], w))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(ws, w -> list_contains(['le','la','et','les','est'], w))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(ws, w -> list_contains(['的','是','了'], w))) AS BIGINT) AS s_zh
        |  FROM toks)
        |SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
        |  CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM scores ORDER BY doc_id""".stripMargin,
    "q29_token_count" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT))
        |    AS BIGINT) AS total_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q30_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  sha256(array_to_string(list_sort(list_distinct(ws)), ' ')) AS fingerprint
        |FROM toks ORDER BY doc_id""".stripMargin,
    "q31_embedding_dedup" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(range(1, len(a.embedding) + 1), i ->
        |      CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(b.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE) /
        |    (sqrt(CAST(list_sum(list_transform(range(1, len(a.embedding) + 1), i ->
        |      CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)) *
        |     sqrt(CAST(list_sum(list_transform(range(1, len(b.embedding) + 1), i ->
        |      CAST(ROUND(CAST(b.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(b.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)))
        |      AS cosine
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine_6dp FROM pairs
        |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    "q32_sessionize" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) -
        |      LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |n AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM g)
        |SELECT event_id, user_id,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM n ORDER BY event_id""".stripMargin,
    "q33_mike_pipeline" ->
      """WITH res AS (
        |  SELECT make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))
        |      + (3600000000 - epoch_us(CAST(ts AS TIMESTAMP)) % 3600000000) % 3600000000) AS bucket,
        |    event_type,
        |    COALESCE(SUM(CAST(ROUND(
        |      (CASE WHEN value > 450 OR value < 0 THEN NULL ELSE value END) * 100)
        |      AS BIGINT)), 0) AS c
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 01:00:00',
        |    TIMESTAMP '2024-01-31 00:00:00', INTERVAL 1 HOUR)) AS bucket),
        |types AS (
        |  SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
        |grid AS (SELECT s.bucket, t.event_type FROM spine s CROSS JOIN types t),
        |aligned AS (
        |  SELECT g.bucket, g.event_type, r.c
        |  FROM grid g LEFT JOIN res r ON g.bucket = r.bucket AND g.event_type = r.event_type),
        |imputed AS (
        |  SELECT bucket, event_type,
        |    CAST(ROUND(COALESCE(CAST(c AS DOUBLE),
        |      CAST(SUM(c) OVER (PARTITION BY bucket) AS DOUBLE) /
        |      CAST(COUNT(c) OVER (PARTITION BY bucket) AS DOUBLE))) AS BIGINT) AS filled_c
        |  FROM aligned),
        |folded AS (
        |  SELECT bucket,
        |    CASE WHEN event_type IN ('click','view') THEN 'engagement'
        |         ELSE 'conversion' END AS catchment,
        |    SUM((CASE WHEN event_type = 'purchase' THEN 20
        |              WHEN event_type = 'error' THEN 5 ELSE 10 END) * filled_c) AS wc
        |  FROM imputed GROUP BY 1, 2)
        |SELECT bucket,
        |  CAST(SUM(wc) FILTER (WHERE catchment = 'conversion') AS DOUBLE)/1000.0 AS conversion,
        |  CAST(SUM(wc) FILTER (WHERE catchment = 'engagement') AS DOUBLE)/1000.0 AS engagement
        |FROM folded GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q34_scan_stats" ->
      """SELECT COUNT(*) AS n_rows,
        |  strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship,
        |  strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
        |  COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,
    "q35_asof_prior" ->
      """SELECT event_id, user_id,
        |  strftime(make_timestamp(
        |    MAX(CASE WHEN event_type = 'purchase'
        |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |    '%Y-%m-%d %H:%M:%S') AS prior_purchase_time
        |FROM events ORDER BY event_id""".stripMargin,
    "q36_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q37_scalar_subquery" ->
      """SELECT o_orderkey,
        |  CAST(CAST(ROUND(o_totalprice*100) AS BIGINT) AS DOUBLE)/100.0 AS total_2dp
        |FROM orders
        |WHERE CAST(CAST(ROUND(o_totalprice*100) AS BIGINT) AS DOUBLE) >
        |  (SELECT CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)
        |     / CAST(COUNT(*) AS DOUBLE) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q38_set_ops" ->
      """SELECT nk, kind FROM (
        |  SELECT nk, 'both' AS kind FROM
        |    (SELECT c_nationkey AS nk FROM customer
        |     INTERSECT SELECT s_nationkey FROM supplier)
        |  UNION ALL
        |  SELECT nk, 'customers_only' AS kind FROM
        |    (SELECT c_nationkey AS nk FROM customer
        |     EXCEPT SELECT s_nationkey FROM supplier))
        |ORDER BY kind, nk""".stripMargin,
    "q39_json_extract" ->
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q40_date_parts" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS d,
        |  CAST(dayofweek(o_orderdate) AS BIGINT) AS dow_sun0
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,
    "q41_try_cast" ->
      """SELECT event_id, s, TRY_CAST(s AS BIGINT) AS parsed FROM (
        |  SELECT event_id,
        |    CASE WHEN event_id % 2 = 0 THEN CAST(user_id AS VARCHAR)
        |         ELSE event_type END AS s
        |  FROM events)
        |ORDER BY event_id""".stripMargin,
    "q42_curation_pipeline" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0)) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> list_contains(['the','a','of','and','is'], w))) AS BIGINT) AS stop_cnt,
        |    sha256(lower(trim(text))) AS sha
        |  FROM documents),
        |filtered AS (SELECT * FROM base WHERE n_words >= 20),
        |dedup AS (
        |  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY sha
        |    ORDER BY doc_id) AS rn FROM filtered) WHERE rn = 1),
        |scored AS (
        |  SELECT doc_id, lang, n_words,
        |    CAST(stop_cnt * 10000 AS DOUBLE) / CAST(n_words AS DOUBLE) AS score
        |  FROM dedup),
        |ranked AS (
        |  SELECT lang, doc_id, n_words, score,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY score ASC, n_words DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT lang, rank, doc_id, n_words, score
        |FROM ranked WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "q44_rolling_window" ->
      """SELECT event_id, event_type,
        |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) OVER (
        |    PARTITION BY event_type ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_1h_cents
        |FROM events ORDER BY event_id""".stripMargin,
    "q45_median_argmax" ->
      """SELECT event_type,
        |  quantile_cont(CAST(ROUND(value*100) AS BIGINT), 0.5) AS median_cents,
        |  MAX(CAST(ROUND(value*100) AS BIGINT) * 10000000 + event_id) % 10000000
        |    AS top_event_id,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q47_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 3),
        |    i -> array_to_string(ws[i:i+4], ' ')))) AS g
        |  FROM toks WHERE len(ws) >= 5),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        |hits AS (
        |  SELECT doc_id, COUNT(*) AS shared_ngrams
        |  FROM grams JOIN bench USING (g) WHERE doc_id % 97 <> 0 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(h.shared_ngrams, 0) AS BIGINT) AS shared_ngrams,
        |  COALESCE(h.shared_ngrams, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin,
    "q48_repetition_quality" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, ws,
        |    CASE WHEN len(ws) >= 2 THEN
        |      list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END AS bgs
        |  FROM toks),
        |cnt AS (
        |  SELECT doc_id, g, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(bgs) AS g FROM bg) GROUP BY doc_id, g),
        |top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n FROM cnt GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(len(b.ws) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(b.ws)) AS BIGINT) AS n_distinct_words,
        |  CAST(len(b.bgs) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(t.top_bigram_n, 0) AS BIGINT) AS top_bigram_n
        |FROM bg b LEFT JOIN top t USING (doc_id) ORDER BY b.doc_id""".stripMargin,
    "q49_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents WHERE doc_id < 2000),
        |sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        >= 0.5),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id)
        |SELECT id AS doc_id, MIN(comp) AS component
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "q50_data_mixture" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 AS h,
        |    CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
        |      WHEN 'src2' THEN 0.25 ELSE 0.1 END AS frac
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(COUNT(CASE WHEN h < frac THEN 1 END) AS BIGINT) AS n_sampled
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "q51_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || doc_id ||
        |          '@example.com or 077-123-4567 at 192.168.0.1',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
        |    '[0-9]{3}[- ][0-9]{3}[- ]?[0-9]{4}', '[PHONE]', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q52_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    // 256 AS bin_id
        |FROM t ORDER BY doc_id""".stripMargin,
    "q53_doc_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(ws[chunk_idx*16+1 : chunk_idx*16+16]) AS BIGINT) AS n_chunk_tokens,
        |  sha256(array_to_string(ws[chunk_idx*16+1 : chunk_idx*16+16], ' ')) AS chunk_sha
        |FROM (SELECT doc_id, ws,
        |        unnest(range(0, CAST(ceil(len(ws) / 16.0) AS INT))) AS chunk_idx
        |      FROM toks WHERE len(ws) > 0)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q54_range_join" ->
      """SELECT e.event_id, n.n_nationkey,
        |  CAST(ROUND(e.value * 100) AS BIGINT) AS v
        |FROM events e JOIN nation n
        |  ON CAST(ROUND(e.value * 100) AS BIGINT)
        |     BETWEEN n.n_nationkey * 1500 AND n.n_nationkey * 1500 + 2000
        |ORDER BY event_id, n_nationkey""".stripMargin,
    "q55_dedup_corpus" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents WHERE doc_id < 2000),
        |sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        >= 0.5),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
        |doomed AS (
        |  SELECT id FROM (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id) t
        |  WHERE id <> comp)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id < 2000 AND d.doc_id NOT IN (SELECT id FROM doomed)
        |ORDER BY d.doc_id""".stripMargin,
    "q56_embedding_dedup_corpus" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE a.vec_id < 2000 AND b.vec_id < 2000
        |    AND CAST(list_sum(list_transform(range(1, len(a.embedding) + 1), i ->
        |      CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(b.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE) /
        |    (sqrt(CAST(list_sum(list_transform(range(1, len(a.embedding) + 1), i ->
        |      CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)) *
        |     sqrt(CAST(list_sum(list_transform(range(1, len(b.embedding) + 1), i ->
        |      CAST(ROUND(CAST(b.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(b.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)))
        |    >= 0.35),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
        |doomed AS (
        |  SELECT id FROM (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id) t
        |  WHERE id <> comp)
        |SELECT e.vec_id, e.label FROM embeddings e
        |WHERE e.vec_id < 2000 AND e.vec_id NOT IN (SELECT id FROM doomed)
        |ORDER BY e.vec_id""".stripMargin,
    "q57_lsh_containment" ->
      """SELECT * FROM (
        |  SELECT 'lsh_jaccard_below_threshold' AS invariant, CAST(0 AS BIGINT) AS violations
        |  UNION ALL
        |  SELECT 'lsh_pair_not_in_exact' AS invariant, CAST(0 AS BIGINT) AS violations)
        |ORDER BY invariant""".stripMargin,
    "q59_simhash_containment" ->
      """SELECT * FROM (
        |  SELECT 'band_pair_duplicates' AS invariant, CAST(0 AS BIGINT) AS violations
        |  UNION ALL
        |  SELECT 'band_pair_not_in_brute' AS invariant, CAST(0 AS BIGINT) AS violations
        |  UNION ALL
        |  SELECT 'brute_pair_missing_from_bands' AS invariant, CAST(0 AS BIGINT) AS violations)
        |ORDER BY invariant""".stripMargin,
    "q60_embedding_dedup_lsh_corpus" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT a.vec_id, a.label, b.embedding
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id - a.vec_id % 2),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE CAST(list_sum(list_transform(range(1, len(a.embedding) + 1), i ->
        |      CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(b.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE) /
        |    (sqrt(CAST(list_sum(list_transform(range(1, len(a.embedding) + 1), i ->
        |      CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)) *
        |     sqrt(CAST(list_sum(list_transform(range(1, len(b.embedding) + 1), i ->
        |      CAST(ROUND(CAST(b.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(b.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)))
        |    >= 0.98),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
        |doomed AS (
        |  SELECT id FROM (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id) t
        |  WHERE id <> comp)
        |SELECT c.vec_id, c.label FROM corpus c
        |WHERE c.vec_id NOT IN (SELECT id FROM doomed)
        |ORDER BY c.vec_id""".stripMargin,
    "q61_split_assign" ->
      """SELECT doc_id, source,
        |  CASE WHEN (doc_id * 2654435761) % 4294967296 / 4294967296.0 < 0.9
        |         THEN 'train'
        |       WHEN (doc_id * 2654435761) % 4294967296 / 4294967296.0 < 0.95
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q62_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 2000 AND doc_id % 7 <> 0),
        |inc AS (
        |  SELECT doc_id + 100000 AS doc_id, text, lang
        |  FROM documents WHERE doc_id < 2000 AND doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'genuinely new content item ' || doc_id, 'xx'
        |  FROM documents WHERE doc_id < 2000 AND doc_id % 7 = 3),
        |shc AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            w -> len(w) > 0) AS ws FROM corpus)),
        |shi AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            w -> len(w) > 0) AS ws FROM inc)),
        |matched AS (
        |  SELECT DISTINCT i.doc_id
        |  FROM shi i JOIN shc c ON len(i.sh) > 0 AND len(c.sh) > 0
        |    AND CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE) /
        |        CAST(len(i.sh) + len(c.sh) - len(list_intersect(i.sh, c.sh)) AS DOUBLE)
        |        >= 0.5)
        |SELECT i.doc_id, i.lang FROM inc i
        |WHERE i.doc_id NOT IN (SELECT doc_id FROM matched)
        |ORDER BY i.doc_id""".stripMargin,
    // q63 is q07's row set produced by the heap aggregate — same oracle
    "q63_topk_heap" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(ROUND(l_extendedprice*100) AS BIGINT) AS DOUBLE)/100.0 AS price_2dp, rn
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |        ORDER BY l_extendedprice DESC, l_linenumber) AS rn FROM lineitem)
        |WHERE rn <= 3 ORDER BY l_orderkey, rn""".stripMargin,
    "q64_kmeans_assign" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, qv,
        |    sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
        |  FROM q),
        |seeds AS (
        |  SELECT vec_id AS centroid_id, qv AS centv, nrm AS centn FROM n
        |  ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
        |ranked AS (
        |  SELECT v.vec_id, s.centroid_id,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      ROUND(CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
        |          i -> v.qv[i] * s.centv[i])) AS DOUBLE) / (v.nrm * s.centn), 6)
        |        DESC, s.centroid_id) AS rk
        |  FROM n v CROSS JOIN seeds s),
        |assign AS (SELECT vec_id, centroid_id AS cell FROM ranked WHERE rk = 1),
        |dims AS (SELECT unnest(range(1, (SELECT max(len(qv)) FROM q) + 1)) AS i),
        |sums AS (
        |  SELECT a.cell, d.i, CAST(SUM(q.qv[d.i]) AS BIGINT) AS s
        |  FROM assign a JOIN q USING (vec_id) CROSS JOIN dims d
        |  GROUP BY a.cell, d.i)
        |SELECT m.cell, m.n_members, l.l1_scaled
        |FROM (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members
        |      FROM assign GROUP BY cell) m
        |JOIN (SELECT cell, CAST(SUM(ABS(s)) AS BIGINT) AS l1_scaled
        |      FROM sums GROUP BY cell) l USING (cell)
        |ORDER BY m.cell""".stripMargin,
    "q65_doc_frequency" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0)) AS ws
        |  FROM documents)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        |FROM (SELECT unnest(ws) AS token FROM toks)
        |GROUP BY token
        |ORDER BY df DESC, token LIMIT 50""".stripMargin,
    "q66_source_quantiles" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |ranked AS (
        |  SELECT source, n_tokens,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_tokens, doc_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS cnt
        |  FROM toks)
        |SELECT source, MAX(cnt) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  MAX(CASE WHEN rn = (cnt + 1) // 2 THEN n_tokens END) AS median_tokens,
        |  MAX(CASE WHEN rn = GREATEST(1, (cnt * 9) // 10) THEN n_tokens END)
        |    AS p90_tokens
        |FROM ranked GROUP BY source ORDER BY source""".stripMargin,
    // Re-derives the ENTIRE keyword pipeline in SQL: tokenization, tf, df
    // (minDf floor), idf scaling, exact integer scores, and the FNV-1a 64-bit
    // token hash (DuckDB HUGEINT fold over UTF-8 bytes via hex(encode())) so
    // the (score desc, fnv asc) ranking is the same total order the heap
    // aggregate uses — the tie-break itself is hash-verified.
    "q67_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS token FROM toks)
        |  GROUP BY doc_id, token),
        |idf AS (
        |  SELECT token, CAST(round(ln(CAST((SELECT COUNT(*) FROM documents)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 1000000.0) AS BIGINT)
        |    AS idf_scaled
        |  FROM (SELECT unnest(list_distinct(ws)) AS token, doc_id FROM toks)
        |  GROUP BY token HAVING COUNT(*) >= 2),
        |fnv AS (
        |  SELECT token, CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |      THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fnv
        |  FROM (
        |    SELECT token, list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(0, octet_length(encode(token))), i ->
        |          CAST(strpos('123456789ABCDEF',
        |                 hex(encode(token))[CAST(2*i+1 AS BIGINT)]) * 16
        |             + strpos('123456789ABCDEF',
        |                 hex(encode(token))[CAST(2*i+2 AS BIGINT)]) AS BIGINT))),
        |      (h, byt) -> ((h - (h % 256)
        |          + xor(CAST(h % 256 AS BIGINT), byt)::HUGEINT)
        |        * 1099511628211::HUGEINT)
        |        % 18446744073709551616::HUGEINT) AS h
        |    FROM idf)),
        |ranked AS (
        |  SELECT tf.doc_id, tf.token, tf.tf * idf.idf_scaled AS score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * idf.idf_scaled DESC, fnv.fnv) AS INT) AS rn
        |  FROM tf JOIN idf USING (token) JOIN fnv USING (token))
        |SELECT doc_id, rn, token, score FROM ranked
        |WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin,
    // Admission re-checked with the exact quadratic quantized cosine over the
    // bounded slice: admitted = incoming with NO corpus match >= 0.98.
    "q68_incremental_embedding" ->
      """WITH corpus AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  WHERE vec_id < 2000 AND vec_id % 5 <> 0),
        |inc AS (
        |  SELECT vec_id + 100000 AS vec_id, label, embedding FROM corpus
        |  WHERE vec_id % 5 = 1
        |  UNION ALL
        |  SELECT vec_id + 200000, label, embedding FROM embeddings
        |  WHERE vec_id < 2000 AND vec_id % 5 = 0),
        |matched AS (
        |  SELECT DISTINCT i.vec_id
        |  FROM inc i JOIN corpus c ON
        |    CAST(list_sum(list_transform(range(1, len(i.embedding) + 1), k ->
        |      CAST(ROUND(CAST(i.embedding[k] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(c.embedding[k] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE) /
        |    (sqrt(CAST(list_sum(list_transform(range(1, len(i.embedding) + 1), k ->
        |      CAST(ROUND(CAST(i.embedding[k] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(i.embedding[k] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)) *
        |     sqrt(CAST(list_sum(list_transform(range(1, len(c.embedding) + 1), k ->
        |      CAST(ROUND(CAST(c.embedding[k] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(c.embedding[k] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)))
        |    >= 0.98)
        |SELECT vec_id, label FROM inc
        |WHERE vec_id NOT IN (SELECT vec_id FROM matched)
        |ORDER BY vec_id""".stripMargin,
    // Window sets re-derived as STRINGS (space-joined 20-grams, distinct per
    // doc); the engine matches on xxhash64 of the same strings, so pair
    // counts agree exactly barring a 64-bit collision.
    "q69_shared_windows" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 1000),
        |synth AS (
        |  SELECT a.doc_id + 500000 AS doc_id, a.text || ' ' || b.text AS text
        |  FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 9 = 1),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM synth),
        |toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM corpus),
        |wins AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(ws) - 18), i ->
        |      array_to_string(list_slice(ws, i, i + 19), ' ')))) AS w
        |  FROM toks WHERE len(ws) >= 20)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(COUNT(*) AS BIGINT) AS shared_windows
        |FROM wins a JOIN wins b ON a.w = b.w AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin,
    // Full PQ-encoding reimplementation: quantize to 1e6 longs, Knuth-hash
    // seed pick with dense 0..15 ids, slice 64 dims into 4×16 subspaces
    // (fixed by the testdata generator), L2 argmin |c|²−2·dot with
    // (d2, centroid_id) tie order, then the per-(subspace, code) histogram.
    "q70_pq_assign" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS cv
        |  FROM embeddings),
        |seeds AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY (vec_id * 2654435761) % 4294967296,
        |      vec_id) - 1 AS centroid_id, cv
        |  FROM q ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
        |sub AS (SELECT * FROM (VALUES (0, 1, 16), (1, 17, 16), (2, 33, 16),
        |  (3, 49, 16)) AS t(s, off, len)),
        |cand AS (
        |  SELECT v.vec_id, r.s, sd.centroid_id,
        |    list_sum(list_transform(range(1, r.len + 1), i ->
        |      list_slice(sd.cv, r.off, r.off + r.len - 1)[i] *
        |      list_slice(sd.cv, r.off, r.off + r.len - 1)[i]))
        |    - 2 * list_sum(list_transform(range(1, r.len + 1), i ->
        |      list_slice(v.cv, r.off, r.off + r.len - 1)[i] *
        |      list_slice(sd.cv, r.off, r.off + r.len - 1)[i])) AS d2
        |  FROM q v CROSS JOIN sub r CROSS JOIN seeds sd),
        |assigned AS (
        |  SELECT vec_id, s, centroid_id,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, s
        |      ORDER BY d2, centroid_id) AS rn
        |  FROM cand)
        |SELECT CAST(s AS INT) AS subspace, CAST(centroid_id AS INT) AS code,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(SUM(vec_id) AS BIGINT) AS id_sum
        |FROM assigned WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY subspace, code""".stripMargin,
    // Full ADC reimplementation on top of q70's encoding CTEs: subspace
    // codebooks with exact squared norms, per-vector L2-argmin codes, then
    // each query scored against the CODES ONLY — numerator = Σ_s dot(q_s,
    // centroid(code_s)) exact integers, denominator = |q| · √Σ_s centn2 —
    // ranked by the same (round(cosine,6) DESC, neighbor_id) order as q26.
    "q71_pq_search" -> pqAdcSearchSql,
    // The composed IVF+PQ index probing EVERY coarse cell must reproduce
    // pqSearch over the whole encoded corpus (cells partition it), so the
    // full-probe row shares q71's oracle — the q58 pattern, composed.
    "q72_ivfpq_full_probe" -> pqAdcSearchSql,
    // Deterministic stratified sample: smallest-Knuth-hash rows per source;
    // the oracle re-derives the (hash asc, id asc) rank with row_number.
    "q73_sample_stratified" ->
      """WITH ranked AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
        |  FROM documents)
        |SELECT source, CAST(rn AS INT) AS rn, doc_id
        |FROM ranked WHERE rn <= 7 ORDER BY source, rn""".stripMargin,
    // The naive running-sum-window form of the greedy token-budget prefix —
    // the engine's histogram-cutoff plan must reproduce it exactly.
    "q74_sample_budget" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0)) AS BIGINT) AS n_tok,
        |    (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT source, doc_id, n_tok FROM c WHERE cum <= 700
        |ORDER BY source, doc_id""".stripMargin,
    // q59-pattern constant oracle: the composite's survivor set must equal
    // the brute-force-Hamming-route survivors (both engine-side; signatures
    // are not SQL-re-derivable), and must be non-empty.
    "q75_simhash_corpus" ->
      """SELECT * FROM (
        |  SELECT 'brute_minus_composite' AS invariant, CAST(0 AS BIGINT) AS violations
        |  UNION ALL
        |  SELECT 'composite_empty' AS invariant, CAST(0 AS BIGINT) AS violations
        |  UNION ALL
        |  SELECT 'composite_minus_brute' AS invariant, CAST(0 AS BIGINT) AS violations)
        |ORDER BY invariant""".stripMargin,
    // q49's recursive-CTE closure + quality ranking: per cluster keep the
    // longest member (n_chars desc, doc_id tie) — re-derives the heap
    // top-1's total order with a ranking window.
    "q76_quality_survivors" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents WHERE doc_id < 2000),
        |sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        >= 0.5),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
        |labels AS (SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id),
        |ranked AS (
        |  SELECT l.doc_id, ROW_NUMBER() OVER (PARTITION BY l.component
        |      ORDER BY d.n_chars DESC, l.doc_id) AS rn
        |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id),
        |doomed AS (SELECT doc_id FROM ranked WHERE rn > 1)
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id < 2000 AND doc_id NOT IN (SELECT doc_id FROM doomed)
        |ORDER BY doc_id""".stripMargin,
    // q77: the oracle re-derives the PARTIAL probe end to end — coarse
    // centroids are the Knuth-ordered seed pick (q64's machinery), so cell
    // assignment, each query's probed cell, PQ books/codes and the ADC
    // cosine (q71's machinery) are all SQL-derivable; candidates restrict
    // to the query's probed cell exactly like nProbe = 1
    "q77_ivfpq_partial_probe" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS cv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, cv,
        |    sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)) AS nrm
        |  FROM q),
        |coarse AS (
        |  SELECT vec_id AS coarse_id, cv AS coarse_v, nrm AS coarse_n FROM n
        |  ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
        |assign AS (
        |  SELECT vec_id, coarse_id AS cell FROM (
        |    SELECT v.vec_id, c.coarse_id,
        |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |        ROUND(CAST(list_sum(list_transform(range(1, len(v.cv) + 1),
        |            i -> v.cv[i] * c.coarse_v[i])) AS DOUBLE) /
        |          (v.nrm * c.coarse_n), 6) DESC, c.coarse_id) AS rk
        |    FROM n v CROSS JOIN coarse c) WHERE rk = 1),
        |seeds AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY (vec_id * 2654435761) % 4294967296,
        |      vec_id) - 1 AS centroid_id, cv
        |  FROM q ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
        |sub AS (SELECT * FROM (VALUES (0, 1, 16), (1, 17, 16), (2, 33, 16),
        |  (3, 49, 16)) AS t(s, off, len)),
        |books AS (
        |  SELECT r.s, sd.centroid_id,
        |    list_slice(sd.cv, r.off, r.off + r.len - 1) AS centv,
        |    list_sum(list_transform(list_slice(sd.cv, r.off, r.off + r.len - 1),
        |      x -> x * x)) AS centn2
        |  FROM seeds sd CROSS JOIN sub r),
        |cand AS (
        |  SELECT v.vec_id, b.s, b.centroid_id,
        |    b.centn2 - 2 * list_sum(list_transform(range(1, r.len + 1), i ->
        |      list_slice(v.cv, r.off, r.off + r.len - 1)[i] * b.centv[i])) AS d2
        |  FROM q v CROSS JOIN sub r JOIN books b ON b.s = r.s),
        |codes AS (
        |  SELECT vec_id, s, centroid_id AS code FROM (
        |    SELECT vec_id, s, centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, s
        |        ORDER BY d2, centroid_id) AS rn
        |    FROM cand) WHERE rn = 1),
        |queries AS (
        |  SELECT n.vec_id AS query_id, n.cv,
        |    sqrt(CAST(list_sum(list_transform(n.cv, x -> x * x)) AS DOUBLE)) AS qn,
        |    a.cell AS probe_cell
        |  FROM n JOIN assign a USING (vec_id) WHERE n.vec_id < 10),
        |hits AS (
        |  SELECT qu.query_id, qu.qn, c.vec_id AS neighbor_id,
        |    SUM(list_sum(list_transform(range(1, r.len + 1), i ->
        |      list_slice(qu.cv, r.off, r.off + r.len - 1)[i] * b.centv[i])))
        |      AS num,
        |    SUM(b.centn2) AS cn2
        |  FROM codes c
        |  JOIN assign a ON a.vec_id = c.vec_id
        |  JOIN sub r ON r.s = c.s
        |  JOIN books b ON b.s = c.s AND b.centroid_id = c.code
        |  JOIN queries qu ON a.cell = qu.probe_cell
        |  WHERE qu.query_id != c.vec_id
        |  GROUP BY 1, 2, 3),
        |pairs AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(num AS DOUBLE) / (qn * sqrt(CAST(cn2 AS DOUBLE))) AS cosine
        |  FROM hits),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY round(cosine, 6) DESC, neighbor_id) AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine_6dp, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // q147: q77's partial-probe derivation with ONE predicate added on the
    // candidate side — the forgotten ids (vec_id ≡ 3 mod 11) leave the
    // index, while books/centroids/assignment still derive from the FULL
    // corpus (the frozen-quantizer forget contract)
    "q147_ivfpq_forget_serve" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS cv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, cv,
        |    sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)) AS nrm
        |  FROM q),
        |coarse AS (
        |  SELECT vec_id AS coarse_id, cv AS coarse_v, nrm AS coarse_n FROM n
        |  ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
        |assign AS (
        |  SELECT vec_id, coarse_id AS cell FROM (
        |    SELECT v.vec_id, c.coarse_id,
        |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |        ROUND(CAST(list_sum(list_transform(range(1, len(v.cv) + 1),
        |            i -> v.cv[i] * c.coarse_v[i])) AS DOUBLE) /
        |          (v.nrm * c.coarse_n), 6) DESC, c.coarse_id) AS rk
        |    FROM n v CROSS JOIN coarse c) WHERE rk = 1),
        |seeds AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY (vec_id * 2654435761) % 4294967296,
        |      vec_id) - 1 AS centroid_id, cv
        |  FROM q ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
        |sub AS (SELECT * FROM (VALUES (0, 1, 16), (1, 17, 16), (2, 33, 16),
        |  (3, 49, 16)) AS t(s, off, len)),
        |books AS (
        |  SELECT r.s, sd.centroid_id,
        |    list_slice(sd.cv, r.off, r.off + r.len - 1) AS centv,
        |    list_sum(list_transform(list_slice(sd.cv, r.off, r.off + r.len - 1),
        |      x -> x * x)) AS centn2
        |  FROM seeds sd CROSS JOIN sub r),
        |cand AS (
        |  SELECT v.vec_id, b.s, b.centroid_id,
        |    b.centn2 - 2 * list_sum(list_transform(range(1, r.len + 1), i ->
        |      list_slice(v.cv, r.off, r.off + r.len - 1)[i] * b.centv[i])) AS d2
        |  FROM q v CROSS JOIN sub r JOIN books b ON b.s = r.s),
        |codes AS (
        |  SELECT vec_id, s, centroid_id AS code FROM (
        |    SELECT vec_id, s, centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, s
        |        ORDER BY d2, centroid_id) AS rn
        |    FROM cand) WHERE rn = 1),
        |queries AS (
        |  SELECT n.vec_id AS query_id, n.cv,
        |    sqrt(CAST(list_sum(list_transform(n.cv, x -> x * x)) AS DOUBLE)) AS qn,
        |    a.cell AS probe_cell
        |  FROM n JOIN assign a USING (vec_id) WHERE n.vec_id < 10),
        |hits AS (
        |  SELECT qu.query_id, qu.qn, c.vec_id AS neighbor_id,
        |    SUM(list_sum(list_transform(range(1, r.len + 1), i ->
        |      list_slice(qu.cv, r.off, r.off + r.len - 1)[i] * b.centv[i])))
        |      AS num,
        |    SUM(b.centn2) AS cn2
        |  FROM codes c
        |  JOIN assign a ON a.vec_id = c.vec_id
        |  JOIN sub r ON r.s = c.s
        |  JOIN books b ON b.s = c.s AND b.centroid_id = c.code
        |  JOIN queries qu ON a.cell = qu.probe_cell
        |  WHERE qu.query_id != c.vec_id AND (c.vec_id % 11) != 3
        |  GROUP BY 1, 2, 3),
        |pairs AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(num AS DOUBLE) / (qn * sqrt(CAST(cn2 AS DOUBLE))) AS cosine
        |  FROM hits),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY round(cosine, 6) DESC, neighbor_id) AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine_6dp, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // q148: q88's training CTEs + the position-ordered per-doc BPE stream
    // rebuild + q109's strided window arithmetic over SYMBOLS — chunk shas
    // must be byte-equal to the engine's
    "q148_bpe_chunking" -> (bpeCtes(6) + "\n" +
      """enc AS (
        |  SELECT word, string_split(s, ' ') AS bpe FROM s6),
        |stream AS (
        |  SELECT t.doc_id, flatten(list(e.bpe ORDER BY t.pos)) AS tk
        |  FROM toks t JOIN enc e USING (word)
        |  GROUP BY t.doc_id)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(tk[chunk_idx*8+1 : chunk_idx*8+16]) AS BIGINT)
        |    AS n_chunk_tokens,
        |  sha256(array_to_string(tk[chunk_idx*8+1 : chunk_idx*8+16], ' '))
        |    AS chunk_sha
        |FROM (SELECT doc_id, tk,
        |        unnest(range(0, CAST(floor((len(tk) - 1) / 8.0) AS INT) + 1))
        |          AS chunk_idx
        |      FROM stream WHERE len(tk) > 0)
        |ORDER BY doc_id, chunk_idx""".stripMargin),
    // q149: q88's token prices + q52's per-shard exclusive-prefix bin walk
    // in BPE units
    "q149_bpe_packing" -> (bpeCtes(6) + "\n" +
      """enc AS (
        |  SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS nt
        |  FROM s6),
        |counts AS (
        |  SELECT t.doc_id, CAST(SUM(e.nt) AS BIGINT) AS n
        |  FROM toks t JOIN enc e USING (word) GROUP BY t.doc_id)
        |SELECT d.doc_id, d.source,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_tokens_bpe,
        |  CAST(COALESCE(SUM(c.n) OVER (PARTITION BY d.source ORDER BY d.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 256
        |    AS bin_id
        |FROM documents d LEFT JOIN counts c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // q151: q88's training CTEs + the slice-realized vocabulary (dense
    // ids in token sort order) + the position-ordered id walk
    "q151_token_ids" -> (bpeCtes(6) + "\n" +
      """sw AS (SELECT DISTINCT word FROM toks WHERE doc_id < 300),
        |enc AS (
        |  SELECT word, string_split(s, ' ') AS bpe
        |  FROM s6 JOIN sw USING (word)),
        |vocab AS (
        |  SELECT token,
        |    CAST(ROW_NUMBER() OVER (ORDER BY token) AS INT) AS token_id
        |  FROM (SELECT DISTINCT unnest(bpe) AS token FROM enc)),
        |stream AS (
        |  SELECT t.doc_id, flatten(list(e.bpe ORDER BY t.pos)) AS tk
        |  FROM toks t JOIN enc e USING (word)
        |  WHERE t.doc_id < 300 GROUP BY t.doc_id),
        |walk AS (
        |  SELECT doc_id, unnest(range(0, len(tk))) AS pos,
        |    unnest(tk) AS token
        |  FROM stream)
        |SELECT w.doc_id, w.pos, v.token_id
        |FROM walk w JOIN vocab v USING (token)
        |ORDER BY w.doc_id, w.pos""".stripMargin),
    // q152: q149's bins + the per-(shard, bin) exclusive-prefix offset
    "q152_packed_layout" -> (bpeCtes(6) + "\n" +
      """enc AS (
        |  SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS nt
        |  FROM s6),
        |counts AS (
        |  SELECT t.doc_id, CAST(SUM(e.nt) AS BIGINT) AS n
        |  FROM toks t JOIN enc e USING (word) GROUP BY t.doc_id),
        |binned AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(COALESCE(c.n, 0) AS BIGINT) AS n_tokens_bpe,
        |    CAST(COALESCE(SUM(c.n) OVER (PARTITION BY d.source ORDER BY d.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 256
        |      AS bin_id
        |  FROM documents d LEFT JOIN counts c ON d.doc_id = c.doc_id)
        |SELECT doc_id, source, n_tokens_bpe, bin_id,
        |  CAST(COALESCE(SUM(n_tokens_bpe) OVER (
        |    PARTITION BY source, bin_id ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS offset_tokens
        |FROM binned ORDER BY doc_id""".stripMargin),
    // q153: the concat-and-cut piece contract — q151's full-corpus id
    // streams + the span-split arithmetic (greatest/least against bin
    // boundaries), piece shas over the exact id slices
    "q153_packed_chunks" -> (bpeCtes(6) + "\n" + packedPiecesCtes + "\n" +
      """SELECT doc_id, source, chunk_idx,
        |  CAST(en - st AS BIGINT) AS n_tokens_bpe,
        |  CAST(bin_id AS BIGINT) AS bin_id,
        |  CAST(st - bin_id * 256 AS BIGINT) AS offset_tokens,
        |  CASE WHEN en > st THEN sha256(array_to_string(
        |    tk[CAST(st - prior + 1 AS BIGINT):CAST(en - prior AS BIGINT)],
        |    ' ')) END AS piece_sha
        |FROM cut ORDER BY doc_id, chunk_idx""".stripMargin),
    // q158: the shard manifest rolls q153's cut pieces up per (shard,
    // bin) — ordered string_agg over the exact id slices reproduces the
    // whole-stream sha the engine computes from its per-piece arrays
    "q158_shard_manifest" -> (bpeCtes(6) + "\n" + packedPiecesCtes + "\n" +
      """SELECT source, CAST(bin_id AS BIGINT) AS bin_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_pieces,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(SUM(en - st) AS BIGINT) AS n_tokens,
        |  sha256(COALESCE(string_agg(CASE WHEN en > st THEN
        |      array_to_string(tk[CAST(st - prior + 1 AS BIGINT):
        |        CAST(en - prior AS BIGINT)], ' ')
        |    END, ' ' ORDER BY st - bin_id * 256), '')) AS content_sha
        |FROM cut GROUP BY source, bin_id
        |ORDER BY source, bin_id""".stripMargin),
    // q160: the reader fold over the same cut pieces — stream sha plus
    // offset-ordered boundary lists (FILTER drops empty pieces). r18: the
    // boundary lists are SPACE-JOINED STRINGS, not arrays — the driver's
    // hasher cannot factorize array cells (the r17 unmeasured row); the
    // empty-string coalesce matches the engine's array_join of an empty
    // array
    "q160_packed_examples" -> (bpeCtes(6) + "\n" + packedPiecesCtes + "\n" +
      """SELECT source, CAST(bin_id AS BIGINT) AS bin_id,
        |  CAST(SUM(en - st) AS BIGINT) AS n_tokens,
        |  sha256(COALESCE(string_agg(CASE WHEN en > st THEN
        |      array_to_string(tk[CAST(st - prior + 1 AS BIGINT):
        |        CAST(en - prior AS BIGINT)], ' ')
        |    END, ' ' ORDER BY st - bin_id * 256), '')) AS stream_sha,
        |  COALESCE(string_agg(CAST(CAST(st - bin_id * 256 AS BIGINT)
        |        AS VARCHAR), ' ' ORDER BY st - bin_id * 256)
        |      FILTER (WHERE en > st), '') AS doc_offsets,
        |  COALESCE(string_agg(CAST(CAST(doc_id AS BIGINT) AS VARCHAR), ' '
        |        ORDER BY st - bin_id * 256)
        |      FILTER (WHERE en > st), '') AS doc_ids
        |FROM cut GROUP BY source, bin_id
        |ORDER BY source, bin_id""".stripMargin),
    // q154: retrieval-quality eval — q134's ranked hits + the adjacent-id
    // gold set + the e6-integer recall/MRR/nDCG fold (the DCG discount
    // constants are computed ONCE driver-side and shared verbatim between
    // the Spark plan and this SQL — no engine re-derives a log)
    "q154_retrieval_eval" -> retrievalEvalSql,
    // q156: the container census re-derived CLOSED-FORM from doc_id —
    // any slip in the box walk (version offsets, largesize, sample-entry
    // layout) or the EBML walk (varint ids/sizes, float duration,
    // track tree) turns the row red
    "q156_container_census" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'mkv' END AS container,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom'
        |       WHEN doc_id % 3 = 0 THEN 'webm'
        |       ELSE 'matroska' END AS brand,
        |  CAST(1000 + (doc_id % 60) * 500 AS BIGINT) AS duration_ms,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |    CASE (doc_id // 2) % 4 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
        |         WHEN 2 THEN 'vp09' ELSE 'av01' END
        |  ELSE
        |    CASE (doc_id // 2) % 4 WHEN 0 THEN 'V_MPEG4/ISO/AVC'
        |         WHEN 1 THEN 'V_MPEGH/ISO/HEVC'
        |         WHEN 2 THEN 'V_VP9' ELSE 'V_AV1' END
        |  END AS video_codec,
        |  CAST(320 + 16 * (doc_id % 8) AS INT) AS width,
        |  CAST(240 + 16 * (doc_id % 5) AS INT) AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4a'
        |       WHEN (doc_id // 2) % 2 = 0 THEN 'A_AAC'
        |       ELSE 'A_OPUS' END AS audio_codec,
        |  CAST(1 + (doc_id // 2) % 2 AS INT) AS channels,
        |  CAST(CASE WHEN (doc_id // 2) % 2 = 0 THEN 48000
        |       ELSE 44100 END AS INT) AS sample_rate
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q157: the epoch plan's water-filling fold replayed as a recursive
    // CTE — same saturation-point sort order (ONE double divide, ties on
    // source), same split-form integer arithmetic; every output column
    // cast to BIGINT (the HUGEINT gotcha)
    "q157_epoch_plan" ->
      ("""WITH RECURSIVE counts AS (
        |  SELECT CAST(source AS VARCHAR) AS src,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COALESCE(SUM(CAST(len(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0)) AS BIGINT)), 0) AS BIGINT) AS avail
        |  FROM documents GROUP BY 1),""".stripMargin + "\n" +
        epochFoldCtes + "\n" +
      """SELECT t.src AS source, t.n_docs, t.avail AS avail_tokens,
        |  t.w AS mix_w, t.cap AS cap_tokens, f.alloc AS alloc_tokens,
        |  CAST(CASE WHEN t.avail > 0 THEN f.alloc // t.avail * 1000
        |    + (f.alloc % t.avail) * 1000 // t.avail
        |    ELSE 0 END AS BIGINT) AS epochs_e3,
        |  (SELECT CAST(r AS BIGINT) FROM fold
        |   ORDER BY rn DESC LIMIT 1) AS unallocated_tokens
        |FROM wtd t JOIN fold f USING (src)
        |ORDER BY source""".stripMargin),
    // q159: q157's fold CTE + unnested full epochs + the q74 running-sum
    // prefix as the fractional epoch — the materialized mixture
    "q159_epoch_materialize" ->
      ("""WITH RECURSIVE docs AS (
        |  SELECT doc_id, CAST(source AS VARCHAR) AS src,
        |    CAST(len(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |counts AS (
        |  SELECT src, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS avail
        |  FROM docs GROUP BY 1),""".stripMargin + "\n" +
        epochFoldCtes + ",\n" +
      """plan AS (
        |  SELECT t.src,
        |    CAST(CASE WHEN t.avail > 0 THEN f.alloc // t.avail
        |      ELSE 0 END AS BIGINT) AS full_e,
        |    CAST(f.alloc - CASE WHEN t.avail > 0 THEN f.alloc // t.avail
        |      ELSE 0 END * t.avail AS BIGINT) AS rem
        |  FROM wtd t JOIN fold f USING (src)),
        |fulls AS (
        |  SELECT d.src, d.doc_id, d.n_tok,
        |    unnest(range(0, p.full_e)) AS epoch_idx
        |  FROM docs d JOIN plan p USING (src) WHERE p.full_e > 0),
        |cums AS (
        |  SELECT src, doc_id, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY src
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM docs),
        |frac AS (
        |  SELECT c.src, c.doc_id, c.n_tok, p.full_e AS epoch_idx
        |  FROM cums c JOIN plan p USING (src)
        |  WHERE p.rem > 0 AND c.cum <= p.rem)
        |SELECT src AS source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(epoch_idx AS BIGINT) AS epoch_idx
        |FROM (SELECT * FROM fulls UNION ALL SELECT * FROM frac)
        |ORDER BY source, doc_id, epoch_idx""".stripMargin),
    // q155: q88's training replay over the byte alphabet — the same
    // footer (per-doc word + token prices), byte-level s0
    "q155_byte_bpe" -> (byteBpeCtes(6) + "\n" +
      """enc AS (
        |  SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS nt
        |  FROM s6)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(e.nt) AS BIGINT) AS n_tokens_bpe
        |FROM toks t JOIN enc e USING (word)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
    // q78's three admission ticks partition the slice's pair set, so the
    // incremental labels must equal q49's one-shot closure — the oracle IS
    // q49's recursive CTE, verbatim
    "q78_incremental_components" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents WHERE doc_id < 2000),
        |sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        >= 0.5),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id)
        |SELECT id AS doc_id, MIN(comp) AS component
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // q79: the oracle re-derives the WHOLE SemDeDup route — seed centroids
    // (Knuth order), cell assignment (q77's argmax), within-cell exact-cosine
    // pairs, recursive-CTE closure, min-id survivors, and each survivor's
    // cell — over the same duplicate-injected corpus as q60
    "q79_semantic_dedup" ->
      """WITH RECURSIVE base AS (
        |  SELECT a.vec_id, b.embedding
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id - a.vec_id % 2
        |  WHERE a.vec_id < 2000),
        |q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS cv
        |  FROM base),
        |n AS (
        |  SELECT vec_id, cv,
        |    sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)) AS nrm
        |  FROM q),
        |coarse AS (
        |  SELECT vec_id AS cid, cv AS cvv, nrm AS cn FROM n
        |  ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 8),
        |assign AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT v.vec_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |        ROUND(CAST(list_sum(list_transform(range(1, len(v.cv) + 1),
        |            i -> v.cv[i] * c.cvv[i])) AS DOUBLE) /
        |          (v.nrm * c.cn), 6) DESC, c.cid) AS rk
        |    FROM n v CROSS JOIN coarse c) WHERE rk = 1),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM n a JOIN assign aa ON aa.vec_id = a.vec_id
        |  JOIN n b ON a.vec_id < b.vec_id
        |  JOIN assign ab ON ab.vec_id = b.vec_id AND ab.cell = aa.cell
        |  WHERE CAST(list_sum(list_transform(range(1, len(a.cv) + 1),
        |      i -> a.cv[i] * b.cv[i])) AS DOUBLE) / (a.nrm * b.nrm) >= 0.98),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
        |doomed AS (
        |  SELECT id FROM (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id) t
        |  WHERE id <> comp)
        |SELECT v.vec_id, a.cell FROM n v JOIN assign a USING (vec_id)
        |WHERE v.vec_id NOT IN (SELECT id FROM doomed)
        |ORDER BY v.vec_id""".stripMargin,
    // q80: full re-derivation of the corpus-global line-dedup route — the
    // sliding-window corpus, q29's tokenization for the minTokens gate,
    // first-(doc,idx)-occurrence winners, survivorship, ordered reassembly
    "q80_line_dedup" -> lineDedupOracleSql,
    // q101: the same corpus + definition with the keep rule relaxed to the
    // 2-earliest occurrences per line
    "q101_line_freq_cap" -> lineCapOracleSql(2),
    // q103: the identical integer-carrier entropy — per-char counts, each
    // count's round(c·ln(c)·1e6) as a BIGINT, floor-divided by n
    "q103_char_entropy" ->
      """WITH planted AS (
        |  SELECT doc_id, CASE WHEN doc_id % 41 = 0 THEN repeat('aa ', 40)
        |    ELSE text END AS text
        |  FROM documents),
        |chars AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
        |  FROM planted),
        |cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round(c * ln(c) * 1000000) AS BIGINT)) AS BIGINT)
        |      AS slp
        |  FROM cc GROUP BY doc_id)
        |SELECT p.doc_id, COALESCE(a.n, 0) AS n_chars,
        |  COALESCE(CAST(round(ln(a.n) * 1000000) AS BIGINT) - a.slp // a.n,
        |    0) AS entropy_e6,
        |  COALESCE(CAST(round(ln(a.n) * 1000000) AS BIGINT) - a.slp // a.n,
        |    0) < 2000000 AS low_diversity
        |FROM planted p LEFT JOIN agg a USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,
    // q102: the planted corpus re-normalized through DuckDB's strip_accents
    // (the same NFD + drop-Mn mapping) and the identical lower/digit/ws chain
    "q102_text_normalize" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0
        |      THEN translate(text, 'aeiou', 'áéíóú') ELSE text END)
        |    || ' rev ' || CAST(doc_id AS VARCHAR) || '  build  ' ||
        |    CAST(doc_id * 31 AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS orig_len,
        |  CAST(length(trim(regexp_replace(regexp_replace(
        |    strip_accents(lower(text)), '[0-9]', '0', 'g'),
        |    '\s+', ' ', 'g'))) AS BIGINT) AS norm_len,
        |  trim(regexp_replace(regexp_replace(
        |    strip_accents(lower(text)), '[0-9]', '0', 'g'),
        |    '\s+', ' ', 'g')) AS text
        |FROM planted ORDER BY doc_id""".stripMargin,
    // q81: the shard-position definition verbatim — a per-shard ROW_NUMBER
    // over the Knuth-hash permutation; the engine must reproduce it from
    // histogram offsets + bounded bucket windows
    "q81_shard_export" ->
      """WITH t AS (
        |  SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
        |FROM t ORDER BY doc_id""".stripMargin,
    // q82: vocab = top-500 tokens by occurrence (ties: token asc), then each
    // doc's exact OOV occurrence count and scaled-integer rate
    "q82_vocab_oov" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0)) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, COUNT(*) AS n_occ FROM toks GROUP BY token)
        |  ORDER BY n_occ DESC, token LIMIT 20)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // COUNT(*) AS oov_rate_e6
        |FROM toks t LEFT JOIN vocab v USING (token)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    // q83: the add-one bigram LM re-derived end to end — token positions,
    // bigram/context counts, vocab size, each bigram's scaled log-prob, and
    // the per-doc integer NLL totals (self-scoring -> inner joins suffice)
    "q83_lm_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(range(1, len(ts) + 1)) AS idx,
        |    unnest(ts) AS token
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            w -> len(w) > 0) AS ts
        |        FROM documents)),
        |bigr AS (
        |  SELECT a.doc_id, a.token AS w1, b.token AS w2
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1),
        |bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY 1, 2),
        |ctx AS (SELECT w1, SUM(c12) AS c1 FROM bc GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT token) AS vs FROM toks),
        |scored AS (
        |  SELECT g.doc_id,
        |    CAST(round(ln((c.c12 + 1) / (x.c1 + v.vs)) * 1000000) AS BIGINT)
        |      AS lp
        |  FROM bigr g JOIN bc c USING (w1, w2) JOIN ctx x USING (w1)
        |  CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(-SUM(lp) AS BIGINT) AS nll_e6,
        |  CAST(-SUM(lp) AS BIGINT) // COUNT(*) AS avg_nll_e6
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q84: two LMs (domain = src0 slice, base = full corpus), every doc
    // scored under both with the smoothed unseen-bigram backoff live
    // (left joins + coalesce), llr = base avg-NLL - domain avg-NLL
    "q84_domain_llr" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(range(1, len(ts) + 1)) AS idx,
        |    unnest(ts) AS token
        |  FROM (SELECT doc_id, source,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            w -> len(w) > 0) AS ts
        |        FROM documents)),
        |bigr AS (
        |  SELECT a.doc_id, a.source, a.token AS w1, b.token AS w2
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1),
        |dbc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigr
        |        WHERE source = 'src0' GROUP BY 1, 2),
        |dctx AS (SELECT w1, SUM(c12) AS c1 FROM dbc GROUP BY 1),
        |dv AS (SELECT COUNT(DISTINCT token) AS vs FROM toks
        |       WHERE source = 'src0'),
        |bbc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY 1, 2),
        |bctx AS (SELECT w1, SUM(c12) AS c1 FROM bbc GROUP BY 1),
        |bv AS (SELECT COUNT(DISTINCT token) AS vs FROM toks),
        |dscore AS (
        |  SELECT g.doc_id, CAST(round(ln(
        |      (COALESCE(c.c12, 0) + 1) / (COALESCE(x.c1, 0) + dv.vs))
        |      * 1000000) AS BIGINT) AS lp
        |  FROM bigr g LEFT JOIN dbc c USING (w1, w2)
        |  LEFT JOIN dctx x USING (w1) CROSS JOIN dv),
        |bscore AS (
        |  SELECT g.doc_id, CAST(round(ln(
        |      (COALESCE(c.c12, 0) + 1) / (COALESCE(x.c1, 0) + bv.vs))
        |      * 1000000) AS BIGINT) AS lp
        |  FROM bigr g LEFT JOIN bbc c USING (w1, w2)
        |  LEFT JOIN bctx x USING (w1) CROSS JOIN bv),
        |dagg AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(-SUM(lp) AS BIGINT) // COUNT(*) AS domain_nll_e6
        |  FROM dscore GROUP BY doc_id),
        |bagg AS (
        |  SELECT doc_id, CAST(-SUM(lp) AS BIGINT) // COUNT(*) AS base_nll_e6
        |  FROM bscore GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, domain_nll_e6, base_nll_e6,
        |  base_nll_e6 - domain_nll_e6 AS llr_e6
        |FROM dagg JOIN bagg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q85: FNV-1a 64 per distinct token (q67's HUGEINT machinery), bucket =
    // positive mod 64, deterministic integer weights, exact integer margins
    "q85_classifier_margin" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    w -> len(w) > 0)) AS token
        |  FROM documents),
        |toksd AS (SELECT DISTINCT token FROM toks),
        |fnv AS (
        |  SELECT token, CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |      THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
        |    AS fnv
        |  FROM (
        |    SELECT token, list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(0, octet_length(encode(token))), i ->
        |          CAST(strpos('123456789ABCDEF',
        |                 hex(encode(token))[CAST(2*i+1 AS BIGINT)]) * 16
        |             + strpos('123456789ABCDEF',
        |                 hex(encode(token))[CAST(2*i+2 AS BIGINT)]) AS BIGINT))),
        |      (h, byt) -> ((h - (h % 256)
        |          + xor(CAST(h % 256 AS BIGINT), byt)::HUGEINT)
        |        * 1099511628211::HUGEINT)
        |        % 18446744073709551616::HUGEINT) AS h
        |    FROM toksd)),
        |bucketed AS (
        |  SELECT t.doc_id, CAST(((f.fnv % 64) + 64) % 64 AS INT) AS b
        |  FROM toks t JOIN fnv f USING (token)),
        |w AS (
        |  SELECT CAST(b AS INT) AS b,
        |    (b * 2654435761) % 4294967296 % 2001 - 1000 AS w_e3
        |  FROM (SELECT unnest(range(0, 64)) AS b)),
        |counts AS (
        |  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM bucketed GROUP BY 1, 2)
        |SELECT c.doc_id, CAST(SUM(c.cnt) AS BIGINT) AS n_tokens,
        |  CAST(SUM(c.cnt * w.w_e3) AS BIGINT) AS margin_e3
        |FROM counts c JOIN w USING (b)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    // q86: ground truth for deletion maintenance — the q78 closure computed
    // over the SURVIVING corpus only (docs with doc_id % 7 <> 3); the
    // incremental forget path must reproduce it bit-for-bit
    "q86_forget_components" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents WHERE doc_id < 2000 AND doc_id % 7 <> 3),
        |sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        >= 0.5),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id)
        |SELECT id AS doc_id, MIN(comp) AS component
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // q87: rates re-derived from scratch — integer counts, w = floor(sqrt·1e6)
    // (sqrt is correctly rounded in every IEEE engine), integer weight sum,
    // then the SAME left-associated double ops as the Spark side
    "q87_temperature_mixture" ->
      """WITH counts AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
        |  FROM counts),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w),
        |rates AS (
        |  SELECT source, CAST(200 AS DOUBLE) * w / tw / n AS rate
        |  FROM w CROSS JOIN tot)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN rates r USING (source)
        |WHERE CAST((d.doc_id * 2654435761) % 4294967296 AS DOUBLE)
        |      / 4294967296.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    // q88: the full 6-round BPE training loop + distinct-word pricing,
    // generated mechanically per round (see bpeOracleSql)
    "q88_bpe_tokens" -> bpeOracleSql(6),
    // q89: q83's LM-scoring CTEs + the even-spread tercile rule from a plain
    // ROW_NUMBER — the ground truth the histogram-offset rank plan must match
    "q89_perplexity_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(range(1, len(ts) + 1)) AS idx,
        |    unnest(ts) AS token
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            w -> len(w) > 0) AS ts
        |        FROM documents)),
        |bigr AS (
        |  SELECT a.doc_id, a.token AS w1, b.token AS w2
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1),
        |bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY 1, 2),
        |ctx AS (SELECT w1, SUM(c12) AS c1 FROM bc GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT token) AS vs FROM toks),
        |scored AS (
        |  SELECT g.doc_id,
        |    CAST(round(ln((c.c12 + 1) / (x.c1 + v.vs)) * 1000000) AS BIGINT)
        |      AS lp
        |  FROM bigr g JOIN bc c USING (w1, w2) JOIN ctx x USING (w1)
        |  CROSS JOIN v),
        |per AS (
        |  SELECT doc_id,
        |    CAST(-SUM(lp) AS BIGINT) // COUNT(*) AS avg_nll_e6
        |  FROM scored GROUP BY doc_id),
        |r AS (
        |  SELECT doc_id, avg_nll_e6,
        |    CAST(ROW_NUMBER() OVER (ORDER BY avg_nll_e6, doc_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM per)
        |SELECT doc_id, avg_nll_e6, CAST((rn - 1) * 3 // n + 1 AS INT) AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,
    // q90: the Gopher battery re-derived — 8-word re-lining, the planted
    // doc_id%5 first-line repeats, per-line and per-word multiplicity counts,
    // and every integer cross-multiplied flag (thresholds 30/20/10, words
    // in [50, 100000]); top word ties resolve by (count DESC, word)
    "q90_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)),
        |      i -> array_to_string(list_slice(ws, i*8+1, i*8+8), ' ')) AS ls
        |  FROM base WHERE len(ws) > 0),
        |rep AS (
        |  SELECT doc_id,
        |    ls || list_transform(range(0, doc_id % 5), i -> ls[1]) AS ls
        |  FROM lined),
        |lin AS (SELECT doc_id, unnest(ls) AS line FROM rep),
        |lc AS (SELECT doc_id, line, COUNT(*) AS c, len(line) AS ll
        |       FROM lin GROUP BY doc_id, line),
        |lagg AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
        |    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
        |      AS n_dup_lines,
        |    CAST(SUM(c * ll) AS BIGINT) AS n_line_chars,
        |    CAST(SUM(CASE WHEN c >= 2 THEN c * ll ELSE 0 END) AS BIGINT)
        |      AS n_dup_line_chars
        |  FROM lc GROUP BY doc_id),
        |wrd AS (SELECT doc_id, unnest(string_split(line, ' ')) AS w FROM lin),
        |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM wrd GROUP BY doc_id, w),
        |wagg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |    CAST(SUM(c * len(w)) AS BIGINT) AS n_word_chars
        |  FROM wc GROUP BY doc_id),
        |tw AS (SELECT doc_id, CAST(c AS BIGINT) AS top_word_n,
        |    CAST(c * len(w) AS BIGINT) AS top_word_chars FROM wc
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY c DESC, w) = 1)
        |SELECT l.doc_id, l.n_lines, l.n_dup_lines, l.n_line_chars,
        |  l.n_dup_line_chars, w.n_words, w.n_word_chars, t.top_word_n,
        |  t.top_word_chars,
        |  l.n_dup_lines * 100 > l.n_lines * 30 AS flag_dup_lines,
        |  l.n_dup_line_chars * 100 > l.n_line_chars * 20 AS flag_dup_chars,
        |  t.top_word_chars * 100 > w.n_word_chars * 10 AS flag_top_word,
        |  w.n_words < 50 OR w.n_words > 100000 AS flag_word_count,
        |  NOT (l.n_dup_lines * 100 > l.n_lines * 30
        |    OR l.n_dup_line_chars * 100 > l.n_line_chars * 20
        |    OR t.top_word_chars * 100 > w.n_word_chars * 10
        |    OR w.n_words < 50 OR w.n_words > 100000) AS keep
        |FROM lagg l JOIN wagg w USING (doc_id) JOIN tw t USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin,
    // q91: q84's two-LM LLR weights + the Gumbel-top-k draw — the Gumbel
    // term re-derived from the Knuth hash at e6 rounding, keys as exact
    // integer sums, top 400 by (key DESC, doc_id)
    "q91_dsir_resample" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(range(1, len(ts) + 1)) AS idx,
        |    unnest(ts) AS token
        |  FROM (SELECT doc_id, source,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            w -> len(w) > 0) AS ts
        |        FROM documents)),
        |bigr AS (
        |  SELECT a.doc_id, a.source, a.token AS w1, b.token AS w2
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1),
        |dbc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigr
        |        WHERE source = 'src0' GROUP BY 1, 2),
        |dctx AS (SELECT w1, SUM(c12) AS c1 FROM dbc GROUP BY 1),
        |dv AS (SELECT COUNT(DISTINCT token) AS vs FROM toks
        |       WHERE source = 'src0'),
        |bbc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY 1, 2),
        |bctx AS (SELECT w1, SUM(c12) AS c1 FROM bbc GROUP BY 1),
        |bv AS (SELECT COUNT(DISTINCT token) AS vs FROM toks),
        |dscore AS (
        |  SELECT g.doc_id, CAST(round(ln(
        |      (COALESCE(c.c12, 0) + 1) / (COALESCE(x.c1, 0) + dv.vs))
        |      * 1000000) AS BIGINT) AS lp
        |  FROM bigr g LEFT JOIN dbc c USING (w1, w2)
        |  LEFT JOIN dctx x USING (w1) CROSS JOIN dv),
        |bscore AS (
        |  SELECT g.doc_id, CAST(round(ln(
        |      (COALESCE(c.c12, 0) + 1) / (COALESCE(x.c1, 0) + bv.vs))
        |      * 1000000) AS BIGINT) AS lp
        |  FROM bigr g LEFT JOIN bbc c USING (w1, w2)
        |  LEFT JOIN bctx x USING (w1) CROSS JOIN bv),
        |dagg AS (
        |  SELECT doc_id,
        |    CAST(-SUM(lp) AS BIGINT) // COUNT(*) AS domain_nll_e6
        |  FROM dscore GROUP BY doc_id),
        |bagg AS (
        |  SELECT doc_id, CAST(-SUM(lp) AS BIGINT) // COUNT(*) AS base_nll_e6
        |  FROM bscore GROUP BY doc_id),
        |keyed AS (
        |  SELECT doc_id,
        |    CAST(base_nll_e6 - domain_nll_e6 AS BIGINT) AS llr_e6,
        |    CAST(round(-ln(-ln(
        |      (CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) + 0.5)
        |        / 4294967296.0)) * 1000000) AS BIGINT) AS gumbel_e6
        |  FROM dagg JOIN bagg USING (doc_id))
        |SELECT doc_id, llr_e6, gumbel_e6, llr_e6 + gumbel_e6 AS key_e6
        |FROM keyed ORDER BY key_e6 DESC, doc_id LIMIT 400""".stripMargin,
    // q92: q90's planted corpus scrubbed — a line survives iff its first
    // index is its own (both engines' filter-with-index, 1-based in DuckDB)
    "q92_line_scrub" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)),
        |      i -> array_to_string(list_slice(ws, i*8+1, i*8+8), ' ')) AS ls
        |  FROM base WHERE len(ws) > 0),
        |rep AS (
        |  SELECT doc_id,
        |    ls || list_transform(range(0, doc_id % 5), i -> ls[1]) AS ls
        |  FROM lined),
        |scrub AS (
        |  SELECT doc_id, ls,
        |    list_filter(ls, (l, i) -> list_position(ls, l) = i) AS kept
        |  FROM rep)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS text,
        |  CAST(len(ls) - len(kept) AS BIGINT) AS n_removed
        |FROM scrub ORDER BY doc_id""".stripMargin,
    // q93: HLL registers re-derived — q85's byte-exact FNV-1a HUGEINT walk
    // kept UNSIGNED, then the splitmix64 finalizer (xor on the signed view,
    // multiply mod 2^64 via 32-bit-half decomposition so signed INT128 never
    // overflows), bucket = h div 2^56, rho = 57 - bit-length of the 56-bit
    // remainder (length(bin(w)) = floor(log2 w)+1), max per bucket
    "q93_hll_registers" -> (hllRegisterChainSql + "\n" +
      """SELECT source, bucket, CAST(MAX(rho) AS INT) AS rho
        |FROM reg GROUP BY source, bucket ORDER BY source, bucket""".stripMargin),
    // q96: the ESTIMATE re-derived bit-for-bit — grouped registers, the
    // SAME left-associated fold over 2^-rho in bucket order (list_reduce
    // with a prepended 0.0 == Spark's aggregate seed), the SAME alpha*m^2
    // double literal (JVM-computed, shortest round-trip repr), ln for the
    // linear-counting branch, floor == Spark's positive-cast truncation
    "q96_hll_estimate" -> (hllRegisterChainSql + ",\n" +
      s"""regs AS (
         |  SELECT source, bucket, CAST(MAX(rho) AS INT) AS rho
         |  FROM reg GROUP BY source, bucket),
         |est AS (
         |  SELECT source,
         |    list_reduce(list_prepend(0.0,
         |      list(pow(2.0, -rho) ORDER BY bucket)), (a, b) -> a + b) AS sm,
         |    CAST(256 - COUNT(*) AS DOUBLE) AS nz
         |  FROM regs GROUP BY source),
         |ee AS (SELECT source, nz, $hllAlphaM2 / (sm + nz) AS e FROM est)
         |SELECT source, CAST(floor(CASE WHEN nz > 0 AND e <= 640.0
         |  THEN 256.0 * ln(256.0 / nz) ELSE e END) AS BIGINT) AS estimate
         |FROM ee ORDER BY source""".stripMargin),
    // q94: the bloom pre-filter re-derived — q47's gram construction, the
    // q93 FNV+splitmix64 HUGEINT chain once per distinct gram, 3 disjoint
    // 16-bit position fields, 32-bit bloom words from the bench side,
    // probe = three word lookups ANDed, per-doc counts
    "q94_bloom_prefilter" ->
      (bloomGramChainSql + ",\n" +
      """probe AS (
        |  SELECT gr.doc_id,
        |    (COALESCE(b0.bits, 0) & (1::BIGINT << CAST(p.p0 % 32 AS INT))) <> 0
        |    AND (COALESCE(b1.bits, 0) & (1::BIGINT << CAST(p.p1 % 32 AS INT))) <> 0
        |    AND (COALESCE(b2.bits, 0) & (1::BIGINT << CAST(p.p2 % 32 AS INT))) <> 0
        |      AS might
        |  FROM grams gr JOIN pos p USING (g)
        |  LEFT JOIN bloomw b0 ON b0.word_idx = CAST(p.p0 // 32 AS INT)
        |  LEFT JOIN bloomw b1 ON b1.word_idx = CAST(p.p1 // 32 AS INT)
        |  LEFT JOIN bloomw b2 ON b2.word_idx = CAST(p.p2 // 32 AS INT)
        |  WHERE gr.doc_id % 97 <> 0)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(COUNT(CASE WHEN might THEN 1 END) AS BIGINT) AS bloom_hits
        |FROM probe GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // q97: the COMPOSITION — q94's probe verdict per (doc, gram), survivors
    // exact-joined against the bench set, per-doc counts + the q47 verdict;
    // bloom no-false-negatives makes the exact count independent of `might`
    "q97_bloom_contamination" ->
      (bloomGramChainSql + ",\n" +
      """probe AS (
        |  SELECT gr.doc_id, gr.g,
        |    (COALESCE(b0.bits, 0) & (1::BIGINT << CAST(p.p0 % 32 AS INT))) <> 0
        |    AND (COALESCE(b1.bits, 0) & (1::BIGINT << CAST(p.p1 % 32 AS INT))) <> 0
        |    AND (COALESCE(b2.bits, 0) & (1::BIGINT << CAST(p.p2 % 32 AS INT))) <> 0
        |      AS might
        |  FROM grams gr JOIN pos p USING (g)
        |  LEFT JOIN bloomw b0 ON b0.word_idx = CAST(p.p0 // 32 AS INT)
        |  LEFT JOIN bloomw b1 ON b1.word_idx = CAST(p.p1 // 32 AS INT)
        |  LEFT JOIN bloomw b2 ON b2.word_idx = CAST(p.p2 // 32 AS INT)
        |  WHERE gr.doc_id % 97 <> 0),
        |agg AS (
        |  SELECT pr.doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(COUNT(CASE WHEN pr.might THEN 1 END) AS BIGINT)
        |      AS bloom_kept_grams,
        |    CAST(COUNT(CASE WHEN b.g IS NOT NULL THEN 1 END) AS BIGINT)
        |      AS shared_ngrams
        |  FROM probe pr LEFT JOIN bench b USING (g)
        |  GROUP BY pr.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(a.n_grams, 0) AS n_grams,
        |  COALESCE(a.bloom_kept_grams, 0) AS bloom_kept_grams,
        |  COALESCE(a.shared_ngrams, 0) AS shared_ngrams,
        |  COALESCE(a.shared_ngrams, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |WHERE d.doc_id % 97 <> 0
        |ORDER BY d.doc_id""".stripMargin),
    // q98: generated CTE battery (see ngramRepetitionSql) — top-n picks and
    // coverage-union dup chars, bit-for-bit vs the compiled expression
    "q98_ngram_repetition" -> ngramRepetitionSql,
    // q99: bench windows as STRINGS (the engine's xxhash64 windows are
    // collision-free groupings of the same sets), planted span re-derived,
    // covered positions dropped, ordered string_agg rebuild
    "q99_bench_scrub" ->
      """WITH toks0 AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    w -> len(w) > 0) AS ws
        |  FROM documents),
        |bench AS (SELECT doc_id, ws FROM toks0 WHERE doc_id % 97 = 0),
        |basec AS (SELECT doc_id, ws FROM toks0 WHERE doc_id % 97 <> 0),
        |plant AS (
        |  SELECT b.doc_id + 600000 AS doc_id, n.ws || b.ws[1:30] AS ws
        |  FROM bench b JOIN toks0 n ON n.doc_id = b.doc_id + 1),
        |corpus AS (SELECT * FROM basec UNION ALL SELECT * FROM plant),
        |bwin AS (
        |  SELECT DISTINCT u AS g FROM (
        |    SELECT unnest(list_transform(range(1, len(ws) - 18),
        |      i -> array_to_string(ws[i:i+19], ' '))) AS u
        |    FROM bench WHERE len(ws) >= 20)),
        |cwin AS (
        |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - 18),
        |      i -> {'pos': i, 'g': array_to_string(ws[i:i+19], ' ')})) AS u
        |    FROM corpus WHERE len(ws) >= 20)),
        |hits AS (SELECT c.doc_id, c.pos FROM cwin c JOIN bwin b USING (g)),
        |drops AS (
        |  SELECT DISTINCT doc_id, idx FROM (
        |    SELECT doc_id, unnest(range(pos, pos + 20)) AS idx FROM hits)),
        |tok AS (
        |  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS idx, unnest(ws) AS tok
        |  FROM corpus),
        |kept AS (
        |  SELECT t.doc_id, t.idx, t.tok
        |  FROM tok t LEFT JOIN drops d
        |    ON d.doc_id = t.doc_id AND d.idx = t.idx
        |  WHERE d.doc_id IS NULL),
        |reb AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_n,
        |    string_agg(tok, ' ' ORDER BY idx) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, CAST(len(c.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(c.ws) - COALESCE(r.kept_n, 0) AS BIGINT) AS n_removed,
        |  COALESCE(r.text, '') AS text
        |FROM corpus c LEFT JOIN reb r USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,
    // q100: the Count-Min sketch re-derived — per-(source, token) exact
    // counts feed 3 counter rows whose buckets are the disjoint 12-bit
    // fields of the q93 fnv→mix64 HUGEINT chain; the estimate is the min
    // over the 3 bucket counters; candidates = distinct tokens of the
    // doc_id < 50 slice; exact_cnt rides beside est_cnt
    "q100_cms_hitters" ->
      ("""WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    w -> len(w) > 0)) AS token
        |  FROM documents),
        |tc AS (SELECT source, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |toksd AS (SELECT DISTINCT token FROM tc)""".stripMargin +
      ",\n" + fnvMix64ChainSql + ",\n" +
      """cms AS (
        |  SELECT t.source, v.r,
        |    CAST(f.h // v.s % 4096 AS INT) AS bucket, SUM(t.c) AS cnt
        |  FROM tc t JOIN mixed f USING (token)
        |  CROSS JOIN (VALUES (0, 1::HUGEINT), (1, 4096::HUGEINT),
        |    (2, 16777216::HUGEINT)) v(r, s)
        |  GROUP BY 1, 2, 3),
        |cand AS (
        |  SELECT DISTINCT source, token FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0)) AS token
        |    FROM documents WHERE doc_id < 50)),
        |cb AS (
        |  SELECT c.source, c.token, f.h
        |  FROM cand c JOIN mixed f USING (token)),
        |est AS (
        |  SELECT cb.source, cb.token,
        |    LEAST(COALESCE(m0.cnt, 0), COALESCE(m1.cnt, 0),
        |      COALESCE(m2.cnt, 0)) AS est_cnt
        |  FROM cb
        |  LEFT JOIN cms m0 ON m0.source = cb.source AND m0.r = 0
        |    AND m0.bucket = CAST(cb.h % 4096 AS INT)
        |  LEFT JOIN cms m1 ON m1.source = cb.source AND m1.r = 1
        |    AND m1.bucket = CAST(cb.h // 4096 % 4096 AS INT)
        |  LEFT JOIN cms m2 ON m2.source = cb.source AND m2.r = 2
        |    AND m2.bucket = CAST(cb.h // 16777216 % 4096 AS INT))
        |SELECT e.source, e.token, CAST(e.est_cnt AS BIGINT) AS est_cnt,
        |  CAST(t.c AS BIGINT) AS exact_cnt
        |FROM est e JOIN tc t USING (source, token)
        |ORDER BY est_cnt DESC, e.source, e.token LIMIT 100""".stripMargin),
    // q105: label centroids as truncated integer means of the q31-quantized
    // components, cosine re-derived dot/(sqrt·sqrt), rounded to 6dp
    "q105_embedding_outliers" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    unnest(range(1, len(embedding) + 1)) AS i,
        |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS qx
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, i,
        |    CAST(SUM(qx) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
        |  FROM q GROUP BY label, i),
        |nm AS (SELECT label, COUNT(*) AS n_members FROM embeddings
        |       GROUP BY label),
        |dots AS (
        |  SELECT q.vec_id, q.label,
        |    CAST(SUM(q.qx * c.m) AS BIGINT) AS dot,
        |    CAST(SUM(q.qx * q.qx) AS BIGINT) AS qq,
        |    CAST(SUM(c.m * c.m) AS BIGINT) AS mm
        |  FROM q JOIN cent c ON c.label = q.label AND c.i = q.i
        |  GROUP BY q.vec_id, q.label)
        |SELECT d.vec_id, d.label, CAST(n.n_members AS BIGINT) AS n_members,
        |  round(CAST(d.dot AS DOUBLE) /
        |    (sqrt(CAST(d.qq AS DOUBLE)) * sqrt(CAST(d.mm AS DOUBLE))), 6)
        |    AS cos_6dp,
        |  round(CAST(d.dot AS DOUBLE) /
        |    (sqrt(CAST(d.qq AS DOUBLE)) * sqrt(CAST(d.mm AS DOUBLE))), 6)
        |    < 0.0 AS outlier
        |FROM dots d JOIN nm n USING (label) ORDER BY d.vec_id""".stripMargin,
    // q110: the paraphrase-contamination pairs brute-forced — q62's string
    // 3-gram shingle CTEs, the double-division Jaccard at the same 0.5
    // threshold, 6dp
    "q110_fuzzy_contamination" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 2000),
        |bench AS (
        |  SELECT doc_id + 700000 AS doc_id,
        |    text || ' benchmark suffix tail' AS text
        |  FROM documents WHERE doc_id < 2000 AND doc_id % 11 = 5
        |  UNION ALL
        |  SELECT doc_id + 800000,
        |    'novel benchmark question item ' || doc_id
        |  FROM documents WHERE doc_id < 2000 AND doc_id % 11 = 7),
        |shc AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            w -> len(w) > 0) AS ws FROM corpus)),
        |shi AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            w -> len(w) > 0) AS ws FROM bench))
        |SELECT i.doc_id AS bench_id, c.doc_id AS doc_id,
        |  round(CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE) /
        |    CAST(len(i.sh) + len(c.sh) - len(list_intersect(i.sh, c.sh))
        |      AS DOUBLE), 6) AS jaccard_6dp
        |FROM shi i JOIN shc c ON len(i.sh) > 0 AND len(c.sh) > 0
        |  AND CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE) /
        |      CAST(len(i.sh) + len(c.sh) - len(list_intersect(i.sh, c.sh))
        |        AS DOUBLE) >= 0.5
        |ORDER BY bench_id, doc_id""".stripMargin,
    // q109: q53's chunk derivation with stride-8 starts — windows while the
    // start is inside the doc, final windows truncated
    "q109_chunk_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      w -> len(w) > 0) AS ws
        |  FROM documents)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(ws[chunk_idx*8+1 : chunk_idx*8+16]) AS BIGINT)
        |    AS n_chunk_tokens,
        |  sha256(array_to_string(ws[chunk_idx*8+1 : chunk_idx*8+16], ' '))
        |    AS chunk_sha
        |FROM (SELECT doc_id, ws,
        |        unnest(range(0, CAST(floor((len(ws) - 1) / 8.0) AS INT) + 1))
        |          AS chunk_idx
        |      FROM toks WHERE len(ws) > 0)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // q108: the data card re-derived — shared tokenization for counts/vocab,
    // the q103 entropy chain per doc, floor means and e6 rates
    "q108_corpus_report" ->
      """WITH base AS (SELECT doc_id, source, lang, text FROM documents),
        |toksl AS (
        |  SELECT doc_id, source, lang, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    w -> len(w) > 0) AS ws
        |  FROM base),
        |chars AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
        |  FROM base),
        |cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
        |entagg AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round(c * ln(c) * 1000000) AS BIGINT)) AS BIGINT)
        |      AS slp
        |  FROM cc GROUP BY doc_id),
        |ent AS (
        |  SELECT b.doc_id,
        |    COALESCE(CAST(round(ln(e.n) * 1000000) AS BIGINT)
        |      - e.slp // e.n, 0) AS ent_e6
        |  FROM base b LEFT JOIN entagg e USING (doc_id)),
        |docagg AS (
        |  SELECT t.source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(t.ws)) AS BIGINT) AS n_tokens,
        |    CAST(SUM(e.ent_e6) AS BIGINT) AS ent_sum,
        |    CAST(SUM(CASE WHEN e.ent_e6 < 2000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS low,
        |    CAST(SUM(CASE WHEN t.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS en_n
        |  FROM toksl t JOIN ent e USING (doc_id) GROUP BY t.source),
        |voc AS (
        |  SELECT source, COUNT(DISTINCT tk) AS n_distinct_tokens
        |  FROM (SELECT source, unnest(ws) AS tk FROM toksl) GROUP BY source)
        |SELECT d.source, CAST(d.n_docs AS BIGINT) AS n_docs, d.n_tokens,
        |  CAST(COALESCE(v.n_distinct_tokens, 0) AS BIGINT) AS n_distinct_tokens,
        |  CAST(d.n_tokens // d.n_docs AS BIGINT) AS mean_doc_tokens,
        |  CAST(d.ent_sum // d.n_docs AS BIGINT) AS mean_entropy_e6,
        |  CAST(d.low * 1000000 // d.n_docs AS BIGINT) AS low_entropy_rate_e6,
        |  CAST(d.en_n * 1000000 // d.n_docs AS BIGINT) AS en_rate_e6
        |FROM docagg d LEFT JOIN voc v USING (source)
        |ORDER BY d.source""".stripMargin,
    // q106: per-source KL vs the corpus unigram mix — the same tokenization,
    // each token's e6-rounded log-ratio times its exact count, truncated div
    "q106_source_kl" ->
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    w -> len(w) > 0)) AS t
        |  FROM documents),
        |sc AS (SELECT source, t, COUNT(*) AS c_si FROM toks GROUP BY 1, 2),
        |cc AS (SELECT t, SUM(c_si) AS c_i FROM sc GROUP BY 1),
        |ns AS (SELECT source, SUM(c_si) AS n_s FROM sc GROUP BY 1),
        |tot AS (SELECT SUM(c_si) AS n FROM sc),
        |terms AS (
        |  SELECT s.source, x.n_s, s.c_si *
        |    CAST(round((ln(s.c_si) - ln(x.n_s) - ln(c.c_i) + ln(tot.n))
        |      * 1000000) AS BIGINT) AS term
        |  FROM sc s JOIN cc c USING (t) JOIN ns x USING (source)
        |  CROSS JOIN tot)
        |SELECT source, CAST(MIN(n_s) AS BIGINT) AS n_tokens,
        |  CAST(SUM(term) // MIN(n_s) AS BIGINT) AS kl_e6
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    // q107: PMI over the exact bigram/marginal counts, e6-rounded once,
    // c12 floor 5, (pmi DESC, w1, w2) LIMIT 50
    "q107_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(range(1, len(ts) + 1)) AS idx,
        |    unnest(ts) AS token
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            w -> len(w) > 0) AS ts
        |        FROM documents)),
        |bigr AS (
        |  SELECT a.token AS w1, b.token AS w2
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1),
        |bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY 1, 2),
        |l AS (SELECT w1, SUM(c12) AS c1 FROM bc GROUP BY 1),
        |r AS (SELECT w2, SUM(c12) AS c2 FROM bc GROUP BY 1),
        |tot AS (SELECT SUM(c12) AS n FROM bc)
        |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
        |  CAST(round((ln(c12) + ln(tot.n) - ln(l.c1) - ln(r.c2)) * 1000000)
        |    AS BIGINT) AS pmi_e6
        |FROM bc JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
        |WHERE c12 >= 5
        |ORDER BY pmi_e6 DESC, w1, w2 LIMIT 50""".stripMargin,
    "q111_corpus_report_full" -> OracleHashSql.q111CorpusReportFull,
    // q112–q118 (r12): the media near-dup family under the driver's
    // red-capable compare — signature-frame banding/admission (q112/q113),
    // clip shared-frame semantics (q114/q118), and the DECODE-INCLUSIVE
    // rows (q115–q117) where DuckDB re-derives SyntheticMedia's pixels in
    // HUGEINT SQL and walks PnmCodec's exact lumaGrid/dhash64 integer math
    "q112_media_band_pairs" -> OracleHashSql.q112MediaBandPairs,
    "q113_media_admission_matches" -> OracleHashSql.q113MediaAdmission,
    "q114_video_shared_frames" -> OracleHashSql.q114VideoSharedFrames,
    "q115_media_dhash64" -> OracleHashSql.q115MediaDhash,
    "q116_media_near_dup_e2e" -> OracleHashSql.q116MediaNearDupPairs,
    "q117_media_admission_e2e" -> OracleHashSql.q117MediaAdmissionE2e,
    "q118_video_admission_sigs" -> OracleHashSql.q118VideoAdmissionSigs,
    "q119_video_dhash_frames" -> OracleHashSql.q119VideoDhashFrames,
    "q120_video_near_dup_e2e" -> OracleHashSql.q120VideoNearDupE2e,
    "q121_audio_afp64" -> OracleHashSql.q121AudioAfp64,
    // q122/q123 (decode-inclusive, WARC): SyntheticWarc renders real
    // gzip-member-per-record WARC bytes from `documents`; the engine PARSES
    // them (Warc.recordsFromFrame), DuckDB re-derives every expected field
    // directly from the table — header walk, CRLF framing, Content-Length
    // byte math (strlen = UTF-8 bytes), gzip member concat all under compare
    "q122_warc_ingest" ->
      """SELECT 'http://graft.test/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  '<urn:graft:doc:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
        |  CAST(strlen(COALESCE(text, '')) AS BIGINT) AS content_length,
        |  COALESCE(text, '') AS text
        |FROM documents ORDER BY target_uri""".stripMargin,
    "q123_wet_docs" ->
      """SELECT 'http://graft.test/doc/' || CAST(doc_id AS VARCHAR) AS url,
        |  '2024-01-01T00:00:00Z' AS warc_date,
        |  COALESCE(text, '') AS text
        |FROM documents ORDER BY url""".stripMargin,
    // q125 (decode-inclusive, HTTP): SyntheticWarc renders true
    // application/http response captures; the engine parses the HTTP
    // envelope for real (status line, chunked framing, charset,
    // Content-Length truncation, HTTP-level media-type filter); DuckDB
    // re-derives every expected field from the variant map in closed form
    "q125_http_response_docs" ->
      """SELECT 'http://graft.test/doc/' || CAST(doc_id AS VARCHAR) AS url,
        |  '2024-01-01T00:00:00Z' AS warc_date,
        |  CAST(CASE WHEN doc_id % 11 = 3 THEN 404 ELSE 200 END AS INT) AS http_status,
        |  CASE WHEN doc_id % 3 = 1 THEN 'text/html' ELSE 'text/plain' END AS mime,
        |  CASE WHEN doc_id % 3 = 2 THEN COALESCE(text, '') || ' café'
        |       WHEN doc_id % 3 = 1 AND doc_id % 5 = 2
        |         THEN '<meta charset="ISO-8859-1">' || COALESCE(text, '') || ' café'
        |       ELSE COALESCE(text, '') END AS text
        |FROM documents WHERE doc_id % 7 <> 2 ORDER BY url""".stripMargin,
    // q133: the planted page's block verdicts re-derived — the doc text's
    // class is a pure integer function of its word count and stopword hits
    // (>=0.25 density keeps it: GOOD outright or NEARGOOD rescued by the
    // good block on its right); the 4-word short block survives ONLY left
    // of a GOOD doc text (>0.45 density AND >10 words); the three planted
    // keeps are constants; nav/footer/h1/sales-pitch/newsletter die
    "q133_justext_main_text" ->
      """WITH c AS (
        |  SELECT doc_id, trim(regexp_replace(COALESCE(text, ''), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, t,
        |    CAST(len(list_filter(string_split(t, ' '), x -> len(x) > 0))
        |      AS BIGINT) AS nw,
        |    CAST(len(list_filter(string_split(t, ' '), x -> lower(x) IN
        |      ('the','a','an','and','of','to','in','it','was','is','for',
        |       'on','with','that','join','hash','row','batch','scan',
        |       'column','filter','data'))) AS BIGINT) AS sh
        |  FROM c)
        |SELECT doc_id,
        |  (CASE WHEN nw >= 5 AND sh * 1000000 >= 250000 * nw
        |        THEN t || chr(10) ELSE '' END) ||
        |  (CASE WHEN nw > 10 AND sh * 1000000 >= 450000 * nw
        |        THEN 'It was so good' || chr(10) ELSE '' END) ||
        |  'the cat sat on the mat and the dog lay in the sun today' ||
        |  chr(10) || 'a cat ran to the park today' || chr(10) ||
        |  'it was the best of the worst' AS text
        |FROM w ORDER BY doc_id""".stripMargin,
    // q132: the q89 machinery with lang threaded through every CTE key —
    // per-lang counts/vocab/log-probs and per-lang even-spread terciles
    "q132_per_lang_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(range(1, len(ts) + 1)) AS idx,
        |    unnest(ts) AS token
        |  FROM (SELECT doc_id, lang,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |            w -> len(w) > 0) AS ts
        |        FROM documents)),
        |bigr AS (
        |  SELECT a.doc_id, a.lang, a.token AS w1, b.token AS w2
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1),
        |bc AS (SELECT lang, w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY 1, 2, 3),
        |ctx AS (SELECT lang, w1, SUM(c12) AS c1 FROM bc GROUP BY 1, 2),
        |v AS (SELECT lang, COUNT(DISTINCT token) AS vs FROM toks GROUP BY 1),
        |scored AS (
        |  SELECT g.doc_id, g.lang,
        |    CAST(round(ln((c.c12 + 1) / (x.c1 + v.vs)) * 1000000) AS BIGINT)
        |      AS lp
        |  FROM bigr g JOIN bc c USING (lang, w1, w2)
        |  JOIN ctx x USING (lang, w1) JOIN v USING (lang)),
        |per AS (
        |  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(-SUM(lp) AS BIGINT) // COUNT(*) AS avg_nll_e6
        |  FROM scored GROUP BY 1, 2),
        |r AS (
        |  SELECT doc_id, lang, n_bigrams, avg_nll_e6,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY avg_nll_e6, doc_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM per)
        |SELECT doc_id, lang, n_bigrams, avg_nll_e6,
        |  CAST((rn - 1) * 3 // n + 1 AS INT) AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,
    // q131: char-2/3-gram LID margins — substr n-grams, the q85 byte-exact
    // FNV HUGEINT walk on distinct grams, positive-mod buckets, the
    // per-language weight formula, all margins + argmax under the compare
    // q139: both rankings re-derived (q134's BM25 CTEs at k=10 + q26's
    // quantized-cosine CTEs over the q-set), then the RRF fold and the
    // fused (rrf desc, doc_id asc) order — all integer floor-div
    "q139_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS token FROM toks)
        |  GROUP BY doc_id, token),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
        |       FROM tf GROUP BY doc_id),
        |st AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
        |              (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS tot),
        |av AS (SELECT (1000 * tot) // n AS avgdl_e3 FROM st),
        |qq AS (SELECT doc_id AS q_id, unnest(list_distinct(ws[1:5])) AS token
        |       FROM toks WHERE doc_id % 37 = 0),
        |dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
        |        WHERE token IN (SELECT token FROM qq) GROUP BY token),
        |idf AS (SELECT token,
        |    CAST(round(ln(((SELECT CAST(n AS DOUBLE) FROM st) - df + 0.5)
        |      / (df + 0.5) + 1.0) * 1000000.0) AS BIGINT) AS idf_e6
        |  FROM dfq),
        |nrm AS (SELECT doc_id,
        |    250000 + (750000000 * dl) // (SELECT avgdl_e3 FROM av) AS norm_e6
        |  FROM dl),
        |hits AS (
        |  SELECT qq.q_id, tf.doc_id,
        |    (idf.idf_e6 * tf.tf * 2200)
        |      // (1000 * tf.tf + (1200 * nrm.norm_e6) // 1000000) AS term_e6
        |  FROM tf JOIN qq USING (token) JOIN idf USING (token)
        |  JOIN nrm ON nrm.doc_id = tf.doc_id),
        |sparse AS (
        |  SELECT q_id, doc_id, rn FROM (
        |    SELECT q_id, doc_id,
        |      CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY CAST(SUM(term_e6) AS BIGINT) DESC, doc_id) AS BIGINT)
        |        AS rn
        |    FROM hits GROUP BY q_id, doc_id)
        |  WHERE rn <= 10),
        |qv AS (SELECT vec_id AS q_id, embedding AS v FROM embeddings
        |       WHERE vec_id % 37 = 0),
        |pairs AS (
        |  SELECT qv.q_id, e.vec_id AS doc_id,
        |    CAST(list_sum(list_transform(range(1, len(qv.v) + 1), i ->
        |      CAST(ROUND(CAST(qv.v[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE) /
        |    (sqrt(CAST(list_sum(list_transform(range(1, len(qv.v) + 1), i ->
        |      CAST(ROUND(CAST(qv.v[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(qv.v[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)) *
        |     sqrt(CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), i ->
        |      CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) *
        |      CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))) AS DOUBLE)))
        |      AS cosine
        |  FROM qv, embeddings e WHERE e.vec_id != qv.q_id),
        |dense AS (
        |  SELECT q_id, doc_id, rn FROM (
        |    SELECT q_id, doc_id,
        |      CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY round(cosine, 6) DESC, doc_id) AS BIGINT) AS rn
        |    FROM pairs)
        |  WHERE rn <= 10),
        |fused AS (
        |  SELECT COALESCE(s.q_id, d.q_id) AS q_id,
        |    COALESCE(s.doc_id, d.doc_id) AS doc_id,
        |    COALESCE(1000000 // (60 + s.rn), 0)
        |      + COALESCE(1000000 // (60 + d.rn), 0) AS rrf_e6
        |  FROM sparse s FULL OUTER JOIN dense d
        |    ON s.q_id = d.q_id AND s.doc_id = d.doc_id),
        |ranked AS (
        |  SELECT q_id, doc_id, rrf_e6,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY rrf_e6 DESC, doc_id) AS INT) AS rn
        |  FROM fused)
        |SELECT q_id, rn, doc_id, rrf_e6 FROM ranked
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    // q138: the same-site link graph's node ids are closed-form longs, so
    // the recursive closure re-derives every component label (q49's
    // discipline over hyperlink structure instead of near-dup pairs)
    "q138_link_components" ->
      """WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM documents),
        |pairs AS (
        |  SELECT (doc_id % 23) * 10000000 + doc_id * 10 AS id_a,
        |         (doc_id % 23) * 10000000 + (doc_id % 10) * 10 AS id_b
        |  FROM documents
        |  UNION ALL
        |  SELECT (doc_id % 23) * 10000000 + doc_id * 10,
        |         (doc_id % 23) * 10000000 + ((7 * doc_id + 1) % n) * 10
        |  FROM documents, nn),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs WHERE id_a <> id_b
        |  UNION SELECT id_b, id_a FROM pairs WHERE id_a <> id_b),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id)
        |SELECT id AS node_id, MIN(comp) AS component
        |FROM reach GROUP BY id ORDER BY node_id""".stripMargin,
    // q137: prefix-only rules make the RFC 9309 verdicts closed-form
    // starts_with algebra — graftbot's group is (Disallow /p/<2s>, Allow /),
    // the * group is (Disallow /p/<s>, Allow /p/<s><s%10>) with the longer
    // allow rescuing its sub-tree; group selection, longest-match, and the
    // sitemap/comment/empty-line handling all sit under the hash compare
    "q137_robots_gate" ->
      """SELECT doc_id, '/p/' || CAST(doc_id AS VARCHAR) AS path,
        |  NOT starts_with(CAST(doc_id AS VARCHAR),
        |    CAST(2 * (doc_id % 23) AS VARCHAR)) AS allowed_graftbot,
        |  (NOT starts_with(CAST(doc_id AS VARCHAR),
        |      CAST(doc_id % 23 AS VARCHAR)))
        |   OR starts_with(CAST(doc_id AS VARCHAR),
        |      CAST(doc_id % 23 AS VARCHAR) ||
        |      CAST((doc_id % 23) % 10 AS VARCHAR)) AS allowed_other
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q136: the synthetic crawl's links are closed-form (see
    // linkCrawlPages) — raw link rows re-derived from the formulas
    // (self-links and duplicates KEPT: multiplicity is the anchor count),
    // ranked per target by (count desc, FNV-1a 64 asc — q67's machinery)
    "q136_anchor_texts" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |raw AS (
        |  SELECT 'https://site' || CAST(doc_id % 23 AS VARCHAR) ||
        |      '.example.com/p/' || CAST(doc_id % 10 AS VARCHAR) AS dst,
        |    'hub ' || CAST(doc_id % 10 AS VARCHAR) AS anchor
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://site' || CAST(doc_id % 23 AS VARCHAR) ||
        |      '.example.com/p/' || CAST((7 * doc_id + 1) % n AS VARCHAR),
        |    'next ' || CAST(doc_id % 7 AS VARCHAR)
        |  FROM documents, nn
        |  UNION ALL
        |  SELECT 'https://site' || CAST((doc_id + 1) % 23 AS VARCHAR) ||
        |      '.example.com/p/' || CAST((13 * doc_id + 5) % n AS VARCHAR) ||
        |      '?x=' || CAST(doc_id % 3 AS VARCHAR),
        |    'cross'
        |  FROM documents, nn),
        |counted AS (
        |  SELECT dst, anchor, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM raw GROUP BY dst, anchor),
        |ad AS (SELECT DISTINCT anchor FROM counted),
        |fnv AS (
        |  SELECT anchor, CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |      THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
        |    AS fnv
        |  FROM (
        |    SELECT anchor, list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(0, octet_length(encode(anchor))), i ->
        |          CAST(strpos('123456789ABCDEF',
        |                 hex(encode(anchor))[CAST(2*i+1 AS BIGINT)]) * 16
        |             + strpos('123456789ABCDEF',
        |                 hex(encode(anchor))[CAST(2*i+2 AS BIGINT)]) AS BIGINT))),
        |      (h, byt) -> ((h - (h % 256)
        |          + xor(CAST(h % 256 AS BIGINT), byt)::HUGEINT)
        |        * 1099511628211::HUGEINT)
        |        % 18446744073709551616::HUGEINT) AS h
        |    FROM ad)),
        |ranked AS (
        |  SELECT c.dst, c.anchor, c.cnt,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c.dst
        |      ORDER BY c.cnt DESC, f.fnv ASC) AS INT) AS rn
        |  FROM counted c JOIN fnv f USING (anchor))
        |SELECT dst, rn, anchor, cnt FROM ranked
        |WHERE rn <= 3 ORDER BY dst, rn""".stripMargin,
    // q135: edges re-derived from linkCrawlPages' closed-form link
    // formulas (the engine must reach the same graph through
    // extract_links -> url_resolve -> url_normalize); three PageRank
    // iterations unrolled as CTEs with the engine's exact integer
    // arithmetic: r0 = 1e12 // m, teleport = 150e12 // (1000 m),
    // contribution = (pr * 850) // (1000 * out_deg)
    "q135_link_graph_rank" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |raw AS (
        |  SELECT 'https://site' || CAST(doc_id % 23 AS VARCHAR) ||
        |      '.example.com/p/' || CAST(doc_id AS VARCHAR) AS src,
        |    'https://site' || CAST(doc_id % 23 AS VARCHAR) ||
        |      '.example.com/p/' || CAST(doc_id % 10 AS VARCHAR) AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://site' || CAST(doc_id % 23 AS VARCHAR) ||
        |      '.example.com/p/' || CAST(doc_id AS VARCHAR),
        |    'https://site' || CAST(doc_id % 23 AS VARCHAR) ||
        |      '.example.com/p/' || CAST((7 * doc_id + 1) % n AS VARCHAR)
        |  FROM documents, nn
        |  UNION ALL
        |  SELECT 'https://site' || CAST(doc_id % 23 AS VARCHAR) ||
        |      '.example.com/p/' || CAST(doc_id AS VARCHAR),
        |    'https://site' || CAST((doc_id + 1) % 23 AS VARCHAR) ||
        |      '.example.com/p/' || CAST((13 * doc_id + 5) % n AS VARCHAR) ||
        |      '?x=' || CAST(doc_id % 3 AS VARCHAR)
        |  FROM documents, nn),
        |edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        |nodes AS (SELECT src AS node FROM edges
        |          UNION SELECT dst AS node FROM edges),
        |c AS (SELECT COUNT(*) AS m FROM nodes),
        |outd AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg
        |         FROM edges GROUP BY src),
        |ind AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_deg
        |        FROM edges GROUP BY dst),
        |r0 AS (SELECT node, 1000000000000 // m AS pr FROM nodes, c),
        |r1 AS (
        |  SELECT n.node, CAST((SELECT 150000000000000 // (1000 * m) FROM c)
        |    + COALESCE(SUM((r.pr * 850) // (1000 * o.out_deg)), 0)
        |    AS BIGINT) AS pr
        |  FROM nodes n
        |  LEFT JOIN edges e ON e.dst = n.node
        |  LEFT JOIN r0 r ON r.node = e.src
        |  LEFT JOIN outd o ON o.node = e.src
        |  GROUP BY n.node),
        |r2 AS (
        |  SELECT n.node, CAST((SELECT 150000000000000 // (1000 * m) FROM c)
        |    + COALESCE(SUM((r.pr * 850) // (1000 * o.out_deg)), 0)
        |    AS BIGINT) AS pr
        |  FROM nodes n
        |  LEFT JOIN edges e ON e.dst = n.node
        |  LEFT JOIN r1 r ON r.node = e.src
        |  LEFT JOIN outd o ON o.node = e.src
        |  GROUP BY n.node),
        |r3 AS (
        |  SELECT n.node, CAST((SELECT 150000000000000 // (1000 * m) FROM c)
        |    + COALESCE(SUM((r.pr * 850) // (1000 * o.out_deg)), 0)
        |    AS BIGINT) AS pr
        |  FROM nodes n
        |  LEFT JOIN edges e ON e.dst = n.node
        |  LEFT JOIN r2 r ON r.node = e.src
        |  LEFT JOIN outd o ON o.node = e.src
        |  GROUP BY n.node)
        |SELECT n.node, COALESCE(o.out_deg, 0) AS out_deg,
        |  COALESCE(i2.in_deg, 0) AS in_deg, r3.pr AS pr_e12
        |FROM nodes n
        |LEFT JOIN outd o ON o.node = n.node
        |LEFT JOIN ind i2 ON i2.node = n.node
        |JOIN r3 ON r3.node = n.node
        |ORDER BY pr_e12 DESC, n.node LIMIT 50""".stripMargin,
    // q134: quantized Lucene BM25 re-derived end to end — tf/dl/df, the
    // rounded-ln idf, the integer length norm, the floor-div per-term
    // score, and the (score desc, doc_id asc) ranking
    "q134_bm25_topk" -> bm25TopkSql,
    // q140: the indexed route with an admission tick must DEGENERATE to
    // the from-scratch full-corpus answer — q134's oracle, verbatim (the
    // q58/q72 pattern: one SQL, two engine routes)
    "q140_bm25_indexed" -> bm25TopkSql,
    // q141: both served rankings re-derived — the BM25 CTEs (q134) + the
    // coarse-assign/PQ-codes/ADC CTEs (q77, at the %37 q-set, nProbe=1,
    // k=10) — then q139's RRF fold over them
    "q141_hybrid_served" -> hybridServedSql,
    // q144: q134's BM25 machinery with the gold pair excluded BEFORE the
    // ranking — the mined negatives' ranks and scores re-derive exactly
    "q144_hard_negatives" -> bm25RankedSql(" WHERE doc_id <> q_id"),
    // q145: q49's recursive closure (the component per doc) + q61's
    // Knuth-threshold CASE applied to the COMPONENT key (docs without a
    // cluster key on their own id)
    "q145_split_by_component" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents WHERE doc_id < 2000),
        |sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        >= 0.5),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
        |comp AS (SELECT id AS doc_id, MIN(comp) AS component
        |         FROM reach GROUP BY id),
        |keyed AS (
        |  SELECT d.doc_id,
        |    CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS split_key
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 2000) d
        |  LEFT JOIN comp c USING (doc_id))
        |SELECT doc_id, split_key,
        |  CASE WHEN (split_key * 2654435761) % 4294967296 / 4294967296.0 < 0.9
        |         THEN 'train'
        |       WHEN (split_key * 2654435761) % 4294967296 / 4294967296.0 < 0.95
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM keyed ORDER BY doc_id""".stripMargin,
    // q150: the composed training-pairs product — q134's BM25 CTEs (slice
    // + gold exclusion) joined to q49's closure + q61's Knuth split CASE
    // on the QUERY's cluster root: the whole data product hashed
    "q150_training_pairs" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id < 2000),
        |toks AS (
        |  SELECT doc_id, lang, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM d),
        |tf AS (
        |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS token FROM toks)
        |  GROUP BY doc_id, token),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
        |       FROM tf GROUP BY doc_id),
        |st AS (SELECT (SELECT COUNT(*) FROM d) AS n,
        |              (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS tot),
        |av AS (SELECT (1000 * tot) // n AS avgdl_e3 FROM st),
        |q AS (SELECT doc_id AS q_id, unnest(list_distinct(ws[1:5])) AS token
        |      FROM toks WHERE doc_id % 37 = 0),
        |dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
        |        WHERE token IN (SELECT token FROM q) GROUP BY token),
        |idf AS (SELECT token,
        |    CAST(round(ln(((SELECT CAST(n AS DOUBLE) FROM st) - df + 0.5)
        |      / (df + 0.5) + 1.0) * 1000000.0) AS BIGINT) AS idf_e6
        |  FROM dfq),
        |nrm AS (SELECT doc_id,
        |    250000 + (750000000 * dl) // (SELECT avgdl_e3 FROM av) AS norm_e6
        |  FROM dl),
        |hits AS (
        |  SELECT q.q_id, tf.doc_id,
        |    (idf.idf_e6 * tf.tf * 2200)
        |      // (1000 * tf.tf + (1200 * nrm.norm_e6) // 1000000) AS term_e6
        |  FROM tf JOIN q USING (token) JOIN idf USING (token)
        |  JOIN nrm ON nrm.doc_id = tf.doc_id),
        |sc AS (
        |  SELECT q_id, doc_id, CAST(SUM(term_e6) AS BIGINT) AS score_e6
        |  FROM hits GROUP BY q_id, doc_id),
        |ranked AS (
        |  SELECT q_id, doc_id, score_e6,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY score_e6 DESC, doc_id) AS INT) AS rn
        |  FROM sc WHERE doc_id <> q_id),
        |neg AS (SELECT q_id, rn, doc_id AS neighbor_id, score_e6
        |        FROM ranked WHERE rn <= 10),
        |sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        >= 0.5),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
        |comp AS (SELECT id AS doc_id, MIN(comp) AS component
        |         FROM reach GROUP BY id),
        |keyed AS (
        |  SELECT t.q_id,
        |    CAST(COALESCE(c.component, t.q_id) AS BIGINT) AS split_key
        |  FROM (SELECT DISTINCT q_id FROM q) t
        |  LEFT JOIN comp c ON c.doc_id = t.q_id)
        |SELECT n.q_id, n.rn, n.neighbor_id, n.score_e6, k.split_key,
        |  CASE WHEN (k.split_key * 2654435761) % 4294967296 / 4294967296.0 < 0.9
        |         THEN 'train'
        |       WHEN (k.split_key * 2654435761) % 4294967296 / 4294967296.0 < 0.95
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM neg n JOIN keyed k USING (q_id)
        |ORDER BY q_id, rn""".stripMargin,
    // q146: q49's closure + the quality-winner rule — per component key,
    // the max-n_chars member (tie: min id) survives
    "q146_quality_survivors_by" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM documents WHERE doc_id < 2000),
        |sh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        >= 0.5),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, comp) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
        |comp AS (SELECT id AS doc_id, MIN(comp) AS component
        |         FROM reach GROUP BY id),
        |keyed AS (
        |  SELECT d.doc_id, d.n_chars,
        |    COALESCE(c.component, d.doc_id) AS k
        |  FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 2000) d
        |  LEFT JOIN comp c USING (doc_id))
        |SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY k
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM keyed) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // q143: the sitemap shapes are closed-form by doc_id, so the oracle
    // emits the expected (pos, loc, lastmod, kind) rows directly — the
    // engine must reach them THROUGH the XML/plain-text parse (tag walk,
    // &amp; decode, whitespace trim, non-URL-line drop)
    "q143_sitemap_parse" ->
      """SELECT doc_id, CAST(pos AS INTEGER) AS pos, loc, lastmod, kind
        |FROM (
        |  SELECT doc_id, 0 AS pos,
        |    'https://s' || CAST(doc_id % 23 AS VARCHAR) || '.test/p/' ||
        |      CAST(doc_id AS VARCHAR) AS loc,
        |    '2024-01-0' || CAST(doc_id % 4 + 1 AS VARCHAR) AS lastmod,
        |    'url' AS kind
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 1,
        |    'https://s' || CAST(doc_id % 23 AS VARCHAR) || '.test/x?a=' ||
        |      CAST(doc_id AS VARCHAR) || '&b=1',
        |    CAST(NULL AS VARCHAR), 'url'
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 0,
        |    'https://s' || CAST(doc_id % 23 AS VARCHAR) || '.test/sm/' ||
        |      CAST(doc_id AS VARCHAR) || '.xml',
        |    CAST(NULL AS VARCHAR), 'sitemap'
        |  FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, 0,
        |    'https://s' || CAST(doc_id % 23 AS VARCHAR) || '.test/t/' ||
        |      CAST(doc_id AS VARCHAR),
        |    CAST(NULL AS VARCHAR), 'url'
        |  FROM documents WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT doc_id, 1,
        |    'https://s' || CAST(doc_id % 23 AS VARCHAR) || '.test/t2/' ||
        |      CAST(doc_id AS VARCHAR),
        |    CAST(NULL AS VARCHAR), 'url'
        |  FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY doc_id, pos""".stripMargin,
    // q142: the whole frontier re-derived — candidates, the crawled-set
    // anti-join (index < N on its own host), q137's robots starts_with
    // algebra, the closed-form host rank, and the per-host cap-5 pick by
    // q136's byte-exact FNV walk
    "q142_crawl_frontier" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id % 23 AS k, (7 * doc_id + 1) % (2 * n) AS m
        |  FROM documents, nn
        |  UNION ALL
        |  SELECT (doc_id % 23 + 1) % 23, (13 * doc_id + 5) % (2 * n)
        |  FROM documents, nn),
        |cand AS (SELECT DISTINCT k, m FROM raw),
        |fresh AS (
        |  SELECT k, m FROM cand, nn WHERE NOT (m < n AND m % 23 = k)),
        |gated AS (
        |  SELECT 's' || CAST(k AS VARCHAR) || '.test' AS host, k,
        |    'https://s' || CAST(k AS VARCHAR) || '.test/p/' ||
        |      CAST(m AS VARCHAR) AS url
        |  FROM fresh
        |  WHERE NOT starts_with(CAST(m AS VARCHAR), CAST(k AS VARCHAR))
        |     OR starts_with(CAST(m AS VARCHAR),
        |          CAST(k AS VARCHAR) || CAST(k % 10 AS VARCHAR))),
        |sm AS (SELECT DISTINCT doc_id % 23 AS k FROM documents),
        |pool AS (
        |  SELECT host, k, url FROM gated
        |  UNION ALL
        |  SELECT 's' || CAST(k AS VARCHAR) || '.test', k,
        |    'https://s' || CAST(k AS VARCHAR) || '.test/sitemap.xml'
        |  FROM sm),
        |ud AS (SELECT DISTINCT url FROM pool),
        |fnv AS (
        |  SELECT url, CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |      THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
        |    AS fnv
        |  FROM (
        |    SELECT url, list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(0, octet_length(encode(url))), i ->
        |          CAST(strpos('123456789ABCDEF',
        |                 hex(encode(url))[CAST(2*i+1 AS BIGINT)]) * 16
        |             + strpos('123456789ABCDEF',
        |                 hex(encode(url))[CAST(2*i+2 AS BIGINT)]) AS BIGINT))),
        |      (h, byt) -> ((h - (h % 256)
        |          + xor(CAST(h % 256 AS BIGINT), byt)::HUGEINT)
        |        * 1099511628211::HUGEINT)
        |        % 18446744073709551616::HUGEINT) AS h
        |    FROM ud)),
        |ranked AS (
        |  SELECT p.host, p.k, p.url,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p.host
        |      ORDER BY f.fnv ASC) AS INT) AS rn
        |  FROM pool p JOIN fnv f USING (url))
        |SELECT url, host, CAST((23 - k) * 1000000 AS BIGINT)
        |  AS host_rank_e12, rn,
        |  CASE WHEN k % 5 = 0 THEN NULL
        |       ELSE CAST((rn - 1) * (k % 5 * 1000 + 500) AS BIGINT)
        |  END AS fetch_after_ms
        |FROM ranked WHERE rn <= 5 ORDER BY host, rn""".stripMargin,
    "q131_lang_id_margins" ->
      """WITH docs AS (
        |  SELECT doc_id, lower(trim(text)) AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(flatten([
        |    list_transform(range(1, greatest(len(t) - 1, 0) + 1),
        |      i -> substr(t, CAST(i AS BIGINT), 2)),
        |    list_transform(range(1, greatest(len(t) - 2, 0) + 1),
        |      i -> substr(t, CAST(i AS BIGINT), 3))
        |  ])) AS g
        |  FROM docs),
        |gd AS (SELECT DISTINCT g FROM grams),
        |fnv AS (
        |  SELECT g, CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |      THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
        |    AS fnv
        |  FROM (
        |    SELECT g, list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(0, octet_length(encode(g))), i ->
        |          CAST(strpos('123456789ABCDEF',
        |                 hex(encode(g))[CAST(2*i+1 AS BIGINT)]) * 16
        |             + strpos('123456789ABCDEF',
        |                 hex(encode(g))[CAST(2*i+2 AS BIGINT)]) AS BIGINT))),
        |      (h, byt) -> ((h - (h % 256)
        |          + xor(CAST(h % 256 AS BIGINT), byt)::HUGEINT)
        |        * 1099511628211::HUGEINT)
        |        % 18446744073709551616::HUGEINT) AS h
        |    FROM gd)),
        |bucketed AS (
        |  SELECT gr.doc_id, CAST(((f.fnv % 64) + 64) % 64 AS INT) AS b
        |  FROM grams gr JOIN fnv f USING (g)),
        |counts AS (
        |  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM bucketed GROUP BY 1, 2),
        |langs AS (SELECT * FROM (VALUES ('de', 0), ('en', 1), ('fr', 2),
        |  ('it', 3)) AS l(lang, li)),
        |w AS (
        |  SELECT l.lang, CAST(b AS INT) AS b,
        |    ((l.li * 64 + b) * 2654435761) % 4294967296 % 2001 - 1000 AS w_e3
        |  FROM langs l, (SELECT unnest(range(0, 64)) AS b)),
        |m AS (
        |  SELECT c.doc_id, w.lang, CAST(SUM(c.cnt) AS BIGINT) AS n_grams,
        |    CAST(SUM(c.cnt * w.w_e3) AS BIGINT) AS margin_e3
        |  FROM counts c JOIN w USING (b) GROUP BY 1, 2),
        |pick AS (
        |  SELECT doc_id, lang AS best FROM (
        |    SELECT doc_id, lang, ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY margin_e3 DESC, lang ASC) AS rn
        |    FROM m)
        |  WHERE rn = 1)
        |SELECT m.doc_id, m.lang, m.n_grams, m.margin_e3,
        |  m.lang = p.best AS is_pick
        |FROM m JOIN pick p USING (doc_id)
        |ORDER BY m.doc_id, m.lang""".stripMargin,
    // q130: banned-word hits re-derived with the established tokenizer;
    // both the count and the threshold gate sit under the compare
    "q130_banned_word_gate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(COALESCE(text, ''))), '\s+'),
        |    w -> len(w) > 0) AS ws
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, CAST(len(list_filter(ws,
        |    w -> w IN ('agg', 'vector', 'tide'))) AS BIGINT) AS banned_hits
        |  FROM toks)
        |SELECT doc_id, banned_hits FROM h WHERE banned_hits <= 2
        |ORDER BY doc_id""".stripMargin,
    // q129: the rule surface is closed-form — lower scheme/host, strip :80
    // (keep :8080), drop tracking params and fragments, keep path case
    "q129_url_normalize" ->
      """SELECT doc_id,
        |  'http://example' || CAST(doc_id % 5 AS VARCHAR) || '.com' ||
        |  CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8080' END ||
        |  '/Path/' || CAST(doc_id AS VARCHAR) ||
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN '?q=' || CAST(doc_id AS VARCHAR) ELSE '' END
        |    AS url_norm,
        |  'example' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS host
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q128: the planted boilerplate is closed-form — expected = the
    // ws-collapsed document paragraph (iff it clears the 5-word floor) +
    // the mixed paragraph with its anchor text; nav/title/heading/footer
    // drop by word count or link density
    "q128_html_main_text" ->
      """WITH c AS (
        |  SELECT doc_id, trim(regexp_replace(COALESCE(text, ''), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, t,
        |    len(list_filter(string_split_regex(t, ' '), x -> len(x) > 0)) AS nw
        |  FROM c)
        |SELECT doc_id,
        |  CASE WHEN nw >= 5 THEN t || chr(10) ELSE '' END ||
        |  'Read the full story at this link now please' AS text
        |FROM w ORDER BY doc_id""".stripMargin,
    // q127: the cross-tick store chain (dedup -> admit -> fold -> admit)
    // re-derived tick by tick with three recursive-CTE closures
    "q127_media_store_ticks" -> OracleHashSql.q127MediaStoreTicks,
    // q126: the synthetic HTML is closed-form, so the EXPECTED extraction is
    // too — title text + decoded refs + h1 text + the ws-collapsed document
    // text + trailing anchor, everything else (style/script/comment/tags)
    // stripped
    "q126_html_to_text" ->
      """WITH c AS (
        |  SELECT doc_id, trim(regexp_replace(COALESCE(text, ''), '\s+', ' ', 'g')) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || ' Doc Doc & ' || CAST(doc_id AS VARCHAR) ||
        |  CASE WHEN t = '' THEN '' ELSE ' ' || t END || ' end' AS text
        |FROM c ORDER BY doc_id""".stripMargin,
    // q124: re-derive the closed-form low-diversity corpus and brute-force
    // exact Jaccard — truth for the FORCED df-ordered candidate route
    "q124_flood_dedup_df_route" ->
      """WITH ids AS (
        |  SELECT CAST(doc_id AS BIGINT) AS d FROM documents WHERE doc_id < 2000),
        |gen AS (
        |  SELECT d, array_to_string(list_transform(range(0, 60), i ->
        |      list_extract(['alpha','beta','gamma','delta','epsil','zeta','eta','theta'],
        |        1 + CAST((d % 25 * 7 + i * 3 +
        |          CASE WHEN i = (d // 25) % 60 THEN d % 97 ELSE 0 END) % 8 AS INT))
        |    ), ' ') || ' d' || CAST(d AS VARCHAR) AS text
        |  FROM ids),
        |toks AS (
        |  SELECT d AS doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM gen),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |SELECT id_a, id_b, jaccard FROM pairs
        |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,
    // q104: q95's corpus and window/first-occurrence rules, folded to
    // per-doc counts + the floor-divided e6 novelty instead of span surgery
    "q104_window_novelty" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 1000),
        |synth AS (
        |  SELECT a.doc_id + 500000 AS doc_id, a.text || ' ' || b.text AS text
        |  FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 9 = 1),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM synth),
        |toksl AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM corpus),
        |win0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 18),
        |    i -> {'pos': i, 'g': array_to_string(list_slice(ws, i, i + 19),
        |      ' ')})) AS u
        |  FROM toksl WHERE len(ws) >= 20),
        |wing AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM win0),
        |firstw AS (
        |  SELECT g, doc_id AS fd, pos AS fp FROM wing
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY doc_id, pos) = 1),
        |stats AS (
        |  SELECT w.doc_id, COUNT(*) AS n_windows,
        |    CAST(SUM(CASE WHEN w.doc_id = f.fd AND w.pos = f.fp
        |      THEN 0 ELSE 1 END) AS BIGINT) AS n_dup
        |  FROM wing w JOIN firstw f USING (g) GROUP BY w.doc_id)
        |SELECT c.doc_id,
        |  CAST(COALESCE(s.n_windows, 0) AS BIGINT) AS n_windows,
        |  CAST(COALESCE(s.n_dup, 0) AS BIGINT) AS n_dup,
        |  CAST(CASE WHEN COALESCE(s.n_windows, 0) = 0 THEN 1000000
        |    ELSE (s.n_windows - s.n_dup) * 1000000 // s.n_windows END
        |    AS BIGINT) AS novelty_e6,
        |  CAST(CASE WHEN COALESCE(s.n_windows, 0) = 0 THEN 1000000
        |    ELSE (s.n_windows - s.n_dup) * 1000000 // s.n_windows END
        |    AS BIGINT) < 500000 AS mostly_dup
        |FROM corpus c LEFT JOIN stats s USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,
    // q95: q69's synth corpus, windows as STRINGS (the engine's 64-bit
    // window hashes are collision-free groupings of the same sets), global
    // first = row_number over (doc_id, pos), drop mask = distinct covered
    // positions of every non-first window, rebuild via ordered string_agg
    "q95_window_scrub" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 1000),
        |synth AS (
        |  SELECT a.doc_id + 500000 AS doc_id, a.text || ' ' || b.text AS text
        |  FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 9 = 1),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM synth),
        |toksl AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS ws
        |  FROM corpus),
        |tok AS (
        |  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS idx,
        |    unnest(ws) AS tok
        |  FROM toksl),
        |win0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 18),
        |    i -> {'pos': i, 'g': array_to_string(list_slice(ws, i, i + 19),
        |      ' ')})) AS u
        |  FROM toksl WHERE len(ws) >= 20),
        |wing AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM win0),
        |firstw AS (
        |  SELECT g, doc_id AS fd, pos AS fp FROM wing
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY doc_id, pos) = 1),
        |dup AS (
        |  SELECT w.doc_id, w.pos FROM wing w JOIN firstw f USING (g)
        |  WHERE NOT (w.doc_id = f.fd AND w.pos = f.fp)),
        |drops AS (
        |  SELECT DISTINCT doc_id, idx FROM (
        |    SELECT doc_id, unnest(range(pos, pos + 20)) AS idx FROM dup)),
        |kept AS (
        |  SELECT t.doc_id, t.idx, t.tok
        |  FROM tok t LEFT JOIN drops d
        |    ON d.doc_id = t.doc_id AND d.idx = t.idx
        |  WHERE d.doc_id IS NULL),
        |reb AS (
        |  SELECT doc_id, COUNT(*) AS kept_n,
        |    string_agg(tok, ' ' ORDER BY idx) AS text
        |  FROM kept GROUP BY doc_id),
        |sizes AS (SELECT doc_id, len(ws) AS n_tokens FROM toksl)
        |SELECT s.doc_id, CAST(s.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(s.n_tokens - COALESCE(r.kept_n, 0) AS BIGINT) AS n_removed,
        |  COALESCE(r.text, '') AS text
        |FROM sizes s LEFT JOIN reb r USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin)

  /** alpha_m · m² for the p=8 HLL estimate — computed with the EXACT
    * operation sequence `Cardinality.hllEstimate` uses, so the interpolated
    * SQL literal (Scala's shortest round-trip Double repr) parses back to
    * the identical bits in DuckDB. */
  private val hllAlphaM2: Double = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0

  /** q80's line-dedup derivation: winner per line text = first
    * (doc_id, idx) occurrence, non-dedupable lines always kept, per-doc
    * reassembly in line order. */
  /** Shared q80/q101 oracle: the doc-triple corpus, per-line ROW_NUMBER over
    * (doc, idx), and keep = rn ≤ cap (cap 1 = hard line dedup, q80; cap 2 =
    * the frequency cap, q101). */
  private def lineCapOracleSql(cap: Int): String =
    lineDedupOracleTemplate.replace("__CAP__", cap.toString)

  private lazy val lineDedupOracleSql: String = lineCapOracleSql(1)

  private val lineDedupOracleTemplate: String =
      """WITH corpus AS (
        |  SELECT a.doc_id,
        |    a.text || chr(10) || '##' || chr(10) || b.text || chr(10) ||
        |      '##' || chr(10) || c.text AS text
        |  FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1
        |  JOIN documents c ON c.doc_id = a.doc_id + 2),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS idx,
        |    unnest(string_split(text, chr(10))) AS line
        |  FROM corpus),
        |flagged AS (
        |  SELECT doc_id, idx, line,
        |    len(regexp_extract_all(lower(line), '[a-z]+|[0-9]|[^a-z0-9\s]')) >= 3
        |      AS dedupable
        |  FROM lines),
        |keepers AS (
        |  SELECT doc_id, idx, line FROM (
        |    SELECT doc_id, idx, line,
        |      ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
        |    FROM flagged WHERE dedupable) WHERE rn <= __CAP__),
        |kept AS (
        |  SELECT f.doc_id, f.idx, f.line,
        |    ((NOT f.dedupable) OR (k.doc_id IS NOT NULL)) AS keep
        |  FROM flagged f LEFT JOIN keepers k
        |    ON k.line = f.line AND k.doc_id = f.doc_id AND k.idx = f.idx)
        |SELECT doc_id,
        |  COALESCE(string_agg(line, chr(10) ORDER BY idx)
        |    FILTER (WHERE keep), '') AS text,
        |  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The FNV-1a→splitmix64 HUGEINT walk over a `toksd(token)` CTE, ending
    * at `mixed(token, h)` (h unsigned): q85's byte-exact FNV-1a walk kept
    * UNSIGNED, then the splitmix64 finalizer (xor on the signed view,
    * multiply mod 2^64 via 32-bit-half decomposition so signed INT128 never
    * overflows) — the shared hash tail of the q93/q96/q100 sketch oracles.
    * Callers supply the head CTEs (`toksd` must exist) and append their own
    * consumers. */
  private val fnvMix64ChainSql: String =
      """fnv AS (
        |  SELECT token, list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(0, octet_length(encode(token))), i ->
        |          CAST(strpos('123456789ABCDEF',
        |                 hex(encode(token))[CAST(2*i+1 AS BIGINT)]) * 16
        |             + strpos('123456789ABCDEF',
        |                 hex(encode(token))[CAST(2*i+2 AS BIGINT)]) AS BIGINT))),
        |      (h, byt) -> ((h - (h % 256)
        |          + xor(CAST(h % 256 AS BIGINT), byt)::HUGEINT)
        |        * 1099511628211::HUGEINT)
        |        % 18446744073709551616::HUGEINT) AS h
        |  FROM toksd),
        |x1 AS (
        |  SELECT token, CASE WHEN x < 0
        |      THEN x::HUGEINT + 18446744073709551616::HUGEINT
        |      ELSE x::HUGEINT END AS a
        |  FROM (SELECT token, xor(
        |      CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |        THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT),
        |      CAST(h // 1073741824::HUGEINT AS BIGINT)) AS x FROM fnv)),
        |m1 AS (
        |  SELECT token,
        |    ((a // 4294967296::HUGEINT * 13787848793156543929::HUGEINT)
        |       % 4294967296::HUGEINT * 4294967296::HUGEINT
        |     + (a % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT)
        |      % 18446744073709551616::HUGEINT AS z
        |  FROM x1),
        |x2 AS (
        |  SELECT token, CASE WHEN x < 0
        |      THEN x::HUGEINT + 18446744073709551616::HUGEINT
        |      ELSE x::HUGEINT END AS a
        |  FROM (SELECT token, xor(
        |      CAST(CASE WHEN z >= 9223372036854775808::HUGEINT
        |        THEN z - 18446744073709551616::HUGEINT ELSE z END AS BIGINT),
        |      CAST(z // 134217728::HUGEINT AS BIGINT)) AS x FROM m1)),
        |m2 AS (
        |  SELECT token,
        |    ((a // 4294967296::HUGEINT * 10723151780598845931::HUGEINT)
        |       % 4294967296::HUGEINT * 4294967296::HUGEINT
        |     + (a % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT)
        |      % 18446744073709551616::HUGEINT AS z
        |  FROM x2),
        |mixed AS (
        |  SELECT token, CASE WHEN x < 0
        |      THEN x::HUGEINT + 18446744073709551616::HUGEINT
        |      ELSE x::HUGEINT END AS h
        |  FROM (SELECT token, xor(
        |      CAST(CASE WHEN z >= 9223372036854775808::HUGEINT
        |        THEN z - 18446744073709551616::HUGEINT ELSE z END AS BIGINT),
        |      CAST(z // 2147483648::HUGEINT AS BIGINT)) AS x FROM m2))""".stripMargin

  /** q93/q96's shared register derivation over the fnv→mix64 tail: bucket =
    * h div 2^56, rho = 57 - bit-length of the 56-bit remainder
    * (`length(bin(w))` = floor(log2 w)+1). Ends at the ungrouped
    * per-(source, token) `reg` CTE. */
  private val hllRegisterChainSql: String =
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    w -> len(w) > 0)) AS token
        |  FROM documents),
        |st AS (SELECT DISTINCT source, token FROM toks),
        |toksd AS (SELECT DISTINCT token FROM st)""".stripMargin +
      ",\n" + fnvMix64ChainSql + ",\n" +
      """reg AS (
        |  SELECT s.source,
        |    CAST(f.h // 72057594037927936::HUGEINT AS INT) AS bucket,
        |    CAST(CASE WHEN f.h % 72057594037927936::HUGEINT = 0 THEN 57
        |      ELSE 57 - length(bin(CAST(f.h % 72057594037927936::HUGEINT
        |        AS BIGINT))) END AS INT) AS rho
        |  FROM st s JOIN mixed f USING (token))""".stripMargin

  private val pqAdcSearchSql: String =
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS cv
        |  FROM embeddings),
        |seeds AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY (vec_id * 2654435761) % 4294967296,
        |      vec_id) - 1 AS centroid_id, cv
        |  FROM q ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
        |sub AS (SELECT * FROM (VALUES (0, 1, 16), (1, 17, 16), (2, 33, 16),
        |  (3, 49, 16)) AS t(s, off, len)),
        |books AS (
        |  SELECT r.s, sd.centroid_id,
        |    list_slice(sd.cv, r.off, r.off + r.len - 1) AS centv,
        |    list_sum(list_transform(list_slice(sd.cv, r.off, r.off + r.len - 1),
        |      x -> x * x)) AS centn2
        |  FROM seeds sd CROSS JOIN sub r),
        |cand AS (
        |  SELECT v.vec_id, b.s, b.centroid_id,
        |    b.centn2 - 2 * list_sum(list_transform(range(1, r.len + 1), i ->
        |      list_slice(v.cv, r.off, r.off + r.len - 1)[i] * b.centv[i])) AS d2
        |  FROM q v CROSS JOIN sub r JOIN books b ON b.s = r.s),
        |codes AS (
        |  SELECT vec_id, s, centroid_id AS code FROM (
        |    SELECT vec_id, s, centroid_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, s
        |        ORDER BY d2, centroid_id) AS rn
        |    FROM cand) WHERE rn = 1),
        |queries AS (
        |  SELECT vec_id AS query_id, cv,
        |    sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)) AS qn
        |  FROM q WHERE vec_id < 10),
        |hits AS (
        |  SELECT qu.query_id, qu.qn, c.vec_id AS neighbor_id,
        |    SUM(list_sum(list_transform(range(1, r.len + 1), i ->
        |      list_slice(qu.cv, r.off, r.off + r.len - 1)[i] * b.centv[i])))
        |      AS num,
        |    SUM(b.centn2) AS cn2
        |  FROM codes c
        |  JOIN sub r ON r.s = c.s
        |  JOIN books b ON b.s = c.s AND b.centroid_id = c.code
        |  CROSS JOIN queries qu
        |  WHERE qu.query_id != c.vec_id
        |  GROUP BY 1, 2, 3),
        |pairs AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(num AS DOUBLE) / (qn * sqrt(CAST(cn2 AS DOUBLE))) AS cosine
        |  FROM hits),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY round(cosine, 6) DESC, neighbor_id) AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine_6dp, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
}
