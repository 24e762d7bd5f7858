package graft.jobs

import graft.functions.{TextFns, TextStatsExpr}
import graft.operators.{DataMix, Dedup, GopherRules, NgramLm}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI for the end-to-end training-corpus curation pipeline — the job a user of
  * the dedup/quality/mixture operators actually runs: word-count + (optional)
  * Gopher line-rule quality gate -> near-dup corpus dedup (exact Jaccard,
  * transitive clusters, min-id survivors) -> (optional) exact-substring window
  * scrub -> PII scrub -> deterministic mixture sampling -> (optional) DSIR
  * importance resample -> partitioned parquet, with a per-stage audit line; the
  * reference's job layer (config JSON + CLI + S13 idempotence gate) applied to
  * the beyond-reference operator surface.
  *
  * Config JSON:
  * {
  *   "documents_path": "<parquet (id, text, ...)>",
  *   "input_format": "parquet",        // or "warc": documents_path is a dir/
  *                                     //   glob of .warc/.warc.gz captures
  *                                     //   (WET conversions OR raw HTTP
  *                                     //   response records — the envelope
  *                                     //   is parsed, 2xx text kept);
  *                                     //   doc ids are xxhash64(url) — the
  *                                     //   full crawl-to-corpus path in ONE
  *                                     //   job
  *                                     // or "jsonl": documents_path is a
  *                                     //   dir/glob of .jsonl(.gz) release
  *                                     //   files (Dolma/C4 layout)
  *   "jsonl_schema": "doc_id BIGINT, text STRING, lang STRING, source STRING",
  *                                     //   explicit DDL — NO inference pass
  *   "jsonl_id_hash_col": "",          //   hash a string id col (e.g.
  *                                     //   Dolma's "id") to the long id
  *                                     //   contract via xxhash64
  *   "jsonl_export_path": "",          // re-publish the curated corpus as
  *                                     //   gzip JSONL ("" = off; the lake
  *                                     //   stays parquet)
  *   "wet_export_path": "",            // r15: re-publish as WET .warc.gz
  *                                     //   (conversion records, gzip
  *                                     //   member per record)
  *   "wet_export_indexed": false,      //   + the CDX parquet at
  *                                     //   `<path>_cdx` (byte-range
  *                                     //   fetch / CDXJ interop)
  *   "warc_html_extract": "full",      //   text/html captures are stripped
  *                                     //   in the scan: "full" =
  *                                     //   HtmlToTextExpr; "main": block-
  *                                     //   level boilerplate drop (jusText
  *                                     //   rules, HtmlMainTextExpr);
  *                                     //   "justext":
  *                                     //   the four-class scheme — needs
  *                                     //   justext_stopwords, or (r15)
  *                                     //   justext_stopwords_by_lang =
  *                                     //   {"en": [...], ...}: an in-row
  *                                     //   lang probe routes each page to
  *                                     //   ITS language's list
  *   "warc_derive_lang": false,        //   derive a `lang` column via the
  *                                     //   q28 language-ID kernel so
  *                                     //   block_cols/mixture/report strata
  *                                     //   work on raw crawls
  *   "warc_url_dedup": false,          //   one row per canonical url
  *                                     //   (deterministic min-capture);
  *                                     //   urls are always canonicalized
  *                                     //   (q129 kernel) BEFORE ids are
  *                                     //   assigned
  *   "host_blocklist": ["spam.test"],  //   canonical hosts dropped at scan
  *   "robots_path": "",                //   retroactive RFC 9309 compliance:
  *                                     //   parquet (host, robots_txt) — each
  *                                     //   host's governing group for
  *                                     //   robots_agent parses once,
  *                                     //   broadcasts, verdicts in-row;
  *                                     //   hostless robots rows allow
  *   "robots_agent": "*",              //   product token to govern by
  *   "robots_from_crawl": false,       //   derive robots from the dump's
  *                                     //   OWN /robots.txt captures (one
  *                                     //   deterministic row per host; the
  *                                     //   robots docs leave the corpus)
  *   "link_host_rank_iters": 0,        //   host-level PageRank prior from
  *                                     //   the crawl's OWN link structure
  *                                     //   (0 = off): hrefs from raw html,
  *                                     //   host->host edges, rank
  *                                     //   broadcast back as
  *                                     //   `host_rank_e12` per doc
  *   "frontier_output_path": "",       //   r15: emit the NEXT-fetch list
  *                                     //   (LinkGraph.frontier: link
  *                                     //   targets ∪ sitemaps minus the
  *                                     //   dump, robots-clean, host-rank
  *                                     //   prioritized, per-host capped)
  *   "frontier_host_cap": 100,         //   politeness cap per host
  *   "bm25_index_table": "",           //   r15: publish the BM25 serving
  *                                     //   index over the curated corpus
  *                                     //   (q140 machinery; Bm25.add/
  *                                     //   remove ticks maintain it;
  *                                     //   32 BucketedStore buckets)
  *   "training_pairs_output_path": "", // r16: publish the retrieval-
  *                                     //   TRAINING data product beside
  *                                     //   the corpus — per sampled query
  *                                     //   (q_text = the doc's first
  *                                     //   `training_query_words` words,
  *                                     //   gold = the doc), the top-k
  *                                     //   hard negatives from the job's
  *                                     //   own retrievers with the gold
  *                                     //   EXCLUDED (q144 machinery,
  *                                     //   excludePairs on both sides),
  *                                     //   plus leakage-controlled
  *                                     //   train/val/test splits keyed on
  *                                     //   the job's OWN dedup cluster
  *                                     //   roots (q145 machinery) — a
  *                                     //   near-dup family never
  *                                     //   straddles splits. Labels land
  *                                     //   at `<path>_labels` (the frame
  *                                     //   admission ticks maintain).
  *   "training_query_every": 37,       //   sample every Nth curated doc
  *   "training_query_words": 5,        //   words per synthetic query
  *   "training_negatives_k": 10,       //   negatives per query/retriever
  *   "training_splits": {"train": 0.9, "val": 0.05, "test": 0.05},
  *   "training_embeddings_path": "",   //   optional (id, embedding)
  *                                     //   parquet: also mine DENSE
  *                                     //   negatives via IVF+PQ with the
  *                                     //   same gold exclusion ("" =
  *                                     //   sparse-only); each dense search
  *                                     //   probes 4 IVF cells — mining AND
  *                                     //   the QA card, so the card scores
  *                                     //   exactly the configuration that
  *                                     //   mined
  *   "training_eval_path": "",         // r17: optional QA card — one row
  *                                     //   per retriever (recall/MRR/
  *                                     //   nDCG@k e6 ints, q154's
  *                                     //   operator): bm25 = NON-excluded
  *                                     //   self-retrieval vs gold; dense
  *                                     //   = agreement of the served
  *                                     //   partial-probe search with
  *                                     //   brute-force exact cosine at
  *                                     //   the same k (the search self-
  *                                     //   excludes by contract, so gold
  *                                     //   is unreachable there); the
  *                                     //   sanity numbers read before
  *                                     //   trusting the mined negatives
  *   "ivfpq_index_path": "",           // r16: publish the DENSE serving
  *                                     //   index over the curated corpus
  *                                     //   (IVF+PQ from the embedding
  *                                     //   sidecar, semi-joined to what
  *                                     //   was written; q77 machinery —
  *                                     //   ivfPqAdd/ivfPqRemove ticks
  *                                     //   maintain it; training pairs
  *                                     //   SERVE from it when both dials
  *                                     //   are on). Needs
  *                                     //   training_embeddings_path.
  *   "ivfpq_centroids": 16,            //   coarse cells; the PQ budget is
  *                                     //   the Similarity.buildIvfPqIndex
  *                                     //   default (m=4, ksub=16, raw
  *                                     //   vectors)
  *   "tokenized_output_path": "",      // r16/r17: publish the TRAINING-
  *                                     //   READY tokenized corpus — one
  *                                     //   row per packed PIECE: (id,
  *                                     //   shard, chunk_idx, n_tokens_bpe,
  *                                     //   bin_id, offset_tokens,
  *                                     //   token_ids array<int>); docs
  *                                     //   split at bin boundaries
  *                                     //   (concat-and-cut), so every
  *                                     //   (shard, bin) holds exactly
  *                                     //   pack_budget_tokens except the
  *                                     //   shard's last; a reader
  *                                     //   materializes example
  *                                     //   (shard, bin) by concatenating
  *                                     //   pieces at their offsets. The
  *                                     //   vocab (token, token_id) lands
  *                                     //   at `<path>_vocab`; the
  *                                     //   validation manifest (per-bin
  *                                     //   counts + stream sha, q158)
  *                                     //   at `<path>_manifest`. Merges
  *                                     //   train on the curated corpus
  *                                     //   itself (q88's loop).
  *   "bpe_merges": 6,                  //   merge rules to learn
  *   "pack_budget_tokens": 2048,       //   tokens per packed example
  *   "pack_shard_col": "source",       //   the packing shard column
  *   "examples_output_path": "",       //   optionally also the
  *                                     //   MATERIALIZED examples (q160):
  *                                     //   per (shard, bin) the gap-free
  *                                     //   token stream + doc_offsets/
  *                                     //   doc_ids loss-mask boundaries
  *   "mixture_plan_path": "",          // r17: publish the token-budget
  *                                     //   EPOCH PLAN over the curated
  *                                     //   corpus (q157's water-filling
  *                                     //   operator): per stratum its
  *                                     //   avail/cap/alloc tokens and
  *                                     //   milli-epochs under the budget
  *                                     //   and weights below
  *   "mixture_budget_tokens": 0,       //   required with the plan path
  *   "mixture_weights": {"web": 3},    //   optional; absent strata get 1
  *   "mixture_max_epochs_e3": 1000,    //   per-stratum repetition cap
  *   "mixture_strata_col": "source",
  *   "mixture_materialize_path": "",   //   optionally also the executed
  *                                     //   plan (q159): (id, stratum,
  *                                     //   n_tok, epoch_idx) — full
  *                                     //   epochs + the stable hash-
  *                                     //   prefix fractional epoch
  *   "host_cap": 0,                    //   per-site quota on the dedup
  *                                     //   survivors (0 = off): at most N
  *                                     //   docs per host, k-bounded TopK
  *                                     //   aggregate, deterministic min-id
  *                                     //   survivors; needs the url column
  *   "output_path": "<dir>",
  *   "id_col": "doc_id", "text_col": "text",
  *   "normalize_text": false,          // optional CCNet-style normalization
  *                                     //   (lower/strip accents/digits->0/
  *                                     //   collapse ws) BEFORE every gate and
  *                                     //   hash — run it when dedup should
  *                                     //   collide `Café  2024` with `cafe 0`
  *   "min_words": 20,                  // quality gate
  *   "banned_words": ["badword"],      // optional C4-style wordlist gate
  *   "max_banned_hits": 0,             //   (docs with more hits drop;
  *                                     //   0 = any hit drops)
  *   "min_char_entropy_e6": 0,         // optional sub-word gibberish gate
  *                                     //   (0 = off; 2000000 = 2.0 nats)
  *   "gopher_rules": true,             // optional Gopher line-rule battery
  *   "gopher_ngrams": false,           // optional word-n-gram battery (q98)
  *   "reline_words_per_line": 8,       //   re-line newline-free text (0 = lined).
  *                                     //   Re-lining always runs the codegen'd
  *                                     //   single-regexp-pass form
  *                                     //   (GopherRules.chunkIntoLines); the
  *                                     //   byte-equal slice-fold
  *                                     //   (chunkIntoLinesCols) is O(L²)
  *                                     //   interpreted and exists ONLY as the
  *                                     //   spec-pinned reference — never wire
  *                                     //   it into a corpus-scale pass
  *   "ngram_n": 3, "jaccard_threshold": 0.8,
  *   "block_cols": ["lang"],           // dedup blocking
  *   "line_freq_cap": 0,               // optional corpus-global line cap
  *                                     //   (0 = off; 1 = hard line dedup;
  *                                     //   k>1 = keep k earliest copies);
  *                                     //   fully-scrubbed husks dropped
  *   "min_novelty_e6": 0,              // optional doc-level duplication gate
  *                                     //   (0 = off): drop docs whose
  *                                     //   window-novelty fraction is below
  *                                     //   this (500000 = half the doc is
  *                                     //   repeated spans)
  *   "novelty_window_tokens": 20,      //   window size for that gate
  *   "scrub_window_tokens": 20,        // optional exact-substring removal
  *                                     //   (0 = off; empty husks dropped)
  *   "decontaminate_bench_path": "",   // optional span-level benchmark
  *   "decontaminate_window_tokens": 20,//   decontamination: windows found
  *                                     //   verbatim in this parquet's text
  *                                     //   col are cut ("" = off)
  *   "decontaminate_fuzzy_threshold": 0,// optional PARAPHRASE decon (q110):
  *                                     //   drop docs whose shingle Jaccard
  *                                     //   vs any bench item >= this
  *                                     //   (0 = off; needs the bench path)
  *   "redact_pii": true,
  *   "partition_by": ["lang"],         // output layout
  *   "mix_strata_col": "source",       // optional mixture step
  *   "mix_fractions": {"src0": 1.0, "src1": 0.5},
  *   "dsir_domain_col": "source",      // optional DSIR resample: train the
  *   "dsir_domain_value": "src0",      //   in-domain LM on this slice and
  *   "dsir_k": 1000,                   //   Gumbel-top-k down to k docs
  *   "report_strata_col": "",          // optional data card (q111): write the
  *   "report_lang_col": "lang",        //   per-stratum report of what was
  *                                     //   ACTUALLY written to
  *                                     //   <output_path>_report ("" = off)
  *   "output_bucketed_table": "",      // optional co-located publication:
  *   "output_buckets": 16,             //   also save the curated corpus as a
  *                                     //   bucketed+sorted catalog table on
  *                                     //   id_col — admission ticks join it
  *                                     //   with ZERO corpus shuffle ("" = off)
  *   "shard_export_n": 0               // optional deterministic shard export
  *                                     //   (q81): <output_path>_shards/
  *                                     //   shard=K/, (hash,id) order (0 = off)
  * }
  * Usage: CurationJob <config.json>
  *
  * Every stage is one of the audited operators (native text kernels, PPJoin
  * prefix-filter dedup, Knuth-hash sampling) — the composition adds no new
  * shuffle beyond what the stages themselves own. */
object CurationJob {

  case class Stats(input: Long, afterQuality: Long, afterDedup: Long,
                   output: Long, afterScrub: Option[Long] = None,
                   afterResample: Option[Long] = None,
                   afterDecontam: Option[Long] = None,
                   afterLineCap: Option[Long] = None,
                   afterNovelty: Option[Long] = None,
                   afterFuzzy: Option[Long] = None,
                   afterHostCap: Option[Long] = None)

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    try run(spark, args(0))
    finally spark.stop()
  }

  /** Returns per-stage row counts (None = output existed, S13 skip). */
  def run(spark: SparkSession, cfgPath: String): Option[Stats] = {
    val cfg = JobConfig.read(spark, cfgPath)
    import cfg.{str, strSeq}
    val outPath = cfg.req("output_path")
    // S13 gate on the COMPLETION marker, not the dir: the job can write up
    // to four outputs (sink, bucketed table, shards, report) — a crash
    // between them used to leave a dir the existence gate treated as done,
    // silently skipping the missing tails forever. A marker-less partial
    // dir re-runs; every output is a whole-dir/table overwrite, so the
    // re-run heals it. (Pre-marker outputs: re-run once by deleting the dir,
    // as before.)
    // Gate + stamp ride the Hadoop FileSystem API (Maintenance.markerDone) so
    // a non-local output_path (hdfs://, s3a://) gates identically to local.
    if (Maintenance.markerDone(outPath, spark.sparkContext.hadoopConfiguration))
      return None

    val idCol = str("id_col", "doc_id")
    val textCol = str("text_col", "text")
    // few-file guard at the HEAD: the normalize/word-count/entropy kernels
    // below run in the scan stage, underneath any operator-internal exchange
    // — on a 2-file sf10 corpus they serialized onto 2 tasks (r10 review).
    // Downstream operator guards see this Repartition and skip (no double
    // shuffle).
    val docsPath = cfg.req("documents_path")
    val inputDf = str("input_format", "parquet") match {
      case "parquet" => spark.read.parquet(docsPath)
      case "jsonl" =>
        // JSONL interchange (the Dolma/C4-release layout: one JSON object
        // per line, optionally .gz): EXPLICIT schema — inference would be
        // a second full pass over the corpus at 100 TB, and a schema
        // drifting under inference is a silent contract change. gz JSONL
        // is line-splittable only per-file, so parallelism = file count —
        // the release layout's own sharding (like WARC).
        val ddl = str("jsonl_schema",
          "doc_id BIGINT, text STRING, lang STRING, source STRING")
        val df = spark.read.schema(ddl).json(docsPath)
        // releases with string ids (Dolma's "id") hash to the engine's
        // long id contract deterministically
        val hashFrom = str("jsonl_id_hash_col", "")
        if (hashFrom.nonEmpty) df.withColumn(idCol, xxhash64(col(hashFrom)))
        else df
      case "warc" =>
        // crawl-to-corpus: stream the WARC/WET captures (file-parallel,
        // record-streaming — see io.Warc) into the pipeline's (id, text)
        // contract; ids are xxhash64(url), deterministic across replays.
        // Successful fetches only (2xx); raw `text/html` response captures
        // are stripped to text IN the scan stage (codegen HtmlToTextExpr)
        // unless warc_html_to_text=false — without this, markup soup walks
        // through every downstream quality gate
        val td = graft.io.Warc.textDocs(
            graft.io.Warc.records(spark, docsPath)).toDF()
          .filter(col("http_status") >= 200 && col("http_status") <= 299)
        // optional host-level link-graph rank (the Common-Crawl-style
        // centrality prior: hosts the crawl itself vouches for): hrefs are
        // extracted from the RAW text/html captures BEFORE stripping (the
        // link structure does not survive html_to_text), resolved against
        // their page, canonicalized, collapsed to host->host edges, and
        // PageRank'd — the rank frame is HOST-sized, so it broadcasts back
        // onto the corpus as `host_rank_e12` with no corpus shuffle. Costs
        // one extra decode pass over the captures when the dial is on.
        val hostRankIters = str("link_host_rank_iters", "0").toInt
        // the resolved link frame serves two dials (host-rank prior and
        // the frontier export below); built once when either is on —
        // each consumer pays its own decode pass over the raw captures
        val frontierPath = str("frontier_output_path", "")
        val pageLinksOpt: Option[DataFrame] =
          if (hostRankIters <= 0 && frontierPath.isEmpty) None
          else Some(graft.operators.LinkGraph.links(
            td.filter(col("mime") === "text/html")
              .select(col("url"), col("text").as("html")),
            "url", "html"))
        val hostRanks: Option[DataFrame] =
          if (hostRankIters <= 0) None
          else {
            val pageLinks = pageLinksOpt.get
            val hostEdges = pageLinks.select(
                graft.functions.UrlFns.urlHost(col("src")).as("src"),
                graft.functions.UrlFns.urlHost(col("dst")).as("dst"))
              .filter(col("src").isNotNull && col("dst").isNotNull &&
                col("src") =!= col("dst"))
            Some(graft.operators.LinkGraph.pageRank(hostEdges,
                iters = hostRankIters)
              .select(col("node").as("__host"),
                col("pr_e12").as("host_rank_e12")))
          }
        // "full" = html_to_text (WET-equivalent whole page);
        // "main" = html_main_text (block-level boilerplate drop —
        // nav/footer link soup stays out of the corpus);
        // "justext" (r14) = the four-class scheme — REQUIRES
        // justext_stopwords (the per-language stopword list is what
        // stopword density means); its block rules are fixed at 5 min
        // words, 0.5 max link density and the paper-shaped 10 words /
        // 0.25 / 0.45 length and stopword-density bounds
        val extractor: org.apache.spark.sql.Column =
          str("warc_html_extract", "full") match {
            case "main" =>
              graft.functions.TextFns.htmlMainText(col("text"))
            case "justext" =>
              val sw = strSeq("justext_stopwords")
              // r15: justext_stopwords_by_lang = {"en": [...], ...} —
              // stopword DENSITY is only meaningful against the page's
              // own language's function words (jusText ships one list
              // per language). The lang is probed IN-ROW on the
              // whole-page text (q28 kernel over html_to_text — one
              // extra decode in the same scan stage, no shuffle, no
              // second pass over the lake) and selects the list per
              // row; probe langs outside the map fall back to
              // justext_stopwords (may be empty = legacy two-rule).
              val byLang =
                cfg.obj("justext_stopwords_by_lang")(_.strSeq(_))
              require(sw.nonEmpty || byLang.nonEmpty,
                "warc_html_extract=justext needs justext_stopwords " +
                  "(or justext_stopwords_by_lang)")
              if (byLang.isEmpty)
                graft.functions.TextFns.htmlMainTextJustext(col("text"),
                  5, 500000, sw, 10, 250000, 450000)
              else
                graft.functions.TextFns.htmlMainTextJustextByLang(
                  col("text"),
                  graft.functions.TextFns.langIdPredict(
                    graft.functions.TextFns.htmlToText(col("text"))),
                  byLang, sw, 5, 500000, 10, 250000, 450000)
            case _ => graft.functions.TextFns.htmlToText(col("text"))
          }
        // URL canonicalization BEFORE ids: the same page arrives as
        // `HTTP://Host:80/a?utm_...#f` and `http://host/a`, and ids keyed
        // on raw URIs double-count it (q129 kernel; identity on already-
        // canonical urls)
        val canon = td
          .withColumn("text",
            when(col("mime") === "text/html", extractor)
              .otherwise(col("text")))
          .withColumn("url", graft.functions.UrlFns.urlNormalize(col("url")))
        // optional host blocklist: spam/adult/trap domains drop at the
        // scan (exact canonical-host match against a config-sized set —
        // a literal IN filter, no join)
        val blocked = strSeq("host_blocklist")
        val hostGated =
          if (blocked.isEmpty) canon
          else canon.filter(!coalesce(
            graft.functions.UrlFns.urlHost(col("url")), lit(""))
            .isin(blocked: _*))
        // optional retroactive robots compliance (RFC 9309): robots_path is
        // a parquet of (host, robots_txt) — e.g. extracted from the dump's
        // own robots captures; each host's governing rule group for
        // robots_agent is parsed ONCE on the host-sized frame, broadcast,
        // and every capture's path gets the longest-match verdict in-row.
        // Hosts with no robots row allow everything (the protocol's
        // default).
        val robotsPath = str("robots_path", "")
        val robotsFromCrawl = str("robots_from_crawl", "false").toBoolean
        val urlPath = {
          val p = regexp_replace(col("url"),
            "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
          when(p === "", lit("/")).otherwise(p)
        }
        // robots source: an external (host, robots_txt) parquet, or —
        // robots_from_crawl — the dump ITSELF (Common Crawl ships each
        // host's robots.txt capture alongside its pages): one row per host,
        // the lexicographically-least (warc_date, body) capture surviving
        // (deterministic, the warc_url_dedup discipline). The robots
        // captures themselves leave the corpus in from-crawl mode — they
        // are governance, not content.
        val robotsSrc: Option[DataFrame] =
          if (robotsFromCrawl)
            Some(td.filter(urlPath === "/robots.txt")
              .select(graft.functions.UrlFns.urlHost(col("url")).as("host"),
                col("warc_date"), col("text"))
              .filter(col("host").isNotNull)
              .groupBy(col("host"))
              .agg(min(struct(col("warc_date"), col("text"))).as("__w"))
              .select(col("host"), col("__w.text").as("robots_txt")))
          else if (robotsPath.nonEmpty)
            Some(spark.read.parquet(robotsPath)
              .select(col("host"), col("robots_txt")))
          else None
        val robotsGated = robotsSrc match {
          case None => hostGated
          case Some(src) =>
            val agent = str("robots_agent", "*")
            val rb = src.select(col("host").as("__rhost"),
              graft.functions.RobotsExprs.robotsRules(
                col("robots_txt"), lit(agent)).as("__rules"))
            val base =
              if (robotsFromCrawl)
                hostGated.filter(urlPath =!= "/robots.txt")
              else hostGated
            base.join(broadcast(rb),
                graft.functions.UrlFns.urlHost(col("url")) === col("__rhost"),
                "left")
              .filter(col("__rules").isNull ||
                graft.functions.RobotsExprs.robotsAllowed(urlPath,
                  transform(col("__rules"), x => x.getField("pattern")),
                  transform(col("__rules"), x => x.getField("allow"))))
              .drop("__rhost", "__rules")
        }
        // optional CRAWL-FRONTIER export (r15): the job's self-governing
        // loop closes — the same dump that became the corpus emits the
        // prioritized, robots-clean list of what to FETCH NEXT
        // (LinkGraph.frontier: link targets ∪ sitemap URLs minus the
        // dump's own canonical urls, this job's robots source and
        // host-rank prior composed in, per-host cap via
        // frontier_host_cap). One extra decode pass when on.
        if (frontierPath.nonEmpty) {
          graft.operators.LinkGraph.frontier(
              pageLinksOpt.get,
              td.select(graft.functions.UrlFns.urlNormalize(col("url"))
                .as("url")),
              hostRank = hostRanks.map(_.select(col("__host").as("host"),
                col("host_rank_e12"))).orNull,
              robots = robotsSrc.orNull,
              agent = str("robots_agent", "*"),
              hostCap = str("frontier_host_cap", "100").toInt)
            .write.mode("overwrite").parquet(frontierPath)
        }
        val projected = robotsGated.select(
          col("url"), col("warc_date"), col("text"))
        // optional URL-level dedup: one row per canonical url, the
        // lexicographically-least (warc_date, text) capture surviving —
        // deterministic across task order, unlike dropDuplicates
        val urlDeduped =
          if (str("warc_url_dedup", "false").toBoolean)
            projected
              .groupBy(col("url"))
              .agg(min(struct(col("warc_date"), col("text"))).as("__w"))
              .select(col("url"), col("__w.warc_date").as("warc_date"),
                col("__w.text").as("text"))
          else projected
        val based = urlDeduped.withColumn(idCol, xxhash64(col("url")))
        // crawl captures carry no language column; warc_derive_lang
        // derives one. Backend choice (r14): with `lang_id_weights_path`
        // set, the fastText-shape multi-class classifier (hashed
        // char-n-gram margins, argmax — q131's serving path) classifies
        // AFTER the decode cache below (predictLanguage aggregates the
        // corpus, so inlining it here would double-run the gzip+envelope
        // walk); the in-scan q28 stopword heuristic remains the zero-setup
        // fallback and the backstop for gram-less docs.
        val withLang =
          if (str("warc_derive_lang", "false").toBoolean &&
              str("lang_id_weights_path", "").isEmpty)
            based.withColumn("lang",
              graft.functions.TextFns.langIdPredict(col("text")))
          else based
        hostRanks match {
          case Some(r) => withLang.join(broadcast(r),
              graft.functions.UrlFns.urlHost(col("url")) === col("__host"),
              "left")
            .drop("__host")
          case None => withLang
        }
      case other => sys.error(s"unknown input_format $other")
    }
    val inputFormat = str("input_format", "parquet")
    val raw0 = graft.operators.Dedup.ensureParallel(inputDf)
    // Decode-bound sources (warc) pin the extracted documents ONCE: the
    // input count plus the quality battery's self-joins would otherwise
    // re-run the gzip parse + envelope walk + html strip per plan
    // reference — a full corpus decode each time at 100 TB. Parquet
    // re-reads are cheap (metadata counts, pruned columns), so only
    // non-parquet inputs pay the cache boundary; released as soon as the
    // quality stage materializes.
    // persist() returns `this`, so an identity test (`raw ne raw0`) can
    // never detect the cache — track it with a flag (r13 advice: the
    // decoded corpus stayed pinned for the whole job)
    val rawCached = inputFormat != "parquet"
    val raw = if (rawCached)
      raw0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else raw0
    // per-stage wall clock, logged at the end beside the row counts — the
    // receipt that says WHERE a full-stage run spends its time (r10: the
    // first sf10 receipt had to be diagnosed with jstack)
    val stageTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var tLast = System.nanoTime()
    def lap(stage: String): Unit = {
      val now = System.nanoTime()
      stageTimes += stage -> (now - tLast) / 1e9
      tLast = now
    }
    val input = raw.count()
    lap("read+count")

    // 0a. classifier-backed language ID (r14): `lang_id_weights_path` names
    // a (lang, bucket, w_e3) parquet trained by `Classifier.trainMulticlass`
    // (or any one-vs-rest linear head over the q131 feature contract —
    // char n-grams `lang_id_ngram_min..max`, FNV buckets mod `lang_id_dim`;
    // dials MUST match training). Runs on the post-cache frame — the
    // margin aggregate + argmax read the decoded corpus from the persist,
    // never re-decoding; the weights frame broadcasts; the join back is
    // id-keyed. Gram-less docs (and the parquet route's null langs) fall
    // back to the q28 stopword heuristic — never a null stratum.
    val langWeightsPath = str("lang_id_weights_path", "")
    val langed = if (langWeightsPath.isEmpty) raw else {
      val w = spark.read.parquet(langWeightsPath)
      val pred = graft.operators.Classifier.predictLanguage(
        raw, idCol, textCol, w,
        nMin = str("lang_id_ngram_min", "2").toInt,
        nMax = str("lang_id_ngram_max", "3").toInt,
        dim = str("lang_id_dim", "4096").toInt)
      raw.drop("lang")
        .join(pred.select(col(idCol), col("lang").as("__lang")),
          Seq(idCol), "left")
        .withColumn("lang", coalesce(col("__lang"),
          graft.functions.TextFns.langIdPredict(col(textCol))))
        .drop("__lang")
    }

    // 0. optional CCNet-style normalization — the canonical form every
    // downstream gate, hash, and sink sees (scan-stage projection, no shuffle)
    val normalizeOn = str("normalize_text", "false").toBoolean
    val docs = if (normalizeOn)
        langed.withColumn(textCol, TextFns.normalizeText(col(textCol)))
      else langed
    // The BENCH side must see the same canonical form: a normalized corpus
    // matched against a raw bench set silently misses every contaminated doc
    // whose only difference from the bench text is case/accents/digits —
    // exactly what normalization erased corpus-side. Both decon stages
    // (verbatim span scrub and fuzzy Jaccard) read the bench through this.
    def benchFrame(path: String): org.apache.spark.sql.DataFrame = {
      val b = spark.read.parquet(path)
      if (normalizeOn)
        b.withColumn(textCol, TextFns.normalizeText(col(textCol)))
      else b
    }

    // 1. quality gate: native one-pass word count (+ optional sub-word
    // char-entropy gibberish floor), then (optionally) the Gopher
    // line-rule battery — re-lining newline-free corpora first
    val minEntropy = str("min_char_entropy_e6", "0").toLong
    // both gate conditions are FENCED: an unfenced kernel filter is pushed
    // below the head guard's Repartition into the parquet scan, where it
    // runs at file-count parallelism — the r11 audit caught exactly this
    // (the r10 head-guard comment believed the exchange covered it)
    // optional C4-style banned-wordlist gate: docs with more than
    // max_banned_hits tokens from the list drop (0 = any hit drops);
    // one compiled tokenize pass (q130 kernel), fenced like its siblings
    val bannedWords = strSeq("banned_words")
    // per-LANGUAGE word floor (r14): `min_words_by_lang` maps lang → floor,
    // unlisted languages fall back to `min_words` — real multilingual
    // curation thresholds per language (a CJK doc carries far fewer
    // space-separated words per unit of content than an English one).
    // Still one fenced scan-stage predicate: the map folds into a CASE.
    val minWordsDefault = str("min_words", "20").toLong
    val minWordsByLang =
      cfg.obj("min_words_by_lang")(_.req(_).toDouble.toLong)
    val wordFloor: org.apache.spark.sql.Column =
      if (minWordsByLang.isEmpty) lit(minWordsDefault)
      else {
        require(docs.columns.contains("lang"),
          "min_words_by_lang needs a lang column (provide one, or set " +
            "warc_derive_lang / lang_id_weights_path)")
        minWordsByLang.toSeq.sortBy(_._1).foldLeft(
          lit(minWordsDefault)) { case (acc, (l, v)) =>
          when(col("lang") === l, lit(v)).otherwise(acc)
        }
      }
    val wordGated = docs.filter(graft.functions.PushdownFence(
        TextStatsExpr(col(textCol), Nil)("n_words") >= wordFloor))
      .filter(if (minEntropy > 0)
        graft.functions.PushdownFence(
          graft.functions.CharEntropyExpr(col(textCol)) >= minEntropy)
      else lit(true))
      .filter(if (bannedWords.nonEmpty)
        graft.functions.PushdownFence(element_at(
          graft.functions.StopCountsExpr(col(textCol), Seq(bannedWords)), 1)
          <= str("max_banned_hits", "0").toLong)
      else lit(true))
    val lineGated = if (str("gopher_rules", "false").toBoolean) {
        val reline = str("reline_words_per_line", "0").toInt
        val lined = if (reline > 0)
          wordGated.withColumn("__lined",
            GopherRules.chunkIntoLines(col(textCol), reline))
        else wordGated.withColumn("__lined", col(textCol))
        val keep = GopherRules.battery(lined, idCol, "__lined",
          minWords = 0) // word-count floor already applied above
          .filter(col("keep")).select(col(idCol))
        lined.join(keep, Seq(idCol), "left_semi").drop("__lined")
      } else wordGated
    // word-n-gram battery (q98) — n-grams ignore line structure, so it runs
    // on the raw text either way; pure per-row compiled kernel, no shuffle
    val gated = (if (str("gopher_ngrams", "false").toBoolean)
        lineGated.join(
          GopherRules.ngramBattery(lineGated, idCol, textCol)
            .filter(col("keep")).select(col(idCol)),
          Seq(idCol), "left_semi")
      else lineGated)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val afterQuality = gated.count()
    lap("quality")
    // gated is materialized — the decode-bound input cache is dead
    if (rawCached) raw.unpersist(blocking = false)

    // 2. near-dup corpus dedup (subsumes exact dups at jaccard 1.0).
    // `max_candidates` (default Dedup.DefaultMaxCandidates, 0 disables):
    // the sampled prefix-bucket price gate — a clique-quadratic flood (the
    // r13 doc-unique-title landmine: ~5e9 candidates, 68 GB spill, ENOSPC)
    // refuses HERE with a remedies message instead of dying mid-shuffle
    // when the training-pairs product is on, the SAME pair/CC pass also
    // yields the (id, component) labels its splits key on — no second
    // dedup work
    val trainingPairsPath = str("training_pairs_output_path", "")
    val (deduped0, dedupLabels) =
      if (trainingPairsPath.nonEmpty)
        Dedup.dedupedCorpusWithLabels(gated, idCol, textCol,
          n = str("ngram_n", "3").toInt,
          threshold = str("jaccard_threshold", "0.8").toDouble,
          blockCols = strSeq("block_cols"),
          maxCandidates =
            str("max_candidates", Dedup.DefaultMaxCandidates.toString).toLong)
      else
        (Dedup.dedupedCorpus(gated, idCol, textCol,
          n = str("ngram_n", "3").toInt,
          threshold = str("jaccard_threshold", "0.8").toDouble,
          blockCols = strSeq("block_cols"),
          maxCandidates =
            str("max_candidates", Dedup.DefaultMaxCandidates.toString).toLong),
          null)
    val deduped = deduped0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val afterDedup = deduped.count()
    lap("dedup")
    // deduped is materialized (count above) — its input snapshot is dead
    gated.unpersist(blocking = false)
    // the labels ride in deduped's plan, which the stage pins below release:
    // publish them now; the training-pairs stage reads the written copy
    if (trainingPairsPath.nonEmpty)
      dedupLabels.write.mode("overwrite")
        .parquet(trainingPairsPath + "_labels")

    // STAGE PINNING: every optional stage's output is local-checkpointed.
    // The scrub/novelty/cap operators each reference their input frame
    // SEVERAL times (self-joins, winner joins, rebuild joins), so a k-stage
    // chain's LOGICAL PLAN grows ~2^k nodes — a full-stage config measured
    // as a driver hang (the AQE explainString callback alone burned minutes
    // of CPU stringifying the tree) before any task ran. persist() caches
    // data but not plan size; localCheckpoint truncates the lineage to a
    // LogicalRDD (the Dedup composites' own convention), bounding every
    // downstream plan. At warehouse scale a stage boundary is a persisted
    // table anyway — this is the single-job analog.
    //
    // RELEASE DISCIPLINE (r9 ADVICE): each pin() is EAGER, so once the new
    // boundary has materialized the predecessor snapshot is dead — only the
    // newest boundary is ever re-read. Free it immediately; otherwise a
    // full-stage config holds up to 5 corpus copies for the rest of the job.
    var boundary: org.apache.spark.sql.DataFrame = deduped
    def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val pinned = df.localCheckpoint(true)
      Dedup.release(boundary)
      boundary = pinned
      pinned
    }

    // 2a-hosts. optional per-site quota (a `url` column required — the warc
    // route's shape): at most `host_cap` docs per canonical host, the
    // lexicographically-least ids surviving — deterministic, and the
    // k-bounded TopK aggregate keeps the shuffle at k rows per (host,
    // mapper) instead of a corpus-wide window sort. Template farms and
    // crawler traps stop owning the corpus here.
    val hostCap = str("host_cap", "0").toInt
    val (afterHostCap, hostCapped) =
      if (hostCap > 0) {
        require(deduped.columns.contains("url"),
          "host_cap needs a url column (input_format=warc)")
        val cols = deduped.columns.toSeq
        val withHost = deduped.withColumn("__host",
          coalesce(graft.functions.UrlFns.urlHost(col("url")), lit("")))
        val capped = graft.ops.TopK.topKPerGroup(withHost, Seq("__host"),
            sortKey = lit(0L), tie = col(idCol), payload = cols.map(col),
            k = hostCap)
          .select(cols.map(col): _*)
        val pinned = pin(capped)
        (Some({ val c = pinned.count(); lap("host_cap"); c }), pinned)
      } else (None, deduped)

    // 2a-lines. optional corpus-global line cap across the survivors: each
    // duplicate line keeps its k earliest (doc, position) copies (k = 1 is
    // hard line dedup); docs scrubbed down to nothing are dropped, the
    // non-text columns rejoined (the cap returns id + rebuilt text only)
    val lineCap = str("line_freq_cap", "0").toInt
    val (afterLineCap, lineCapped) =
      if (lineCap > 0) {
        val s = Dedup.lineFrequencyCap(hostCapped, idCol, textCol, lineCap)
          .filter(length(col(textCol)) > 0)
          .select(col(idCol), col(textCol).as("__capped"))
        val joined = pin(hostCapped.drop(textCol).join(s, Seq(idCol))
          .withColumnRenamed("__capped", textCol))
        (Some({ val c = joined.count(); lap("line_cap"); c }), joined)
      } else (None, hostCapped)

    // 2a-novelty. optional doc-level duplication gate: drop documents whose
    // fraction of corpus-first windows is below the floor — the remedy when
    // span surgery would leave incoherent husks
    val minNovelty = str("min_novelty_e6", "0").toLong
    val (afterNovelty, novGated) =
      if (minNovelty > 0) {
        val nw = str("novelty_window_tokens", "20").toInt
        val keep = Dedup.windowNoveltyStats(lineCapped, idCol, textCol, nw)
          .filter(col("novelty_e6") >= minNovelty)
          .select(col(idCol))
        val joined = pin(lineCapped.join(keep, Seq(idCol), "left_semi"))
        (Some({ val c = joined.count(); lap("novelty"); c }), joined)
      } else (None, lineCapped)

    // 2b. optional exact-substring removal across the survivors: repeated
    // windows cut (first occurrence survives), empty husks dropped, the
    // non-text columns rejoined (the scrub returns id + rebuilt text only)
    val windowTokens = str("scrub_window_tokens", "0").toInt
    val (afterWindowScrub, windowScrubbed) =
      if (windowTokens > 0) {
        val s = Dedup.scrubSharedWindows(novGated, idCol, textCol, windowTokens)
          .filter(col("n_removed") < col("n_tokens"))
          .select(col(idCol), col(textCol).as("__scrubbed"))
        val joined = pin(novGated.drop(textCol).join(s, Seq(idCol))
          .withColumnRenamed("__scrubbed", textCol))
        (Some({ val c = joined.count(); lap("window_scrub"); c }), joined)
      } else (None, novGated)

    // 2c. optional span-level benchmark decontamination: every window whose
    // content appears verbatim in the configured benchmark set is cut from
    // the doc (no occurrence survives — benchmark text must not be
    // trainable); fully-covered husks dropped, non-text columns rejoined
    val benchPath = str("decontaminate_bench_path", "")
    val (afterDecontam, decontaminated) =
      if (benchPath.nonEmpty) {
        val benchWin = str("decontaminate_window_tokens", "20").toInt
        val benchDf = benchFrame(benchPath)
        val s = graft.operators.Contamination.scrubBenchWindows(
            windowScrubbed, benchDf, idCol, textCol, benchWin)
          .filter(col("n_removed") < col("n_tokens"))
          .select(col(idCol), col(textCol).as("__decon"))
        val joined = pin(windowScrubbed.drop(textCol).join(s, Seq(idCol))
          .withColumnRenamed("__decon", textCol))
        (Some({ val c = joined.count(); lap("decontam"); c }), joined)
      } else (None, windowScrubbed)

    // 2d. optional FUZZY decontamination against the same benchmark set:
    // drop whole docs whose shingle Jaccard vs ANY bench item clears the
    // threshold — the paraphrase case span surgery cannot see (q110);
    // bench×corpus candidates only, never corpus×corpus
    val fuzzyT = str("decontaminate_fuzzy_threshold", "0").toDouble
    val (afterFuzzy, fuzzyClean) =
      if (fuzzyT > 0 && benchPath.nonEmpty) {
        val benchDf = benchFrame(benchPath)
          .select(col(idCol), col(textCol))
        val matches = Dedup.incrementalJaccardMatches(decontaminated,
          benchDf, idCol, textCol, str("ngram_n", "3").toInt, fuzzyT, Nil,
          maxCandidates =
            str("max_candidates", Dedup.DefaultMaxCandidates.toString).toLong)
        val joined = pin(decontaminated.join(
          matches.select(col("id_b").as(idCol)).distinct(),
          Seq(idCol), "left_anti"))
        // the pin above is eager, so the matches frame (and the corpus-scale
        // shingle stores it persists) is fully consumed — free it now
        // instead of leaking it across the remaining stages
        Dedup.release(matches)
        (Some({ val c = joined.count(); lap("fuzzy"); c }), joined)
      } else (None, decontaminated)

    // 3. PII scrub
    val scrubbed =
      if (str("redact_pii", "true").toBoolean)
        fuzzyClean.withColumn(textCol, TextFns.redactPii(col(textCol)))
      else fuzzyClean

    // 4. optional deterministic mixture sampling
    val mixCol = str("mix_strata_col", "")
    val fractions = cfg.obj("mix_fractions")(_.req(_).toDouble)
    val mixed =
      if (mixCol.nonEmpty && fractions.nonEmpty)
        DataMix.stratifiedSample(scrubbed, idCol, mixCol, fractions)
      else scrubbed

    // 4b. optional DSIR importance resample down to a document budget:
    // in-domain LM on the configured slice vs a base LM on the whole
    // current frame, Gumbel-top-k on the LLR weights
    val dsirCol = str("dsir_domain_col", "")
    val (afterResample, resampled) =
      if (dsirCol.nonEmpty) {
        val domainVal = str("dsir_domain_value", "")
        val k = str("dsir_k", "1000").toInt
        val domainLm = NgramLm.trainBigram(
          mixed.filter(col(dsirCol) === domainVal), textCol)
        val baseLm = NgramLm.trainBigram(mixed, textCol)
        val picked = DataMix.importanceResample(
            NgramLm.domainLlr(mixed, idCol, textCol, domainLm, baseLm),
            idCol, "llr_e6", k)
          .select(col(idCol))
        val joined = mixed.join(picked, Seq(idCol), "left_semi")
        (Some({ val c = joined.count(); lap("dsir"); c }), joined)
      } else (None, mixed)

    // 5. partitioned parquet sink
    val parts = strSeq("partition_by")
    val writer = resampled.write.mode("overwrite")
    (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
      .parquet(outPath)
    lap("sink_write")
    // the sink was the last action over the curated plan (the exports and
    // the data card re-read the written parquet): free the last boundary
    // and the DSIR LMs' bigram pins it reaches
    Dedup.release(resampled)
    val output = spark.read.parquet(outPath).count()

    // 5b. optional CO-LOCATED bucketed publication: save the curated corpus
    // as a bucketed+sorted catalog table on the id key — the layout the
    // incremental admission tick (q62/q78) joins against every tick, so the
    // corpus side of those joins never shuffles again (plan-asserted in
    // CurationJobSpec). nBuckets ≈ corpus bytes / 128 MB at real scale.
    val bucketTable = str("output_bucketed_table", "")
    if (bucketTable.nonEmpty) {
      graft.io.BucketedStore.save(spark.read.parquet(outPath), bucketTable,
        idCol, str("output_buckets", "16").toInt)
      lap("bucketed_publish")
    }
    // 5b3. optional RETRIEVAL-INDEX publication (r15, q140's machinery):
    // the BM25 serving artifact built over EXACTLY what was written — tf/dl
    // bucketed on the id, full-vocab df bucketed on the token, scalars in
    // meta. Day-two admission ticks maintain it with Bm25.add/remove
    // (bit-for-bit == rebuild, spec-pinned) instead of re-scanning the
    // corpus; search serves off the store with an exchange-free corpus
    // side. nBuckets ≈ corpus bytes / 128 MB at real scale.
    val bm25Table = str("bm25_index_table", "")
    if (bm25Table.nonEmpty) {
      graft.operators.Bm25
        .buildIndex(spark.read.parquet(outPath), idCol, textCol)
        .save(bm25Table, 32)
      lap("bm25_index_publish")
    }
    // 5b3b. optional DENSE serving-index publication (r16 — the IVF+PQ
    // twin of 5b3's BM25 table, closing the serving stack at the job
    // level): built over the embedding sidecar SEMI-JOINED to exactly what
    // was written, saved cell-partitioned (probes prune at the file
    // index); day-two ivfPqAdd/ivfPqRemove calls maintain it under the
    // frozen-quantizer contract. Trained quantizers (iters=2/refineIters=2,
    // not the oracle's seed pick); the PQ budget is the operator's default (see the
    // measured recall census in BASELINE.md).
    val ivfPqPath = str("ivfpq_index_path", "")
    val tpEmbPath = str("training_embeddings_path", "")
    if (ivfPqPath.nonEmpty) {
      require(tpEmbPath.nonEmpty,
        "ivfpq_index_path needs training_embeddings_path (the embedding sidecar)")
      val emb = spark.read.parquet(tpEmbPath)
        .select(col(idCol).as("vec_id"), col("embedding"))
        .join(spark.read.parquet(outPath).select(col(idCol).as("vec_id")),
          Seq("vec_id"), "left_semi")
      graft.operators.Similarity.buildIvfPqIndex(emb,
          nCentroids = str("ivfpq_centroids", "16").toInt,
          iters = 2, refineIters = 2)
        .save(ivfPqPath)
      lap("ivfpq_index_publish")
    }
    // 5b5. optional TRAINING-PAIRS publication (r16 — the retrieval-
    // training data product the r15 primitives left to hand-wiring):
    // per sampled query (q_text = the doc's first N words, gold = the
    // doc), the top-k hard negatives from the job's own retrievers with
    // the gold EXCLUDED (q144's excludePairs on both the BM25 and the
    // IVF+PQ side — what survives is confusable-but-wrong, exactly the
    // contrastive-training negative), plus leakage-controlled splits
    // keyed on the job's OWN dedup cluster roots (q145: a near-dup
    // family lands in one split; a future admission tick's new member
    // inherits its cluster's split because roots are standing minima).
    // The labels frame itself lands at `<path>_labels` — the persisted
    // (id, component) frame `admitIntoComponents` maintains day-two.
    if (trainingPairsPath.nonEmpty) {
      val curated = spark.read.parquet(outPath)
      val every = str("training_query_every", "37").toLong
      val qWords = str("training_query_words", "5").toInt
      val negK = str("training_negatives_k", "10").toInt
      // sample on the singleton key (the id when integral, xxhash64
      // otherwise) — pmod over a string/url id would NULL out and silently
      // select ZERO queries (or throw under ANSI)
      val queries = curated
        .filter(pmod(graft.operators.Dedup.singletonKey(curated, idCol),
          lit(every)) === 0L)
        .select(col(idCol).as("q_id"),
          array_join(slice(TextFns.words(col(textCol)), 1, qWords), " ")
            .as("q_text"))
      val gold = queries.select(col("q_id"), col("q_id").as("gold_id"))
      // sparse negatives off the PUBLISHED serving index when one exists
      // (the standing artifact — no second corpus pass), else a one-shot
      // build over exactly what was written
      val bmIdx =
        if (bm25Table.nonEmpty)
          graft.operators.Bm25.Bm25Index.load(spark, bm25Table)
        else graft.operators.Bm25.buildIndex(curated, idCol, textCol)
      val sparseNeg = graft.operators.Bm25.search(bmIdx, queries, "q_id",
          "q_text", k = negK, excludePairs = gold)
        .select(col("q_id"), lit("bm25").as("retriever"),
          col(idCol).as("neighbor_id"), col("rn").cast("int").as("rank"))
      // dense negatives when an embedding sidecar is configured: served
      // from the PUBLISHED IVF+PQ index when 5b3b ran (the standing
      // artifact — same discipline as the BM25 side), else a one-shot
      // build over the CURATED subset; same gold exclusion either way.
      // The (index, query embeddings) context binds once — the QA eval
      // below reuses it for the non-excluded search.
      val denseCtx: Option[(graft.operators.Similarity.IvfPqIndex,
          DataFrame, DataFrame)] =
        if (tpEmbPath.isEmpty) None
        else {
          val emb = spark.read.parquet(tpEmbPath)
            .select(col(idCol).as("vec_id"), col("embedding"))
            .join(curated.select(col(idCol).as("vec_id")), Seq("vec_id"),
              "left_semi")
          val didx =
            if (ivfPqPath.nonEmpty)
              graft.operators.Similarity.IvfPqIndex.load(spark, ivfPqPath)
            else {
              // the one-shot fallback builds with the SAME coarse cells and
              // PQ budget as the published index, so both routes mine from
              // one configuration
              val cents = graft.operators.Similarity.kmeansCentroids(emb,
                nCentroids = str("ivfpq_centroids", "16").toInt, iters = 2)
              graft.operators.Similarity.buildIvfPqIndexFrom(emb, cents,
                iters = 2)
            }
          val qEmb = emb.join(queries.select(col("q_id").as("vec_id")),
            Seq("vec_id"), "left_semi")
          Some((didx, qEmb, emb))
        }
      // probe depth: mined negatives and the QA card's dense row share it,
      // so the card measures EXACTLY the configuration that mined
      val denseNProbe = 4
      val negatives = denseCtx match {
        case None => sparseNeg
        case Some((didx, qEmb, _)) =>
          sparseNeg.unionByName(
            graft.operators.Similarity.ivfPqSearch(didx, qEmb, k = negK,
                nProbe = denseNProbe, excludePairs = gold)
              .select(col("query_id").as("q_id"),
                lit("dense").as("retriever"), col("neighbor_id"),
                col("rank").cast("int").as("rank")))
      }
      // leakage-controlled split per QUERY, keyed on its gold doc's
      // cluster root from the job's own labels
      // bucket boundaries follow SORTED split names — a JSON object is
      // unordered, and the hash-range cut must be reproducible outside
      // this job (the q145 oracle discipline)
      val splits: Seq[(String, Double)] = {
        val m = cfg.obj("training_splits")(_.req(_).toDouble)
        if (m.nonEmpty) m.toSeq.sorted
        else Seq("test" -> 0.05, "train" -> 0.9, "val" -> 0.05)
      }
      val qSplit = DataMix.assignSplitByComponent(
          queries.select(col("q_id").as(idCol)), idCol,
          spark.read.parquet(trainingPairsPath + "_labels"), splits)
        .select(col(idCol).as("q_id"), col("split_key"), col("split"))
      negatives
        .join(gold, Seq("q_id"))
        .join(qSplit, Seq("q_id"))
        .select(col("q_id"), col("gold_id"), col("retriever"),
          col("neighbor_id"), col("rank"), col("split_key"), col("split"))
        .write.mode("overwrite").parquet(trainingPairsPath)
      lap("training_pairs")
      // 5b5b. optional retrieval-quality QA card (r17 — q154's operator
      // on the job's own product), one row per retriever, exact e6
      // integers, macro-averaged:
      //  - bm25: the SELF-RETRIEVAL sanity metric — non-excluded top-k vs
      //    gold = the query's own doc. A lexical retriever that cannot
      //    find the doc for its own leading words mines noise, not hard
      //    negatives.
      //  - dense: EXACT-SEARCH AGREEMENT — the served partial-probe
      //    quantized search vs brute-force cosine ground truth at the
      //    same k (both self-excluded by the search contract, so a
      //    self-retrieval gold is structurally unreachable there). This
      //    is the nProbe/PQ fidelity number (recall@k == 1e6 means the
      //    ANN serves exactly what exact search would); the brute pass
      //    costs queries × corpus quantized dots — bounded by the query
      //    sample, the price of ground truth.
      val evalPath = str("training_eval_path", "")
      if (evalPath.nonEmpty) {
        val sparseHits = graft.operators.Bm25.search(bmIdx, queries,
            "q_id", "q_text", k = negK)
          .select(col("q_id"), col(idCol).as("neighbor_id"), col("rn"))
        val sEval = graft.operators.Retrieval
          .evaluateSummary(sparseHits, gold, negK)
          .select(lit("bm25").as("retriever"), col("n_queries"),
            col("recall_e6"), col("mrr_e6"), col("ndcg_e6"))
        val card = denseCtx match {
          case None => sEval
          case Some((didx, qEmb, emb)) =>
            val truth = graft.operators.Similarity
              .bruteForceTopK(qEmb, emb, negK)
              .select(col("query_id"), col("neighbor_id"))
            sEval.unionByName(graft.operators.Retrieval.evaluateSummary(
                graft.operators.Similarity.ivfPqSearch(didx, qEmb,
                    k = negK, nProbe = denseNProbe)
                  .select(col("query_id"), col("neighbor_id"), col("rank")),
                truth, negK)
              .select(lit("dense").as("retriever"), col("n_queries"),
                col("recall_e6"), col("mrr_e6"), col("ndcg_e6")))
        }
        card.write.mode("overwrite").parquet(evalPath)
        lap("training_eval")
      }
      // the one-shot index (bm25_index_table empty) pinned its corpus-
      // sized tf frame; the pairs AND the eval are written — free it (a
      // LOADED index pins nothing, release is a no-op there)
      bmIdx.release()
    }
    // 5b6. optional TOKENIZED export (r16, repacked r17 — the pipeline's
    // true last mile: from curated text to the table a training reader
    // batches from): merges train on the curated corpus (q88's vocab-sized
    // loop), every doc's position-ordered integer token-id stream (q151)
    // cuts into packed-example PIECES at bin boundaries (concat-and-cut —
    // every (shard, bin) holds exactly pack_budget_tokens except the
    // shard's last, even when a doc outgrows the budget); the vocab id
    // table publishes beside it. Tokenless docs keep their layout row
    // with a null id array (they cost 0 tokens in every bin walk).
    val tokPath = str("tokenized_output_path", "")
    if (tokPath.nonEmpty) {
      val curated = spark.read.parquet(outPath)
      val merges = graft.operators.Bpe.learn(curated, textCol,
        str("bpe_merges", "6").toInt)
      val shardCol = str("pack_shard_col", "source")
      require(curated.columns.contains(shardCol),
        s"tokenized_output_path needs the '$shardCol' column (pack_shard_col)")
      // ONE encodeWords pass serves ids, counts, bins/offsets AND the
      // vocab table (tokenizedCorpus — three separate derivations here
      // would re-encode the corpus words three times)
      val (tokenized, vocab) = graft.operators.Packing.tokenizedCorpus(
        curated, idCol, textCol, Seq(shardCol),
        str("pack_budget_tokens", "2048").toLong, merges)
      tokenized.write.mode("overwrite").parquet(tokPath)
      vocab.write.mode("overwrite").parquet(tokPath + "_vocab")
      // the validation manifest publishes beside the corpus (r17 q158):
      // per-(shard, bin) counts + the stream sha a training reader
      // recomputes and diffs before spending GPU-hours — derived from the
      // WRITTEN table, so the manifest certifies the artifact on disk,
      // not the plan that produced it
      val written = spark.read.parquet(tokPath)
      graft.operators.Packing.shardManifest(written, idCol, Seq(shardCol))
        .write.mode("overwrite").parquet(tokPath + "_manifest")
      // optionally ALSO the materialized examples table (q160's reader
      // fold — gap-free streams + loss-mask boundaries): some readers
      // want the fold done once at publish time rather than per epoch
      val exPath = str("examples_output_path", "")
      if (exPath.nonEmpty)
        graft.operators.Packing.examples(written, idCol, Seq(shardCol))
          .write.mode("overwrite").parquet(exPath)
      // all writes landed — free the encW/ids pins the operator holds
      Seq(tokenized, vocab).foreach(Dedup.release)
      lap("tokenized_export")
    }
    // 5b7. optional MIXTURE PLAN (r17 — q157/q159's operators on the
    // job's own product): the epochs-per-source table a pretraining run
    // is configured from — a token budget water-fills across strata by
    // mix weight under an epoch cap — published beside the corpus, with
    // optionally the MATERIALIZED (id, epoch_idx) expansion a reader
    // consumes. Token pricing = whitespace word count of the text column
    // (the same currency every mixture operator here uses).
    val mixPlanPath = str("mixture_plan_path", "")
    if (mixPlanPath.nonEmpty) {
      val strataCol = str("mixture_strata_col", "source")
      val curated = spark.read.parquet(outPath)
      require(curated.columns.contains(strataCol),
        s"mixture_plan_path needs the '$strataCol' column (mixture_strata_col)")
      val budgetStr = str("mixture_budget_tokens", "")
      require(budgetStr.nonEmpty,
        "mixture_plan_path needs mixture_budget_tokens")
      val budget = budgetStr.toLong
      val weights = cfg.obj("mixture_weights")(_.req(_).toLong)
      val priced = curated.select(col(idCol), col(strataCol),
        size(graft.functions.TextFns.words(col(textCol)))
          .cast("long").as("n_tok"))
      val plan = graft.operators.DataMix.epochPlan(priced, strataCol,
        col("n_tok"), budget, weights,
        maxEpochsE3 = str("mixture_max_epochs_e3", "1000").toLong)
      plan.write.mode("overwrite").parquet(mixPlanPath)
      val mixMatPath = str("mixture_materialize_path", "")
      if (mixMatPath.nonEmpty)
        graft.operators.DataMix.executeEpochPlan(priced, strataCol, idCol,
            col("n_tok"), spark.read.parquet(mixPlanPath))
          .write.mode("overwrite").parquet(mixMatPath)
      lap("mixture_plan")
    }
    // 5b2. optional JSONL interchange export: re-publish the curated corpus
    // in the layout open-data releases ship (one JSON object per line, gzip
    // members, one .json.gz per partition — the read path's own sharding).
    // The LAKE stays parquet (pruned scans, pushdown); JSONL is the
    // interchange twin, same discipline as the WET export (io.Warc.write).
    val jsonlPath = str("jsonl_export_path", "")
    if (jsonlPath.nonEmpty) {
      spark.read.parquet(outPath).write.mode("overwrite")
        .option("compression", "gzip").json(jsonlPath)
      lap("jsonl_export")
    }
    // 5b4. optional WET interchange export (r15 closes the loop the r14
    // sink opened): re-publish the curated corpus in the format it
    // arrived in — conversion records, one gzip member per record
    // (io.Warc.write). `wet_export_indexed` writes the CDX index parquet
    // alongside (`<path>_cdx`), making the export a random-access record
    // store (Warc.recordsIndexed / the official-CDXJ twin via
    // Warc.cdxjLines). Frames without url/warc_date columns get
    // deterministic urn ids / empty dates.
    val wetPath = str("wet_export_path", "")
    if (wetPath.nonEmpty) {
      val curated0 = spark.read.parquet(outPath)
      val curated = Seq("url" -> concat(lit("urn:graft:doc:"), col(idCol)),
          "warc_date" -> lit("")).foldLeft(curated0) {
        case (d, (c, dflt)) =>
          if (d.columns.contains(c)) d else d.withColumn(c, dflt)
      }
      if (str("wet_export_indexed", "false").toBoolean) {
        val idx = graft.io.Warc.writeIndexed(curated, wetPath,
          textCol = textCol)
        idx.write.mode("overwrite").parquet(wetPath + "_cdx")
        graft.operators.Dedup.release(idx)
      } else graft.io.Warc.write(curated, wetPath, textCol = textCol)
      lap("wet_export")
    }
    // 5c. optional deterministic shard export (q81 semantics):
    // <output_path>_shards/shard=K/ parquet, each shard streaming in its
    // (Knuth-hash, id) permutation order — the training-reader layout,
    // published from the SAME curated rows as the main sink.
    val nShards = str("shard_export_n", "0").toInt
    if (nShards > 0) {
      DataMix.writeShards(spark.read.parquet(outPath), idCol,
        outPath + "_shards", nShards)
      lap("shard_export")
    }

    // 6. optional data card of what was ACTUALLY written — the FULL audit
    // frame published beside the corpus (q111: the q108 exact integers plus
    // per-stratum KL-vs-mix and the top-token list)
    val reportCol = str("report_strata_col", "")
    if (reportCol.nonEmpty)
      graft.operators.Reports.corpusReportFull(spark.read.parquet(outPath),
          textCol, reportCol, str("report_lang_col", "lang"))
        .coalesce(1)
        .write.mode("overwrite").parquet(outPath + "_report")

    lap("count+report")
    val stats = Stats(input, afterQuality, afterDedup, output,
      afterWindowScrub, afterResample, afterDecontam,
      afterLineCap, afterNovelty, afterFuzzy, afterHostCap)
    System.err.println(s"[curate] $stats")
    System.err.println("[curate-times] " + stageTimes
      .map { case (k, v) => f"$k=$v%.1fs" }.mkString(" "))
    Maintenance.touchDone(outPath, spark.sparkContext.hadoopConfiguration)
    Some(stats)
  }
}
