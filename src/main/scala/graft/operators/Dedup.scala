package graft.operators

import graft.functions.{MinHashSketch, TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for the training-data pipeline, exact and approximate.
  *
  * Scale design: no operator enumerates the O(n²) pair space. Every variant works
  * in three stages — (1) a per-row pass derives a compact blocking key (content
  * hash, shingle prefix, MinHash band, SimHash band, hyperplane bucket); (2) a
  * hash-partitionable equi-join on the key yields a candidate pair set that is
  * sub-quadratic whenever true duplicates are sparse; (3) an exact kernel
  * (sorted-intersect Jaccard / Hamming / integer cosine) verifies candidates.
  * For the Jaccard family the candidate set is a PROVEN superset of the true pairs
  * (prefix-filter pigeonhole), so the output is exact, not approximate.
  *
  * The per-row prep frame (shingles / signatures / buckets) is the one frame
  * referenced by multiple downstream branches, so it is persisted
  * (MEMORY_AND_DISK) — each operator tokenizes the corpus exactly once no matter
  * how many candidate/verify branches read it. Banded joins carry both sides'
  * band material and emit each pair only from its FIRST shared band, so
  * candidate sets are duplicate-free with no distinct shuffle.
  */
object Dedup {

  /** Default candidate budget for the COMPOSITE dedup routes (`dedupedCorpus`
    * and CurationJob's dedup stage): generous — two orders of magnitude above
    * any legitimate near-dup corpus measured at sf10 (~10⁷ candidates), and
    * safely below the clique-quadratic regimes (the r13 doc-unique-title
    * landmine priced at ≳5·10⁹, which at ~16 bytes/candidate became a 68 GB
    * spill and ENOSPC). At 10⁹ the candidate traffic is ~16 GB — tolerable
    * on a cluster, survivable on one node; past it the corpus needs thinning
    * (host caps, line dedup, banded routes), not a bigger disk. Raise the
    * dial deliberately for deployments that can eat more. */
  val DefaultMaxCandidates: Long = 1000L * 1000 * 1000

  /** Exact dedup by normalized content hash: keeps the lowest-id row per group.
    * One hash aggregate (sha-bucket shuffle); survivors carry the group size. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = sha2(lower(trim(col(textCol))), 256)
    docs.withColumn("__h", norm)
      .groupBy(col("__h").as("content_sha"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
  }

  private val S = 1000000L

  /** Uncompressed-byte threshold below which `ensureParallel` skips its
    * exchange: a frame this small finishes its per-doc kernel in one task
    * faster than the exchange's fixed stage cost (measured r11: the guard
    * costs ~1.4 s net at 1.5 MB, wins ~5 s at 6.3 MB — break-even ≈ 2.5 MB). */
  private[graft] val MinKernelBytesKey = "graft.parallel.minKernelBytes"
  private val MinKernelBytesDefault: Long = 2L << 20

  /** Sum of the parquet footers' per-column-chunk UNCOMPRESSED sizes — the
    * honest currency for "how much kernel work rides this scan". On-disk
    * bytes lie by the compression ratio (the ×100-duplicate-amplified sf10
    * corpus is 4.9 MB on disk and 49 MB decompressed — a disk probe would
    * skip the guard on exactly the corpus that needs it most). Driver-side
    * footer metadata reads only, and only reached when the file COUNT is
    * already small, so the probe is O(few footers), never a job. Non-parquet
    * or unreadable inputs report Long.MaxValue — unknown keeps the exchange,
    * conservative in the safe direction. */
  private def uncompressedBytes(df: DataFrame, files: Array[String]): Long =
    try {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      import scala.jdk.CollectionConverters._
      files.iterator.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.asScala.iterator
          .flatMap(_.getColumns.asScala.iterator)
          .map(_.getTotalUncompressedSize).sum
        finally reader.close()
      }.sum
    } catch { case _: Throwable => Long.MaxValue }

  /** Repartition to the session shuffle parallelism ONLY when the input's
    * layout cannot already feed it AND the frame is big enough for the
    * exchange to pay for itself. The explicit exchanges in the prep stages
    * exist because few-file corpora (the driver's tables — and any
    * `coalesce(1)` upstream) run the expensive per-doc projections at
    * file-count parallelism; a real multi-thousand-file corpus needs no such
    * shuffle, and skipping it removes a full corpus pass. All probes are
    * plan-only / footer-metadata-only — no job runs.
    *
    * Skip conditions, in order:
    *  1. the frame's STRAIGHT-LINE ancestry already carries a caller shuffle
    *     (`repartition`/`repartitionByExpression`) — stacked guards must not
    *     exchange the corpus twice. Only the unary chain from the root is
    *     probed (r10 ADVICE): a Repartition on the far side of an upstream
    *     join says nothing about THIS scan's parallelism;
    *  2. the input is checkpoint-backed (`LogicalRDD` — composite boundaries,
    *     CurationJob stage pins): its RDD partition count is read directly;
    *     post-pin data that is already parallel is never re-exchanged
    *     (r10 ADVICE: the old file probe saw 0 files and always re-shuffled);
    *  3. the scan already spans enough files to feed the target parallelism;
    *  4. the scan's decompressed payload is under `MinKernelBytesKey`
    *     (default 2 MB): one task finishes the kernel faster than the
    *     exchange's fixed cost (the r10 sf0.1 overhead, reclaimed).
    *
    * `costWeight` scales the skip threshold DOWN for operators whose per-byte
    * kernel cost is far above the tokenize baseline the 2 MB default was
    * calibrated on — the MinHash signature (64 permutation minima per
    * shingle array) and SimHash (per-token 64-bit sign loop) prep frames do
    * ~an order more work per byte AND freeze their parallelism into a
    * persisted frame every downstream join re-reads, so their break-even is
    * ~16× lower (measured r11: skipping at 1.5 MB cost q25 2.1→9.9 s). */
  private[graft] def ensureParallel(df: DataFrame,
                                    costWeight: Int = 1): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    val floor = math.max(2, target / 2)
    @annotation.tailrec
    def chainRepartitioned(
        p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        // shuffle=false is coalesce(): it REDUCES parallelism — the
        // degenerate input this guard exists for, never a caller exchange
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
          if (r.shuffle) true else chainRepartitioned(r.child)
        case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          true
        case u: org.apache.spark.sql.catalyst.plans.logical.UnaryNode =>
          chainRepartitioned(u.child)
        case _ => false
      }
    if (chainRepartitioned(df.queryExecution.logical)) return df
    val rddParts = df.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getNumPartitions
    }
    if (rddParts.nonEmpty)
      return if (rddParts.max >= floor) df else df.repartition(target)
    val files = try df.inputFiles catch { case _: Throwable => Array.empty[String] }
    if (files.length >= floor) return df
    if (files.isEmpty) return df.repartition(target)
    val minBytes = df.sparkSession.conf
      .get(MinKernelBytesKey, MinKernelBytesDefault.toString).toLong /
      math.max(1, costWeight)
    if (uncompressedBytes(df, files) <= minBytes) df else df.repartition(target)
  }

  private[graft] val MinPinBytesKey = "graft.pin.minInputBytes"
  private[graft] val MinPinBytesDefault: Long = 32L << 20

  /** Size-gated persist (r17 optimization round): pin `frame` only when
    * `src`'s scan is heavy enough that re-evaluating the multiply-referenced
    * subtree costs more than the pin's own materialization pass. The
    * multiply-referenced VOCAB-sized frames (bigram tables, scored frames
    * feeding rank windows) are corpus-scale subtrees — at cluster scale an
    * unpinned reference re-tokenizes the corpus once PER REFERENCE (q132's
    * single plan held 24 corpus scans), but at bench scale (sf0.1: ~1 MB
    * decompressed) a re-scan is cheaper than the persist's extra job +
    * codegen break (measured this round: unconditional pins cost the
    * NgramLm family +2 s across 6 rows at sf0.1 while changing nothing at
    * scale). Same honest currency as [[ensureParallel]]: parquet footers'
    * uncompressed column-chunk sizes; an unknown (non-parquet /
    * checkpoint-fed) or many-file source pins — conservative in the
    * at-scale direction. `graft.pin.minInputBytes` is the dial (default
    * 32 MB: above every local-SF bench corpus, far below any production
    * slab; the ×100-amplified sf10 census corpus at 49 MB decompressed
    * pins, which is exactly the regime the pins were measured to win in).
    * The pin is freed like every other: [[release]] on any consumed frame
    * whose plan reaches it (a no-op when the gate stayed closed). */
  private[graft] def persistIfHeavy(frame: DataFrame,
                                    src: DataFrame): DataFrame =
    if (heavySource(src)) frame.persist(StorageLevel.MEMORY_AND_DISK)
    else frame

  /** The shared "is re-evaluating `src`'s subtree expensive?" gate behind
    * [[persistIfHeavy]] and [[localizeIfHeavy]]. r18 refinements (r17
    * VERDICT/ADVICE): a source whose leaves are ALL LocalRelations is
    * driver-small by definition (tests, ad-hoc Seq.toDF query sets) and
    * never heavy — the old `files.isEmpty ⇒ heavy` branch pinned
    * unconditionally for exactly those; and a many-file source probes its
    * footers up to 64 files instead of pinning on count alone (a 33-file
    * 1 MB corpus no longer pins pointlessly — past 64 files the footer
    * probe itself is no longer O(few), and a >64-file corpus is
    * production-shaped). */
  private[graft] def heavySource(src: DataFrame): Boolean = {
    val files =
      try src.inputFiles catch { case _: Throwable => Array.empty[String] }
    val minBytes = src.sparkSession.conf
      .get(MinPinBytesKey, MinPinBytesDefault.toString).toLong
    if (files.isEmpty) {
      val leaves = src.queryExecution.analyzed.collectLeaves()
      // LocalRelation-only: driver-resident rows, re-evaluation is free.
      // Anything else sourceless (LogicalRDD checkpoints) stays heavy —
      // conservative in the at-scale direction.
      !leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    }
    else if (files.length > 64) true // footer probe no longer O(few): pin
    else uncompressedBytes(src, files) > minBytes
  }

  /** Leak-free twin of [[persistIfHeavy]] for frames that are BROADCAST-
    * BOUND anyway (the Bm25 query-term frame: both its references ship it
    * through a BroadcastExchange, so the driver pays for its rows in every
    * plan regardless): when the source is heavy, evaluate the frame ONCE via
    * a driver collect and re-issue it as a LocalRelation. Same single-
    * evaluation guarantee as a persist — the corpus-scale source subtree
    * runs exactly once no matter how many downstream references — but with
    * ZERO block-manager residue, so operators with no post-action release
    * hook (a lazy `search` result consumed by the caller) cannot leak cache
    * entries in a long-lived serving session (r17 VERDICT #1). NOT for
    * frames that may exceed broadcast size. */
  private[graft] def localizeIfHeavy(frame: DataFrame,
                                     src: DataFrame): DataFrame =
    if (!heavySource(src)) frame
    else {
      val spark = frame.sparkSession
      spark.createDataFrame(
        java.util.Arrays.asList(frame.collect(): _*), frame.schema)
    }

  /** One tokenize pass per operator: (__id, __sh sorted hashed shingles, __sz,
    * blockCols...), PERSISTED, empty-shingle docs filtered. The shingle frame is
    * referenced by both the candidate-generation self-join and the verify joins;
    * without the persist each reference re-tokenizes the corpus (measured round 2:
    * the prefix self-join alone doubled the dominant cost). MEMORY_AND_DISK: at
    * cluster scale this is one corpus-sized spill to executor-local disk — the
    * same currency a shuffle pays, bought once instead of per-reference.
    *
    * The empty filter is applied ON TOP of the persisted frame, never below it:
    * a plain `.filter(size(__sh) > 0)` in the build plan gets pushed through the
    * repartition into the parquet scan, where it evaluates the whole
    * tokenize+hash+sort pipeline at FILE-count parallelism (measured: the scan ran
    * it single-task, 10× the cost of the distributed projection). */
  private def shingleFrame(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, blockCols: Seq[String],
                           costWeight: Int = 1): DataFrame =
    ensureParallel(docs.select(
      (col(idCol).as("__id") +: col(textCol).as("__text") +: blockCols.map(col)): _*),
      costWeight)
      // exchange (when needed) BEFORE the per-doc shingle computation: without
      // it the whole tokenize+hash+sort pipeline runs at file-count
      // parallelism (measured round 1: 1 task on the single-file corpus)
      .withColumn("__sh", TextFns.sortedHashedShingles(col("__text"), n))
      .withColumn("__sz", size(col("__sh")).cast("long"))
      .drop("__text")
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The empty-shingle filter, applied ON TOP of the persisted shingle frame
    * (never inside its build plan — see `shingleFrame`'s pushdown note). Kept
    * separate so composites hold the PERSISTED handle and can unpersist it
    * once cluster resolution has materialized. */
  private def liveShingles(sh: DataFrame): DataFrame = sh.filter(col("__sz") > 0)

  /** Exact Jaccard verify over a candidate pair superset: one sorted-merge
    * intersection per pair, integer cross-multiplied threshold before the final
    * double jaccard. `sh` must be the (persisted) shingle frame. */
  private def verifyJaccard(sh: DataFrame, threshold: Double,
                            cand: DataFrame): DataFrame =
    verifyJaccardBetween(sh, sh, threshold, cand)

  /** Cross-corpus verify: `id_a` resolves against `shA`, `id_b` against `shB`. */
  private def verifyJaccardBetween(shA: DataFrame, shB: DataFrame,
                                   threshold: Double, cand: DataFrame): DataFrame = {
    graft.functions.SortedIntersectCount.register(shA.sparkSession)
    val tS = math.round(threshold * S)
    cand
      .join(shA.select(col("__id").as("id_a"), col("__sh").as("sha")), "id_a")
      .join(shB.select(col("__id").as("id_b"), col("__sh").as("shb")), "id_b")
      .withColumn("sa", size(col("sha")).cast("long"))
      .withColumn("sb", size(col("shb")).cast("long"))
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("sha"), col("shb")))
      .filter(col("inter") * (S + tS) >= lit(tS) * (col("sa") + col("sb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** PPJoin-style prefix-filter candidates for Jaccard >= t — an EXACT superset,
    * sub-quadratic without sacrificing a single true pair.
    *
    * Global token order = the hashed shingle value (arrays arrive sorted). A doc
    * with |A| shingles needs only its first p = |A| - ceil(t·|A|) + 1 as join
    * keys: J(A,B) >= t forces |A ∩ B| >= ceil(t·|A|) (since |B| >= |A∩B| gives
    * O(1+t) >= t(|A|+|B|) >= t(|A|+O)), and if none of A's first p tokens were in
    * B, the >= ceil(t·|A|) shared tokens would all sit in A's last
    * ceil(t·|A|) - 1 positions — pigeonhole-impossible. So joining on
    * (block, prefix-token) with the |A|·t <= |B| <= |A|/t length filter inlined
    * is a guaranteed superset of the true pairs. ceil is exact integer
    * arithmetic ((tS·s + S-1) div S), no float round-off can shave the prefix.
    *
    * At 100 TB the join partitions by (block, token): work is proportional to
    * Σ bucket², driven by token sharing among NEAR-DUPLICATES — not corpus² (the
    * old all-pairs-within-block candidate space). `sh` is a prepared shingle
    * frame (see `shingleFrame`). */
  private def prefixCandidates(sh: DataFrame, threshold: Double,
                               blockCols: Seq[String],
                               maxCandidates: Long = 0L,
                               budgetOp: String = "prefix-filter join"): DataFrame =
    prefixCandidatesBetween(sh, sh, threshold, blockCols, self = true,
      maxCandidates = maxCandidates, budgetOp = budgetOp)

  /** Session-conf dial for the LOW-DIVERSITY flood route: when the estimated
    * average prefix-token posting list exceeds this many docs, candidate
    * generation switches from hash-ordered to DF-ORDERED prefixes (true
    * PPJoin frequency order). <= 0 forces the df route (test hook); a huge
    * value disables it. Default 64. */
  val FloodAvgBucketKey = "spark.graft.dedup.floodAvgBucket"
  val FloodAvgBucketDefault = 64L

  /** Cross-corpus form of the prefix-filter candidate join: candidates are
    * (A-doc, B-doc) pairs — the incremental-dedup primitive (new batch vs
    * existing corpus). `self = true` restores the one-corpus self-join with
    * its `id_a < id_b` ordering. The superset proof is pairwise and holds
    * unchanged across two corpora.
    *
    * TOKEN ORDER IS ADAPTIVE (r12). The superset proof works in ANY total
    * token order; hash order (arrays arrive sorted) is a good proxy for
    * PPJoin's ascending-document-frequency order only while shingles are
    * mostly rare. On a LOW-DIVERSITY corpus (tiny vocabulary relative to
    * corpus size — boilerplate floods, template farms, synthetic text) every
    * posting list is huge and the candidate join's Σ bucket² cost turns
    * quadratic in the corpus even when the TRUE pair count is zero (measured:
    * 14-stem synthetic docs, 8k docs 5 s → 20k docs > 9 min, 0 true pairs).
    * The cure is the textbook one: order each prefix RAREST-FIRST, so
    * prefixes fill with low-df (often doc-unique) tokens and posting lists
    * collapse. A cheap probe (token count from array sizes — no explode —
    * plus one approx-distinct pass, skipped for small inputs) estimates the
    * average prefix bucket; past the dial it rebuilds the join arrays with
    * tokens ENCODED as (min(df, 2³¹−1) << 31 | hash₃₁(token)) and sorted —
    * ascending = rarest-first, and the encoding stays a join-equality proxy
    * (a collision can only ADD candidates, the verify stage removes them),
    * so the output pair set is IDENTICAL to the hash-ordered route's. The
    * verify stage keeps reading the original hash-sorted arrays. Costs two
    * extra token-stream shuffles (df + per-doc rebuild), paid only in the
    * regime where the hash-ordered join would not finish at all. */
  /** The shared prepare stage of the prefix-filter join: the dup-free/flood
    * probes, the (adaptive) df-reorder, and the prefix-array build — split
    * out so the candidate-BUDGET estimator prices the SAME prefix frames
    * the join will read (estimating the pre-reorder frame would overstate
    * the flood route by orders of magnitude). `prefB` is null for a
    * self-join. `prefixRows` = Σ prefix lengths over both sides (the
    * sampling denominator). */
  private final case class PrefixJoinPrep(prefA: DataFrame, prefB: DataFrame,
                                          dupFree: Boolean, prefixRows: Long)

  private def prefixCandidatesBetween(shA0: DataFrame, shB0: DataFrame,
                                      threshold: Double, blockCols: Seq[String],
                                      self: Boolean,
                                      maxCandidates: Long = 0L,
                                      budgetOp: String = "prefix-filter join"): DataFrame = {
    val tS = math.round(threshold * S)
    val prep = preparePrefixJoin(shA0, shB0, threshold, blockCols, self)
    val prefA = prep.prefA
    val prefB = if (self) prefA else prep.prefB
    if (maxCandidates > 0L) {
      // the r13 landmine gate: one SAMPLED histogram over the prefix-token
      // buckets prices the join's output before any quadratic shuffle
      // materializes (BASELINE.md r13: the doc-unique-title regime walked
      // past the raw-listing guards into a 68 GB spill and ENOSPC because
      // the COMPOSITE path had no budget)
      val est = estimatePrefixCandidateRows(
        prefA, if (self) null else prefB, blockCols, prep.prefixRows)
      require(est <= maxCandidates,
        s"$budgetOp: the prefix-token bucket histogram estimates ~$est " +
          s"candidate join rows (sampled, unbiased), over the maxCandidates " +
          s"budget of $maxCandidates — refusing before any quadratic " +
          "shuffle materializes. Remedies: raise maxCandidates (CurationJob " +
          "dial max_candidates), raise the Jaccard threshold (shorter " +
          "prefixes, rarer tokens), add/refine block_cols, or thin the " +
          "flood upstream (collapseExact contracts only IDENTICAL shingle " +
          "sets — NEAR-identical template farms need host_cap, line-level " +
          "dedup, or a simhash/minhash route whose banding bounds bucket " +
          "size).")
    }
    val lengthAndBlocks = blockCols
      .map(c => col(s"x.$c") === col(s"y.$c"))
      .foldLeft(
        col("x.__tok") === col("y.__tok") &&
          (if (self) col("x.__id") < col("y.__id") else lit(true)) &&
          // SSJoin length filter at candidate time: t·max(|A|,|B|) <= min(|A|,|B|)
          col("x.__sz") * S >= lit(tS) * col("y.__sz") &&
          col("y.__sz") * S >= lit(tS) * col("x.__sz"))(_ && _)
    if (prep.dupFree) {
      // both sides carry their full (sorted) prefix array so a pair sharing k
      // prefix tokens is emitted only from the SMALLEST shared one — the
      // first-shared-band trick of the MinHash/SimHash joins, which replaces
      // the old `.distinct()` dedupe shuffle on the candidate pair set
      def sel(pref: DataFrame): DataFrame = pref.select(
        (col("__id") +: col("__sz") +: col("__pref") +:
          explode(col("__pref")).as("__tok") +:
          blockCols.map(col)): _*)
      sel(prefA).as("x").join(sel(prefB).as("y"), lengthAndBlocks &&
          col("x.__tok") === graft.functions.SortedIntersectMin(
            col("x.__pref"), col("y.__pref")))
        .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
    } else {
      // long-document regime: rows carry one token, pairs dedupe after the join
      def sel(pref: DataFrame): DataFrame = pref.select(
        (col("__id") +: col("__sz") +:
          explode(col("__pref")).as("__tok") +:
          blockCols.map(col)): _*)
      sel(prefA).as("x").join(sel(prefB).as("y"), lengthAndBlocks)
        .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
    }
  }

  private def preparePrefixJoin(shA0: DataFrame, shB0: DataFrame,
                                threshold: Double, blockCols: Seq[String],
                                self: Boolean): PrefixJoinPrep = {
    val tS = math.round(threshold * S)
    // Adaptive dedupe strategy. The dup-free join ships each doc's full prefix
    // array on every exploded token row — O(p²) longs per doc through the
    // self-join shuffle. With short prefixes (p ≈ tens, the common corpus) that
    // payload is noise and beats a candidate-set dedupe shuffle outright; for
    // LONG documents at low thresholds (p in the thousands) p² dwarfs what the
    // dropDuplicates saves, so the probe (one agg over the already-persisted
    // shingle frame, same pattern as the oversized-bucket guard) flips to the
    // array-free emit + dropDuplicates form. Both strategies produce the same
    // candidate SET — the choice is pure physics, invisible to the oracle.
    val probed = if (self) shA0 else shA0.unionByName(shB0)
    val stats = probed.agg(
        coalesce(avg(greatest(
          col("__sz") - expr(s"($tS * __sz + ${S - 1}) div $S") + 1, lit(0L))),
          lit(0.0)),
        coalesce(sum(greatest(
          col("__sz") - expr(s"($tS * __sz + ${S - 1}) div $S") + 1, lit(0L))),
          lit(0L)),
        coalesce(sum(col("__sz")), lit(0L)))
      .first()
    val meanP = stats.getDouble(0)
    val prefixRows = stats.getLong(1)
    val totalToks = stats.getLong(2)
    val dupFree = meanP <= 256.0

    // low-diversity flood probe (see scaladoc). The join's output is
    // r²·Σ df² (r = prefix fraction) — a SECOND moment, dominated by the
    // common tokens, so a mean-df or vocabulary-count probe misses the
    // regime entirely (measured: the 14-stem flood has meanDf < 1 because
    // doc-unique shingles flood the vocabulary while 2.7k common shingles
    // carry the cost). Estimate Σ df² from a ~200k-token sample: per token
    // df_s ~ Binomial(df, f), so E[Σ df_s²] = f²Σdf² + f(1−f)T and the
    // unbiased estimate is (Σdf_s² − (1−f)·sampleRows)/f². The dial then
    // bounds est-join-rows PER PREFIX ROW — the df-weighted (size-biased)
    // average posting list a prefix row actually meets. One tiny sampled
    // shuffle, skipped when the prefix stream is small.
    val floodDial = probed.sparkSession.conf
      .get(FloodAvgBucketKey, FloodAvgBucketDefault.toString).toLong
    val useDfOrder =
      if (floodDial <= 0L) true
      else if (prefixRows <= math.max(64L * 1024, floodDial) || totalToks == 0L)
        false
      else {
        val f = math.min(1.0, 200000.0 / totalToks)
        val s = probed.select(explode(col("__sh")).as("__tok"))
          .sample(withReplacement = false, f, seed = 42)
          .groupBy("__tok").agg(count(lit(1)).as("__c"))
          .agg(coalesce(sum(col("__c") * col("__c")), lit(0L)),
            coalesce(sum(col("__c")), lit(0L)))
          .first()
        val sumSq = s.getLong(0).toDouble
        val sampleRows = s.getLong(1).toDouble
        val dfSq = math.max(0.0, (sumSq - (1.0 - f) * sampleRows)) / (f * f)
        val r = prefixRows.toDouble / totalToks
        val estJoinRows = r * r * dfSq
        estJoinRows / prefixRows > floodDial.toDouble
      }
    val (shA, shB) =
      if (!useDfOrder) (shA0, shB0)
      else {
        val dfFrame = probed.select(explode(col("__sh")).as("__tok"))
          .groupBy("__tok").agg(count(lit(1)).as("__df"))
        def reorder(sh: DataFrame): DataFrame = {
          val carried = sh.columns.filterNot(_ == "__sh").toSeq
          sh.withColumn("__tok", explode(col("__sh")))
            .join(dfFrame, "__tok")
            .withColumn("__enc",
              least(col("__df"), lit(0x7fffffffL)) * lit(1L << 31) +
                shiftrightunsigned(col("__tok"), 33))
            .groupBy(carried.map(col): _*)
            .agg(sort_array(collect_list(col("__enc"))).as("__sh"))
        }
        // identical plans on both references -> exchange reuse covers the
        // self-join's double read of the rebuilt frame
        val a = reorder(shA0)
        (a, if (self) a else reorder(shB0))
      }
    def prefBase(sh: DataFrame): DataFrame = sh
      .withColumn("__alpha", expr(s"($tS * __sz + ${S - 1}) div $S"))
      .withColumn("__p", (col("__sz") - col("__alpha") + 1).cast("int"))
      .withColumn("__pref", slice(col("__sh"), lit(1), col("__p")))
    PrefixJoinPrep(prefBase(shA), if (self) null else prefBase(shB),
      dupFree, prefixRows)
  }

  /** Estimated output rows of the prefix-filter candidate join — Σ over
    * (prefix-token, blockCols) buckets of n·(n−1)/2 (self) or n_A·n_B
    * (cross): the exact number of same-bucket row combinations the join
    * will examine, and an upper bound on emitted candidates (the SSJoin
    * length filter and the first-shared-token dedupe only remove rows).
    * Estimated from a ≤~400k-token Bernoulli sample of the exploded prefix
    * stream: with n_s ~ Binomial(n, f) per bucket, E[Σ n_s(n_s−1)/2] =
    * f²·Σ n(n−1)/2 and E[Σ n_{A,s}·n_{B,s}] = f²·Σ n_A·n_B (independent
    * draws), so dividing by f² is unbiased; at f = 1 (small inputs) it is
    * exact. The flood regimes this prices are dominated by huge buckets,
    * where the sampled counts are large and the relative error small —
    * the same Σdf² logic as the flood-route probe. */
  private def estimatePrefixCandidateRows(prefA: DataFrame, prefB: DataFrame,
                                          blockCols: Seq[String],
                                          totalPrefixRows: Long): Long = {
    val f = math.min(1.0, 400000.0 / math.max(1L, totalPrefixRows).toDouble)
    def toks(pref: DataFrame): DataFrame = {
      val t = pref.select(
        (explode(col("__pref")).as("__tok") +: blockCols.map(col)): _*)
      if (f >= 1.0) t else t.sample(withReplacement = false, f, seed = 42)
    }
    val keys = (col("__tok") +: blockCols.map(col))
    val sampled =
      if (prefB == null)
        toks(prefA).groupBy(keys: _*).agg(count(lit(1)).as("__n"))
          // exact integral arithmetic (the bucketPairBudget convention)
          .agg(coalesce(sum(expr("__n * (__n - 1) div 2")), lit(0L)))
          .first().getLong(0)
      else {
        val a = toks(prefA).withColumn("__ca", lit(1L))
          .withColumn("__cb", lit(0L))
        val b = toks(prefB).withColumn("__ca", lit(0L))
          .withColumn("__cb", lit(1L))
        a.unionByName(b).groupBy(keys: _*)
          .agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
          .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L)))
          .first().getLong(0)
      }
    val est = sampled.toDouble / (f * f)
    if (est >= Long.MaxValue.toDouble) Long.MaxValue else math.round(est)
  }

  def ngramPrefixCandidates(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, threshold: Double,
                            blockCols: Seq[String],
                            maxCandidates: Long = 0L): DataFrame =
    prefixCandidates(
      liveShingles(shingleFrame(docs, idCol, textCol, n, blockCols)), threshold,
      blockCols, maxCandidates, "ngramPrefixCandidates")

  /** Pre-flight candidate budget for the n-gram Jaccard prefix join at the
    * same configuration — the `estimateMinhashPairs` twin for the PPJoin
    * route: one shingle pass + one sampled prefix-bucket histogram, no
    * joins. Runs the SAME probes and (adaptive) df-reorder as the real
    * join, so the estimate prices the plan that would actually execute. */
  def estimateNgramJaccardCandidates(docs: DataFrame, idCol: String,
                                     textCol: String, n: Int,
                                     threshold: Double,
                                     blockCols: Seq[String] = Nil): Long = {
    val sh = shingleFrame(docs, idCol, textCol, n, blockCols)
    val prep = preparePrefixJoin(liveShingles(sh), liveShingles(sh), threshold,
      blockCols, self = true)
    val est = estimatePrefixCandidateRows(prep.prefA, null, blockCols,
      prep.prefixRows)
    sh.unpersist(blocking = false)
    est
  }

  /** Near-dup pairs by EXACT n-gram Jaccard: prefix-filter candidates (superset)
    * + sorted-intersect verify. Output identical to all-pairs enumeration, plan
    * sub-quadratic. Returns (id_a, id_b, jaccard) with id_a < id_b.
    * `maxCandidates > 0` prices the candidate join with a sampled
    * prefix-bucket histogram first and REFUSES (IllegalArgumentException,
    * actionable message) when the estimate exceeds it — the r13
    * doc-unique-token landmine gate. 0 = unguarded (raw listing semantics,
    * matching the other pair-listing ops' default). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        blockCols: Seq[String],
                        maxCandidates: Long = 0L): DataFrame =
    ngramJaccardPairsManaged(docs, idCol, textCol, n, threshold, blockCols,
      maxCandidates = maxCandidates)._1

  /** `ngramJaccardPairs` plus the handle composites use to free the operator's
    * internal persisted shingle frame once the pair set has been consumed.
    *
    * `collapseExact` (off for the raw pair-listing operator, ON in the
    * `dedupedCorpus` composite): contract docs with IDENTICAL shingle sets to
    * their min-id representative before the prefix-filter join, attaching
    * members by n−1 identity edges (jaccard exactly 1.0). The r10 sf10
    * full-stack receipt caught the text route without it: on the
    * ×100-duplicate-amplified 500k-doc corpus every shingle's posting list is
    * ×100, the prefix-candidate volume ×10⁴ (Σ bucket² law), and the verify
    * join spilled the disk dry (>70 GB) — the exact failure mode the
    * embedding route's `collapseExactGroups` closed in r7. Connectivity is
    * provably unchanged: Jaccard is computed FROM the shingle sets, so
    * J(u, x) = J(rep(u), x) — every original edge maps to a rep edge plus
    * identity hops. The set hash is only a shuffle key, never trusted
    * (membership confirmed by exact array equality; a colliding row stays
    * its own representative). */
  /** The shared exact-duplicate group tagger both collapse routes derive
    * from (the composite's identity edges, the incremental route's member
    * map): every live-shingle row joined to its group's min-(id, sh) winner
    * per (set-hash, blockCols), tagged `__isDup` iff it is a NON-winner with
    * the EXACT same shingle array. The set hash is only a shuffle key, never
    * trusted — membership needs array equality, so a 64-bit-colliding row
    * stays its own representative. Returned frame is UNPERSISTED; each
    * caller owns its own persistence strategy (the composite persists it for
    * lazy downstream reads, the incremental route materializes its two
    * derivations eagerly then drops it). Columns: live's plus
    * (__shh, __rid, __rsh, __isDup). */
  private def tagExactGroups(live: DataFrame,
                             blockCols: Seq[String]): DataFrame = {
    val hashed = live.withColumn("__shh", xxhash64(col("__sh")))
    val winners = hashed
      .groupBy((col("__shh") +: blockCols.map(col)): _*)
      .agg(min(struct(col("__id"), col("__sh"))).as("__w"))
      .select((col("__shh") +: col("__w.__id").as("__rid") +:
        col("__w.__sh").as("__rsh") +: blockCols.map(col)): _*)
    hashed.join(winners, Seq("__shh") ++ blockCols)
      .withColumn("__isDup",
        col("__id") =!= col("__rid") && col("__sh") === col("__rsh"))
  }

  private def ngramJaccardPairsManaged(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, blockCols: Seq[String],
      collapseExact: Boolean = false,
      maxCandidates: Long = 0L): (DataFrame, () => Unit) = {
    val sh = shingleFrame(docs, idCol, textCol, n, blockCols)
    val live = liveShingles(sh)
    if (!collapseExact)
      (verifyJaccard(live, threshold,
        prefixCandidates(live, threshold, blockCols, maxCandidates,
          "ngramJaccardPairs")),
        () => sh.unpersist(blocking = false))
    else {
      // persisted at the TAGGED stage: both the identity branch and the
      // (multiply-referenced) reps branch read it — persisting only reps
      // would re-run the corpus hash + winners shuffle for the identity
      // edges when the unioned pair frame is consumed (r10 review)
      val tagged = tagExactGroups(live, blockCols)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val identity = tagged.filter(col("__isDup"))
        .select(col("__rid").as("id_a"), col("__id").as("id_b"),
          lit(1.0).as("jaccard"))
      val reps = tagged.filter(!col("__isDup"))
        .drop("__rid", "__rsh", "__isDup", "__shh")
      // budget applies POST-collapse: pricing the reps frame, the one the
      // join actually reads — an exact-dup flood that the collapse absorbs
      // must not trip the refusal
      (verifyJaccard(reps, threshold,
        prefixCandidates(reps, threshold, blockCols, maxCandidates,
          "ngramJaccardPairs(collapseExact)"))
        .unionByName(identity),
        () => { sh.unpersist(blocking = false)
          tagged.unpersist(blocking = false) })
    }
  }

  /** Cross-corpus (incoming × corpus) matches with ADAPTIVE exact-duplicate
    * collapse of the CORPUS side — the r7/r10 `collapseExact` lesson applied
    * to the third pairing route (incremental admission). On a
    * duplicate-dense lake every shingle's corpus posting list is multiplied
    * by the duplication factor and the prefix-candidate join pays it per
    * incoming doc; contracting identical shingle sets to their min-id
    * representative before the join and re-expanding matches through the
    * member map afterwards is EXACT (Jaccard is a function of the shingle
    * set, so J(new, member) = J(new, rep) — same values, same pair set,
    * spec-pinned), and cuts the candidate/verify volume by the duplication
    * factor. The collapse only pays when duplicates exist, so a cheap
    * cardinality probe over the already-materialized corpus store (the
    * `prefixCandidatesBetween` meanP probe's pattern) picks the route:
    * ≥ ~25% exact-dup rows → collapse; otherwise the direct join. Both
    * routes produce identical output — the choice is pure physics, invisible
    * to callers and oracles. `forceCollapse` pins a route for the
    * equivalence spec.
    *
    * Lifecycle (the release-contract point, r11 review): on the collapse
    * route the corpus store is consumed ONLY while the (small) reps /
    * member-group checkpoints materialize, so `releaseCorpus` is invoked
    * RIGHT THERE — the corpus-sized frame never lingers behind a truncated
    * lineage. Everything the returned plan still pins (shNew's persisted
    * store via the verify join, the reps and member-group checkpoints)
    * rides it, so the documented `Dedup.release(result)` contract keeps
    * reaching every block. On the direct route `releaseCorpus` is NOT invoked — the
    * corpus store rides the result plan and the caller's contract frees it.
    * Returns (matches, free) — free re-releases the collapse checkpoints
    * (harmless double-free; for managed callers that never hand the frame
    * out). */
  private def crossMatchesManaged(
      shNew: DataFrame, shOldLive: DataFrame, threshold: Double,
      blockCols: Seq[String], releaseCorpus: () => Unit,
      forceCollapse: Option[Boolean] = None,
      maxCandidates: Long = 0L): (DataFrame, () => Unit) = {
    def direct = (verifyJaccardBetween(shNew, shOldLive, threshold,
      prefixCandidatesBetween(shNew, shOldLive, threshold, blockCols,
        self = false, maxCandidates = maxCandidates,
        budgetOp = "incrementalJaccardMatches")), () => ())
    val collapse = forceCollapse.getOrElse {
      val stats = shOldLive.agg(count(lit(1)).as("n"),
        approx_count_distinct(xxhash64(col("__sh"))).as("d")).first()
      stats.getLong(0) > 0 && stats.getLong(1) <= stats.getLong(0) * 3 / 4
    }
    if (!collapse) direct
    else {
      // persisted while BOTH eager derivations below read it (r10's
      // persist-at-the-tagged-stage lesson), dropped as soon as they exist
      val tagged = tagExactGroups(shOldLive, blockCols)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the expansion map as (rep, member) ROWS — one narrow row per corpus
      // doc, reps mapping to themselves — never a per-rep collected array: a
      // hot exact-dup group (millions of copies of one boilerplate doc — the
      // exact lake the collapse route fires on) would materialize that array
      // on one executor (r11 advice)
      val expand = tagged.select(
          when(col("__isDup"), col("__rid")).otherwise(col("__id"))
            .as("__rep"),
          col("__id").as("__mid"))
        .localCheckpoint(eager = true)
      val reps = tagged.filter(!col("__isDup"))
        .drop("__rid", "__rsh", "__isDup", "__shh")
        .localCheckpoint(eager = true)
      tagged.unpersist(blocking = false)
      releaseCorpus()
      // ONE pass over the rep matches: each match fans out to the rep itself
      // plus its members through one equi-join on the expansion map — no
      // self-union, no second verify read, and the verify plan keeps its
      // full lineage for `release(result)`
      val rm = verifyJaccardBetween(shNew, reps, threshold,
        prefixCandidatesBetween(shNew, reps, threshold, blockCols,
          self = false, maxCandidates = maxCandidates,
          budgetOp = "incrementalJaccardMatches(collapse)"))
      val out = rm.join(expand, rm("id_b") === expand("__rep"))
        .select(col("id_a"), col("__mid").as("id_b"), col("jaccard"))
      (out, () => Seq(expand, reps).foreach(release))
    }
  }

  /** Incremental near-dup matches — the admission gate for a new batch:
    * every (incoming doc, existing-corpus doc) pair with
    * exact n-gram Jaccard >= threshold. The prefix-filter candidate join runs
    * CROSS-corpus (incoming tokens against corpus tokens, never corpus ×
    * corpus), so a daily increment costs ∝ |increment| · bucket overlap, not a
    * re-dedup of the lake; on a duplicate-dense lake the corpus side is
    * additionally contracted to exact-set representatives before the join
    * (adaptive, exact — see `crossMatchesManaged`).
    * Returns (id_a = incoming, id_b = corpus, jaccard).
    *
    * The result plan carries both sides' persisted shingle stores (plus
    * the collapse checkpoints when the adaptive route engages); call
    * `Dedup.release(result)` after the final action to free them (the
    * composites' contract — no session-wide clearCache needed). */
  def incrementalJaccardMatches(corpus: DataFrame, incoming: DataFrame,
                                idCol: String, textCol: String, n: Int,
                                threshold: Double,
                                blockCols: Seq[String],
                                maxCandidates: Long = 0L): DataFrame =
    incrementalJaccardMatchesImpl(corpus, incoming, idCol, textCol, n,
      threshold, blockCols, forceCollapse = None,
      maxCandidates = maxCandidates)

  /** [[incrementalJaccardMatches]] with the collapse route pinned — for the
    * equivalence spec and A/B probes only. */
  private[graft] def incrementalJaccardMatchesImpl(
      corpus: DataFrame, incoming: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, blockCols: Seq[String],
      forceCollapse: Option[Boolean],
      maxCandidates: Long = 0L): DataFrame = {
    val shNew = liveShingles(shingleFrame(incoming, idCol, textCol, n, blockCols))
    val shOldH = shingleFrame(corpus, idCol, textCol, n, blockCols)
    crossMatchesManaged(shNew, liveShingles(shOldH), threshold, blockCols,
      releaseCorpus = () => shOldH.unpersist(blocking = false),
      forceCollapse = forceCollapse,
      maxCandidates = maxCandidates)._1
  }

  /** Admission filter: the incoming docs with NO near-dup already in the
    * corpus — what actually gets appended to the lake. `Dedup.release(result)`
    * after the final action frees the shingle stores riding in the plan. */
  def admitNew(corpus: DataFrame, incoming: DataFrame, idCol: String,
               textCol: String, n: Int, threshold: Double,
               blockCols: Seq[String]): DataFrame =
    incoming.join(
      incrementalJaccardMatches(corpus, incoming, idCol, textCol, n, threshold,
        blockCols).select(col("id_a").as(idCol)),
      Seq(idCol), "left_anti")

  /** The full edge set of one admission tick — intra-batch near-dup pairs
    * (id_a < id_b) PLUS batch↔corpus matches (id_a = incoming, id_b =
    * corpus) — with each side tokenized exactly ONCE: calling
    * `ngramJaccardPairs(batch)` and `incrementalJaccardMatches(corpus,
    * batch)` separately shingles the batch twice; here both the intra
    * self-join and the cross join read one shared shingle frame per side.
    * This is `admitIntoComponents`' feeder (see `admitBatchIntoComponents`
    * for the composed one-call form). `Dedup.release(result)` frees the
    * persisted stores when consuming the pairs directly. */
  def admissionPairs(corpus: DataFrame, incoming: DataFrame, idCol: String,
                     textCol: String, n: Int, threshold: Double,
                     blockCols: Seq[String]): DataFrame =
    admissionPairsManaged(corpus, incoming, idCol, textCol, n, threshold,
      blockCols)._1

  private def admissionPairsManaged(corpus: DataFrame, incoming: DataFrame,
                                    idCol: String, textCol: String, n: Int,
                                    threshold: Double, blockCols: Seq[String])
      : (DataFrame, () => Unit) = {
    val shNewH = shingleFrame(incoming, idCol, textCol, n, blockCols)
    val shOldH = shingleFrame(corpus, idCol, textCol, n, blockCols)
    val shNew = liveShingles(shNewH)
    val intra = verifyJaccard(shNew, threshold,
      prefixCandidates(shNew, threshold, blockCols))
    val (cross, freeCross) = crossMatchesManaged(shNew, liveShingles(shOldH),
      threshold, blockCols,
      releaseCorpus = () => shOldH.unpersist(blocking = false))
    (intra.unionByName(cross), () => {
      freeCross()
      Seq(shNewH, shOldH).foreach(_.unpersist(blocking = false))
    })
  }

  /** The one-call daily tick: compute the batch's full admission edge set
    * (one shingle pass per side) and merge it into the standing labels frame
    * (CC on the batch-sized quotient graph only — see `admitIntoComponents`).
    * The shingle stores are freed internally once the eager quotient CC has
    * consumed the pairs; the returned frame pins only label checkpoints
    * (`Dedup.release(result)` when done — the composites' contract). */
  def admitBatchIntoComponents(labels: DataFrame, corpus: DataFrame,
                               incoming: DataFrame, idCol: String,
                               textCol: String, n: Int, threshold: Double,
                               blockCols: Seq[String]): DataFrame = {
    val (pairs, free) = admissionPairsManaged(corpus, incoming, idCol, textCol,
      n, threshold, blockCols)
    admitIntoComponentsManaged(labels, pairs, "id_a", "id_b", free)
  }

  /** Exact-substring near-dup signal: document pairs sharing at least one
    * exact `windowTokens`-token span — the "shared 50-token window" dedup of
    * the training-data literature, which catches long verbatim overlaps
    * (licenses, boilerplate, quoted passages) that whole-document Jaccard
    * dilutes away on long documents. Returns (id_a, id_b, shared_windows =
    * number of DISTINCT window hashes the pair shares).
    *
    * Plan shape: each document's sorted DISTINCT window hashes are computed
    * in-row by one compiled pass (`SortedHashedShinglesExpr`); the window hash
    * IS the match key, so there is no candidate/verify split — one explode
    * (O(total tokens) rows, never materialized driver-side), one equi
    * self-join per hash, one count aggregate. The exploded frame is cheap to
    * recompute (a scan + one projection), so it is deliberately NOT persisted
    * at corpus scale. A boilerplate span shared by thousands of documents is
    * the flood case: `splitOversizedBuckets` collapses those hash buckets to
    * representative-anchored rows — star pairs are still EXACT matches (hash
    * equality needs no verify), member↔member pairs inside the flooded bucket
    * are the only omission, so cluster connectivity is preserved and emitted
    * counts stay exact for every surviving pair.
    *
    * `stride` is the 100 TB cost dial: `stride > 1` winnows the exploded rows
    * to the minimum hash per stride of window positions (~stride× fewer rows)
    * with the documented recall contract — any pair sharing at least
    * (windowTokens + stride − 1) CONSECUTIVE tokens still collides on a
    * sampled hash, because both documents select the shared run's minimum
    * (`WinnowedShinglesExpr`). Under sampling, `shared_windows` counts shared
    * SAMPLED hashes (a lower bound on shared windows); `stride = 1` (default)
    * keeps every window and exact counts. */
  def sharedWindowPairs(docs: DataFrame, idCol: String, textCol: String,
                        windowTokens: Int = 50,
                        maxBucket: Int = 4096,
                        stride: Int = 1): DataFrame = {
    val hashes = if (stride <= 1)
      TextFns.sortedHashedShingles(col(textCol), windowTokens)
    else TextFns.winnowedShingles(col(textCol), windowTokens, stride)
    val ex = ensureParallel(docs).select(col(idCol).as("__id"),
      explode(hashes).as("__wh"))
    val (normal, star) = splitOversizedBuckets(ex, Seq("__wh"), maxBucket)
    val normalPairs = normal.as("a").join(normal.as("b"),
        col("a.__wh") === col("b.__wh") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    val all = if (star == null) normalPairs
      else normalPairs.unionByName(
        star.select(col("__bmin").as("id_a"), col("__id").as("id_b")))
    all.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_windows"))
  }

  /** The REMOVAL companion to [[sharedWindowPairs]] — Lee et al. 2107.06499's
    * actual dedup step, not just its detector: every token covered by a
    * `windowTokens`-token window whose content occurs EARLIER in the corpus
    * (global first occurrence = min (id, pos) per window) is cut, and each
    * document is reassembled from its surviving tokens in order. The first
    * occurrence of every repeated span survives in place; documents that
    * lose everything stay as empty husks (the corpus keeps its row set).
    *
    * Scale shape (r11): one positional window explode (linear in corpus
    * tokens), one corpus-scale hash join of windows against the
    * distinct-window first-occurrence frame (AQE absorbs hot windows; the
    * flood a boilerplate window causes is bounded — ONE first-frame row per
    * hash, never a pair join), a DOC-BOUNDED collect of duplicate-span START
    * positions, and a single compiled two-pointer pass per document
    * (`ScrubTokensExpr`) that drops covered tokens and re-joins survivors
    * in-row. Nothing is quadratic in corpus size; nothing collects to the
    * driver; unlike the pre-r11 plan (kept as
    * [[scrubSharedWindowsExploded]], spec-pinned bit-equal) the corpus's
    * tokens are never exploded, the windowTokens×-amplified drop-mark frame
    * never exists, and the rebuild is a projection instead of an
    * anti-join + sort-collect (measured warm steady-state on the
    * duplicate-dense census corpus: 6.0 vs 21.4 s at sf1, 10.9 vs 46.3 s at
    * sf10 — alternating same-JVM runs; single-shot cold timings run ~3-10×
    * higher for BOTH routes on this host and don't separate them).
    * Returns (id, n_tokens, n_removed, textCol scrubbed). */
  def scrubSharedWindows(docs: DataFrame, idCol: String, textCol: String,
                         windowTokens: Int = 50): DataFrame = {
    require(windowTokens >= 2, s"windowTokens must be >= 2, got $windowTokens")
    val d = ensureParallel(docs)
    d.join(duplicateWindowStarts(d, idCol, textCol, windowTokens),
        Seq(idCol), "left")
      .select(col(idCol),
        graft.functions.ScrubTokensExpr(col(textCol),
          coalesce(col("__starts"), array().cast("array<int>")),
          windowTokens).as("__s"))
      .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
        (col("__s.n_tokens") - coalesce(col("__s.kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("__s.scrubbed"), lit("")).as(textCol))
  }

  /** Duplicate-window-INSTANCE positions per document — the first-occurrence
    * rule both scrub routes share: a window instance is a duplicate iff its
    * content's corpus-global first occurrence (min (id, pos) struct) is not
    * itself. Single-sourced so a tie-break change cannot drift the routes
    * apart. Returns (id, __pos). */
  private def dupWindowPositions(d: DataFrame, idCol: String, textCol: String,
                                 windowTokens: Int): DataFrame = {
    val wins = d.select(col(idCol),
      posexplode(TextFns.positionalShingles(col(textCol), windowTokens))
        .as(Seq("__pos", "__wh")))
    val first = wins.groupBy(col("__wh"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__f"))
    wins.join(first, "__wh")
      .filter(!(col(s"__f.$idCol") === col(idCol) &&
        col("__f.__pos") === col("__pos")))
      .select(col(idCol), col("__pos"))
  }

  /** [[dupWindowPositions]] grouped to each doc's SORTED duplicate-span start
    * array — `ScrubTokensExpr`'s required input form. */
  private[graft] def duplicateWindowStarts(d: DataFrame, idCol: String,
                                           textCol: String,
                                           windowTokens: Int): DataFrame =
    dupWindowPositions(d, idCol, textCol, windowTokens)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))

  /** Pre-r11 exploded-rebuild reference for [[scrubSharedWindows]] — the
    * token posexplode + windowTokens×-amplified drop-mark explode + distinct
    * + anti-join + sorted-collect reassembly. Semantically identical by
    * construction (same first-occurrence rule, same coverage rule, same
    * token join); kept ONLY as the implementation the equivalence spec pins
    * the in-row `ScrubTokensExpr` rebuild against — never wire it into a
    * corpus-scale pass. */
  private[graft] def scrubSharedWindowsExploded(
      docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens >= 2, s"windowTokens must be >= 2, got $windowTokens")
    val ws = TextFns.words(col(textCol))
    val d = ensureParallel(docs)
    val toks = d.select(col(idCol), posexplode(ws).as(Seq("__pos", "__tok")))
    val dupWins = dupWindowPositions(d, idCol, textCol, windowTokens)
    val drops = dupWins.select(col(idCol),
        explode(sequence(col("__pos"),
          col("__pos") + (windowTokens - 1))).as("__pos"))
      .distinct()
    val kept = toks.join(drops, Seq(idCol, "__pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("__kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("__pos"), col("__tok")))),
          x => x("__tok")), " ").as("__text"))
    // null text → null counts, EXPLICITLY: bare size(null) is session-config
    // dependent (-1 under legacy sizeOfNull, null under ANSI), and the in-row
    // route's struct-null is always null — the guard keeps the reference
    // bit-equal regardless of what conf an earlier suite left on the session
    d.select(col(idCol), when(col(textCol).isNull, lit(null).cast("long"))
        .otherwise(size(ws).cast("long")).as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("n_removed"),
        coalesce(col("__text"), lit("")).as(textCol))
  }

  /** Per-document window NOVELTY — the drop-don't-scrub dual of
    * [[scrubSharedWindows]]: instead of cutting duplicated spans, score each
    * document by how much of it is corpus-original. A window INSTANCE is a
    * duplicate iff its content's corpus-global first occurrence (min
    * (doc, pos) — the scrub's exact rule, within-doc repeats included) is
    * not itself; `novelty_e6 = (n_windows − n_dup)·10⁶ ÷ n_windows` (floor;
    * windowless short docs are vacuously novel at 10⁶). Production pipelines
    * gate on this ("drop documents that are >50% duplicated spans" — the
    * doc-level remedy when span surgery would leave incoherent husks).
    *
    * Scale shape: the compiled positional-shingle kernel, ONE map-combinable
    * min-struct aggregate over window hashes (boilerplate floods collapse to
    * a single winner row map-side), one corpus-scale hash join back, and a
    * per-doc count — no pair join, no window function, no token explode
    * (unlike the scrub, tokens are never materialized). */
  def windowNoveltyStats(docs: DataFrame, idCol: String, textCol: String,
                         windowTokens: Int = 50): DataFrame = {
    require(windowTokens >= 2, s"windowTokens must be >= 2, got $windowTokens")
    val d = ensureParallel(docs)
    val wins = d.select(col(idCol),
      posexplode(TextFns.positionalShingles(col(textCol), windowTokens))
        .as(Seq("__pos", "__wh")))
    val first = wins.groupBy(col("__wh"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__f"))
    val stats = wins.join(first, "__wh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col(s"__f.$idCol") === col(idCol) &&
          col("__f.__pos") === col("__pos"), 0L).otherwise(1L)).as("n_dup"))
    d.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("novelty_e6",
        when(col("n_windows") === 0, lit(1000000L))
          .otherwise(graft.ops.Quantiles.div(
            (col("n_windows") - col("n_dup")) * 1000000L, col("n_windows"))))
  }

  /** Incremental EMBEDDING near-dup matches — the cosine twin of
    * `incrementalJaccardMatches`: every (incoming, existing-corpus) pair with
    * quantized cosine >= threshold. The hyperplane-band candidate join runs
    * CROSS-corpus (incoming buckets probe corpus buckets, never corpus ×
    * corpus), so re-admitting a rolling corpus's daily embedding batch costs
    * ∝ |increment| · bucket overlap, not a re-dedup of the lake. Both sides
    * hash with the SAME deterministic hyperplane family, so an identical
    * vector is matched with certainty (it agrees on every band);
    * `lshPlanes = 0` selects the exact per-block route (the verify oracle).
    * Returns (id_a = incoming, id_b = corpus, cosine).
    *
    * CACHE CONTRACT (unified with the composites, r7): the LSH route
    * checkpoints one banded prep frame per side; both ride in the result
    * plan as LogicalRDDs, so `Dedup.release(result)` after the final action
    * frees them — no session-wide clearCache between batches. */
  def incrementalEmbeddingMatches(corpus: DataFrame, incoming: DataFrame,
                                  idCol: String, vecCol: String,
                                  threshold: Double,
                                  blockCols: Seq[String] = Nil,
                                  lshPlanes: Int = 12,
                                  lshBands: Int = 8): DataFrame = {
    def prep(df: DataFrame): DataFrame = ensureParallel(df)
      .select(
        (col(idCol).as("__id") +: col(vecCol).as("__v") +: blockCols.map(col)): _*)
      .withColumn("__q", graft.functions.VectorFns.quantize(col("__v")))
      .withColumn("__n", graft.functions.VectorFns.normLong(col("__q")))
    val newSide = prep(incoming)
    val oldSide = prep(corpus)
    val cosine = graft.functions.VectorFns.cosineFromQuantized(
      col("qa"), col("qb"), col("na"), col("nb"))
    if (lshPlanes <= 0) {
      // exact within blockCols: increment × corpus, quadratic per block —
      // the deterministic verify route, not the default
      val a = newSide.select(col("__id").as("id_a") +: col("__q").as("qa") +:
        col("__n").as("na") +: blockCols.map(col): _*)
      val b = oldSide.select(col("__id").as("id_b") +: col("__q").as("qb") +:
        col("__n").as("nb") +: blockCols.map(col): _*)
      val joined = if (blockCols.isEmpty) a.crossJoin(b) else a.join(b, blockCols)
      joined.withColumn("cosine", cosine)
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    } else {
      // scale path: band the increment AND the corpus with the same plane
      // family; candidates are cross-side bucket agreements, emitted from the
      // FIRST shared band only (duplicate-free, no dropDuplicates shuffle)
      def banded(side: DataFrame): DataFrame = side
        .withColumn("__bkts", array((0 until lshBands).map(b =>
          graft.functions.VectorFns.hyperplaneBucket(col("__v"), lshPlanes,
            b * lshPlanes).cast("long")): _*))
        .select((col("__id") +: col("__q") +: col("__n") +: col("__bkts") +:
          blockCols.map(col)): _*)
        // eager checkpoint, not persist: the lazy matches frame reads this
        // twice (band join + vector fetch), and the checkpoint makes it
        // releasable via `Dedup.release(result)` (see the cache contract)
        .localCheckpoint(eager = true)
      def slim(side: DataFrame): DataFrame = side.select(
        (col("__id") +: col("__bkts") +:
          posexplode(col("__bkts")).as(Seq("__band", "__bh")) +:
          blockCols.map(col)): _*)
      val prepNew = banded(newSide)
      val prepOld = banded(oldSide)
      val noEarlierBand = size(filter(
        slice(zip_with(col("x.__bkts"), col("y.__bkts"), (p, q) => p === q),
          lit(1), col("x.__band")), p => p)) === 0
      val cond = blockCols.map(c => col(s"x.$c") === col(s"y.$c"))
        .foldLeft(col("x.__band") === col("y.__band") &&
          col("x.__bh") === col("y.__bh") && noEarlierBand)(_ && _)
      slim(prepNew).as("x").join(slim(prepOld).as("y"), cond)
        .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
        .join(prepNew.select(col("__id").as("id_a"), col("__q").as("qa"),
          col("__n").as("na")), "id_a")
        .join(prepOld.select(col("__id").as("id_b"), col("__q").as("qb"),
          col("__n").as("nb")), "id_b")
        .withColumn("cosine", cosine)
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }
  }

  /** Admission filter for embedding batches: the incoming vectors with NO
    * cosine near-dup already in the corpus — the embedding lake's append
    * gate. Inherits `incrementalEmbeddingMatches`' cache contract:
    * `Dedup.release(result)` after the final action frees the checkpointed
    * prep frames riding in the plan. */
  def admitNewByEmbedding(corpus: DataFrame, incoming: DataFrame,
                          idCol: String, vecCol: String, threshold: Double,
                          blockCols: Seq[String] = Nil, lshPlanes: Int = 12,
                          lshBands: Int = 8): DataFrame =
    incoming.join(
      incrementalEmbeddingMatches(corpus, incoming, idCol, vecCol, threshold,
        blockCols, lshPlanes, lshBands).select(col("id_a").as(idCol)),
      Seq(idCol), "left_anti")

  /** MinHash signatures via the native `MinHashSketch` TypedImperativeAggregate:
    * one fixed-size buffer per doc instead of `numHashes` separate min() aggregate
    * expressions; partial aggregation map-side, partition-invariant result.
    * Returns (__id, sig: array<bigint>[numHashes]).
    *
    * Prefer `MinHashSketch.sketchCol` (identical values, zero shuffle) when the
    * shingles are already an array column; this exploded/aggregate form exists for
    * layouts where shingle rows arrive as a stream. */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, numHashes: Int): DataFrame = {
    graft.functions.MinHashSketch.register(docs.sparkSession)
    val shingled = ensureParallel(docs)
      .select(col(idCol).as("__id"),
        explode(TextFns.hashedShingles(col(textCol), shingleN)).as("__sh"))
    shingled.groupBy(col("__id"))
      .agg(graft.functions.MinHashSketch(col("__sh"), numHashes).as("sig"))
  }

  /** Skew guard for the banded self-joins: split the exploded band frame into
    * normal buckets (all-pairs join, unchanged semantics) and OVERSIZED
    * (band, hash) buckets, which collapse to star-topology candidates — every
    * member against the bucket's min id. A flood of identical documents puts
    * the whole corpus into ONE bucket of every band; the equi self-join then
    * builds k²/2 pairs inside a single shuffle partition (AQE's skew-join
    * splitting covers sort-merge row duplication, not a quadratic pair
    * EXPLOSION — splitting the partition does not shrink the output), a
    * straggler that dominates the stage at any cluster size. The star keeps
    * candidate generation linear in the bucket and preserves exactly what the
    * downstream composites consume — cluster CONNECTIVITY (members that verify
    * against the representative land in one component) — at the documented
    * cost of not enumerating every intra-bucket pair. Buckets only exceed a
    * 4096-row cap when thousands of docs share a 64-bit band hash, i.e. a
    * near-identical flood, the very case where all-pairs output is quadratic
    * waste (exact-dedup-first remains the primary upstream mitigation).
    * Returns (normal-bucket rows, star candidate pairs); the star set is
    * distinct()-deduped — it is O(corpus), not O(pairs), so the dedupe is
    * cheap, unlike the candidate-set distinct the first-shared-band trick
    * removed. */
  private[graft] def splitOversizedBuckets(slim: DataFrame, keyCols: Seq[String],
                                    maxBucket: Int,
                                    repPayload: Seq[String] = Nil): (DataFrame, DataFrame) = {
    if (maxBucket <= 0) return (slim, null)
    val keys = keyCols.map(col)
    // ADAPTIVE two-phase guard: one eager map-side-combinable count job finds
    // the oversized buckets FIRST. In the overwhelmingly common no-flood case
    // the list is empty and the operator's plan is returned UNCHANGED — the
    // guard costs one cheap aggregate job and zero plan rewrites (a stats
    // JOIN woven into the plan was measured to triple the banded self-join's
    // cost at sf0.1, because every branch re-evaluated the join subtree).
    val aggs = count(lit(1)).as("__bn") +: min(col("__id")).as("__bmin") +:
      repPayload.map(p => min_by(col(p), col("__id")).as(s"__bmin_$p"))
    val statsQuery = slim.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      .filter(col("__bn") > maxBucket)
      .limit(100001)
    val hot = statsQuery.collect()
    require(hot.length <= 100000,
      s"more than 100k oversized (> $maxBucket rows) buckets — raise maxBucket " +
        "or exact-dedup the corpus first; refusing to broadcast the hot list")
    if (hot.isEmpty) return (slim, null)
    // flood detected: broadcast the (tiny) hot-bucket list both ways — the
    // normal path drops hot-bucket rows map-side, the star path keeps only
    // them, anchored at the bucket representative carried on the list
    val hotDf = broadcast(slim.sparkSession.createDataFrame(
      java.util.Arrays.asList(hot: _*), statsQuery.schema))
    val normal = slim.join(hotDf.select(keys: _*), keyCols, "left_anti")
    val star = slim.join(hotDf, keyCols)
      .filter(col("__id") =!= col("__bmin"))
    (normal, star)
  }

  /** MinHash + LSH banding: signatures split into `bands` bands of
    * `numHashes / bands` rows; docs sharing any band hash become candidate pairs,
    * then candidates are verified with exact Jaccard. Standard (b, r) S-curve
    * banding. Returns (id_a, id_b, jaccard >= threshold).
    *
    * One corpus pass total: signatures are computed IN-ROW from the shingle array
    * (`MinHashSketch.sketchCol` — no explode, no aggregate shuffle), and both the
    * banded self-join and the verify joins read the persisted shingle/signature
    * frames rather than re-tokenizing. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.7, maxBucket: Int = 4096,
                      maxPairs: Long = 0L): DataFrame = {
    MinHashSketch.register(docs.sparkSession)
    // costWeight 16: the signature pass (64 permutation minima per doc)
    // rides the persisted shingle frame — see ensureParallel's scaladoc
    val sh = liveShingles(
      shingleFrame(docs, idCol, textCol, shingleN, Nil, costWeight = 16))
    val sig = minhashBandSig(sh, numHashes, bands)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val buckets = sig.select(col("__id"), col("__bhs"),
      posexplode(col("__bhs")).as(Seq("band", "bh")))
    // optional pair budget (the splitOversizedBuckets pattern applied to
    // OUTPUT size): one histogram-sized agg over the persisted signatures,
    // refusing loudly before any quadratic join work
    if (maxPairs > 0L) requirePairBudget(
      bucketPairBudget(buckets, Seq("band", "bh")), maxPairs,
      "minhashLshPairs", "raise maxPairs, use fewer/wider bands, or collapse " +
        "floods via the dedupedCorpus composite (CC never materializes the " +
        "pair list)")
    val (normal, star) =
      splitOversizedBuckets(buckets, Seq("band", "bh"), maxBucket)
    val noEarlierBand = size(filter(
      slice(zip_with(col("x.__bhs"), col("y.__bhs"), (a, b) => a === b),
        lit(1), col("x.band")), p => p)) === 0
    val selfCand = normal.as("x").join(normal.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.__id") < col("y.__id") && noEarlierBand)
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
    val cand = if (star == null) selfCand
      else selfCand.unionByName(star
        .select(col("__bmin").as("id_a"), col("__id").as("id_b")).distinct())
    verifyJaccard(sh, threshold, cand)
  }

  /** MinHash band-hash array per doc: band hashes as an in-row ARRAY (small:
    * `bands` longs) so the banded self-join can match pairs on their FIRST
    * shared band — each candidate pair is emitted exactly once and no
    * distinct/shuffle-dedupe is needed. Shared by the pair op and its
    * budget estimator. */
  private def minhashBandSig(shLive: DataFrame, numHashes: Int,
                             bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    shLive.select(col("__id"),
        MinHashSketch.sketchCol(col("__sh"), numHashes).as("sig"))
      .withColumn("__bhs", array((0 until bands).map(b =>
        xxhash64(slice(col("sig"), b * r + 1, r))): _*))
      .select(col("__id"), col("__bhs"))
  }

  /** Σ n·(n−1)/2 over the band buckets — the exact number of same-bucket row
    * combinations the banded self-join will examine, and therefore an upper
    * bound on emitted pairs (each pair joins in ≥ 1 shared bucket). Measured
    * tightness on the sf0.1 corpus: 1.06× the true first-shared-band
    * candidate count for the MinHash op (near-dup pairs rarely share many
    * bands); for SimHash's pigeonhole bands the bound also counts
    * beyond-radius bucket collisions — it estimates JOIN WORK, which is the
    * quantity that actually melts a cluster. Histogram-sized aggregation:
    * cost independent of the pair count being estimated. */
  private def bucketPairBudget(banded: DataFrame, keyCols: Seq[String]): Long =
    banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__bn"))
      // exact integral arithmetic (double division would round past 2^53)
      .agg(coalesce(sum(expr("__bn * (__bn - 1) div 2")), lit(0L)))
      .first().getLong(0)

  private def requirePairBudget(estimate: Long, maxPairs: Long, op: String,
                                remedies: String): Unit =
    require(estimate <= maxPairs,
      s"$op: the band-bucket histogram bounds the candidate pair volume at " +
        s"$estimate, over the maxPairs budget of $maxPairs — refusing before " +
        s"any quadratic work. $remedies")

  /** Pre-flight pair budget for `minhashLshPairs` at the same configuration:
    * one signature pass + one histogram agg, no joins. Use it to size (or
    * refuse) a raw pair listing before paying for it; the in-op `maxPairs`
    * gate applies the same bound without the extra signature pass. */
  def estimateMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, numHashes: Int = 64,
                           bands: Int = 16): Long = {
    MinHashSketch.register(docs.sparkSession)
    val sh = shingleFrame(docs, idCol, textCol, shingleN, Nil, costWeight = 16)
    val est = bucketPairBudget(
      minhashBandSig(liveShingles(sh), numHashes, bands)
        .select(col("__id"), posexplode(col("__bhs")).as(Seq("band", "bh"))),
      Seq("band", "bh"))
    sh.unpersist(blocking = false)
    est
  }

  /** Pre-flight pair budget for `simhashPairs` at the same radius — the
    * SimHash twin of `estimateMinhashPairs`. */
  def estimateSimhashPairs(docs: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3): Long =
    bucketPairBudget(
      simhashBandedFrame(simhash64(docs, idCol, textCol), idCol, maxHamming),
      Seq("band", "bh"))

  /** 64-bit SimHash per document: sign-sum of per-token hash bits, computed
    * IN-ROW by the native `SimHash64Expr` compiled loop — a scan-stage
    * projection with zero shuffle (the signature is a pure per-document
    * function; exploding tokens through an aggregate shuffles every token
    * occurrence of the corpus). Token-less documents yield no row, matching
    * the aggregate reference form `simhash64Agg` (equivalence spec-pinned). */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    ensureParallel(docs, costWeight = 16)
      .select(col(idCol),
        // fence: the isNotNull below would otherwise be pushed below the
        // guard exchange into the scan WITH the kernel inlined — running the
        // signature loop at file-count parallelism (r11 audit finding)
        graft.functions.PushdownFence(
          graft.functions.SimHash64Expr(col(textCol))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Reference relational implementation of `simhash64` (64 conditional-sum
    * aggregates over exploded tokens) — kept for layouts where token rows
    * arrive as a stream, and as the form the equivalence spec pins the native
    * expression against. */
  def simhash64Agg(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = ensureParallel(docs)
      .select(col(idCol).as("__id"),
        explode(TextFns.words(col(textCol))).as("__w"))
      .withColumn("__h", xxhash64(col("__w")))
    val bitAggs = (0 until 64).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$j")
    }
    val sums = tokens.groupBy(col("__id")).agg(bitAggs.head, bitAggs.tail: _*)
    val sim = (0 until 64).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    sums.select(col("__id").as(idCol), sim.as("simhash"))
  }

  /** SimHash near-dup pairs with a RECALL GUARANTEE: the 64-bit signature is split
    * into `maxHamming + 1` bands (widths 64/(r+1), ±1 bit), so any pair within
    * Hamming distance maxHamming differs in at most maxHamming bands and must
    * share at least one band unchanged (pigeonhole) — every such pair becomes a
    * candidate, then exact `bit_count(xor)` keeps true ones.
    *
    * Cost curve (inherent to Hamming pigeonhole banding): radius r ⇒ r+1 bands of
    * ~64/(r+1) bits, so bucket cardinality shrinks exponentially with r — r <= ~8
    * keeps 7+-bit buckets; beyond that expect candidate growth and prefer MinHash
    * banding on shingles instead. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 0,
                   maxPairs: Long = 0L): DataFrame =
    simhashBandPairs(simhash64(docs, idCol, textCol), idCol, maxHamming,
      maxBucket, maxPairs)

  /** Banding stage of `simhashPairs` over a precomputed (id, simhash) frame —
    * public so the pigeonhole recall guarantee is verifiable on constructed
    * signatures.
    *
    * Both sides carry the full 64-bit signature (one long), so the join emits
    * each pair only from its FIRST shared band ("no earlier band equal" is a cheap
    * bit-compare predicate) and applies the exact Hamming radius inside the join —
    * no distinct, no second shuffle, duplicate-free by construction.
    *
    * `maxBucket` (default OFF) enables the oversized-bucket star collapse for
    * identical-document floods — see `splitOversizedBuckets`. It is off by
    * default because this operator's contract is the EXACT within-radius pair
    * set (q59 pins banded == brute force); enable it when feeding cluster
    * resolution, where star connectivity is all that is consumed. */
  def simhashBandPairs(sig: DataFrame, idCol: String, maxHamming: Int,
                       maxBucket: Int = 0, maxPairs: Long = 0L): DataFrame =
    simhashBandPairsManaged(sig, idCol, maxHamming, maxBucket, maxPairs)._1

  /** [[simhashBandPairs]] plus the handle that frees its persisted banded
    * frame — for callers that consume the pairs eagerly ([[components]]),
    * after which the pairs no longer reach it. */
  private[graft] def simhashBandPairsManaged(sig: DataFrame, idCol: String,
      maxHamming: Int, maxBucket: Int = 0,
      maxPairs: Long = 0L): (DataFrame, () => Unit) = {
    val bands = maxHamming + 1
    def bandVal(sim: Column, b: Int): Column = simhashBandVal(sim, b, bands)
    val banded = simhashBandedFrame(sig, idCol, maxHamming)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // optional pair budget — the pigeonhole radius guarantee is inherently
    // dense on homogeneous corpora (measured 105M pairs on the 50k-doc sf1
    // corpus at radius 12), so a caller can bound the blast radius up front
    if (maxPairs > 0L) requirePairBudget(
      bucketPairBudget(banded, Seq("band", "bh")), maxPairs,
      "simhashBandPairs", "raise maxPairs, shrink maxHamming (narrower " +
        "radius, exponentially smaller buckets), or collapse floods via the " +
        "dedupedCorpusBySimhash composite (CC never materializes the pair " +
        "list)")
    val (normal, star) = splitOversizedBuckets(banded, Seq("band", "bh"),
      maxBucket, repPayload = Seq("simhash"))
    val noEarlierBand = (0 until bands - 1).map { b =>
      col("x.band") <= b ||
        bandVal(col("x.simhash"), b) =!= bandVal(col("y.simhash"), b)
    }.reduceOption(_ && _).getOrElse(lit(true))
    val selfPairs = normal.as("x").join(normal.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.__id") < col("y.__id") &&
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= maxHamming &&
          noEarlierBand)
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
    val pairs = if (star == null) selfPairs
      else selfPairs.unionByName(star
        .filter(bit_count(col("__bmin_simhash").bitwiseXOR(col("simhash")))
          <= maxHamming)
        .select(col("__bmin").as("id_a"), col("__id").as("id_b"),
          bit_count(col("__bmin_simhash").bitwiseXOR(col("simhash"))).as("hamming"))
        .distinct())
    (pairs, () => banded.unpersist(blocking = false))
  }

  /** Cross-corpus signature matches — [[simhashBandPairs]]' ADMISSION form:
    * every (incoming, corpus) pair of 64-bit signatures within `maxHamming`,
    * with the same pigeonhole recall guarantee. The banded join runs
    * incoming × corpus ONLY (never corpus × corpus), so a daily tick against
    * a 100 TB lake costs ∝ |tick| · bucket overlap — the corpus keeps a
    * signature STORE (id, simhash), never re-hashes, and the blobs/texts
    * behind the signatures are never read. Feed `simhash64` frames for text
    * or `Multimodal.perceptualHashes` frames (phash renamed simhash) for
    * media. Returns (id_a = incoming, id_b = corpus, hamming),
    * duplicate-free via the first-shared-band predicate.
    *
    * Flood guard (`collapseIdenticalCorpus`, default ON): the corpus side is
    * contracted to ONE min-id representative per identical signature before
    * banding — EXACT for matching (identical signatures are interchangeable:
    * same bands, same hamming to any probe), and it removes the blowup a
    * duplicate-dense lake would otherwise cause (thousands of blank images
    * all hash to one signature; every probe near it would join them all).
    * With the collapse on, `id_b` reports the representative, not every
    * duplicate holder. Residual hazard — many DISTINCT corpus signatures
    * colliding on one band slice — is bounded by the 2^(64/bands) slice
    * space and the exact in-join hamming filter. */
  def simhashBandMatchesBetween(incoming: DataFrame, corpus: DataFrame,
                                idCol: String, maxHamming: Int,
                                collapseIdenticalCorpus: Boolean = true): DataFrame = {
    val bands = maxHamming + 1
    def bandVal(sim: Column, b: Int): Column = simhashBandVal(sim, b, bands)
    val corpusSlim = if (!collapseIdenticalCorpus) corpus
      else corpus.groupBy(col("simhash")).agg(min(col(idCol)).as(idCol))
        .select(col(idCol), col("simhash"))
    val bi = simhashBandedFrame(incoming, idCol, maxHamming)
    val bc = simhashBandedFrame(corpusSlim, idCol, maxHamming)
    val noEarlierBand = (0 until bands - 1).map { b =>
      col("x.band") <= b ||
        bandVal(col("x.simhash"), b) =!= bandVal(col("y.simhash"), b)
    }.reduceOption(_ && _).getOrElse(lit(true))
    bi.as("x").join(bc.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= maxHamming &&
          noEarlierBand)
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
  }

  /** Band b's bit-slice of a 64-bit SimHash signature under `bands`
    * pigeonhole bands (widths 64/bands ± 1). */
  private[graft] def simhashBandVal(sim: Column, b: Int, bands: Int): Column = {
    val bounds = (0 to bands).map(i => i * 64 / bands)
    val lo = bounds(b)
    val w = bounds(b + 1) - lo
    val mask = if (w >= 64) -1L else (1L << w) - 1L
    shiftright(sim, lo).bitwiseAND(lit(mask))
  }

  /** The exploded (id, simhash, band, bh) frame of the pigeonhole banding —
    * shared by `simhashBandPairs` and the pair-budget estimator. */
  private def simhashBandedFrame(sig: DataFrame, idCol: String,
                                 maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val bands = maxHamming + 1
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"), simhashBandVal(col("simhash"), b, bands).as("bh")))
    sig.select(col(idCol).as("__id"), col("simhash"),
      explode(array(bandStructs: _*)).as("bb"))
      .select(col("__id"), col("simhash"), col("bb.band"), col("bb.bh"))
  }

  /** Connected components over a near-dup pair set: every doc gets the MIN id of
    * its transitive duplicate cluster — the "keep one survivor per cluster" step
    * that follows any pairwise dedup. Deterministic min-label propagation:
    * labels spread one hop per iteration (O(cluster diameter) rounds, each one
    * distributed join + min-aggregate), with a per-round eager localCheckpoint —
    * persist alone keeps the LOGICAL lineage growing one join deeper per round,
    * which blows up plan analysis/rendering on long chains (measured: driver OOM
    * in AQE's explain at ~29 rounds); checkpointing truncates the plan to the
    * materialized blocks — and an early stop when a round changes zero labels
    * (counted directly — a label-SUM probe would overflow Long at ~10^10 rows ×
    * 64-bit ids, and a wrapped equal sum could mask a real change). Near-dup clusters
    * are short-diameter in practice; for adversarially long chains swap in the
    * large-star/small-star variant — same interface.
    *
    * Returns (id, component) for every id that appears in `pairs`. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    val (labels, converged, rounds) = ccPropagate(pairs, idA, idB, maxIter)
    lastRounds = rounds
    lastConverged = converged
    labels
  }

  /** `connectedComponents` with convergence threaded through the RETURN value
    * — the form `components` branches on. Control flow never reads the
    * shared `lastConverged` var, so concurrent CC runs in one JVM cannot
    * interleave each other's escape decisions; the vars stay write-only test
    * observability. */
  private def ccPropagate(pairs: DataFrame, idA: String, idB: String,
                          maxIter: Int): (DataFrame, Boolean, Int) = {
    // persist the incoming pair frame: the two union branches below would
    // otherwise evaluate the (often join-heavy) pair subtree twice
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val edges = p.select(col(idA).as("src"), col(idB).as("dst"))
      .union(p.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // seed with min(self, direct neighbors): pair and star clusters — the
    // overwhelming shape of near-dup graphs — converge on the seed itself, so
    // the loop only runs its single confirmation round
    // LAZY checkpoints: materialization rides the changed-count job below (one
    // pass per round); eager would add a second full pass per round
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__m"))
      .select(col("src").as("id"), least(col("__m"), col("src")).as("comp"))
      .localCheckpoint(eager = false)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("comp")).as("__nbr"))
      // carry the previous label so convergence is a changed-row COUNT on the
      // same materialized frame (no extra pass, no overflow-prone arithmetic)
      val stepped = labels.join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("comp").as("__prev"),
          least(col("comp"), coalesce(col("__nbr"), col("comp"))).as("comp"))
        .localCheckpoint(eager = false)
      // pointer jump (path halving): comp <- comp(comp). Labels only decrease
      // and never leave the component, so correctness is untouched while chain
      // convergence drops from O(diameter) toward O(log diameter) rounds — low
      // similarity thresholds make near-dup graphs chain-shaped, and each
      // round's fixed cost (the neighbor join + aggregate) dwarfs the small
      // self-join this adds. ONE level of self-joined lazy checkpoint is safe;
      // chaining a second self-join on an unmaterialized checkpoint was
      // measured to deadlock/crawl (threads race to compute the same
      // checkpoint partitions), so exactly one jump per round
      val next = stepped.as("n").join(
          stepped.select(col("id").as("__cid"), col("comp").as("__ccomp")),
          col("n.comp") === col("__cid"), "left")
        .select(col("n.id").as("id"), col("n.__prev").as("__prev"),
          least(col("n.comp"), coalesce(col("__ccomp"), col("n.comp"))).as("comp"))
        .localCheckpoint(eager = false)
      val changed = next
        .agg(coalesce(sum(when(col("comp") =!= col("__prev"), 1L).otherwise(0L)),
          lit(0L))).first().getLong(0)
      // free the round's checkpoint blocks: the next round is materialized
      Seq(labels, stepped).foreach(release)
      labels = next.select(col("id"), col("comp"))
      converged = changed == 0L
      i += 1
    }
    edges.unpersist()
    p.unpersist()
    (labels.select(col("id"), col("comp").as("component")), converged, i)
  }

  /** Rounds the last connectedComponents / connectedComponentsStar call took —
    * test observability for the convergence-bound specs, nothing else. */
  @volatile private[graft] var lastRounds: Int = 0

  /** Whether the last CC call reached its fixpoint inside the round budget —
    * TEST OBSERVABILITY ONLY: `components`' escape branches on its
    * own run's return value (`ccPropagate`), never on this shared var. */
  @volatile private[graft] var lastConverged: Boolean = true

  /** Unified cluster-resolution entry point — the one the composites call.
    *
    * Graphs under the edge budget label driver-locally (union-find); larger
    * ones run min-label propagation with its pointer jump — the low-shuffle
    * path that real near-dup graphs (short diameter: pairs, stars, small
    * blobs) converge on in 1–3 rounds — ESCAPING to the large/small-star
    * algorithm when `propagateRounds` is exhausted without a fixpoint: the
    * partially-collapsed labels contract the graph (each original edge is
    * rewritten to its endpoints' current labels), star finishes the tiny
    * quotient graph under its O(log² n) any-topology bound, and the final
    * label composes the two. Common graphs never pay star's extra per-round
    * shuffle, adversarial chains can no longer exhaust propagation.
    * `connectedComponents` / `connectedComponentsStar` stay public as the
    * single-variant references the specs compare against.
    *
    * Same output contract as both variants: (id, component = min id of the
    * transitive cluster) for every id appearing in `pairs`. */
  def components(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                 propagateRounds: Int = 8): DataFrame =
    componentsLocalIfSmall(pairs, idA, idB).getOrElse {
      componentsAutoDistributed(pairs, idA, idB, propagateRounds)
    }

  /** Edge-count budget for the driver-local CC fast path (r18): below it the
    * whole pair set collects and a union-find labels it in-process — ONE
    * evaluation of the (often join-heavy) pair subtree + one cached collect,
    * instead of 2+ distributed rounds of join/aggregate/count actions each.
    * 2M edges ≈ 32 MB on the driver — far above every tick/quotient graph,
    * far below any corpus-scale pair set. Same honest currency as the other
    * gates: measured DATA size, never core count — at 100 TB the dedup
    * composites' corpus-sized pair sets stay distributed while the
    * admission ticks' batch-bounded quotient graphs (the q78 contract)
    * rightly stay driver-local. */
  private[graft] val MaxLocalEdgesKey = "graft.cc.maxLocalEdges"
  private[graft] val MaxLocalEdgesDefault: Long = 2000000L

  /** The driver-local CC fast path: when both id columns are LongType and
    * the measured edge count is under the budget, label via union-find with
    * the EXACT distributed contract — (id, component = min id of the
    * transitive cluster) for every id appearing in `pairs` (spec-pinned
    * equal to both distributed variants). Returns None (and leaves the pair
    * subtree's persist materialized-and-released) when the ids are not
    * longs; over-budget graphs fall through to the distributed loop with
    * the pair frame still persisted — the count that priced the gate is the
    * materialization the loop needed anyway. */
  private def componentsLocalIfSmall(pairs: DataFrame, idA: String,
                                     idB: String): Option[DataFrame] = {
    import org.apache.spark.sql.types.LongType
    val longIds = Seq(idA, idB).forall(c =>
      pairs.schema.fields.exists(f => f.name == c && f.dataType == LongType))
    if (!longIds) return None
    val spark = pairs.sparkSession
    val maxLocal = spark.conf
      .get(MaxLocalEdgesKey, MaxLocalEdgesDefault.toString).toLong
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val n = p.count()
    if (n > maxLocal) {
      // leave p persisted: ccPropagate re-persists the same frame (no-op)
      // and releases it at loop end
      return None
    }
    val rows = p.select(col(idA), col(idB)).collect()
    p.unpersist(blocking = false)
    // union-find with path halving, then min id per root
    val parent = new java.util.HashMap[Long, Long](rows.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var px = parent.getOrDefault(x, x)
      while (px != x) {
        val ppx = parent.getOrDefault(px, px)
        parent.put(x, ppx)
        x = ppx
        px = parent.getOrDefault(x, x)
      }
      x
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val minOf = new java.util.HashMap[Long, Long]
    val ids = new java.util.TreeSet[java.lang.Long]
    rows.foreach { r =>
      Seq(r.getLong(0), r.getLong(1)).foreach { id =>
        if (ids.add(id)) {
          val root = find(id)
          val cur = minOf.getOrDefault(root, Long.MaxValue)
          if (id < cur) minOf.put(root, id)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    val out = ids.iterator().asScala
      .map(id => org.apache.spark.sql.Row(id.longValue(),
        minOf.get(find(id.longValue())).longValue())).toSeq
    lastRounds = 0
    lastConverged = true
    Some(spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", LongType,
          nullable = false),
        org.apache.spark.sql.types.StructField("component", LongType,
          nullable = false)))))
  }

  /** The distributed route: min-label propagation escaping to star on a
    * pathological topology. */
  private def componentsAutoDistributed(pairs: DataFrame, idA: String,
                                        idB: String,
                                        propagateRounds: Int): DataFrame = {
    {
      val (partial, converged, rounds) =
        ccPropagate(pairs, idA, idB, propagateRounds)
      lastRounds = rounds
      lastConverged = converged
      if (converged) partial
      else {
        // pathological topology: contract through the partial labels and let
        // star finish the quotient graph. The global component minimum m is a
        // fixed point of propagation (comp(m) = m at every round), so quotient
        // node ids are real ids and the quotient minimum IS the component
        // minimum — composing labels preserves the min-id contract.
        val quotient = pairs
          .join(partial.select(col("id").as(idA), col("component").as("__qa")),
            idA)
          .join(partial.select(col("id").as(idB), col("component").as("__qb")),
            idB)
          .select(col("__qa").as("id_a"), col("__qb").as("id_b"))
          .filter(col("id_a") =!= col("id_b"))
        // observability reports the STAR pass's actual convergence (star's
        // O(log² n) bound makes non-convergence at maxIter=50 pathological,
        // but claiming true unconditionally would mask exactly that case)
        val (starLabels, starConverged, starRounds) = ccStar(quotient,
          "id_a", "id_b", 50)
        val roots = starLabels
          .select(col("id").as("__q"), col("component").as("__root"))
        lastRounds = starRounds
        lastConverged = starConverged
        partial.join(roots, col("component") === col("__q"), "left")
          .select(col("id"),
            coalesce(col("__root"), col("component")).as("component"))
      }
    }
  }

  /** Alternating large-star / small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — same interface
    * and output contract as `connectedComponents`, provably O(log² n) rounds on
    * ANY graph shape. The default min-label loop (with its one pointer jump per
    * round) converges in ~O(log diameter) rounds and carries less per-round
    * shuffle, so it stays the composites' default; this variant is the tool for
    * adversarially long chains / pathological topologies where a bound that
    * does not depend on diameter at all is worth one extra shuffle per round.
    *
    * Round = large-star then small-star, each a groupBy-min + equi-join over
    * the (checkpoint-truncated) edge set:
    *  - large-star(u): attach every neighbor v > u to m = min(Γ(u) ∪ u)
    *  - small-star(u): attach every neighbor v < u, and u itself, to
    *    m = min(Γ⁻(u) ∪ u)
    * Both only create edges toward smaller ids inside the component, so the
    * edge set monotonically contracts onto per-component stars rooted at the
    * component minimum; convergence is detected as edge-set fixpoint (count
    * equal + empty anti-join, both on materialized checkpoints). */
  def connectedComponentsStar(pairs: DataFrame, idA: String = "id_a",
                              idB: String = "id_b", maxIter: Int = 50): DataFrame = {
    val (labels, converged, rounds) = ccStar(pairs, idA, idB, maxIter)
    lastRounds = rounds
    lastConverged = converged
    labels
  }

  /** Return-value-threaded form of `connectedComponentsStar` (see
    * `ccPropagate` for why convergence is not communicated via the shared
    * vars). */
  private def ccStar(pairs: DataFrame, idA: String, idB: String,
                     maxIter: Int): (DataFrame, Boolean, Int) = {
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    // checkpointed (not merely persisted): the returned labels frame reads it
    // AFTER p is unpersisted below, so it must not recompute the pair pipeline
    val ids = p.select(col(idA).as("id"))
      .union(p.select(col(idB).as("id"))).distinct()
      .localCheckpoint(eager = false)
    // normalize: (u > v), no self loops, deduped
    var edges = p.select(greatest(col(idA), col(idB)).as("u"),
        least(col(idA), col(idB)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = false)
    ids.count() // materialize while p is cached
    var cnt = edges.count() // materializes the checkpoint
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val minsL = sym.groupBy(col("u")).agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
      val large = sym.join(minsL, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint(eager = false)
      large.count() // materialize before the next self-referencing op
      // every edge is oriented (bigger → smaller), so the symmetric view's
      // v < u half IS the edge set itself: Γ⁻(u) = rows keyed by u directly
      val smaller = large
      val minsS = smaller.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = smaller.join(minsS, "u")
        .select(col("v").as("u2"), col("m"))
        .filter(col("u2") =!= col("m"))
        .select(col("u2").as("u"), col("m").as("v"))
        .unionByName(minsS.filter(col("u") =!= col("m"))
          .select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(eager = false)
      val nextCnt = small.count()
      val changed = nextCnt != cnt ||
        small.join(edges, Seq("u", "v"), "left_anti").limit(1).count() > 0
      Seq(edges, large).foreach(release)
      edges = small
      cnt = nextCnt
      converged = !changed
      i += 1
    }
    // converged star: every child has exactly one (child, root) edge; roots
    // (and any node never demoted to child) label themselves
    val labels = ids.join(edges.select(col("u").as("id"), col("v").as("__root")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("component"))
    p.unpersist(blocking = false)
    (labels, converged, i)
  }

  /** End-to-end corpus dedup — the composite pipelines actually call: exact
    * n-gram Jaccard pairs (prefix-filtered), transitive cluster resolution,
    * keep the min-id survivor of every cluster. Rows never paired survive
    * untouched (left-anti against the non-canonical cluster members).
    *
    * `collapseExact` (default ON — r10): exact-duplicate shingle sets
    * contract to min-id representatives BEFORE the pair stage, so a
    * duplicate-dense corpus (the web norm; the ×100-amplified sf10 rehearsal)
    * pays n−1 identity edges per group instead of Σ bucket² exploding
    * prefix-candidate joins. Survivor sets are provably identical — see
    * `ngramJaccardPairsManaged`.
    *
    * `maxCandidates` (default [[DefaultMaxCandidates]], r14): the sampled
    * prefix-bucket histogram prices the candidate join BEFORE any quadratic
    * shuffle and refuses loudly past the budget — collapseExact contracts
    * only IDENTICAL shingle sets, so a NEAR-identical flood (one doc-unique
    * token per template copy: the measured r13 landmine, 68 GB spill →
    * ENOSPC) walks straight past it; the budget turns that dead run into an
    * actionable refusal. 0 disables. */
  /** Quality-aware survivor selection (r15): given cluster `labels`
    * ((id, component) — [[components]] / the admission ticks) and a scored
    * corpus, keep the HIGHEST-`scoreCol` member of every cluster (tie: min
    * id — q67's deterministic total order), unlabeled docs surviving as
    * their own singletons. The min-id winner the composites default to is
    * the cheapest deterministic choice; real curation often wants the
    * best duplicate instead (RefinedWeb keeps the longest capture of a
    * template family, a crawl keeps the 200-status twin over the 206).
    * One TopK heap per component — never a corpus window; the labels join
    * is exchange-free off the BucketedStore layout. Returns the surviving
    * rows of `docs` (all columns). Unlabeled docs never enter the heap —
    * they survive unconditionally via an anti-join branch, so no hash of
    * a string/url id can collide with (or between) component keys and
    * silently drop a live doc. */
  def survivorsBy(docs: DataFrame, idCol: String, labels: DataFrame,
                  scoreCol: org.apache.spark.sql.Column): DataFrame = {
    val lab = labels.select(col(labels.columns.head).as(idCol),
      col(labels.columns(1)).as("__comp"))
    val idKey = singletonKey(docs, idCol)
    // Unlabeled docs are singleton clusters — they ALWAYS survive, so
    // they never enter the heap and never share a key space with real
    // component ids (hashing them in risked a silent collision-cluster
    // that drops a live doc). Only labeled docs compete.
    val labeled = docs.join(lab, Seq(idCol), "inner")
      .withColumn("__score", scoreCol.cast("long"))
    // the heap's tie key must be a long: the id itself when integral (the
    // documented min-id tie), its xxhash64 otherwise (still a
    // deterministic total order, just not lexicographic; an equal-hash
    // tie inside one component merely picks the other doc — no loss)
    val winners = graft.ops.TopK.topKPerGroup(
        labeled.select(col("__comp"), col("__score"), col(idCol)),
        Seq("__comp"), col("__score"), idKey, Seq(col(idCol)), 1)
      .select(col(idCol))
    val unlabeled = docs.select(col(idCol))
      .join(lab.select(col(idCol)), Seq(idCol), "left_anti")
    docs.join(winners.unionByName(unlabeled), Seq(idCol), "left_semi")
  }

  /** The singleton-cluster key for docs with no label row: the id itself
    * when integral (exact), `xxhash64(id)` for string/url/etc ids (the
    * engine's url→id convention). Shared by [[survivorsBy]] and
    * `DataMix.assignSplitByComponent`. */
  private[graft] def singletonKey(df: DataFrame, idCol: String):
      org.apache.spark.sql.Column =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType =>
        col(idCol).cast("long")
      case _ => xxhash64(col(idCol))
    }

  def dedupedCorpus(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, threshold: Double,
                    blockCols: Seq[String],
                    collapseExact: Boolean = true,
                    maxCandidates: Long = DefaultMaxCandidates): DataFrame =
    dedupedCorpusWithLabels(docs, idCol, textCol, n, threshold, blockCols,
      collapseExact, maxCandidates)._1

  /** [[components]] of the exact n-gram Jaccard pair graph: (id, component)
    * for every doc with a near-dup. CC is eager, so the pair pass's shingle
    * store is freed before this returns. */
  def jaccardComponents(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double, blockCols: Seq[String],
                        collapseExact: Boolean = false,
                        maxCandidates: Long = 0L): DataFrame = {
    val (pairs, free) =
      ngramJaccardPairsManaged(docs, idCol, textCol, n, threshold, blockCols,
        collapseExact, maxCandidates)
    val labels = components(pairs)
    free()
    labels
  }

  /** [[dedupedCorpus]] that ALSO returns the (id, component) cluster labels
    * the survivors were derived from — the frame leakage-controlled splits
    * key on (`DataMix.assignSplitByComponent`, q145) and admission ticks
    * maintain (`admitIntoComponents`). Same pair/CC work as
    * [[dedupedCorpus]], paid once; both returned frames pin the same label
    * checkpoints — `Dedup.release` either when done with BOTH. */
  def dedupedCorpusWithLabels(docs: DataFrame, idCol: String,
                              textCol: String, n: Int, threshold: Double,
                              blockCols: Seq[String],
                              collapseExact: Boolean = true,
                              maxCandidates: Long = DefaultMaxCandidates):
      (DataFrame, DataFrame) = {
    val labels = jaccardComponents(docs, idCol, textCol, n, threshold,
      blockCols, collapseExact, maxCandidates)
    val doomed = labels
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    (docs.join(doomed, Seq(idCol), "left_anti"), labels)
  }

  /** End-to-end EMBEDDING dedup: cosine near-dup pairs → transitive cluster
    * resolution → keep the min-id survivor of every cluster. The default route
    * is the banded hyperplane-LSH candidate generator with exact integer-dot
    * verify (sub-quadratic — the 100 TB path); pass `lshPlanes = 0` for the
    * exact all-pairs-within-block route, which doubles as the deterministic
    * SQL-reproducible oracle of the composite. */
  def dedupedCorpusByEmbedding(embs: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, blockCols: Seq[String] = Nil,
                               lshPlanes: Int = 12, lshBands: Int = 8,
                               collapseExact: Boolean = true): DataFrame = {
    val (pairs, free) = embeddingCosinePairsManaged(embs, idCol, vecCol,
      threshold, blockCols, lshPlanes, lshBands,
      collapseExact = collapseExact)
    survivors(embs, idCol, pairs, free)
  }

  /** End-to-end SIMHASH dedup — the family's third composite (q55 = Jaccard,
    * q56/q60 = cosine): in-row 64-bit signatures → pigeonhole band pairs
    * (recall radius GUARANTEED ≤ maxHamming; banded == brute proven by q59)
    * → transitive cluster resolution → min-id survivors. The pair set a raw
    * `simhashBandPairs` call emits can be enormous on a homogeneous corpus
    * (the radius guarantee is inherently dense — measured 105M pairs on the
    * 50k-doc sf1 corpus at radius 12); the COMPOSITE is the scale-shaped
    * consumer, collapsing that pair set into cluster labels without ever
    * materializing it for a user. */
  def dedupedCorpusBySimhash(docs: DataFrame, idCol: String, textCol: String,
                             maxHamming: Int = 3,
                             maxBucket: Int = 4096): DataFrame = {
    val sig = simhash64(docs, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (pairs, freeBanded) =
      simhashBandPairsManaged(sig, idCol, maxHamming, maxBucket)
    survivors(docs, idCol, pairs.select(col("id_a"), col("id_b")), () => {
      freeBanded()
      sig.unpersist(blocking = false)
    })
  }

  /** Semantic dedup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv 2303.09540): k-means
    * cluster the embedding space, treat within-cluster pairs above a high
    * cosine threshold as semantic duplicates, keep one survivor per duplicate
    * group. The family's fourth composite — where `dedupedCorpusByEmbedding`
    * generates candidates with a hyperplane-LSH band family, here the LEARNED
    * CLUSTER STRUCTURE is the blocking function: candidate pairs never cross
    * cells, so the candidate stage is nCells independent blocks (quadratic
    * within a cell; `nCells` is the 100 TB dial — balanced cells put the
    * exact stage at ~n²/nCells comparisons spread over independent tasks,
    * with one hash partition on the cell key as the only shuffle). Identical
    * vectors always co-cell (the argmax is deterministic), so exact
    * duplicates are matched with certainty; NEAR-duplicates straddling a
    * Voronoi boundary are the documented SemDeDup recall caveat — raise
    * `nCells` for cost, lower it for boundary recall, or pass `lshPlanes > 0`
    * to band WITHIN cells (the flood-guarded LSH route, cell-blocked) when
    * single cells are still too large for exact pairs.
    *
    * Determinism: with `iters = 0` the centroids are the Knuth-ordered seed
    * pick and the whole route — assignment, pairs, components, survivors —
    * is SQL-reproducible end to end (q79's oracle re-derives it). Survivors
    * keep the min id of each duplicate group; compose `survivorsByScore`
    * with `semanticPairs` for quality-keep selection. Pass a prebuilt
    * `centroids` frame (e.g. from a served ANN index) to dedup against an
    * existing partitioning of the space instead of re-clustering. Cache
    * contract: same as every composite — `Dedup.release(result)` when done. */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, threshold: Double, iters: Int = 2,
                    lshPlanes: Int = 0, lshBands: Int = 8,
                    centroids: DataFrame = null): DataFrame = {
    val (pairs, free) = semanticPairsManaged(embs, idCol, vecCol, nCells,
      threshold, iters, lshPlanes, lshBands, centroids)
    survivors(embs, idCol, pairs, free)
  }

  /** The pair half of `semanticDedup`: (id_a, id_b, cosine) for every
    * within-cell pair at or above the threshold. */
  def semanticPairs(embs: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, threshold: Double, iters: Int = 2,
                    lshPlanes: Int = 0, lshBands: Int = 8,
                    centroids: DataFrame = null): DataFrame =
    semanticPairsManaged(embs, idCol, vecCol, nCells, threshold, iters,
      lshPlanes, lshBands, centroids)._1

  private def semanticPairsManaged(embs: DataFrame, idCol: String,
                                   vecCol: String, nCells: Int,
                                   threshold: Double, iters: Int,
                                   lshPlanes: Int, lshBands: Int,
                                   centroids: DataFrame)
      : (DataFrame, () => Unit) = {
    val cents = Option(centroids).getOrElse(
      Similarity.kmeansCentroids(embs, nCells, iters, idCol, vecCol))
    val celled = Similarity.assignCells(embs, cents, vecCol, "__semcell")
    embeddingCosinePairsManaged(celled, idCol, vecCol, threshold,
      Seq("__semcell"), lshPlanes, lshBands, collapseExact = true)
  }

  /** Corpus-global LINE-level dedup (the C4 / RefinedWeb curation pass:
    * Raffel et al. 2019 §2.2 dedups three-sentence spans corpus-wide;
    * Penedo et al. 2023 drop repeated lines): every line that tokenizes to
    * at least `minTokens` BPE-ish tokens keeps only its FIRST occurrence
    * across the whole corpus — ordered by (doc id, line index) — and every
    * later occurrence is removed from its document; shorter lines (headers,
    * blanks, separators) always survive. Documents come back reassembled in
    * original line order with an `n_removed` count (a doc whose every line
    * was seen before collapses to the empty string, not a dropped row — the
    * caller decides what to do with husks).
    *
    * Scale shape: three hash shuffles of the exploded line frame and nothing
    * else — (1) winner per line text via ONE map-combinable `min(struct(id,
    * idx))` aggregate, deliberately NOT a per-line-key window: boilerplate
    * floods ("All rights reserved." × 10⁷ docs) collapse to one row per
    * mapper before the shuffle, where a window would sort the whole flood in
    * one task; (2) the exploded frame re-keyed on line text to meet the
    * winners (exchange-compatible with (1), so AQE reuses the partitioning on
    * the small side); (3) re-keyed on doc id for in-row `array_sort`
    * reassembly. Line payloads cross the wire, which is the honest cost of a
    * corpus-global exact-text pass; key skew is absorbed by the map-side
    * combine, never by a single reducer. The exploded frame feeds (1) and
    * (2) by RECOMPUTE, not persist — two columnar scans of (id, text) are
    * cheaper at corpus scale than materializing the exploded lines, which
    * would cost the corpus bytes again in executor storage. Deterministic
    * end to end — q80's oracle re-derives winner choice, survivorship, and
    * reassembly. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                minTokens: Int = 3): DataFrame = {
    val exploded = ensureParallel(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__idx", "__line")))
    val dedupable = TextFns.tokenCount(col("__line")) >= minTokens
    val winners = exploded.filter(dedupable)
      .groupBy(col("__line"))
      .agg(min(struct(col(idCol), col("__idx"))).as("__w"))
    exploded.join(winners, Seq("__line"), "left")
      .withColumn("__keep", col("__w").isNull ||
        (col(s"__w.$idCol") === col(idCol) && col("__w.__idx") === col("__idx")))
      .groupBy(col(idCol))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__idx"), col("__line"))))),
          x => x.getField("__line"))).as(textCol),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Corpus-global line FREQUENCY CAP — the soft form of [[lineDedup]]: a
    * distinct dedupable line keeps its `maxCopies` EARLIEST occurrences
    * (ordered by (doc, position)) corpus-wide, and every occurrence beyond
    * the cap is scrubbed in place. Production pipelines run this instead of
    * hard line dedup when some repetition is signal (navigation headers,
    * quotes, licenses) but boilerplate floods must be bounded — the
    * frequency-threshold semantics the CMS heavy-hitter row (q100) estimates,
    * here computed EXACTLY.
    *
    * Scale shape: the winner aggregate is a k-BOUNDED HEAP per line
    * (`TopKAgg`) — map-side partials carry at most `maxCopies` rows per
    * (line, mapper), so a line flooding the corpus a million times costs
    * O(maxCopies) per partition, never a per-line ranking window and never a
    * hot-key straggler. The heap then collapses to its k-th (worst kept)
    * entry — ONE boundary row per distinct line — and survivorship is the
    * in-row comparison `(doc, idx) ≤ boundary`: the join back is exactly
    * [[lineDedup]]'s one-row-per-line hash join, not a (line, doc, idx)
    * keyed join against a k-amplified winner set (measured 30.7 → 22.3 s at
    * sf10, approaching the lineDedup band). Reassembly is one per-doc sort-in-row
    * aggregate. `maxCopies = 1` reproduces `lineDedup` exactly
    * (spec-pinned). */
  def lineFrequencyCap(docs: DataFrame, idCol: String, textCol: String,
                       maxCopies: Int, minTokens: Int = 3): DataFrame = {
    require(maxCopies >= 1, s"maxCopies must be >= 1, got $maxCopies")
    graft.functions.TopKAgg.register(docs.sparkSession)
    val exploded = ensureParallel(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__idx", "__line")))
    val dedupable = TextFns.tokenCount(col("__line")) >= minTokens
    // earliest-k by (id, idx) ascending == top-k by (-id DESC, idx ASC);
    // the heap array is ordered best->worst, so its LAST entry is the cap
    // boundary: an occurrence survives iff (id, idx) <= that entry
    val boundary = element_at(col("__top"), -1)
    val bounds = exploded.filter(dedupable)
      .groupBy(col("__line"))
      .agg(graft.functions.TopKAgg(
        struct((-col(idCol)).cast("long").as("__sort"),
          col("__idx").cast("long").as("__tie")), maxCopies).as("__top"))
      .select(col("__line"),
        (-boundary.getField("__sort")).as("__bid"),
        boundary.getField("__tie").as("__bidx"))
    exploded.join(bounds, Seq("__line"), "left")
      .withColumn("__keep", col("__bid").isNull ||
        col(idCol) < col("__bid") ||
        (col(idCol) === col("__bid") && col("__idx") <= col("__bidx")))
      .groupBy(col(idCol))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__idx"), col("__line"))))),
          x => x.getField("__line"))).as(textCol),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Survivor selection by QUALITY instead of min id: per near-dup cluster,
    * keep the member with the highest `score` (ties: smallest id) — the
    * curation semantic production pipelines actually want ("keep the longest
    * / cleanest copy"); rows never paired survive untouched. Same scale
    * shape as the min-id tail, with the winner chosen by ONE bounded-heap
    * top-1 aggregate per component (map-side partials — no per-cluster
    * ranking window). `score` must cast losslessly to long (use the
    * scaled-integer convention for float scores). */
  def survivorsByScore(items: DataFrame, idCol: String, pairs: DataFrame,
                       score: Column): DataFrame = {
    val labels = components(pairs)
    // few-file guard: items is the stream side of the (dim-sized) label
    // join, and the winner heap's map-side partials run in its scan stage
    val paired = ensureParallel(items).join(labels, col(idCol) === col("id"))
    val winners = graft.ops.TopK.topKPerGroup(
        paired, Seq("component"), score.cast("long"), col(idCol),
        Seq(col(idCol).as("__keep")), 1)
      .select(col("__keep"))
    val doomed = labels.select(col("id"))
      .join(winners, col("id") === col("__keep"), "left_anti")
    items.join(doomed.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Cluster-resolution + survivor-selection tail shared by the composites:
    * rows never paired survive untouched (left-anti against the non-canonical
    * cluster members).
    *
    * `components` is EAGER (every CC route's convergence loop runs an action
    * per round) and its labels are checkpoint-truncated, so by the time it
    * returns, the pair subtree — including any operator-internal persisted
    * prep frames — has been fully consumed: `freeUpstream` unpersists those
    * frames HERE instead of leaking them to the caller's session. The block
    * sets the returned (lazy) frame still pins are the final labels
    * checkpoints; callers that are done with the result free them with
    * `Dedup.release`. */
  private def survivors(items: DataFrame, idCol: String, pairs: DataFrame,
                        freeUpstream: () => Unit = () => ()): DataFrame = {
    val labels = components(pairs)
    freeUpstream()
    val doomed = labels
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    items.join(doomed, Seq(idCol), "left_anti")
  }

  /** Incremental cluster-label maintenance: merge a batch's near-dup edges
    * into an EXISTING labels frame without re-running connected components
    * over the whole corpus — the missing piece of the incremental story that
    * `admitNew`/`admitNewByEmbedding` start. A daily tick pays CC only on a
    * quotient graph ∝ |batch edges| + |touched clusters|, never corpus-sized.
    *
    * @param labels   the persisted (id, component) frame of a previous
    *                 `components` run — component = min id of the cluster,
    *                 every cluster root has its self-row (the CC output
    *                 contract). Corpus-scale: this frame is only ever
    *                 STREAMED through broadcast-hash joins here (twice) —
    *                 never shuffled, never collected.
    * @param newPairs the batch's edges, both kinds at once: intra-batch
    *                 near-dup pairs AND batch↔corpus match pairs (e.g. from
    *                 `incrementalJaccardMatches` / `incrementalEmbeddingMatches`),
    *                 any orientation. Assumed batch-sized (broadcastable) —
    *                 the daily-increment regime this API exists for.
    *
    * Mechanics: each edge endpoint is contracted through `labels` (a labeled
    * corpus node rides in as its cluster ROOT, an unlabeled node as itself);
    * CC runs on the contracted edge set; existing rows whose root was
    * relabeled compose the new root, untouched clusters keep their label,
    * and quotient nodes new to the frame (batch ids, previously-singleton
    * corpus ids) append. Roots are their clusters' minima, so composed
    * labels equal a full-corpus CC over the union of all edges ever seen —
    * bit-for-bit, independent of how history was sliced into batches (the
    * oracle row + admission-order spec pin this).
    *
    * Same cache contract as the composites: the returned frame pins only
    * checkpoint blocks; `Dedup.release(result)` after the final action. */
  def admitIntoComponents(labels: DataFrame, newPairs: DataFrame,
                          idA: String = "id_a", idB: String = "id_b"): DataFrame =
    admitIntoComponentsManaged(labels, newPairs, idA, idB, () => ())

  /** `admitIntoComponents` with the composites' upstream-release hook:
    * `freeUpstream` runs once the eager quotient CC has fully consumed
    * `newPairs` — where a pair-pipeline's internal shingle/prep stores can
    * be freed without orphaning the lazy result. */
  private def admitIntoComponentsManaged(labels: DataFrame, newPairs: DataFrame,
                                         idA: String, idB: String,
                                         freeUpstream: () => Unit): DataFrame = {
    val lab = labels.select(col("id"), col("component"))
    // the edge frame is typically the output of a whole near-dup pipeline
    // (shingle → candidates → verify); it feeds the endpoint probe AND the
    // contraction below, so persist it — edge-bounded, freed once the eager
    // CC has consumed everything
    val np = newPairs.select(col(idA).as("__ea"), col(idB).as("__eb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the labels rows the batch can SEE: endpoints of new edges. One streamed
    // pass over the corpus-scale frame against broadcast endpoints — the
    // result is edge-bounded, persisted only until the eager CC below
    // consumes it.
    val endpoints = np.select(col("__ea").as("id"))
      .union(np.select(col("__eb").as("id"))).distinct()
    val touched = lab.join(broadcast(endpoints), Seq("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // contract each endpoint to its cluster root (itself when unlabeled);
    // edges inside one existing cluster vanish here
    val contracted = np
      .join(touched.select(col("id").as("__ea"), col("component").as("__ca")),
        Seq("__ea"), "left")
      .join(touched.select(col("id").as("__eb"), col("component").as("__cb")),
        Seq("__eb"), "left")
      .select(coalesce(col("__ca"), col("__ea")).as("id_a"),
        coalesce(col("__cb"), col("__eb")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    // quotient nodes are real ids (roots are minima, unlabeled ids are
    // themselves), so quotient labels ARE final labels for their nodes
    val q = components(contracted, "id_a", "id_b")
    // roots that already have rows in `labels` (every touched root has its
    // self-row by the CC contract) — checkpointed so unpersisting `touched`
    // below cannot orphan the lazy result
    val touchedRoots = touched.select(col("component").as("id")).distinct()
      .localCheckpoint(eager = true)
    touched.unpersist(blocking = false)
    np.unpersist(blocking = false)
    freeUpstream()
    // existing rows: clusters whose root was relabeled compose the new root
    // (second and last streamed pass over the corpus-scale frame)
    val roots = q.select(col("id").as("__q"), col("component").as("__root"))
    val updatedOld = lab.join(broadcast(roots), col("component") === col("__q"),
        "left")
      .select(col("id"), coalesce(col("__root"), col("component")).as("component"))
    // new rows: quotient nodes not already present (batch ids and
    // previously-unlabeled corpus ids)
    val fresh = q.join(broadcast(touchedRoots), Seq("id"), "left_anti")
      .select(col("id"), col("component"))
    updatedOld.unionByName(fresh)
  }

  /** Deletion maintenance — the inverse tick of `admitIntoComponents`: remove
    * a batch of ids from a standing labels frame WITHOUT re-running connected
    * components over the whole corpus. The right-to-be-forgotten / retention
    * path of a training-data lake: a daily delete tick pays CC only on the
    * clusters that actually lost a member, never corpus-sized.
    *
    * Deleting a node can SPLIT its cluster (it may have been the only bridge)
    * or re-root it (it may have been the min-id representative), so labels
    * alone are not enough — the caller supplies the standing EDGE frame
    * (`pairs`) the lake keeps alongside labels (the same pair set that
    * produced them, e.g. accumulated `admissionPairs` output; edges never
    * cross components, which this relies on).
    *
    * Mechanics: the delete batch probes `labels` for its cluster roots;
    * every member of an affected cluster is collected (bounded by those
    * clusters' total size — the daily-tick regime, like `admitIntoComponents`'
    * batch-sized assumption); ONE streamed pass over the corpus-scale edge
    * frame extracts the affected sub-edges (an edge inside an affected
    * cluster has BOTH endpoints in the member set, so a semi-join on one
    * endpoint suffices) and drops edges incident to a deleted id; CC re-runs
    * on that bounded subgraph only. Untouched clusters keep their rows
    * verbatim via a second streamed anti-join pass over `labels`. Survivors
    * of an affected cluster left with no edge at all drop out of the frame —
    * exactly the `components` output contract (only ids appearing in some
    * pair carry rows), so the result equals `components(pairs among
    * survivors)` bit-for-bit (the q86 oracle row + ForgetSpec's ScalaCheck
    * equality pin this).
    *
    * Corpus-scale frames (`labels`, `pairs`) are only ever streamed — never
    * shuffled, never collected; the broadcast sides are delete-batch- or
    * affected-cluster-bounded. Same cache contract as the composites: the
    * returned frame pins only checkpoint blocks; `Dedup.release(result)`
    * after the final action. */
  def forgetFromComponents(labels: DataFrame, pairs: DataFrame,
                           deleted: DataFrame,
                           idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val lab = labels.select(col("id"), col("component"))
    val del = deleted.select(col(deleted.columns.head).as("id")).distinct()
      .localCheckpoint(eager = true)
    // roots of clusters losing a member — delete-batch-bounded. A deleted id
    // with no labels row (never near-duplicated) affects nothing.
    val affectedRoots = lab.join(broadcast(del), Seq("id"))
      .select(col("component")).distinct()
      .localCheckpoint(eager = true)
    // full membership of the affected clusters — bounded by their sizes
    val members = lab.join(broadcast(affectedRoots), Seq("component"))
      .select(col("id"))
      .localCheckpoint(eager = true)
    // the affected subgraph, minus every edge incident to a deleted id:
    // one streamed pass over the corpus-scale edge frame. Deliberately NO
    // broadcast hint on the member set: it is usually tick-sized (AQE
    // broadcasts it anyway) but a delete touching a mega-cluster inflates
    // it, and the hint would force that through driver memory — a shuffled
    // semi-join is the correct degradation.
    val sub = pairs.select(col(idA).as("id_a"), col(idB).as("id_b"))
      .join(members.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(broadcast(del.select(col("id").as("id_a"))), Seq("id_a"),
        "left_anti")
      .join(broadcast(del.select(col("id").as("id_b"))), Seq("id_b"),
        "left_anti")
    val recc = components(sub, "id_a", "id_b")
    // CC is eager: the result reaches affectedRoots, never del or members
    Seq(del, members).foreach(release)
    // untouched clusters keep their labels verbatim (second streamed pass)
    lab.join(broadcast(affectedRoots), Seq("component"), "left_anti")
      .select(col("id"), col("component"))
      .unionByName(recc.select(col("id"), col("component")))
  }

  /** The one release for a CONSUMED frame: frees every block its analyzed
    * plan reaches — the `localCheckpoint` RDDs riding in it as LogicalRDDs,
    * and every subtree the session cache holds (a `persist`), uncached
    * outermost first so no freed entry is rebuilt over an inner one. Call
    * after the final action on `df`; the frame cannot be recomputed
    * afterwards. Blocks the plan cannot reach are the operator's to free. */
  def release(df: DataFrame): Unit = {
    val spark = castToImpl(df.sparkSession)
    val cache = spark.sharedState.cacheManager
    val plan = df.queryExecution.analyzed
    plan.foreach { p =>
      if (!cache.isEmpty && cache.lookupCachedData(spark, p).isDefined)
        cache.uncacheQuery(spark, p, cascade = false, blocking = false)
    }
    plan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))
  }

  /** Embedding near-dup pairs: cosine >= threshold. Vectors are quantized and
    * norm'd ONCE per row before any pair join, so the per-pair cost is a single
    * integer dot fold.
    *
    * The DEFAULT is the scale path: `lshBands` independent `lshPlanes`-bit
    * hyperplane-signature families as bucket blocking keys — candidates are
    * pairs agreeing on some band's full signature, work ∝ Σ bucket², never
    * corpus². Candidate recall is APPROXIMATE (a pair at angle θ survives with
    * 1 - (1 - (1-θ/π)^planes)^bands): right for the near-dup regime
    * (threshold → 1, misses vanishingly rare; identical vectors are ALWAYS
    * recovered since they agree on every plane), wrong for low thresholds.
    *
    * `lshPlanes = 0` selects the exact route — all pairs within `blockCols`,
    * quadratic per block. That is the VERIFY ORACLE (deterministic,
    * SQL-reproducible) and the low-threshold tool for dim-sized blocks; it is
    * deliberately not the default a naive caller gets at corpus scale. */
  def embeddingCosinePairs(embs: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, blockCols: Seq[String] = Nil,
                           lshPlanes: Int = 12, lshBands: Int = 8,
                           maxBucket: Int = 4096,
                           collapseExact: Boolean = false): DataFrame =
    embeddingCosinePairsManaged(embs, idCol, vecCol, threshold, blockCols,
      lshPlanes, lshBands, maxBucket, collapseExact)._1

  /** EXACT-duplicate pre-collapse for the embedding pair routes: rows whose
    * QUANTIZED vectors are bit-identical (within a block) contract to their
    * min-id representative before any pairing — members attach by n−1
    * identity edges (cosine exactly 1.0) instead of the n²/2 clique the
    * pair stage would otherwise emit. Connectivity is provably unchanged:
    * every cosine in this family is computed FROM the quantized vectors, so
    * cos(u, v) = cos(rep(u), rep(v)) — each original edge maps to a rep
    * edge plus identity hops, and vice versa; survivor sets are identical.
    * On a duplicate-dense corpus (the web-data norm) this turns the
    * group-size-QUADRATIC pair stage linear (measured: the ×100-amplified
    * sf10 corpus emits ~20M clique pairs without it); the price on a
    * duplicate-free corpus is one corpus re-key on the 64-bit vector hash.
    * The hash is only a shuffle key, never trusted: the min(struct) winner
    * carries its quantized vector and membership is confirmed by exact
    * array equality — a colliding row simply stays its own representative
    * (correct, marginally less collapsed). Zero-norm vectors never collapse
    * (their pairwise cosine is NaN-guarded to non-match; identity edges
    * would invent matches). */
  private def collapseExactGroups(hashed: DataFrame, blockCols: Seq[String])
      : (DataFrame, DataFrame) = {
    val winners = hashed.filter(col("__n") > 0)
      .groupBy((col("__qh") +: blockCols.map(col)): _*)
      .agg(min(struct(col("__id"), col("__q"))).as("__w"))
      .select((col("__qh") +: col("__w.__id").as("__rid") +:
        col("__w.__q").as("__rq") +: blockCols.map(col)): _*)
    val tagged = hashed
      .join(winners, Seq("__qh") ++ blockCols, "left")
      .withColumn("__isDup", col("__rid").isNotNull &&
        col("__id") =!= col("__rid") && col("__q") === col("__rq"))
    val identity = tagged.filter(col("__isDup"))
      .select(col("__rid").as("id_a"), col("__id").as("id_b"),
        lit(1.0).as("cosine"))
    (tagged.filter(!col("__isDup")).drop("__rid", "__rq", "__isDup", "__qh"),
      identity)
  }

  /** `embeddingCosinePairs` plus the handle the composite uses to free the
    * LSH route's persisted prep frame once the pair set has been consumed
    * (the exact route persists nothing — its cleanup is a no-op). */
  private def embeddingCosinePairsManaged(
      embs: DataFrame, idCol: String, vecCol: String, threshold: Double,
      blockCols: Seq[String], lshPlanes: Int, lshBands: Int,
      maxBucket: Int = 4096, collapseExact: Boolean = false)
      : (DataFrame, () => Unit) = {
    val full = ensureParallel(embs)
      .select(
        (col(idCol).as("__id") +: col(vecCol).as("__v") +: blockCols.map(col)): _*)
      .withColumn("__q", VectorFns.quantize(col("__v")))
      .withColumn("__n", VectorFns.normLong(col("__q")))
    val (base, identityEdges) =
      if (!collapseExact) (full, null)
      else collapseExactGroups(full.withColumn("__qh", xxhash64(col("__q"))),
        blockCols)
    def withIdentity(pairs: DataFrame): DataFrame =
      if (identityEdges == null) pairs else pairs.unionByName(identityEdges)
    if (lshPlanes <= 0) {
      // exact within blockCols: one block-partitioned join, vectors in-row
      val a = base.select(col("__id").as("id_a") +: col("__q").as("qa") +:
        col("__n").as("na") +: blockCols.map(col): _*)
      val b = base.select(col("__id").as("id_b") +: col("__q").as("qb") +:
        col("__n").as("nb") +: blockCols.map(col): _*)
      val joined = if (blockCols.isEmpty)
        a.crossJoin(b) else a.join(b, blockCols)
      (withIdentity(joined.filter(col("id_a") < col("id_b"))
        .withColumn("cosine", VectorFns.cosineFromQuantized(
          col("qa"), col("qb"), col("na"), col("nb")))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))),
        () => ())
    } else {
      // scale path: the banded self-join carries only (id, band buckets, blocks) —
      // never the vectors — and emits each pair from its FIRST shared band, so the
      // candidate set is duplicate-free with no dropDuplicates shuffle. Vectors are
      // fetched for candidates only, from the persisted prep frame.
      val prep = base.withColumn("__bkts", array((0 until lshBands).map(b =>
          VectorFns.hyperplaneBucket(col("__v"), lshPlanes, b * lshPlanes)
            .cast("long")): _*))
        .select((col("__id") +: col("__q") +: col("__n") +: col("__bkts") +:
          blockCols.map(col)): _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val slim = prep.select(
        (col("__id") +: col("__bkts") +:
          posexplode(col("__bkts")).as(Seq("__band", "__bh")) +:
          blockCols.map(col)): _*)
      val (normal, star) = splitOversizedBuckets(slim,
        Seq("__band", "__bh") ++ blockCols, maxBucket)
      val noEarlierBand = size(filter(
        slice(zip_with(col("x.__bkts"), col("y.__bkts"), (p, q) => p === q),
          lit(1), col("x.__band")), p => p)) === 0
      val cond = blockCols.map(c => col(s"x.$c") === col(s"y.$c"))
        .foldLeft(col("x.__band") === col("y.__band") &&
          col("x.__bh") === col("y.__bh") &&
          col("x.__id") < col("y.__id") && noEarlierBand)(_ && _)
      val selfCand = normal.as("x").join(normal.as("y"), cond)
        .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      val cand = if (star == null) selfCand
        else selfCand.unionByName(star
          .select(col("__bmin").as("id_a"), col("__id").as("id_b")).distinct())
      (withIdentity(cand
        .join(prep.select(col("__id").as("id_a"), col("__q").as("qa"),
          col("__n").as("na")), "id_a")
        .join(prep.select(col("__id").as("id_b"), col("__q").as("qb"),
          col("__n").as("nb")), "id_b")
        .withColumn("cosine", VectorFns.cosineFromQuantized(
          col("qa"), col("qb"), col("na"), col("nb")))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))),
        () => prep.unpersist(blocking = false))
    }
  }
}
