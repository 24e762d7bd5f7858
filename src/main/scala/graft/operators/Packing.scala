package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence chunking and packing — the last mile of a training-data pipeline:
  * long documents are split into context-window-sized chunks, and short
  * documents are packed together so a batch of fixed-length sequences wastes no
  * tokens.
  *
  * Scale design: chunking is fully in-row (sequence + slice + posexplode — a
  * narrow projection, no shuffle, no per-doc state). Packing needs a running
  * token total, which is a window — so it is SHARDED: the cumulative sum runs
  * per shard (source, date, hash bucket...), bins are (shard, local bin), and no
  * single partition ever sees more than one shard's rows. An unsharded global
  * cumsum would funnel the corpus through one task — the classic window
  * scale-killer this operator exists to avoid. */
object Packing {

  /** The shared in-row chunk kernel: a frame carrying (`idCol`, `__ws`
    * token array, `__n` chunk count) explodes into (id, chunk_idx,
    * n_chunk_tokens, chunk_sha) rows — a narrow projection, no shuffle. */
  private def chunkKernel(prepped: DataFrame, idCol: String, chunkSize: Int,
                          stride: Int): DataFrame =
    prepped
      .filter(col("__n") > 0)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("__n") - 1),
          i => slice(col("__ws"), i * stride + 1, lit(chunkSize))))
          .as(Seq("chunk_idx", "__chunk")))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).cast("long").as("n_chunk_tokens"),
        sha2(array_join(col("__chunk"), " "), 256).as("chunk_sha"))

  /** Split each doc's token stream into `chunkSize`-token chunks, in-row.
    * Returns (id, chunk_idx, n_chunk_tokens, chunk_sha) — the sha stands in for
    * the chunk payload so downstream joins stay narrow; swap the projection for
    * the raw chunk text when materializing training rows. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int): DataFrame = {
    val ws = TextFns.words(col(textCol))
    val nChunks = ceil(size(ws).cast("double") / chunkSize).cast("int")
    // few-file corpora would tokenize + sha every chunk at file-count
    // parallelism (the r10 receipt's lesson; q109 measured 38.2s at sf10 on
    // a 2-file corpus before the guard)
    chunkKernel(Dedup.ensureParallel(docs)
      .select(col(idCol), ws.as("__ws"), nChunks.as("__n")),
      idCol, chunkSize, stride = chunkSize)
  }

  /** [[chunkTokens]] with OVERLAP — the sliding-context form LLM training
    * prep actually emits (stride < chunkSize keeps `chunkSize − stride`
    * tokens of context at every boundary, so no training example starts
    * cold). Window i covers tokens [i·stride, i·stride + chunkSize); starts
    * run while they are inside the doc, the final windows are truncated
    * rather than padded, and `stride = chunkSize` degenerates to exactly
    * [[chunkTokens]]'s disjoint chunks (spec-pinned). Same scale shape:
    * fully in-row, a narrow projection, no shuffle — the ~chunkSize/stride
    * row amplification is the output's, not a join's. */
  def chunkTokensStrided(docs: DataFrame, idCol: String, textCol: String,
                         chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1,
      s"chunkSize and stride must be >= 1, got $chunkSize/$stride")
    val ws = TextFns.words(col(textCol))
    // starts 0, stride, 2·stride, … strictly inside the doc
    val nChunks = (floor((size(ws) - 1).cast("double") / stride) + 1)
      .cast("int")
    chunkKernel(Dedup.ensureParallel(docs) // same few-file guard as chunkTokens
      .select(col(idCol), ws.as("__ws"), nChunks.as("__n")),
      idCol, chunkSize, stride)
  }

  /** Per-document BPE token STREAM under a learned rule list (the
    * [[graft.operators.Bpe.tokenCount]] pricing join upgraded to carry the
    * tokens themselves): the corpus's DISTINCT words encode once
    * (vocab-sized — the scale-invariant move; per-document re-encoding
    * would pay the merge replay corpus-many times), a broadcast join maps
    * every occurrence to its sub-word array, and one doc-keyed aggregate
    * reassembles the ordered stream (position-sorted collect + flatten).
    * That aggregate is the ONLY corpus shuffle. Returns (idCol, `tokens`
    * array<string> — BPE symbols, `</w>` word marks included). Docs that
    * tokenize to nothing drop (no stream to chunk). */
  def encodeDocsBpe(docs: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    val toks = Dedup.ensureParallel(docs)
      .select(col(idCol),
        posexplode(TextFns.words(col(textCol))).as(Seq("__pos", "__word")))
    val enc = Bpe.encodeWords(
        toks.select(col("__word").as("word")).distinct(), "word", merges)
      .select(col("word").as("__word"), col("bpe").as("__bpe"))
    toks.join(broadcast(enc), Seq("__word"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__bpe")))),
        s => s.getField("__bpe"))).as("tokens"))
  }

  /** [[chunkTokens]]/[[chunkTokensStrided]] over an ALREADY-ENCODED token
    * column (array<string> — e.g. [[encodeDocsBpe]]'s output, or any
    * upstream tokenizer's): the chunk budget counts REAL tokenizer units,
    * not whitespace words — what an LLM context window actually pays.
    * `stride = 0` (default) means disjoint chunks (stride = chunkSize).
    * Same in-row scale shape as the text forms. */
  def chunkEncoded(docs: DataFrame, idCol: String, tokensCol: String,
                   chunkSize: Int, stride: Int = 0): DataFrame = {
    val st = if (stride <= 0) chunkSize else stride
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    val nChunks =
      if (st == chunkSize)
        ceil(size(col(tokensCol)).cast("double") / chunkSize).cast("int")
      else (floor((size(col(tokensCol)) - 1).cast("double") / st) + 1)
        .cast("int")
    // the same few-file guard the text forms carry: a pre-tokenized corpus
    // read from a 1-2 file parquet would otherwise slice+sha at file-count
    // parallelism (the measured r10/q109 pathology)
    chunkKernel(Dedup.ensureParallel(docs)
      .select(col(idCol), col(tokensCol).as("__ws"), nChunks.as("__n")),
      idCol, chunkSize, st)
  }

  /** BPE-budget chunking end to end: encode ([[encodeDocsBpe]]) then chunk
    * ([[chunkEncoded]]) — the q53/q109 shapes with boundaries measured in
    * BPE tokens instead of whitespace words (a word-budget chunk of CJK or
    * URL-dense text can be several times the token budget it claims). */
  def chunkBpe(docs: DataFrame, idCol: String, textCol: String,
               merges: Seq[(String, String)], chunkSize: Int,
               stride: Int = 0): DataFrame =
    chunkEncoded(encodeDocsBpe(docs, idCol, textCol, merges), idCol,
      "tokens", chunkSize, stride)

  /** [[encodeDocsBpe]] in INTEGER token ids (the corpus-realized
    * [[graft.operators.Bpe.vocab]] mapping) — the stream an LLM batch
    * reader actually consumes: (idCol, `token_ids` array<int>). One
    * `encodeWords` pass serves both the id table and the per-word arrays;
    * the corpus-side shape is identical to [[encodeDocsBpe]] (broadcast
    * pricing join + ONE position-sorted doc-keyed aggregate). */
  def encodeIdsBpe(docs: DataFrame, idCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame =
    encodeIdsWithVocab(docs, idCol, textCol, merges)._1

  /** [[encodeIdsBpe]] exposing the vocab it derived — ONE `encodeWords`
    * pass serves the id streams AND the (token, token_id) table: the
    * encoded-word frame is localCheckpoint-pinned (vocab-sized, eager), so
    * a caller acting on BOTH returned frames (the tokenized-export job
    * writes each) pays the corpus word-distinct + merge replay once, not
    * per action. The pin is a block in both frames' lineage —
    * `Dedup.release` either frame after the final action. */
  def encodeIdsWithVocab(docs: DataFrame, idCol: String, textCol: String,
                         merges: Seq[(String, String)]):
      (DataFrame, DataFrame) = {
    val toks = Dedup.ensureParallel(docs)
      .select(col(idCol),
        posexplode(TextFns.words(col(textCol))).as(Seq("__pos", "__word")))
    // LAZY pin (r18, guide §5): the eager form paid a dedicated
    // materialization job per call, but every single-action caller
    // (encodeIdsBpe, and the tokenizedCorpus rows that drop the vocab)
    // consumes encW exactly once — the lazy checkpoint materializes inside
    // that first consuming job and still caches for any later reference
    // (the export job acting on both returned frames pays the merge replay
    // once, exactly as before).
    val encW = Bpe.encodeWords(
      toks.select(col("__word").as("word")).distinct(), "word", merges)
      .localCheckpoint(false)
    val vocab = Bpe.vocabOf(encW)
    // word → ordered token ids via the vocab join, then doc → flattened
    // position-ordered stream
    val wordIds = encW
      .select(col("word"), posexplode(col("bpe")).as(Seq("__p", "token")))
      .join(broadcast(vocab), Seq("token"))
      .groupBy(col("word"))
      .agg(transform(
        array_sort(collect_list(struct(col("__p"), col("token_id")))),
        s => s.getField("token_id")).as("__ids"))
      .withColumnRenamed("word", "__word")
    val ids = toks.join(broadcast(wordIds), Seq("__word"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__ids")))),
        s => s.getField("__ids"))).as("token_ids"))
    (ids, vocab)
  }

  /** The shared packing kernels: the bin rule (floor(exclusive-prefix-sum /
    * budget), per shard) and the in-bin offset rule (exclusive prefix sum per
    * (shard, bin)), which [[packBins]], [[packBinsBpe]] and [[packedLayout]]
    * walk through. [[tokenizedCorpus]] cuts streams at bin boundaries, so it
    * states the same bin rule inline: a rule change must land there too. */
  private def binsFromCounts(counts: DataFrame, shardCols: Seq[String],
                             idCol: String, nCol: String,
                             tokenBudget: Long): DataFrame = {
    val w = Window.partitionBy(shardCols.map(col): _*).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("__prior", coalesce(sum(col(nCol)).over(w), lit(0L)))
      .withColumn("bin_id", floor(col("__prior") / tokenBudget).cast("long"))
      .drop("__prior")
  }

  private def offsetsFromBins(binned: DataFrame, shardCols: Seq[String],
                              idCol: String, nCol: String): DataFrame = {
    val w = Window
      .partitionBy((shardCols :+ "bin_id").map(col): _*)
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    binned.withColumn("offset_tokens",
      coalesce(sum(col(nCol)).over(w), lit(0L)))
  }

  /** The tokenized-corpus product in ONE derivation — what the
    * tokenized-export job publishes: per curated doc its integer token-id
    * stream cut into PACKED-EXAMPLE pieces, plus the vocab table, all off
    * a single `encodeWords` pass (token counts = the id stream's length,
    * so no second pricing join).
    *
    * Packing rule (r17 — concat-and-cut, the GPT-pretraining layout): each
    * shard's docs concatenate in id order into one virtual token stream,
    * and the stream cuts at every `tokenBudget` boundary. A doc whose span
    * crosses a boundary splits into pieces (`chunk_idx` 0, 1, …), each
    * fully inside one bin — so every (shard, bin) holds EXACTLY
    * `tokenBudget` tokens except the shard's final bin, and a training
    * reader materializes example (shard, bin) by concatenating pieces at
    * their offsets, gap-free and overflow-free. The r16 whole-doc layout
    * silently broke that contract on any doc longer than the budget (its
    * own scaladoc said "chunk them first"; nothing did). The derivation
    * stays fully windowed + in-row: ONE per-shard prefix-sum window over
    * doc-count rows, then a narrow posexplode into pieces — no sequential
    * scan, no extra shuffle.
    *
    * Output: (idCol, shardCols…, chunk_idx, n_tokens_bpe — the PIECE's
    * token count, bin_id, offset_tokens — the piece's offset within its
    * bin, token_ids — the piece's slice of the doc's id stream). Tokenless
    * docs keep one layout row (chunk_idx 0, 0 tokens, null ids) at their
    * stream position. Returns (pieces, vocab); the id streams are
    * persisted for the layout's references — `Dedup.release` the first
    * frame (and the vocab) after the final action. */
  def tokenizedCorpus(docs: DataFrame, idCol: String, textCol: String,
                      shardCols: Seq[String], tokenBudget: Long,
                      merges: Seq[(String, String)]):
      (DataFrame, DataFrame) = {
    require(tokenBudget >= 1, s"tokenBudget must be >= 1, got $tokenBudget")
    // lazy pin, same reasoning as encW above: both references to `ids`
    // below land in the caller's one final action, which materializes the
    // pin as it runs — the eager form cost a separate corpus-aggregate job.
    // A persist keeps the lineage, so `Dedup.release(pieces)` reaches encW
    val (ids0, vocab) = encodeIdsWithVocab(docs, idCol, textCol, merges)
    val ids = ids0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // each doc's stream prior is the per-shard prefix sum of token counts;
    // spans split at bin boundaries and the id arrays slice per piece
    val counts = docs.select((col(idCol) +: shardCols.map(col)): _*)
      .join(ids.select(col(idCol),
        size(col("token_ids")).cast("long").as("__n")),
        Seq(idCol), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    val w = Window.partitionBy(shardCols.map(col): _*).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = lit(tokenBudget)
    val pieces = counts
      .withColumn("__prior", coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("__first", floor(col("__prior") / b).cast("long"))
      .withColumn("__last", when(col("__n") > 0,
          floor((col("__prior") + col("__n") - 1) / b).cast("long"))
        .otherwise(col("__first")))
      // one row per bin the doc's stream span touches — in-row, no shuffle
      .select((col(idCol) +: shardCols.map(col)) ++ Seq(
        col("__n"), col("__prior"),
        explode(sequence(lit(0L), col("__last") - col("__first")))
          .as("chunk_idx"),
        col("__first")): _*)
      .withColumn("bin_id", col("__first") + col("chunk_idx"))
      .withColumn("__start", greatest(col("__prior"), col("bin_id") * b))
      .withColumn("__end",
        least(col("__prior") + col("__n"), (col("bin_id") + 1) * b))
      .withColumn("n_tokens_bpe", col("__end") - col("__start"))
      .withColumn("offset_tokens", col("__start") - col("bin_id") * b)
      .withColumn("__local", col("__start") - col("__prior"))
    (pieces.join(ids, Seq(idCol), "left")
      .withColumn("token_ids", when(col("n_tokens_bpe") > 0,
        slice(col("token_ids"), (col("__local") + 1).cast("int"),
          col("n_tokens_bpe").cast("int"))))
      .select((col(idCol) +: shardCols.map(col)) ++ Seq(col("chunk_idx"),
        col("n_tokens_bpe"), col("bin_id"), col("offset_tokens"),
        col("token_ids")): _*),
      vocab)
  }

  /** The PACKED-EXAMPLE layout — [[packBinsBpe]] plus each doc's token
    * OFFSET within its bin: (idCol, shardCols..., n_tokens_bpe, bin_id,
    * offset_tokens). A training reader materializes example `(shard, bin)`
    * by concatenating its docs at their offsets — the last mile between
    * "bins exist" and "a batch is addressable". The offset window runs
    * per (shard, bin) — bins hold at most `tokenBudget` tokens of
    * non-empty docs, so the partition is budget-bounded (only zero-token
    * docs could pile into one bin unbounded; they carry no tokens and a
    * real pipeline drops them upstream). */
  def packedLayout(docs: DataFrame, idCol: String, textCol: String,
                   shardCols: Seq[String], tokenBudget: Long,
                   merges: Seq[(String, String)]): DataFrame =
    offsetsFromBins(
      packBinsBpe(docs, idCol, textCol, shardCols, tokenBudget, merges),
      shardCols, idCol, "n_tokens_bpe")

  /** [[packBins]] with the budget measured in BPE tokens (the
    * [[graft.operators.Bpe.tokenCount]] pricing join): sequence budgets
    * become REAL tokenizer budgets. Docs that tokenize to nothing pack at
    * cost 0 (they stay in their shard's bin walk). Output: (idCol,
    * shardCols..., n_tokens_bpe, bin_id). */
  def packBinsBpe(docs: DataFrame, idCol: String, textCol: String,
                  shardCols: Seq[String], tokenBudget: Long,
                  merges: Seq[(String, String)]): DataFrame = {
    val counts = docs
      .select((col(idCol) +: shardCols.map(col)): _*)
      .join(Bpe.tokenCount(docs, idCol, textCol, merges)
        .select(col(idCol), col("n_tokens_bpe")), Seq(idCol), "left")
      .withColumn("n_tokens_bpe", coalesce(col("n_tokens_bpe"), lit(0L)))
    binsFromCounts(counts, shardCols, idCol, "n_tokens_bpe", tokenBudget)
  }

  /** The SHARD MANIFEST — the validation artifact published BESIDE a packed
    * corpus (the checksum table a training reader verifies a shard against
    * before spending GPU-hours on it): one row per (shard, bin) of a
    * [[tokenizedCorpus]]/[[packedLayout]] pieces frame, carrying the piece
    * and distinct-doc counts, the bin's token total, and `content_sha` —
    * sha256 over the bin's ENTIRE token stream in offset order (ids joined
    * by single spaces; empty pieces contribute nothing, an all-empty bin
    * hashes the empty string). Because pieces tile the stream contiguously,
    * joining the per-piece id strings with the same separator reproduces
    * the whole-stream rendering — the sha is a property of the CONTENT, not
    * of where the piece boundaries fell.
    *
    * Scale shape: one hash aggregate keyed (shard, bin); the collected
    * piece list per group is budget-bounded by the packing contract, so no
    * group can flood a task. Truncated/reordered/corrupted bins change
    * `content_sha`; dropped or duplicated pieces change `n_pieces`/
    * `n_tokens` — a reader diffs the manifest it recomputes against the
    * published one. */
  def shardManifest(pieces: DataFrame, idCol: String,
                    shardCols: Seq[String]): DataFrame =
    pieces.groupBy((shardCols.map(col) :+ col("bin_id")): _*)
      .agg(
        count(lit(1)).as("n_pieces"),
        countDistinct(col(idCol)).as("n_docs"),
        sum(col("n_tokens_bpe")).as("n_tokens"),
        sha2(array_join(transform(
            sort_array(collect_list(when(col("n_tokens_bpe") > 0,
              struct(col("offset_tokens").as("o"),
                array_join(transform(col("token_ids"),
                  x => x.cast("string")), " ").as("t"))))),
            x => x("t")), " "), 256).as("content_sha"))

  /** MATERIALIZE training examples from a packed pieces frame — the
    * reader-side fold the piece layout exists for: one row per
    * (shard, bin) with the bin's full token stream (`token_ids` — pieces
    * concatenated at their offsets, gap-free by the packing contract) and
    * the DOC-BOUNDARY metadata a loss mask / attention-reset needs:
    * `doc_offsets` (each piece's start offset, ascending) and `doc_ids`
    * (the source doc of each piece, parallel to the offsets — a piece
    * boundary mid-doc, from a doc that spans bins, shows the same id
    * continuing). Empty pieces (tokenless docs) carry no tokens and no
    * boundary. `n_tokens` prices the example; every bin but each shard's
    * last equals the packing budget.
    *
    * Scale shape: ONE hash aggregate keyed (shard, bin) with
    * budget-bounded groups — the same discipline as [[shardManifest]];
    * the examples table is what a training job feeds to its batch
    * sampler, typically written bucketed by shard. */
  def examples(pieces: DataFrame, idCol: String,
               shardCols: Seq[String]): DataFrame =
    // one sorted piece list per bin, then three parallel in-row projections
    // — linear (the flatten/transform pattern encodeIdsWithVocab and
    // shardManifest use), and doc ids keep their NATIVE type (string ids
    // survive)
    pieces.groupBy((shardCols.map(col) :+ col("bin_id")): _*)
      .agg(
        sum(col("n_tokens_bpe")).as("n_tokens"),
        array_sort(collect_list(when(col("n_tokens_bpe") > 0,
          struct(col("offset_tokens").as("o"), col(idCol).as("d"),
            col("token_ids").as("t"))))).as("__ps"))
      .select((shardCols.map(col) :+ col("bin_id") :+ col("n_tokens") :+
        flatten(transform(col("__ps"), x => x("t"))).as("token_ids") :+
        transform(col("__ps"), x => x("o")).as("doc_offsets") :+
        transform(col("__ps"), x => x("d")).as("doc_ids")): _*)

  /** Deterministic sharded packing: within each shard (ordered by id), a doc's
    * bin is floor(exclusive-prefix-sum / tokenBudget) — consecutive docs
    * share a bin until the budget boundary is crossed. Bins are exact, stable
    * under re-runs, and never require cross-shard coordination. Docs longer than
    * the budget simply span bins (chunk them first with `chunkTokens`). */
  def packBins(docs: DataFrame, idCol: String, textCol: String,
               shardCols: Seq[String], tokenBudget: Long): DataFrame =
    binsFromCounts(docs
      .select((col(idCol) +: shardCols.map(col) :+
        size(TextFns.words(col(textCol))).cast("long").as("n_tokens")): _*),
      shardCols, idCol, "n_tokens", tokenBudget)
}
