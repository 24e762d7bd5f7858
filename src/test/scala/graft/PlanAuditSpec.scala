package graft

/** Physical-plan audit across the ENTIRE query surface — the 100 TB guardrails,
  * asserted, not assumed. Every `SparkEntry.queries` entry is planned (and
  * AQE-finalized by a noop execution) at sf0.001 and swept for anti-patterns:
  *
  *  - CartesianProduct: an unconditioned non-broadcast cross join anywhere in the
  *    surface is a scale bug, full stop.
  *  - BroadcastNestedLoopJoin: legitimate ONLY for the deliberate
  *    tiny-broadcast-side patterns (packed centroid/config rows, small-dim theta
  *    joins); every other occurrence means a join lost its equi-keys.
  *  - Non-broadcast SortMergeJoin on a dim-sized side is tolerated (AQE converts
  *    at runtime), but the dedicated specs pin broadcasts where they matter.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // queries whose DESIGN includes a broadcast nested-loop join of a deliberately
  // tiny side: packed 1-row centroid arrays (IVF), all-pairs spatial dims (knn,
  // raw-rainfall neighbor map), brute-force ANN over a broadcast query set,
  // LSH-blocked embedding dedup (1-row plane config), scalar subqueries
  private val bnljAllowed = Set(
    "q14_knn_spatial", "q26_ann_cosine_topk", "q31_embedding_dedup",
    "q33_mike_pipeline", "q37_scalar_subquery", "q43_ann_ivf_topk",
    "q46_embedding_dedup_lsh",
    // q58: q43's packed 1-row centroid broadcast, probing every cell
    "q58_ivf_full_probe",
    // q59: the brute-force Hamming reference side IS a designed broadcast
    // nested-loop over the bounded signature slice (one long per doc) — the
    // quadratic oracle the banded pair set is checked against
    "q59_simhash_containment",
    // q64: q43's packed 1-row centroid broadcast (k-means assignment)
    "q64_kmeans_assign",
    // q70: the same packed 1-row broadcast, PQ codebooks (encode argmin)
    "q70_pq_assign",
    // q71/q72/q77: the packed 1-row codebook broadcast again (encode argmin +
    // per-query ADC tables); the corpus side is never shuffled
    "q71_pq_search", "q72_ivfpq_full_probe", "q77_ivfpq_partial_probe",
    // q75: like q59, the brute-force Hamming REFERENCE side is a designed
    // broadcast nested-loop over the bounded one-long-per-doc signature slice
    "q75_simhash_corpus",
    // q79: assignCells' packed 1-row centroid broadcast (cell argmax), used
    // for both the blocking pass and the survivor-cell projection
    "q79_semantic_dedup",
    // q87: temperatureRates' 1-row broadcast of the summed temperature
    // weights onto the strata-bounded rate frame (never the corpus)
    "q87_temperature_mixture",
    // q89: rankBuckets' stratum-free total is a 1-row broadcast crossed onto
    // the corpus — a constant per row, the designed shape
    "q89_perplexity_buckets",
    // q106/q107: the corpus-total scalar (one row) crossed onto vocab-sized
    // frames — the q89 shape; the corpus itself is never on either side
    "q106_source_kl", "q107_collocations",
    // q111: embeds q106's KL (the same 1-row corpus-total cross)
    "q111_corpus_report_full",
    // q139: embeds q26's brute-force dense list — the query-batch broadcast
    // nested-loop (query-sized side broadcast, corpus streamed once) that
    // IS the exact-baseline retrieval shape
    "q139_hybrid_rrf",
    // q141: q77's packed 1-row centroid/codebook broadcasts (seed pick,
    // cell argmax, ADC tables) on the served dense side
    "q141_hybrid_served",
    // q147: q77's shape again — the forget tick anti-joins the cells frame,
    // serving keeps the same packed 1-row centroid/codebook broadcasts
    "q147_ivfpq_forget_serve")

  // r18 (r17 verdict #5): queries whose plan carries an UNPARTITIONED
  // Window whose input is PROVABLY BOUNDED — any other unpartitioned
  // window is a single-task death sentence at 100 TB:
  //  - q89/q132-family: `sum(__c) over (order by __b)` in
  //    Quantiles.rankBuckets runs over the BIN HISTOGRAM (one row per
  //    distinct value/binStep bin), bounded by the e6 score range /
  //    binStep, never by corpus rows (q132's twin is lang-partitioned).
  //  - q151-family (token-id vocabs, Bpe.vocabOf): `row_number() over
  //    (order by token)` on the DISTINCT BPE TOKEN set — every BPE token
  //    is a base-alphabet symbol, </w>, or one merge rule's output, so the
  //    input is ≤ |alphabet| + nMerges + 1 rows at ANY corpus size.
  private val unpartitionedWindowAllowed = Set(
    "q89_perplexity_buckets", // rankBuckets bin histogram (strata = none)
    "q151_token_ids")         // Bpe vocab ids (closed token set)

  test("no CartesianProduct anywhere; BroadcastNestedLoopJoin only where designed; unpartitioned Windows only on provably bounded inputs") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case o => o.children
      }
      p +: kids.flatMap(allNodes)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df = fn(spark, dir)
        df.write.format("noop").mode("overwrite").save() // finalize AQE plan
        val nodes = allNodes(df.queryExecution.executedPlan)
        val plan = df.queryExecution.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
          !bnljAllowed.contains(name)
        val unpartWindow = nodes.exists {
          case w: org.apache.spark.sql.execution.window.WindowExec =>
            w.partitionSpec.isEmpty
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
            w.partitionSpec.isEmpty
          case _ => false
        } && !unpartitionedWindowAllowed.contains(name)
        spark.catalog.clearCache()
        graft.operators.Dedup.release(df)
        if (cartesian) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
        else if (unpartWindow)
          Some(s"$name: unpartitioned Window on an unpinned input")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("q101 line-cap plan carries NO Window and no per-occurrence winner join") {
    // survivorship must ride the k-bounded heap boundary: no ranking window,
    // and no join keyed on more than the line (the boundary row is one per
    // distinct line)
    val df = SparkEntry.queries("q101_line_freq_cap")(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "q101 must not rank with a window")
  }

  test("q102/q103 scan-stage rows: no join, only the presentation sort shuffles") {
    for (name <- Seq("q102_text_normalize", "q103_char_entropy")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name must be join-free")
      // exactly one Exchange: the ORDER BY for the oracle's presentation
      // order — the operators themselves add zero shuffle
      val exchanges = plan.sliding("Exchange".length).count(_ == "Exchange")
      assert(exchanges == 1, s"$name expected 1 presentation Exchange, got $exchanges")
    }
  }

  test("q105 centroid join broadcasts: the corpus never sort-merge-joins") {
    val df = SparkEntry.queries("q105_embedding_outliers")(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "q105's centroid frame must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "q105 must not shuffle the corpus for the centroid join")
  }

  test("q80 line-dedup plan carries NO Window") {
    // the winner must come from the map-combinable min(struct) aggregate; a
    // Window here would mean per-line-key ranking — one task sorting an
    // entire boilerplate flood
    val df = SparkEntry.queries("q80_line_dedup")(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q80 plan regressed to a Window-based winner selection:\n$plan")
  }

  test("q157/q159 mixture plans: no corpus Window in the plan fold, one bucket-bounded Window in the materialization") {
    // q157's water-filling is one corpus aggregate + a strata-bounded
    // in-row fold — a Window here would mean the fold regressed to a
    // per-stratum running rank
    val plan157 = SparkEntry.queries("q157_epoch_plan")(spark, dir)
    plan157.write.format("noop").mode("overwrite").save()
    assert(!plan157.queryExecution.executedPlan.toString.contains("Window"),
      "q157 must not window the corpus")
    // q159's ONLY window is the fractional-epoch boundary resolution,
    // whose partition holds one hash bucket of one stratum (the
    // histogram-cutoff discipline) — more windows would mean the prefix
    // went back to ranking whole strata
    val df159 = SparkEntry.queries("q159_epoch_materialize")(spark, dir)
    df159.write.format("noop").mode("overwrite").save()
    val wins = df159.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size <= 1,
      s"q159 grew ${wins.size} windows; only the bucket-bounded boundary " +
        "resolution is allowed")
  }

  test("q66 exact quantiles plan carries NO corpus-scale Window") {
    // The survey-stats plan must be the histogram form: any Window operator
    // here would mean per-source rank selection went back to shuffling every
    // document of a source into one task (the round-4 scale defect).
    val df = SparkEntry.queries("q66_source_quantiles")(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q66 plan regressed to a Window-based rank selection:\n$plan")
  }

  test("q77 serves its persisted cells under dynamic partition pruning") {
    // the partial-probe green row must actually SERVE like the 100 TB story
    // says: cells read from cell-partitioned parquet, restricted to the
    // probed cells' directories by a runtime DPP filter — not a full scan
    val df = SparkEntry.queries("q77_ivfpq_partial_probe")(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    val cellsScan = plan.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("cells"))
    assert(cellsScan.nonEmpty, s"no persisted cells scan in q77:\n$plan")
    assert(cellsScan.exists(_.contains("dynamicpruning")),
      s"q77 cells scan is not dynamically pruned:\n${cellsScan.mkString("\n")}")
  }

  test("q141's served dense side reads its cells under dynamic partition pruning") {
    // the production hybrid must SERVE, not scan: the dense list comes off
    // the persisted IVF+PQ index, so its cell-partitioned parquet read is
    // restricted to the probed cells by a runtime DPP filter — the same
    // contract as q77, re-pinned on the fused row (r14 verdict #1)
    val df = SparkEntry.queries("q141_hybrid_served")(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    val cellsScan = plan.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("cells"))
    assert(cellsScan.nonEmpty, s"no persisted cells scan in q141:\n$plan")
    assert(cellsScan.exists(_.contains("dynamicpruning")),
      s"q141 cells scan is not dynamically pruned:\n${cellsScan.mkString("\n")}")
  }

  test("narrow projections prune parquet columns at the scan (ReadSchema)") {
    // q02 projects 4 of lineitem's 16 columns; the scan must not read the rest
    val df = SparkEntry.queries("q02_filter_project")(spark, dir)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema"))
    val readSchema = scan.substring(scan.indexOf("ReadSchema"))
    assert(!readSchema.contains("l_comment"),
      s"q02 scan reads unprojected columns: $readSchema")
  }

  test("filters reach the parquet scan as PushedFilters (q02)") {
    val df = SparkEntry.queries("q02_filter_project")(spark, dir)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [") &&
      !scan.replaceAll(".*PushedFilters: \\[([^\\]]*)\\].*\n?.*", "$1").trim.isEmpty,
      s"no pushed filters in q02 scan: $scan")
  }
}
