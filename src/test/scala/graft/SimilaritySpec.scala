package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  val corpus = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.7f, 0.3f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f)))
    .toDF("vec_id", "embedding")

  test("bruteForceTopK returns nearest-by-cosine, self excluded, ranked") {
    val out = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus, 2)
      .orderBy($"rank")
      .select($"neighbor_id", $"rank").as[(Long, Int)].collect()
    assert(out.toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("kmeansAssignReport: partition-invariant exact integer sums, exhaustive") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.kmeansAssignReport(emb.repartition(1), nCentroids = 8)
      .orderBy($"cell").as[(Long, Long, Long)].collect().toSeq
    val b = Similarity.kmeansAssignReport(emb.repartition(7), nCentroids = 8)
      .orderBy($"cell").as[(Long, Long, Long)].collect().toSeq
    assert(a == b) // integer sums: bit-identical under any partitioning
    assert(a.map(_._2).sum == emb.count()) // every vector assigned exactly once
    assert(a.forall(_._3 > 0L))
  }

  test("kmeans-refined IVF index: full probe still reproduces brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = Similarity.buildIvfIndex(emb, nCentroids = 8, refineIters = 2)
    assert(idx.centroids.count() == 8) // empty cells keep their centroid
    val queries = emb.filter($"vec_id" < 5)
    // the q58 invariant is centroid-agnostic: probing every cell of ANY
    // partitioning of the corpus must reproduce the exact ranking
    val full = Similarity.ivfSearch(idx, queries, k = 5, nProbe = 8)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = Similarity.bruteForceTopK(queries, emb, 5)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(full == brute)
  }

  test("ivfTopK: good recall vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, emb, 5, nCentroids = 8, nProbe = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    // probing half the cells must recover a solid fraction of the exact top-5
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall too low")
    assert(ivf.size == exact.size) // still returns k per query
  }

  test("ivfTopK cell assignment is map-side: no window/exchange before the cells") {
    // the ONLY windows in the whole plan are the final per-query rank — cell
    // assignment (corpus side) must be an in-row array argmax over the broadcast
    // centroid set, never a corpus-wide shuffle of nCentroids-amplified rows
    val plan = Similarity.ivfTopK(corpus.limit(1), corpus, 2, nCentroids = 2)
      .queryExecution.executedPlan.toString
    val windows = plan.split("\n").count(_.trim.startsWith("+- Window ["))
    assert(windows <= 1, s"expected at most the final ranking window:\n$plan")
    // and the corpus is never hash-exchanged on its own id (the old 16x-amplified
    // crossJoin+row_number cell assignment did exactly that)
    assert(!plan.contains("hashpartitioning(neighbor_id"), plan)
  }

  test("IvfIndex save/load round-trip serves identical results to a fresh build") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val fresh = Similarity.buildIvfIndex(emb, nCentroids = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    fresh.save(dir)
    val loaded = Similarity.IvfIndex.load(spark, dir)
    // cell-partitioned parquet: a probe prunes cell directories at the file index
    assert(new java.io.File(s"$dir/cells").listFiles
      .count(_.getName.startsWith("cell=")) == 8)
    val a = Similarity.ivfSearch(fresh, queries, 5)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val b = Similarity.ivfSearch(loaded, queries, 5)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("PQ: codebook shape, partition-invariant codes, duplicate retrieval") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val books = Similarity.pqTrain(emb, m = 4, ksub = 8, iters = 1)
    // m complete codebooks with dense ids and exact squared norms
    val shape = books.groupBy($"subspace")
      .agg(count(lit(1)).as("k"), min($"centroid_id"), max($"centroid_id"))
      .as[(Int, Long, Int, Int)].collect().toSet
    assert(shape == (0 until 4).map(s => (s, 8L, 0, 7)).toSet)
    assert(books.filter($"centn2" =!=
      graft.functions.VectorFns.dotLong($"centv", $"centv")).count() == 0)
    // codes are deterministic and partition-invariant (exact integer argmin)
    val c1 = Similarity.pqEncode(emb.repartition(1), books, m = 4)
      .as[(Long, Seq[Int])].collect().toMap
    val c7 = Similarity.pqEncode(emb.repartition(7), books, m = 4)
      .as[(Long, Seq[Int])].collect().toMap
    assert(c1 == c7)
    assert(c1.values.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 8)))
    // an exact duplicate shares all codes with its source, and ADC retrieves
    // it at rank 1 (identical codes maximize the reconstruction cosine)
    val dup = emb.filter($"vec_id" === 7L)
      .select(lit(999999L).as("vec_id"), $"embedding")
    val corpus2 = emb.unionByName(dup)
    val books2 = Similarity.pqTrain(corpus2, m = 4, ksub = 8, iters = 1)
    val enc = Similarity.pqEncode(corpus2, books2, m = 4)
    val codes = enc.filter($"neighbor_id".isin(7L, 999999L))
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes(7L) == codes(999999L))
    val top = Similarity.pqSearch(books2, enc, dup, k = 3, m = 4)
      .filter($"rank" === 1).select($"neighbor_id").as[Long].head()
    assert(top == 7L) // its twin wins rank 1 (id tie-break among equal scores)
  }

  test("IVF+PQ: full probe degrades to pqSearch over the whole encoded corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 5)
    val idx = Similarity.buildIvfPqIndex(emb, nCentroids = 8, m = 4, ksub = 8,
      iters = 1)
    // the q58 pattern, composed: probing EVERY cell must reproduce pqSearch
    // over everything — cells partition the corpus, so full probe scores each
    // (query, neighbor) pair exactly once with the same ADC arithmetic
    val full = Similarity.ivfPqSearch(idx, queries, k = 5, nProbe = 8, m = 4)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val flat = Similarity.pqSearch(idx.books,
        Similarity.pqEncode(emb, idx.books, m = 4), queries, k = 5, m = 4)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(full == flat && full.nonEmpty)
    // r7 ADVICE guard: a caller-passed m that disagrees with the index's
    // codebooks would mis-slice queries into silently-wrong cosines — it must
    // refuse loudly instead, and the default (m omitted) must derive m = 4
    val exM = intercept[IllegalArgumentException] {
      Similarity.ivfPqSearch(idx, queries, k = 5, nProbe = 8, m = 8)
    }
    assert(exM.getMessage.contains("subspaces"))
    intercept[IllegalArgumentException] {
      Similarity.ivfPqAdd(idx, queries, m = 2)
    }
    val derived = Similarity.ivfPqSearch(idx, queries, k = 5, nProbe = 8)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(derived == full)
  }

  test("IVF+PQ: metadata-filtered serving — candidates restrict, scores unchanged") {
    // the Bm25.search(allowedIds) contract on the dense side: the filtered
    // top-k is the UNFILTERED ranking restricted to the allowed ids and
    // re-ranked, with identical cosines (the ADC arithmetic sees the same
    // codes; a filter narrows who competes, never how they score). Both
    // the raw and the residual (IVFADC) scoring branches hold it.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 5)
    val evens = emb.filter($"vec_id" % 2 === 0).select($"vec_id")
    for (residual <- Seq(false, true)) {
      val idx = Similarity.buildIvfPqIndex(emb, nCentroids = 8, m = 4,
        ksub = 8, iters = 1, residual = residual)
      val filtered = Similarity.ivfPqSearch(idx, queries, k = 5,
          nProbe = 8, allowedIds = evens)
        .select($"query_id", $"neighbor_id", round($"cosine", 9), $"rank")
        .as[(Long, Long, Double, Int)].collect().toSeq
        .sortBy(r => (r._1, r._4))
      val full = Similarity.ivfPqSearch(idx, queries, k = 1000, nProbe = 8)
        .select($"query_id", $"neighbor_id", round($"cosine", 9), $"rank")
        .as[(Long, Long, Double, Int)].collect().toSeq
      val expected = full.filter(_._2 % 2 == 0)
        .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          rows.sortBy(_._4).take(5).zipWithIndex
            .map { case (r, i) => (r._1, r._2, r._3, i + 1) }
        }.sortBy(r => (r._1, r._4))
      assert(filtered == expected && filtered.nonEmpty,
        s"residual=$residual")
      assert(filtered.forall(_._2 % 2 == 0))
      // per-query GOLD exclusion (dense hard negatives): drop each
      // query's own top hit — the result is the unfiltered ranking minus
      // those pairs, re-ranked, cosines unchanged
      val gold = full.filter(_._4 == 1).map(r => (r._1, r._2))
      val mined = Similarity.ivfPqSearch(idx, queries, k = 5, nProbe = 8,
          excludePairs = gold.toDF("q", "n"))
        .select($"query_id", $"neighbor_id", round($"cosine", 9), $"rank")
        .as[(Long, Long, Double, Int)].collect().toSeq
        .sortBy(r => (r._1, r._4))
      val goldSet = gold.toSet
      val minedWant = full.filterNot(r => goldSet.contains((r._1, r._2)))
        .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          rows.sortBy(_._4).take(5).zipWithIndex
            .map { case (r, i) => (r._1, r._2, r._3, i + 1) }
        }.sortBy(r => (r._1, r._4))
      assert(mined == minedWant && mined.nonEmpty, s"residual=$residual")
      assert(mined.forall(r => !goldSet.contains((r._1, r._2))))
    }
  }

  test("IVF+PQ: planted duplicates retrieved at rank 1 under a partial probe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    // plant exact duplicates: identical vectors land in the same coarse cell
    // (argmax ties break identically) and share all PQ codes, so a partial
    // probe must still retrieve each twin at rank 1
    val dups = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val corpus2 = emb.unionByName(dups)
    val idx = Similarity.buildIvfPqIndex(corpus2, nCentroids = 8, m = 4,
      ksub = 8, iters = 1)
    val hits = Similarity.ivfPqSearch(idx, dups, k = 3, nProbe = 2, m = 4)
      .filter($"rank" === 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    assert((0L until 5L).forall(i => hits(i + 1000000L) == i),
      s"twins not at rank 1: $hits")
    // and recall vs the EXACT (unquantized) ranking stays solid at half the
    // cells probed — the composed error budget is coarse-probe misses plus PQ
    // reconstruction error, so the bar matches the IVF-only test's
    val exact = Similarity.bruteForceTopK(dups, corpus2, 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.ivfPqSearch(idx, dups, k = 3, nProbe = 4, m = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF+PQ recall $recall too low")
  }

  test("IvfPqIndex save/load round-trip serves identical results, cells pruned") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 5)
    val fresh = Similarity.buildIvfPqIndex(emb, nCentroids = 8, m = 4,
      ksub = 8, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    fresh.save(dir)
    val loaded = Similarity.IvfPqIndex.load(spark, dir)
    assert(new java.io.File(s"$dir/cells").listFiles
      .count(_.getName.startsWith("cell=")) == 8)
    // the persisted store holds codes, not vectors — the serving footprint
    assert(loaded.cells.columns.toSet == Set("neighbor_id", "codes", "cell"))
    val a = Similarity.ivfPqSearch(fresh, queries, 5, nProbe = 4)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val b = Similarity.ivfPqSearch(loaded, queries, 5, nProbe = 4)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  /** 16 tight block-direction clusters with deterministic in-row jitter, no
    * RNG — the regime residual (IVFADC) encoding exists for. */
  private def clusteredEmb = {
    val rows = Seq.tabulate(400) { i =>
      val cluster = i % 16
      val v = Array.tabulate(64) { d =>
        val base = if (d / 4 == cluster) 1.0f else 0.0f
        base + 0.05f * math.sin(1.0 + i * 0.7 + d * 2.3).toFloat
      }
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / n))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("buildIvfPqIndexAuto measures the residual dial instead of asking") {
    // the documented per-corpus manual pick, made empirical: on the clustered
    // corpus (coarse cells explain the structure, residuals concentrate near
    // zero) the sample probe must choose residual encoding; on the driver's
    // near-uniform unit-sphere embeddings under the DEFAULT seed coarse
    // quantizer (centroids are corpus vectors, so |x − c|² = 2 − 2cosθ > |x|²
    // at measured best-centroid cosine ~0.22) it must keep raw. The seed-vs-
    // refined distinction is itself a measured finding: Lloyd-refined
    // centroids are cell MEANS with tiny norm on a uniform sphere, which
    // drags residual energy marginally below raw — the dial follows the
    // measurement for the build configuration it is given, which is exactly
    // why it must be measured and not asserted from corpus shape alone.
    val autoClustered = Similarity.buildIvfPqIndexAuto(clusteredEmb,
      nCentroids = 16, m = 4, ksub = 8, iters = 1, refineIters = 2)
    assert(autoClustered.residual,
      "auto did not pick residual encoding on the clustered corpus")
    val uniform = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val autoUniform = Similarity.buildIvfPqIndexAuto(uniform,
      nCentroids = 16, m = 4, ksub = 8, iters = 1)
    assert(!autoUniform.residual,
      "auto did not keep raw encoding on the near-uniform corpus")
    // the auto build is the ordinary build in the measured mode: identical
    // serving artifacts to an explicit residual=true build, bit for bit
    val manual = Similarity.buildIvfPqIndex(clusteredEmb, nCentroids = 16,
      m = 4, ksub = 8, iters = 1, refineIters = 2, residual = true)
    val a = autoClustered.cells.select($"neighbor_id", $"codes", $"cell")
      .as[(Long, Seq[Int], Long)].collect().toSet
    val b = manual.cells.select($"neighbor_id", $"codes", $"cell")
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(a == b && a.nonEmpty,
      "auto build diverged from the explicit build in the same mode")
  }

  test("IVFADC residual encoding: strictly better reconstruction, same serving cost") {
    // residual encoding wins exactly when the coarse quantizer explains the
    // corpus' structure (residuals concentrate near zero, so the codebooks
    // spend their resolution on what the cells missed). The driver's
    // synthetic embeddings are near-uniform on the sphere (measured mean
    // best-cosine to even the TRUE label centroids is 0.22, so |x − c|² =
    // 2 − 2cosθ > |x|² for every achievable c — residuals are LARGER than
    // the vectors, and no encoding can fix that); the spec therefore
    // constructs the clustered regime the technique exists for: 16 tight
    // block-direction clusters with deterministic in-row jitter, no RNG.
    val emb = clusteredEmb
    val raw = Similarity.buildIvfPqIndex(emb, nCentroids = 16, m = 4, ksub = 8,
      iters = 1, refineIters = 2)
    val res = Similarity.buildIvfPqIndex(emb, nCentroids = 16, m = 4, ksub = 8,
      iters = 1, refineIters = 2, residual = true)
    // exact integer reconstruction error, computed off the serving artifacts
    // alone (codes + books + centroids — the vectors never re-enter)
    val truth = emb.select($"vec_id",
        transform($"embedding", x => round(x.cast("double") * 1e6).cast("long"))
          .as("cv"))
      .as[(Long, Seq[Long])].collect().toMap
    def sqErr(idx: Similarity.IvfPqIndex): Long = {
      val books = idx.books
        .select($"subspace", $"centroid_id", $"centv")
        .as[(Int, Int, Seq[Long])].collect()
        .map { case (s, c, v) => (s, c) -> v }.toMap
      val cents = idx.centroids.select($"centroid_id", $"centv")
        .as[(Long, Seq[Long])].collect().toMap
      idx.cells.select($"neighbor_id", $"codes", $"cell")
        .as[(Long, Seq[Int], Long)].collect().map { case (id, codes, cell) =>
          val decoded = codes.zipWithIndex.flatMap { case (c, s) => books((s, c)) }
          val recon = if (!idx.residual) decoded
            else cents(cell).zip(decoded).map { case (a, b) => a + b }
          truth(id).zip(recon).map { case (x, r) =>
            val d = x - r; d * d }.sum
        }.sum
    }
    val rawErr = sqErr(raw)
    val resErr = sqErr(res)
    assert(resErr < rawErr,
      s"residual encoding did not improve reconstruction: $resErr vs $rawErr")
    // planted exact duplicates: identical vectors share cell AND residual
    // codes, and in the regime where residual encoding is the right tool
    // (clustered corpus, reconstructions retain signal) a partial probe
    // retrieves each twin at rank 1. (On the near-uniform corpus NO pq
    // variant's reconstruction retains rank-1 signal — the raw form's twin
    // test above holds because raw codes tie exactly, a weaker property.)
    val dups = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val idx2 = Similarity.buildIvfPqIndex(emb.unionByName(dups),
      nCentroids = 16, m = 4, ksub = 8, iters = 1, refineIters = 2,
      residual = true)
    val hits = Similarity.ivfPqSearch(idx2, dups, k = 3, nProbe = 2, m = 4)
      .filter($"rank" === 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    assert((0L until 5L).forall(i => hits(i + 1000000L) == i),
      s"twins not at rank 1 under residual ADC: $hits")
    // save/load round-trips the residual flag and serves identical results
    val dir = java.nio.file.Files.createTempDirectory("ivfadc").toString
    res.save(dir)
    val loaded = Similarity.IvfPqIndex.load(spark, dir)
    assert(loaded.residual)
    val queries = emb.filter($"vec_id" < 5)
    // (res was built on the clustered corpus; queries come from it too)
    val a = Similarity.ivfPqSearch(res, queries, 5, nProbe = 4)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val b = Similarity.ivfPqSearch(loaded, queries, 5, nProbe = 4)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("serving a persisted IVF+PQ index dynamically prunes cell partitions") {
    // the 100 TB serving claim made checkable: with cells stored as
    // cell-partitioned parquet and probes broadcast, Spark's dynamic
    // partition pruning restricts the corpus SCAN to the probed cells'
    // directories — a partial probe reads a partial index off disk, not all
    // of it. Asserted on the executed plan, not hoped for.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpqdpp").toString
    Similarity.buildIvfPqIndex(emb, nCentroids = 8, m = 4, ksub = 8,
      iters = 1).save(dir)
    val loaded = Similarity.IvfPqIndex.load(spark, dir)
    val out = Similarity.ivfPqSearch(loaded, emb.filter($"vec_id" < 3),
      k = 3, nProbe = 2)
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
    val cellsScan = plan.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("cells"))
    assert(cellsScan.nonEmpty, s"no cells scan found:\n$plan")
    assert(cellsScan.exists(_.contains("dynamicpruning")),
      s"cells scan is not dynamically pruned:\n${cellsScan.mkString("\n")}")
  }

  test("ivfPqAdd: increment reproduces the twin rows exactly, raw and residual") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    for (res <- Seq(false, true)) {
      val idx = Similarity.buildIvfPqIndex(emb, nCentroids = 8, m = 4,
        ksub = 8, iters = 1, residual = res)
      // re-admit every indexed vector under a shifted id: deterministic
      // assignment + encoding under the FROZEN quantizers must reproduce each
      // twin's (cell, codes) bit-for-bit — the add path IS the build path
      val batch = emb.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      val grown = Similarity.ivfPqAdd(idx, batch, m = 4)
      val rows = grown.cells.select($"neighbor_id", $"codes", $"cell")
        .as[(Long, Seq[Int], Long)].collect()
      assert(rows.length == 2 * emb.count())
      val byId = rows.map(r => r._1 -> (r._2, r._3)).toMap
      assert(byId.keys.count(_ >= 1000000L) == emb.count())
      assert(byId.forall { case (id, v) =>
        byId(if (id >= 1000000L) id - 1000000L else id + 1000000L) == v },
        s"added rows diverged from their twins (residual=$res)")
      // the quantizers are untouched and the original rows are byte-identical
      assert(grown.books.collect().toSet == idx.books.collect().toSet)
      // and the grown index serves: each added twin is retrieved at rank 1
      // under a full probe (identical codes score identically; the id
      // tie-break names the twin). Raw form only — on this near-uniform
      // corpus residual reconstructions retain no rank-1 signal (the
      // documented buildIvfPqIndex caveat; the clustered-corpus IVFADC spec
      // covers residual retrieval where the technique applies).
      if (!res) {
        val hits = Similarity.ivfPqSearch(grown,
            batch.filter($"vec_id" < 1000005L), k = 1, nProbe = 8, m = 4)
          .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toMap
        assert((0L until 5L).forall(i => hits(i + 1000000L) == i),
          s"twin not rank-1 after add: $hits")
      }
    }
  }

  test("ivfPqRemove: forget tick == rebuild under frozen quantizers, serve == exclusion") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    for (res <- Seq(false, true)) {
      val cents = Similarity.kmeansCentroids(emb, nCentroids = 8, iters = 1)
      val full = Similarity.buildIvfPqIndexFrom(emb, cents, m = 4, ksub = 8,
        iters = 1, residual = res)
      val doomed = emb.filter($"vec_id" % 5 === 3).select($"vec_id")
      val kept = Similarity.ivfPqRemove(full, doomed)
      // bit-for-bit: removing == re-encoding the surviving corpus under the
      // SAME frozen quantizers (the Bm25Spec rebuild-equality pattern; books
      // must not retrain — a raw rebuild would learn different codebooks)
      val surviving = emb.filter($"vec_id" % 5 =!= 3)
      val reEnc = Similarity.ivfPqAdd(
        full.copy(cells = full.cells.limit(0)), surviving, m = 4)
      def cellRows(i: Similarity.IvfPqIndex) =
        i.cells.select($"neighbor_id", $"codes", $"cell")
          .as[(Long, Seq[Int], Long)].collect().sortBy(_._1).toSeq
      assert(cellRows(kept) == cellRows(reEnc))
      assert(kept.books.collect().toSet == full.books.collect().toSet)
      // unknown ids no-op
      assert(cellRows(Similarity.ivfPqRemove(kept,
        Seq(424242L).toDF("vec_id"))) == cellRows(kept))
      // serving the forgotten index == metadata-EXCLUDING the doomed ids on
      // the full index: same codes, same ADC arithmetic, same ranks
      val qs = emb.filter($"vec_id" < 5L)
      def hits(df: org.apache.spark.sql.DataFrame) =
        df.select($"query_id", $"neighbor_id", $"rank")
          .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
      assert(hits(Similarity.ivfPqSearch(kept, qs, k = 5, nProbe = 8)) ==
        hits(Similarity.ivfPqSearch(full, qs, k = 5, nProbe = 8,
          allowedIds = surviving.select($"vec_id"))),
        s"forgotten-index serving diverged from exclusion (residual=$res)")
      // the maintained artifact round-trips storage like any build
      val dir = java.nio.file.Files.createTempDirectory("ivfpqrm").toString
      kept.save(dir)
      val loaded = Similarity.IvfPqIndex.load(spark, dir)
      assert(hits(Similarity.ivfPqSearch(loaded, qs, k = 5, nProbe = 8)) ==
        hits(Similarity.ivfPqSearch(kept, qs, k = 5, nProbe = 8)))
    }
  }

  test("partial-probe recall floors: routing >= 0.95, IVFADC end-to-end >= 0.9") {
    // 32 planted clusters x 40 jittered members (deterministic trig noise,
    // no RNG): a member's true top-10 are its siblings. Two floors, for
    // the two dials that trade recall, measured instead of asserted
    // (full-probe bit-equality — q58/q72 — cannot see either):
    //  1. ROUTING (the nProbe dial): exact in-cell scoring at nProbe=4
    //     must retrieve >= 0.95 of the true top-10 — what a partial probe
    //     loses is candidates in unprobed cells, nothing else.
    //  2. END-TO-END (the PQ budget): the quality dial (m=16, ksub=64,
    //     residual — the IVFADC form, which spends code resolution on the
    //     within-cluster jitter that raw encoding ties away) must hold
    //     >= 0.9 against the EXACT ranking. Measured here: raw m=4/ksub=16
    //     scores every sibling identically and recall collapses to the
    //     tie-break (~0.15) — the recall a user buys back with the
    //     residual/m/ksub dials is real and large.
    // BASELINE.md records the same census at sf1/sf10.
    val corpus = (0 until 32).flatMap { c =>
      (0 until 40).map { j =>
        (c * 40L + j, Array.tabulate(64) { d =>
          (math.sin(c * 1.7 + d * 0.3) +
            0.3 * math.sin(j * 1.3 + d * 0.7)).toFloat
        })
      }
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 40 === 0)
    val truth = Similarity.bruteForceTopK(queries, corpus, 10)
      .select($"query_id", $"neighbor_id")
    val denom = truth.count().toDouble
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select($"query_id", $"neighbor_id")
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .count() / denom
    val ivf = Similarity.buildIvfIndex(corpus, nCentroids = 16,
      refineIters = 2)
    val routing = recallOf(Similarity.ivfSearch(ivf, queries, k = 10,
      nProbe = 4))
    assert(routing >= 0.95, f"routing recall@10 at nProbe=4: $routing%.3f")
    val idx = Similarity.buildIvfPqIndex(corpus, nCentroids = 16, m = 16,
      ksub = 64, iters = 2, refineIters = 2, residual = true)
    val e2e = recallOf(Similarity.ivfPqSearch(idx, queries, k = 10,
      nProbe = 4, m = 16))
    assert(e2e >= 0.9, f"IVFADC recall@10 at nProbe=4: $e2e%.3f")
  }

  test("centroidCosine: integer-mean centroids, outlier tail, partition-invariant") {
    // group 10: two orthogonal unit vectors -> centroid (.5, .5, 0), each
    // member at cos 1/sqrt(2); group 20: three aligned members and one
    // flipped -> the flipped member is the low tail; singleton group -> 1.0
    val rows = Seq(
      (1L, Array(1f, 0f, 0f), 10),
      (2L, Array(0f, 1f, 0f), 10),
      (3L, Array(1f, 0f, 0f), 20),
      (4L, Array(1f, 0f, 0f), 20),
      (5L, Array(1f, 0f, 0f), 20),
      (6L, Array(-1f, 0f, 0f), 20),
      (7L, Array(0f, 0f, 2f), 30))
    for (parts <- Seq(1, 4)) {
      val got = Similarity.centroidCosine(
          rows.toDF("vec_id", "embedding", "label").repartition(parts),
          "vec_id", "embedding", Seq("label"))
        .select($"vec_id", $"n_members", $"cosine")
        .as[(Long, Long, Double)].collect().sortBy(_._1)
      assert(got.map(r => (r._1, r._2)) ===
        Array((1L, 2L), (2L, 2L), (3L, 4L), (4L, 4L), (5L, 4L), (6L, 4L),
          (7L, 1L)))
      val cos = got.map(r => r._1 -> r._3).toMap
      assert(math.abs(cos(1L) - 1.0 / math.sqrt(2.0)) < 1e-9)
      assert(math.abs(cos(2L) - 1.0 / math.sqrt(2.0)) < 1e-9)
      // group 20 centroid = mean(3·(1,0,0) + (-1,0,0)) = (.5, 0, 0)
      assert(cos(3L) === 1.0 && cos(6L) === -1.0)
      assert(cos(7L) === 1.0)
    }
  }

  test("lshTopK recall: exact-duplicate vectors always share a bucket") {
    val withDup = corpus.union(Seq((5L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding"))
    val out = Similarity.lshTopK(withDup.filter($"vec_id" === 5), withDup, 3,
      nPlanes = 6)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(out.contains(0L)) // identical vector -> identical signature -> found
  }
}
