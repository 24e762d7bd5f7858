package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionCache

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again", "en"),
    (2L, "the quick brown fox jumps over the lazy dog again and again", "en"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again", "en"), // near dup of 1
    (4L, "completely different content about databases and query engines", "en"),
    (5L, "der schnelle braune fuchs springt wirklich sehr hoch hinaus", "de"))
    .toDF("doc_id", "text", "lang")

  test("exact dedup groups identical normalized content, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == 4)
    val dupGroup = out.filter($"n_copies" === 2)
    assert(dupGroup.count() == 1)
    assert(dupGroup.select($"canonical_id").as[Long].head() == 1L)
  }

  test("ngram jaccard finds the near-dup pair, not the distinct ones") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, Seq("lang"))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical -> jaccard 1
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // one-word diff
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH surfaces the same near-dups with exact-jaccard verification") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L)))
    val j12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(j12 == 1.0) // identical docs
    assert(!ids.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical docs have distance 0; near-dups are close") {
    val sig = Dedup.simhash64(docs, "doc_id", "text")
    val m = sig.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    val ham13 = java.lang.Long.bitCount(m(1L) ^ m(3L))
    val ham14 = java.lang.Long.bitCount(m(1L) ^ m(4L))
    assert(ham13 < ham14) // near-dup closer than unrelated
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("native in-row simhash64 == exploded-aggregate reference (incl. non-ASCII)") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .unionByName(Seq(
        (90001L, "emoji 😀 and 🚀 pairs"),
        (90002L, "  "),          // token-less: must yield NO row in both forms
        (90003L, "the the the"), // multiplicity matters
        (90004L, "这 是 中文")).toDF("doc_id", "text"))
    val nat = Dedup.simhash64(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val ref = Dedup.simhash64Agg(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(nat == ref)
    assert(!nat.contains(90002L))
  }

  test("ngram jaccard output identical to all-pairs enumeration (prefix superset proof)") {
    // brute-force expectation: every pair in the same lang, exact jaccard >= t
    graft.functions.SortedIntersectCount.register(spark)
    val sh = docs.select($"doc_id", $"lang",
      graft.functions.TextFns.sortedHashedShingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
    val brute = sh.as("x").join(sh.as("y"),
        $"x.lang" === $"y.lang" && $"x.doc_id" < $"y.doc_id")
      .withColumn("inter",
        graft.functions.SortedIntersectCount($"x.sh", $"y.sh"))
      .withColumn("j", $"inter".cast("double") /
        (size($"x.sh") + size($"y.sh") - $"inter").cast("double"))
      .filter($"j" >= 0.5)
      .select($"x.doc_id", $"y.doc_id", round($"j", 9))
      .as[(Long, Long, Double)].collect().toSet
    val fast = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, Seq("lang"))
      .select($"id_a", $"id_b", round($"jaccard", 9))
      .as[(Long, Long, Double)].collect().toSet
    assert(fast == brute)
  }

  test("df-ordered prefix route: identical pair set, auto-trips on low-diversity floods") {
    def withDial[A](v: String)(body: => A): A = {
      val prior = spark.conf.getOption(Dedup.FloodAvgBucketKey)
      spark.conf.set(Dedup.FloodAvgBucketKey, v)
      try body finally prior match {
        case Some(p) => spark.conf.set(Dedup.FloodAvgBucketKey, p)
        case None => spark.conf.unset(Dedup.FloodAvgBucketKey)
      }
    }
    def pairs() = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
        Seq("lang")).select($"id_a", $"id_b", round($"jaccard", 9))
      .as[(Long, Long, Double)].collect().toSet
    // any total token order yields the same verified pairs: forced df order
    // (dial <= 0) == forced hash order (huge dial) on the standard fixture
    val hashPairs = withDial(Long.MaxValue.toString)(pairs())
    val dfPairs = withDial("0")(pairs())
    assert(dfPairs == hashPairs && hashPairs.nonEmpty)
    // and across the BETWEEN form (incremental admission)
    val newDocs = Seq((100L,
      "the quick brown fox jumps over the lazy dog again and again", "en"))
      .toDF("doc_id", "text", "lang")
    def admits() = Dedup.incrementalJaccardMatches(docs, newDocs,
        "doc_id", "text", 3, 0.5, Seq("lang"))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(withDial("0")(admits()) == withDial(Long.MaxValue.toString)(admits()))

    // LOW-DIVERSITY flood (the r12 WARC-drive discovery): ~3k docs over a
    // 14-stem vocabulary + one doc-unique token each. True near-dup pairs:
    // zero. Hash-ordered prefixes bucket on the ~2.7k common shingles and
    // the candidate join goes quadratic (measured: 118M candidates / >9 min
    // at 20k docs; 2.69M already at this n); df-ordered prefixes fill with
    // the doc-unique shingles and the join collapses. The sampled
    // second-moment probe must AUTO-detect the regime (mean df is ~1 here —
    // a mean-based probe provably misses it); its cost ratio grows linearly
    // in n (~20 at n=3000, ~135 at n=20000 where the default dial of 64
    // trips, measured at that n), so the spec pins the trip mechanism at an
    // explicit low dial to stay fast.
    val flood = spark.range(3000).as[Long]
      .map(d => (d, DedupSpec.docText(d))).toDF("doc_id", "text")
    withDial("8") {
      val cand = Dedup.ngramPrefixCandidates(flood, "doc_id", "text", 3, 0.8, Nil)
      assert(cand.count() < 100000) // hash order emits 2.69M at this n
      val auto = Dedup.ngramJaccardPairs(flood, "doc_id", "text", 3, 0.8, Nil)
      assert(auto.count() == 0)
    }
    // and the probe must NOT trip the standard fixture at the default dial
    // (plans unchanged for healthy corpora — pinned by the bench bands too)
    assert(pairs() == hashPairs)
  }

  test("prefix-filter candidate generation is sub-quadratic on unrelated docs") {
    // 60 unrelated docs in ONE block: all-pairs would enumerate 1770 candidates;
    // prefix filtering joins on shared shingle tokens, of which there are none
    val unrelated = (0 until 60).map(i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i", "en"))
      .toDF("doc_id", "text", "lang")
    val cand = Dedup.ngramPrefixCandidates(unrelated, "doc_id", "text", 3, 0.5,
      Seq("lang"))
    assert(cand.count() == 0)
    // sanity: injecting one near-dup makes exactly that candidate (+its verify hit)
    val withDup = unrelated.union(Seq(
      (100L, "alpha7 beta7 gamma7 delta7 epsilon7 zeta7 theta", "en"))
      .toDF("doc_id", "text", "lang"))
    val cand2 = Dedup.ngramPrefixCandidates(withDup, "doc_id", "text", 3, 0.5,
      Seq("lang")).as[(Long, Long)].collect().toSet
    assert(cand2.contains((7L, 100L)) && cand2.size < 10)
  }

  test("simhash banding recall guarantee holds for wide radii (pigeonhole bands)") {
    // distance-10 pair engineered to differ in EVERY 16-bit quarter — the old
    // fixed 4x16 banding missed it; maxHamming+1 pigeonhole bands must catch it
    val bitsApart = Seq(0, 1, 2, 16, 17, 32, 33, 48, 49, 50)
    val y = bitsApart.map(1L << _).reduce(_ | _)
    val sig = Seq((1L, 0L), (2L, y)).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashBandPairs(sig, "doc_id", maxHamming = 12)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 10L)))
    // and the exact Hamming filter still rejects pairs beyond the radius
    assert(Dedup.simhashBandPairs(sig, "doc_id", maxHamming = 9).count() == 0)
    // the CROSS-corpus admission form inherits the same guarantee, emits
    // each pair once (first-shared-band), and never pairs corpus × corpus;
    // identical corpus signatures contract to their min-id representative
    // (the flood guard, default ON — exact for matching)
    val corpus = Seq((1L, 0L), (5L, 0L)).toDF("doc_id", "simhash") // 5 dups 1
    val incoming = Seq((2L, y), (3L, ~0L)).toDF("doc_id", "simhash")
    val m = Dedup.simhashBandMatchesBetween(incoming, corpus, "doc_id", 12)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)]
      .collect().toSet
    assert(m == Set((2L, 1L, 10L))) // 3 is 64 away; 5 rides its representative 1
    // collapse OFF enumerates every duplicate holder
    val mAll = Dedup.simhashBandMatchesBetween(incoming, corpus, "doc_id", 12,
        collapseIdenticalCorpus = false)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)]
      .collect().toSet
    assert(mAll == Set((2L, 1L, 10L), (2L, 5L, 10L)))
  }

  test("minhash in-row signature (sketchCol) == MinHashSketch aggregate") {
    graft.functions.MinHashSketch.register(spark)
    val viaAgg = Dedup.minhashSignature(docs, "doc_id", "text", 3, 64)
      .select($"__id", $"sig")
    val viaCol = docs.select($"doc_id".as("__id"),
        graft.functions.TextFns.sortedHashedShingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
      .select($"__id", graft.functions.MinHashSketch.sketchCol($"sh", 64).as("sig"))
    val agg = viaAgg.as[(Long, Seq[Long])].collect().toMap
    val col = viaCol.as[(Long, Seq[Long])].collect().toMap
    assert(agg == col)
  }

  test("prefix candidates are duplicate-free without any distinct/aggregate stage") {
    // real corpus, q23's config: near-dup pairs share MANY prefix tokens, so the
    // token equi-join matches each pair repeatedly — the first-shared-token gate
    // must emit exactly one candidate per pair with no dedupe shuffle in the plan
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter($"doc_id" < 2000)
    val cand = Dedup.ngramPrefixCandidates(corpus, "doc_id", "text", 3, 0.5, Seq("lang"))
    val pairs = cand.as[(Long, Long)].collect().toSeq
    assert(pairs.nonEmpty)
    assert(pairs.size == pairs.toSet.size, "duplicate candidate pairs emitted")
    val aggs = cand.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      case d: org.apache.spark.sql.catalyst.plans.logical.Distinct => d
    }
    assert(aggs.isEmpty, s"candidate plan contains a dedupe stage: $aggs")
  }

  test("dedupedCorpus keeps one survivor per near-dup cluster, min id wins") {
    val out = Dedup.dedupedCorpus(docs, "doc_id", "text", 3, 0.5, Seq("lang"))
      .select($"doc_id").as[Long].collect().toSet
    // {1,2,3} cluster -> survivor 1; 4 and 5 unpaired -> survive
    assert(out == Set(1L, 4L, 5L))
  }

  test("survivorsBy: the best-scored cluster member wins, singletons survive, ties break on id") {
    val corpus = Seq(
      (1L, 30L), (2L, 90L), (3L, 90L), // one cluster: 2 and 3 tie on score
      (4L, 10L),                       // labeled singleton cluster
      (5L, 1L))                        // unlabeled -> own singleton
      .toDF("doc_id", "quality")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("id", "component")
    val out = Dedup.survivorsBy(corpus, "doc_id", labels, $"quality")
      .as[(Long, Long)].collect().toSet
    // cluster {1,2,3}: score 90 ties between 2 and 3 -> min id 2 wins
    assert(out == Set((2L, 90L), (4L, 10L), (5L, 1L)))
    // degenerate: keeping by min id itself == the composites' default rule
    val minId = Dedup.survivorsBy(corpus, "doc_id", labels, -$"doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 4L, 5L))
  }

  test("survivorsBy: STRING ids — every unlabeled doc is its own singleton") {
    // under the old cast("long") fallback every unlabeled url-keyed doc
    // went NULL and collapsed into ONE cluster: silent corpus loss
    val corpus = Seq(("http://a.test/1", 10L), ("http://a.test/2", 20L),
        ("http://a.test/3", 30L), ("http://b.test/1", 5L))
      .toDF("url", "quality")
    val labels = Seq(("http://a.test/1", 1L), ("http://a.test/2", 1L))
      .toDF("id", "component")
    val out = Dedup.survivorsBy(corpus, "url", labels, $"quality")
      .select($"url").as[String].collect().toSet
    // cluster keeps its best; BOTH unlabeled docs survive individually
    assert(out == Set("http://a.test/2", "http://a.test/3",
      "http://b.test/1"))
  }

  test("embedding cosine pairs: injected duplicate vector found, blocking respected") {
    val embs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.999f, 0.01f, 0.0f, 0.0f), 0), // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),    // orthogonal
      (4L, Array(1.0f, 0.0f, 0.0f, 0.0f), 1))    // dup of 1 but other block
      .toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", 0.95,
      Seq("label"), lshPlanes = 0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // (1,4) blocked away, (1,3) dissimilar
  }

  test("cosine dedupedCorpus: default LSH route == exact route on duplicate corpus") {
    // duplicate-injected corpus: every vector appears twice (identical copies
    // agree on every hyperplane, so the banded route recovers them
    // deterministically); survivor sets of the default (LSH) and exact
    // (lshPlanes = 0) routes must be identical
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(150).select($"vec_id", $"embedding")
    val corpus = base.unionByName(
      base.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    val viaLsh = Dedup.dedupedCorpusByEmbedding(corpus, "vec_id", "embedding",
      threshold = 0.999)
      .select($"vec_id").as[Long].collect().toSet
    val viaExact = Dedup.dedupedCorpusByEmbedding(corpus, "vec_id", "embedding",
      threshold = 0.999, Nil, lshPlanes = 0)
      .select($"vec_id").as[Long].collect().toSet
    assert(viaLsh == viaExact)
    // every injected copy is doomed; every original survives
    assert(viaLsh == base.select($"vec_id").as[Long].collect().toSet)
  }

  test("incremental embedding admission: copies rejected, novel admitted, LSH == exact") {
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val corpus = base.filter($"vec_id" % 2 === 0)
    val copies = corpus.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val novel = base.filter($"vec_id" % 2 === 1)
      .select(($"vec_id" + 2000000L).as("vec_id"), $"embedding")
    val incoming = copies.unionByName(novel)
    // the production (banded) route and the exact route must agree: identical
    // vectors agree on every hyperplane band, and at 0.98 no natural cross
    // pair qualifies
    val viaLsh = Dedup.admitNewByEmbedding(corpus, incoming, "vec_id",
      "embedding", 0.98).select($"vec_id").as[Long].collect().toSet
    val viaExact = Dedup.admitNewByEmbedding(corpus, incoming, "vec_id",
      "embedding", 0.98, Nil, lshPlanes = 0)
      .select($"vec_id").as[Long].collect().toSet
    assert(viaLsh == viaExact)
    assert(viaLsh == novel.select($"vec_id").as[Long].collect().toSet)
    // the matches frame points every copy at its corpus source
    val m = Dedup.incrementalEmbeddingMatches(corpus, copies, "vec_id",
      "embedding", 0.98).select($"id_a", $"id_b").as[(Long, Long)]
      .collect().toSet
    assert(m.map(_._1) == copies.select($"vec_id").as[Long].collect().toSet)
    assert(m.forall { case (a, b) => a == b + 1000000L })
  }

  test("oversized-bucket star collapse: identical-doc flood stays linear (MinHash)") {
    // 10^4 identical docs put the whole corpus into ONE (band, hash) bucket of
    // every band — all-pairs would be 5*10^7 candidates in a single shuffle
    // partition. The star collapse emits k-1 representative-anchored pairs.
    val flood = spark.range(10000).select($"id".as("doc_id"),
      lit("the same document text repeated verbatim across this flood corpus").as("text"))
    val pairs = Dedup.minhashLshPairs(flood, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5, maxBucket = 256)
      .select($"id_a", $"id_b", $"jaccard")
    val rows = pairs.collect()
    assert(rows.length == 9999) // linear star, not the quadratic pair space
    assert(rows.forall(r => r.getLong(0) == 0L)) // anchored at the min-id rep
    assert(rows.forall(r => r.getDouble(2) == 1.0))
  }

  test("oversized-bucket star collapse fires by DEFAULT in the cosine composite") {
    val vec = Array.tabulate(8)(i => 0.1f * (i + 1))
    val flood = spark.range(10000).select($"id".as("vec_id"),
      typedLit(vec).as("embedding"))
    // default maxBucket = 4096 < 10^4: the flood takes the star path and the
    // composite resolves the one cluster without enumerating 5*10^7 pairs
    val out = Dedup.dedupedCorpusByEmbedding(flood, "vec_id", "embedding",
      threshold = 0.98)
    assert(out.select($"vec_id").as[Long].collect().toSeq == Seq(0L))
  }

  test("simhash star collapse (opt-in) emits within-radius representative pairs") {
    val flood = spark.range(5000).select($"id".as("doc_id"),
      lit("identical content for the simhash flood pathological case").as("text"))
    val pairs = Dedup.simhashPairs(flood, "doc_id", "text",
      maxHamming = 3, maxBucket = 128)
    val rows = pairs.select($"id_a", $"id_b", $"hamming").collect()
    assert(rows.length == 4999)
    assert(rows.forall(r => r.getLong(0) == 0L && r.getInt(2) == 0))
  }

  test("long-document corpus flips to the array-free candidate strategy, same pairs") {
    // 1200-word docs at t=0.5 give ~600-token prefixes: the dup-free join's
    // O(p^2) per-doc array payload is the wrong trade there, so the probe
    // switches to single-token rows + dropDuplicates. Same candidate SET:
    // 3 groups of 60 identical docs must yield exactly the within-group pairs.
    val words = (g: Int) => (0 until 1200).map(j => s"t${g}_$j").mkString(" ")
    val docs = spark.range(180).select($"id".as("doc_id"),
      when(pmod($"id", lit(3)) === 0, words(0))
        .when(pmod($"id", lit(3)) === 1, words(1)).otherwise(words(2)).as("text"))
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, blockCols = Nil)
    val rows = pairs.select($"id_a", $"id_b", $"jaccard").collect()
    assert(rows.length == 3 * 60 * 59 / 2) // all within-group pairs, no dups
    assert(rows.forall(_.getDouble(2) == 1.0))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
    assert(rows.forall(r => (r.getLong(0) - r.getLong(1)) % 3 == 0)) // same group
  }

  test("CC variants: adversarial 10^4-node chain converges in logarithmic rounds") {
    // a path graph is the worst case for label propagation (diameter = n);
    // pointer jumping bounds the default loop at ~log2(n) rounds and the
    // large/small-star variant is O(log^2 n) regardless of diameter
    val chain = spark.range(9999).select($"id".as("id_a"), ($"id" + 1L).as("id_b"))
    val prop = Dedup.connectedComponents(chain, maxIter = 40)
      .agg(count(lit(1)), sum(when($"component" === 0L, 0L).otherwise(1L)))
      .as[(Long, Long)].head()
    assert(prop == ((10000L, 0L)), "propagation labels wrong") // all -> root 0
    val propRounds = Dedup.lastRounds
    assert(propRounds <= 20, s"propagation took $propRounds rounds")
    val star = Dedup.connectedComponentsStar(chain)
      .agg(count(lit(1)), sum(when($"component" === 0L, 0L).otherwise(1L)))
      .as[(Long, Long)].head()
    assert(star == ((10000L, 0L)), "star labels wrong")
    val starRounds = Dedup.lastRounds
    assert(starRounds <= 20, s"star took $starRounds rounds")
  }

  test("CC star variant agrees with propagation on a multi-cluster pair graph") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (9L, 8L), (20L, 20L), (31L, 30L))
      .toDF("id_a", "id_b")
    val a = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val b = Dedup.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L,
      20L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("sharedWindowPairs: exact k-token window overlap, exact counts, flood guard") {
    val span = (0 until 20).map(i => s"w$i").mkString(" ") // one exact window
    val span2 = (0 until 21).map(i => s"v$i").mkString(" ") // two windows (21 tokens)
    val corpus = Seq(
      (1L, s"intro text alpha beta $span trailing words here"),
      (2L, s"completely different opening $span and another ending"),
      (3L, s"$span2 padded"), // shares v-windows with 4 only
      (4L, span2),
      (5L, "no overlap with anything else at all in this document whatsoever"))
      .toDF("doc_id", "text")
    val pairs = Dedup.sharedWindowPairs(corpus, "doc_id", "text",
      windowTokens = 20)
      .as[(Long, Long, Long)].collect().toSet
    // (1,2) share exactly the one w-span window; (3,4) share the two v-windows
    assert(pairs == Set((1L, 2L, 1L), (3L, 4L, 2L)))
    // flood: 5000 identical docs put every window hash into one oversized
    // bucket; the guard emits min-anchored pairs with EXACT counts instead of
    // 12.5M all-pairs rows
    val flood = spark.range(5000).select($"id".as("doc_id"),
      lit((0 until 25).map(i => s"f$i").mkString(" ")).as("text")) // 6 windows
    val guarded = Dedup.sharedWindowPairs(flood, "doc_id", "text",
      windowTokens = 20, maxBucket = 256)
    val rows = guarded.as[(Long, Long, Long)].collect()
    assert(rows.length == 4999) // star: every member anchored at doc 0
    assert(rows.forall { case (a, _, n) => a == 0L && n == 6L }) // counts exact
  }

  test("sharedWindowPairs winnowing: overlap guarantee at every offset, ~stride× fewer rows") {
    import graft.functions.TextFns
    val w = 10; val s = 4
    // the recall contract's boundary case: a shared run of EXACTLY
    // (w + s - 1) consecutive tokens spans s consecutive window positions,
    // so both docs' winnowing selects the run's minimum hash — the pair must
    // survive sampling at ANY alignment of the run inside either doc
    val run = (0 until (w + s - 1)).map(i => s"r$i").mkString(" ")
    for (offA <- Seq(0, 3, 17); offB <- Seq(0, 5, 11)) {
      val docA = ((0 until offA).map(i => s"a$i") ++ Seq(run) ++
        (0 until 15).map(i => s"x$i")).mkString(" ")
      val docB = ((0 until offB).map(i => s"b$i") ++ Seq(run) ++
        (0 until 9).map(i => s"y$i")).mkString(" ")
      val pairs = Dedup.sharedWindowPairs(
          Seq((1L, docA), (2L, docB)).toDF("doc_id", "text"),
          "doc_id", "text", windowTokens = w, stride = s)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)), s"offsets ($offA, $offB): $pairs")
    }
    // stride = 1 is exactly the unsampled expression
    val text = (0 until 200).map(i => s"t${i % 37}").mkString(" ")
    val df = Seq(Tuple1(text)).toDF("text")
    val full = df.select(TextFns.sortedHashedShingles($"text", w))
      .as[Seq[Long]].head()
    val one = df.select(TextFns.winnowedShingles($"text", w, 1))
      .as[Seq[Long]].head()
    assert(one == full)
    // sampling reduces the exploded row count by ~stride (long document)
    val sampled = df.select(TextFns.winnowedShingles($"text", w, s))
      .as[Seq[Long]].head()
    assert(sampled.toSet.subsetOf(full.toSet))
    assert(sampled.length <= full.length / 2,
      s"winnowing kept ${sampled.length} of ${full.length}")
    // short doc (fewer windows than the stride) still emits its minimum
    val short = Seq(Tuple1((0 until w).map(i => s"s$i").mkString(" ")))
      .toDF("text")
    assert(short.select(TextFns.winnowedShingles($"text", w, s))
      .as[Seq[Long]].head().length == 1)
  }

  test("components('auto'): exhausted propagation budget escapes to star, labels intact") {
    // r18: force the DISTRIBUTED route (the local fast path would absorb
    // these small graphs and the escape would lose coverage — the BpeSpec
    // lesson)
    spark.conf.set(Dedup.MaxLocalEdgesKey, "0")
    try {
      // 500-node path with a 3-round budget: propagation (even with its
      // pointer jump) cannot finish, so the unified entry must contract
      // through the partial labels and let star finish the quotient — same
      // labels as either full variant
      val chain = spark.range(499).select($"id".as("id_a"), ($"id" + 1L).as("id_b"))
      val auto = Dedup.components(chain, propagateRounds = 3)
        .agg(count(lit(1)), sum(when($"component" === 0L, 0L).otherwise(1L)))
        .as[(Long, Long)].head()
      assert(auto == ((500L, 0L)), "auto labels wrong after star escape")
      // common shape: converges inside the budget, star never runs
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
      val viaAuto = Dedup.components(pairs).as[(Long, Long)].collect().toMap
      assert(Dedup.lastConverged && Dedup.lastRounds <= 3)
      assert(viaAuto == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
      // both single-variant references agree
      assert(Dedup.connectedComponentsStar(pairs)
        .as[(Long, Long)].collect().toMap == viaAuto)
      assert(Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap == viaAuto)
    } finally spark.conf.unset(Dedup.MaxLocalEdgesKey)
  }

  test("components('auto'): driver-local fast path == distributed, exact min-id contract") {
    // deterministic pseudo-random graphs of several shapes: chains, stars,
    // cliques, singleton pairs, cross-links — the local union-find must
    // reproduce BOTH distributed variants' labels exactly
    val shapes: Seq[Seq[(Long, Long)]] = Seq(
      (0L until 40L).map(i => (i, i + 1L)),                         // chain
      (1L to 30L).map(i => (0L, i)),                                // star
      (for (i <- 2L to 9L; j <- 10L to 14L) yield (i, j)),          // biclique
      Seq((5L, 3L), (3L, 5L), (9L, 9L), (100L, 2L), (2L, 100L)),    // dups/self
      (0L until 200L).map(i => (i * 7L % 199L, i * 13L % 199L)))    // scramble
    for (edges <- shapes) {
      val pairs = edges.toDF("id_a", "id_b")
      val local = Dedup.components(pairs) // under the 2M default: local
      assert(Dedup.lastRounds == 0 && Dedup.lastConverged)
      val want = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      assert(local.as[(Long, Long)].collect().toMap == want)
      assert(Dedup.connectedComponentsStar(pairs)
        .as[(Long, Long)].collect().toMap == want)
      // forced over-budget: auto falls through to the distributed loop
      spark.conf.set(Dedup.MaxLocalEdgesKey, "1")
      try assert(Dedup.components(pairs).as[(Long, Long)].collect().toMap
        == want)
      finally spark.conf.unset(Dedup.MaxLocalEdgesKey)
    }
    // the local path leaves no residual cache entries
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    Dedup.components(Seq((1L, 2L), (4L, 2L)).toDF("id_a", "id_b")).collect()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
      System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("dedupedCorpusBySimhash: twins collapse to min-id survivors, distinct docs survive") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the morning light"),
      (5L, "completely different content about distributed query engines and columnar storage"),
      (9L, "a third document mentioning rivers rainfall catchments and discharge curves"))
    // exact twins of each doc under bigger ids: radius-0 pairs at minimum
    val corpus = (base ++ base.map { case (i, t) => (i + 100L, t) })
      .toDF("doc_id", "text")
    val surv = Dedup.dedupedCorpusBySimhash(corpus, "doc_id", "text",
        maxHamming = 3)
      .select($"doc_id").as[Long].collect().toSet
    // each twin pair collapses to its min id; distinct docs survive — unless
    // two base docs are themselves within radius 3 (they are not: asserted
    // via the survivor count)
    assert(surv == Set(1L, 5L, 9L), s"got $surv")
  }

  test("components('auto') escape decision is correct under concurrent CC runs") {
    // regression guard: the escape used to branch on a shared @volatile var
    // (lastConverged) that a concurrently-converging run could overwrite
    // between the propagate pass and the branch, silently skipping a needed
    // star pass and returning partially-merged labels. Convergence is now
    // threaded through ccPropagate's return value; hammer the old interleaving
    // anyway: an escape-needing chain in one thread, instantly-converging
    // graphs looping in another.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // r18: force the distributed route (the local fast path would absorb
    // these graphs and the interleaving under test would never run)
    spark.conf.set(Dedup.MaxLocalEdgesKey, "0")
    val chain = spark.range(399).select($"id".as("id_a"), ($"id" + 1L).as("id_b"))
    val tiny = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val noisy = Future {
      (0 until 6).map { _ =>
        Dedup.components(tiny).as[(Long, Long)].collect().toMap
      }
    }
    val escaped = Future {
      Dedup.components(chain, propagateRounds = 3)
        .agg(count(lit(1)), sum(when($"component" === 0L, 0L).otherwise(1L)))
        .as[(Long, Long)].head()
    }
    try {
      assert(Await.result(escaped, 180.seconds) == ((400L, 0L)),
        "escape-needing chain returned partially-merged labels under concurrency")
      assert(Await.result(noisy, 180.seconds)
        .forall(_ == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L)))
    } finally spark.conf.unset(Dedup.MaxLocalEdgesKey)
  }

  test("skew guard property: component structure invariant across random maxBucket (fuzz)") {
    // random duplicate-GROUP corpora — the flood shape the guard exists for:
    // identical copies share every band, so any maxBucket (including values
    // small enough to trip the guard on most groups) must leave the verified
    // pair set's CONNECTIVITY unchanged vs the guard-off run
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
      "victor", "whiskey", "xray", "yankee", "zulu", "amber", "basalt",
      "cobalt", "dune", "ember", "flint", "gneiss", "harbor", "inlet", "jade")
    val corpusGen = for {
      nGroups <- Gen.choose(4, 8)
      sizes <- Gen.listOfN(nGroups, Gen.choose(1, 25))
      texts <- Gen.listOfN(nGroups, Gen.choose(8, 15).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
      maxBucket <- Gen.choose(2, 40)
    } yield (sizes.zip(texts), maxBucket)
    val samples = (0 until 3).flatMap(i =>
      corpusGen.apply(Gen.Parameters.default, Seed(1234L + i)))
    for (((groups, maxBucket)) <- samples) {
      val rows = groups.zipWithIndex.flatMap { case ((sz, text), g) =>
        (0 until sz).map(c => (g * 1000L + c, text))
      }
      val corpus = rows.toDF("doc_id", "text")
      def componentsAt(mb: Int): Map[Long, Long] = {
        val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
          shingleN = 3, numHashes = 64, bands = 16, threshold = 0.7,
          maxBucket = mb)
        Dedup.components(pairs).as[(Long, Long)].collect().toMap
      }
      val guarded = componentsAt(maxBucket)
      val unguarded = componentsAt(0) // maxBucket <= 0 disables the guard
      assert(guarded == unguarded,
        s"connectivity drift at maxBucket=$maxBucket over groups=" +
          groups.map(_._1).mkString(","))
      spark.catalog.clearCache()
    }
  }

  test("pair-budget estimator: tight bound, refusal fires on dense corpora, results unchanged") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"text")
    // the histogram estimate bounds emitted pairs from above and stays
    // within 2x of the join's true candidate volume (MinHash: near-dup
    // pairs rarely share many bands, so Σ C(n,2) is nearly exact)
    val estM = Dedup.estimateMinhashPairs(docs01, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 32)
    val actualM = Dedup.minhashLshPairs(docs01, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 32, threshold = 0.3).count()
    assert(estM >= actualM, s"estimate $estM below emitted $actualM")
    // 2x tightness vs the join's true candidate volume (the cost driver the
    // budget protects), reconstructed here from the same public primitives
    // the operator uses (first-shared-band emission)
    graft.functions.MinHashSketch.register(spark)
    val sig = docs01
      .select($"doc_id".as("__id"),
        graft.functions.TextFns.sortedHashedShingles($"text", 2).as("__sh"))
      .filter(size($"__sh") > 0)
      .select($"__id", graft.functions.MinHashSketch.sketchCol($"__sh", 64)
        .as("sig"))
      .withColumn("__bhs", array((0 until 32).map(b =>
        xxhash64(slice($"sig", b * 2 + 1, 2))): _*))
      .select($"__id", $"__bhs").cache()
    val bk = sig.select($"__id", $"__bhs",
      posexplode($"__bhs").as(Seq("band", "bh")))
    val noEarlier = size(filter(slice(
      zip_with($"x.__bhs", $"y.__bhs", (a, b) => a === b),
      lit(1), $"x.band"), p => p)) === 0
    val actualCand = bk.as("x").join(bk.as("y"),
      $"x.band" === $"y.band" && $"x.bh" === $"y.bh" &&
        $"x.__id" < $"y.__id" && noEarlier).count()
    assert(estM <= 2 * math.max(actualCand, 1L),
      s"estimate $estM looser than 2x the true candidate volume $actualCand")
    // SimHash: the same bound, upper-bound semantics (pigeonhole bands are
    // wide, so on a SPARSE corpus random collisions dominate the histogram —
    // the estimate measures join work, which is what melts a cluster)
    val estS = Dedup.estimateSimhashPairs(docs01, "doc_id", "text",
      maxHamming = 3)
    val actualS = Dedup.simhashPairs(docs01, "doc_id", "text", maxHamming = 3)
      .count()
    assert(estS >= actualS, s"simhash estimate $estS below emitted $actualS")
    // a duplicate-dense corpus (every doc + 4 exact twins) under a tight
    // budget refuses loudly BEFORE any join; the same call with the budget
    // raised (or off) emits the identical pair set
    val dense = (0 until 5).map(k => docs01.limit(200)
      .select(($"doc_id" + k * 1000000L).as("doc_id"), $"text"))
      .reduce(_ unionByName _)
    val exDense = intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(dense, "doc_id", "text", shingleN = 2,
        numHashes = 64, bands = 32, threshold = 0.3, maxPairs = 100L)
    }
    assert(exDense.getMessage.contains("maxPairs budget"))
    val exDenseS = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(dense, "doc_id", "text", maxHamming = 3,
        maxPairs = 100L)
    }
    assert(exDenseS.getMessage.contains("maxPairs budget"))
    spark.catalog.clearCache()
    // budget generous -> results bit-identical to the ungated op
    val gatedPairs = Dedup.minhashLshPairs(docs01, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 32, threshold = 0.3,
      maxPairs = math.max(estM, 1L))
      .as[(Long, Long, Double)].collect().toSet
    val ungated = Dedup.minhashLshPairs(docs01, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 32, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(gatedPairs == ungated)
    spark.catalog.clearCache()
  }

  test("candidate budget: the doc-unique-token landmine refuses in the COMPOSITE, " +
      "collapse-absorbed floods don't trip, results unchanged under budget") {
    // BASELINE.md r13 landmine shape: near-identical template copies whose
    // ONE doc-unique token defeats collapseExact (shingle sets differ), so
    // the prefix-candidate join goes clique-quadratic while TRUE pairs are
    // few — the regime that died on ENOSPC instead of refusing
    val landmine = (0 until 400).map { i =>
      (i.toLong, s"unique$i the shared template body with many common " +
        "words alpha beta gamma delta epsilon zeta")
    }.toDF("doc_id", "text")
    // pre-flight estimator: exact at this size (sample fraction 1), an
    // upper bound on emitted candidates and within a small factor of them
    // on this all-colliding corpus
    val est = Dedup.estimateNgramJaccardCandidates(landmine, "doc_id",
      "text", n = 3, threshold = 0.8)
    val emitted = Dedup.ngramPrefixCandidates(landmine, "doc_id", "text",
      n = 3, threshold = 0.8, blockCols = Nil).count()
    assert(est >= emitted, s"estimate $est below emitted $emitted")
    assert(est <= 20 * math.max(emitted, 1L),
      s"estimate $est looser than 20x emitted $emitted")
    spark.catalog.clearCache()
    // the COMPOSITE refuses loudly at call time — before the quadratic
    // join shuffle materializes (this is the r13 wiring gap: the raw
    // listings were guarded, dedupedCorpus was not)
    val ex = intercept[IllegalArgumentException] {
      Dedup.dedupedCorpus(landmine, "doc_id", "text", n = 3,
        threshold = 0.8, blockCols = Nil, maxCandidates = 1000L)
    }
    assert(ex.getMessage.contains("maxCandidates budget of 1000"),
      ex.getMessage)
    assert(ex.getMessage.contains("max_candidates"), ex.getMessage)
    spark.catalog.clearCache()
    // an EXACT-duplicate flood is absorbed by collapseExact BEFORE the
    // budget is priced: 50 identical copies of each template must not trip
    // a budget that the 20 representatives fit — the gate prices the join
    // that actually runs, not the raw corpus
    val exactFlood = (0 until 1000).map { i =>
      (i.toLong, s"template number ${i % 20} body with words alpha beta " +
        "gamma delta epsilon zeta eta theta iota kappa")
    }.toDF("doc_id", "text")
    val survivors = Dedup.dedupedCorpus(exactFlood, "doc_id", "text", n = 3,
      threshold = 0.8, blockCols = Nil, maxCandidates = 10000L)
    assert(survivors.count() == 20)
    Dedup.release(survivors)
    spark.catalog.clearCache()
    // under a generous budget the survivor set is IDENTICAL to the
    // unguarded route (the gate is pure physics, invisible to results)
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"text").limit(300)
    val gated = Dedup.dedupedCorpus(docs01, "doc_id", "text", n = 3,
      threshold = 0.7, blockCols = Nil)
      .select($"doc_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    val ungated = Dedup.dedupedCorpus(docs01, "doc_id", "text", n = 3,
      threshold = 0.7, blockCols = Nil, maxCandidates = 0L)
      .select($"doc_id").as[Long].collect().toSet
    assert(gated == ungated)
    spark.catalog.clearCache()
    // the incremental (bench x corpus) route carries the same dial
    val bench = (0 until 50).map { i =>
      (100000L + i, s"unique${i * 7} the shared template body with many " +
        "common words alpha beta gamma delta epsilon zeta")
    }.toDF("doc_id", "text")
    val exInc = intercept[IllegalArgumentException] {
      Dedup.incrementalJaccardMatches(landmine, bench, "doc_id", "text",
        n = 3, threshold = 0.8, blockCols = Nil, maxCandidates = 100L)
    }
    assert(exInc.getMessage.contains("incrementalJaccardMatches"),
      exInc.getMessage)
    spark.catalog.clearCache()
  }

  test("admitIntoComponents: batch merges clusters, min-id contract, singletons join") {
    // existing lake labels: cluster {1,2} rooted at 1, cluster {7,9} rooted
    // at 7; corpus doc 50 was never paired (no labels row)
    val labels = Seq((1L, 1L), (2L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "component")
    // batch doc 100 bridges BOTH clusters and a previously-singleton corpus
    // doc; 101 rides in via an intra-batch pair; 200-201 form their own
    // new cluster; orientation deliberately mixed
    val newPairs = Seq((100L, 2L), (9L, 100L), (100L, 101L), (100L, 50L),
      (201L, 200L)).toDF("id_a", "id_b")
    val got = Dedup.admitIntoComponents(labels, newPairs)
      .as[(Long, Long)].collect()
    assert(got.length == got.map(_._1).distinct.length, "duplicate id rows")
    assert(got.toMap == Map(1L -> 1L, 2L -> 1L, 7L -> 1L, 9L -> 1L,
      50L -> 1L, 100L -> 1L, 101L -> 1L, 200L -> 200L, 201L -> 200L))
    // untouched-cluster stability: a batch with edges elsewhere leaves
    // cluster {200,201} bit-identical
    val more = Dedup.admitIntoComponents(got.toSeq.toDF("id", "component"),
      Seq((300L, 301L)).toDF("id_a", "id_b")).as[(Long, Long)].collect().toMap
    assert(more(200L) == 200L && more(201L) == 200L && more(300L) == 300L)
    // bootstrap: empty labels frame reproduces a plain components() run
    val boot = Dedup.admitIntoComponents(
      Seq.empty[(Long, Long)].toDF("id", "component"), newPairs)
      .as[(Long, Long)].collect().toMap
    val plain = Dedup.components(newPairs).as[(Long, Long)].collect().toMap
    assert(boot == plain)
  }

  test("admitIntoComponents fuzz: incremental == full-corpus CC, admission-order stable") {
    // random graphs, nodes assigned to three admission waves; an edge is
    // admitted with the LATER of its endpoints' waves (exactly what a real
    // pipeline produces: intra-batch pairs + batch↔current-corpus matches).
    // Any wave order must compose to the same labels as one full-corpus CC.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.choose(12, 50)
      nEdges <- Gen.choose(4, 70)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0, n - 1)
        b <- Gen.choose(0, n - 1)
      } yield (a.toLong, b.toLong))
      waves <- Gen.listOfN(n, Gen.choose(0, 2))
    } yield (edges.filter(e => e._1 != e._2).distinct, waves)
    val samples = (0 until 4).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(4242L + i)))
    for ((edges, waves) <- samples if edges.nonEmpty) {
      val full = Dedup.components(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      def incremental(order: Seq[Int]): Map[Long, Long] = {
        var labels = Seq.empty[(Long, Long)].toDF("id", "component")
        for (pos <- order.indices) {
          val admitted = order.take(pos + 1).toSet
          val wave = order(pos)
          def waveOf(id: Long) = waves(id.toInt)
          // edges whose later endpoint arrives THIS wave, other endpoint
          // already present — each edge admitted exactly once across waves
          val batchEdges = edges.filter { case (a, b) =>
            val (wa, wb) = (waveOf(a), waveOf(b))
            admitted(wa) && admitted(wb) && (wa == wave || wb == wave)
          }
          if (batchEdges.nonEmpty) {
            // collect/re-create = the persisted lake frame between ticks
            labels = Dedup.admitIntoComponents(labels,
                batchEdges.toDF("id_a", "id_b"))
              .as[(Long, Long)].collect().toSeq.toDF("id", "component")
          }
        }
        labels.as[(Long, Long)].collect().toMap
      }
      val forward = incremental(Seq(0, 1, 2))
      val backward = incremental(Seq(2, 1, 0))
      assert(forward == full, s"forward order drifted from full CC")
      assert(backward == full, s"reverse order drifted from full CC")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("forgetFromComponents: splits, re-roots, unknown-id no-op, untouched verbatim") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.components(pairs)
    def forget(ids: Long*): Map[Long, Long] =
      Dedup.forgetFromComponents(labels, pairs, ids.toDF("id"))
        .as[(Long, Long)].collect().toMap
    // 2 was the only bridge: 1 and 3 lose every edge and drop out entirely
    assert(forget(2L) == Map(10L -> 10L, 11L -> 10L))
    // 1 was the cluster root: survivors re-root at the new minimum
    assert(forget(1L) == Map(2L -> 2L, 3L -> 2L, 10L -> 10L, 11L -> 10L))
    // an id with no labels row affects nothing
    assert(forget(99L) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // deleting a whole cluster leaves the other untouched, bit-for-bit
    assert(forget(10L, 11L) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("forgetFromComponents fuzz: incremental == full CC over surviving edges") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.choose(12, 50)
      nEdges <- Gen.choose(4, 70)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0, n - 1)
        b <- Gen.choose(0, n - 1)
      } yield (a.toLong, b.toLong))
      doomed <- Gen.listOfN(n, Gen.prob(0.25))
    } yield (edges.filter(e => e._1 != e._2).distinct, doomed)
    val samples = (0 until 6).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(8642L + i)))
    for ((edges, doomed) <- samples if edges.nonEmpty) {
      val del = doomed.zipWithIndex.collect { case (true, i) => i.toLong }
      val pairs = edges.toDF("id_a", "id_b")
      val labels = Dedup.components(pairs)
      val got = Dedup.forgetFromComponents(labels, pairs, del.toDF("id"))
        .as[(Long, Long)].collect().toMap
      val surviving = edges.filter { case (a, b) =>
        !del.contains(a) && !del.contains(b) }
      val want =
        if (surviving.isEmpty) Map.empty[Long, Long]
        else Dedup.components(surviving.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
      assert(got == want, s"edges=$edges del=$del")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("composites free their internal caches; release() frees the labels checkpoint") {
    // clean slate: earlier specs may legitimately leave session-lifetime caches
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // compose BOTH dedup families in one session, materializing each result
    val jacOut = Dedup.dedupedCorpus(docs, "doc_id", "text", 3, 0.5, Seq("lang"))
    assert(jacOut.count() == 3)
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100).select($"vec_id", $"embedding")
    val corpus = base.unionByName(
      base.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    val embOut = Dedup.dedupedCorpusByEmbedding(corpus, "vec_id", "embedding",
      threshold = 0.999)
    assert(embOut.count() == 100)
    // the ADMISSION paths share the contract: the lazy pairs/matches/admit
    // frames read their shingle stores in the one persisted form (and the
    // embedding prep checkpoints), which release() frees after the final
    // action
    val admitPairs = Dedup.admissionPairs(docs, docs.limit(2), "doc_id",
      "text", n = 3, threshold = 0.5, blockCols = Seq("lang"))
    admitPairs.count()
    val matches = Dedup.incrementalJaccardMatches(docs, docs.limit(2),
      "doc_id", "text", n = 3, threshold = 0.5, blockCols = Seq("lang"))
    matches.count()
    val admitJac = Dedup.admitNew(docs, docs.limit(2), "doc_id", "text",
      n = 3, threshold = 0.5, blockCols = Seq("lang"))
    admitJac.count()
    assert(SessionCache.entries(spark) > 0,
      "the admission shingle stores are persisted, not checkpointed")
    val admitEmb = Dedup.admitNewByEmbedding(corpus,
      base.select(($"vec_id" + 5000000L).as("vec_id"), $"embedding"),
      "vec_id", "embedding", threshold = 0.999)
    admitEmb.count()
    // the one-call incremental label tick frees its shingle stores
    // internally once the quotient CC has consumed the pairs
    val ticked = Dedup.admitBatchIntoComponents(
      Seq((1L, 1L)).toDF("id", "component"), docs, docs.limit(2),
      "doc_id", "text", n = 3, threshold = 0.5, blockCols = Seq("lang"))
    ticked.count()
    // the operators freed their own shingle/prep frames when cluster resolution
    // consumed them; the only blocks left are the results' final label
    // checkpoints and the admission frames' stores, which release() frees
    // once the caller is done
    Seq(jacOut, embOut, admitPairs, matches, admitJac, admitEmb, ticked)
      .foreach(Dedup.release)
    def residual = spark.sparkContext.getPersistentRDDs.values.toSeq
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (residual.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(residual.isEmpty,
      s"residual cached blocks after release: ${residual.map(_.toString)}")
    assert(SessionCache.entries(spark) == 0, "cache entries left after release")
  }

  test("semanticDedup: cell-blocked route reproduces the corpus-wide exact answer") {
    // SemDeDup's structural guarantee, pinned: identical vectors co-cell with
    // certainty (the assignment argmax is deterministic), so on a twin-planted
    // corpus the k-means-cell blocking loses nothing vs the corpus-wide
    // quadratic route — while doing ~n²/nCells of its work
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(150).select($"vec_id", $"embedding")
    val corpus = base.unionByName(
      base.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    val baseIds = base.select($"vec_id").as[Long].collect().toSet
    val wide = Dedup.dedupedCorpusByEmbedding(corpus, "vec_id", "embedding",
      threshold = 0.999, lshPlanes = 0)
      .select($"vec_id").as[Long].collect().toSet
    val sem = Dedup.semanticDedup(corpus, "vec_id", "embedding", nCells = 5,
      threshold = 0.999, iters = 1)
      .select($"vec_id").as[Long].collect().toSet
    assert(sem == wide && sem == baseIds)
    // within-cell LSH route: identical vectors agree on every hyperplane, so
    // the banded cell-blocked route keeps the same survivors
    val semLsh = Dedup.semanticDedup(corpus, "vec_id", "embedding", nCells = 5,
      threshold = 0.999, iters = 1, lshPlanes = 6, lshBands = 8)
      .select($"vec_id").as[Long].collect().toSet
    assert(semLsh == wide)
    // a prebuilt centroid frame (dedup against an EXISTING partitioning of
    // the space, e.g. a served index's coarse quantizer) takes the same route
    val cents = graft.operators.Similarity.kmeansCentroids(corpus,
      nCentroids = 5, iters = 1)
    val semPre = Dedup.semanticDedup(corpus, "vec_id", "embedding", nCells = 5,
      threshold = 0.999, centroids = cents)
      .select($"vec_id").as[Long].collect().toSet
    assert(semPre == wide)
  }

  test("collapseExact: identical-group cliques become stars, survivors unchanged") {
    // a corpus of 40-member identical groups: the collapsed pair stage must
    // emit n-1 identity edges per group instead of the n(n-1)/2 clique, and
    // every composite answer (connectivity -> survivors) must be bit-equal
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50).select($"vec_id", $"embedding")
    val corpus = (0 until 40).map(k => base.select(
        ($"vec_id" + k * 1000000L).as("vec_id"), $"embedding"))
      .reduce(_ unionByName _)
    val flat = Dedup.embeddingCosinePairs(corpus, "vec_id", "embedding",
      threshold = 0.999)
    val starred = Dedup.embeddingCosinePairs(corpus, "vec_id", "embedding",
      threshold = 0.999, collapseExact = true)
    val nFlat = flat.count()
    val nStar = starred.count()
    assert(nFlat >= 50L * 40 * 39 / 2, s"clique route emitted $nFlat")
    assert(nStar == 50L * 39, s"collapsed route emitted $nStar, want star edges")
    // identity edges carry the min id as the representative side
    assert(starred.filter($"id_a" >= $"id_b").count() == 0)
    val sFlat = Dedup.dedupedCorpusByEmbedding(corpus, "vec_id", "embedding",
      threshold = 0.999, collapseExact = false)
      .select($"vec_id").as[Long].collect().toSet
    val sStar = Dedup.dedupedCorpusByEmbedding(corpus, "vec_id", "embedding",
      threshold = 0.999)
      .select($"vec_id").as[Long].collect().toSet
    assert(sStar == sFlat)
    // zero-norm vectors never collapse into each other (cosine is NaN-guarded
    // to non-match, and identity edges must not invent matches)
    val zeros = spark.range(4).select($"id".as("vec_id"),
      typedLit(Array.fill(8)(0.0f)).as("embedding"))
    assert(Dedup.embeddingCosinePairs(zeros, "vec_id", "embedding",
      threshold = 0.5, collapseExact = true).count() == 0)
  }

  test("lineDedup: first occurrence wins, short lines immune, husks stay rows") {
    // every corner of the contract on one hand-built corpus: cross-doc
    // repeats resolve to the earliest (doc, idx); a repeat WITHIN the winner
    // doc is a later occurrence too; sub-minTokens lines ("--", "") never
    // dedup; a doc whose every line was seen before collapses to an empty
    // string but keeps its row; surviving lines keep original order
    val docs = Seq(
      (1L, "alpha beta gamma delta\n--\nthe quick brown fox\nalpha beta gamma delta"),
      (2L, "the quick brown fox\nnew unique content here\n--"),
      (3L, "alpha beta gamma delta\nthe quick brown fox"),
      (4L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "alpha beta gamma delta\n--\nthe quick brown fox", 1L),
      (2L, "new unique content here\n--", 1L),
      (3L, "", 2L),
      (4L, "", 0L)))
  }

  test("lineFrequencyCap: keeps the k earliest occurrences, cap=1 == lineDedup") {
    // "alpha..." occurs 5 times across (1,0) (1,3) (2,0) (3,0) (3,1): cap=2
    // keeps (1,0) and (1,3) — the earliest by (doc, idx), INCLUDING a
    // within-doc second copy; "--" is sub-minTokens and immune everywhere
    val docs = Seq(
      (1L, "alpha beta gamma delta\n--\nthe quick brown fox\nalpha beta gamma delta"),
      (2L, "alpha beta gamma delta\nnew unique content here\n--"),
      (3L, "alpha beta gamma delta\nalpha beta gamma delta\nthe quick brown fox"),
      (4L, "")
    ).toDF("doc_id", "text")
    for (parts <- Seq(1, 5)) {
      val got = Dedup.lineFrequencyCap(docs.repartition(parts),
          "doc_id", "text", maxCopies = 2)
        .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
      assert(got === Seq(
        (1L, "alpha beta gamma delta\n--\nthe quick brown fox\nalpha beta gamma delta", 0L),
        (2L, "new unique content here\n--", 1L),
        (3L, "the quick brown fox", 2L),
        (4L, "", 0L)), s"parts=$parts")
    }
    // cap=1 reproduces hard lineDedup bit-for-bit on the same corpus
    val hard = Dedup.lineDedup(docs, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    val capped = Dedup.lineFrequencyCap(docs, "doc_id", "text", maxCopies = 1)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    assert(capped === hard)
  }

  test("windowNoveltyStats: ownership fractions, within-doc repeats, short docs") {
    val docs = Seq(
      (1L, "a b c d e f"),           // all 4 windows first here -> 1e6
      (2L, "a b c d e f"),           // exact copy -> 0
      (3L, "a b c x y z"),           // 1 of 4 windows seen at doc1 -> 750000
      (4L, "p q r p q r p q r"),     // 7 windows, 4 within-doc repeats
      (5L, "a b"))                   // windowless -> vacuously novel
      .toDF("doc_id", "text")
    for (parts <- Seq(1, 5)) {
      val got = Dedup.windowNoveltyStats(docs.repartition(parts),
          "doc_id", "text", windowTokens = 3)
        .orderBy($"doc_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got === Seq(
        (1L, 4L, 0L, 1000000L),
        (2L, 4L, 4L, 0L),
        (3L, 4L, 1L, 750000L),
        (4L, 7L, 4L, 428571L),
        (5L, 0L, 0L, 1000000L)), s"parts=$parts")
    }
  }

  test("scrubSharedWindows: whole-doc copies husk, first occurrence survives") {
    val docs = Seq(
      (1L, "a b c d e f"),       // original: untouched
      (2L, "a b c d e f"),       // exact copy: fully scrubbed husk
      (3L, "a b c d e f p q r")) // prefix copy: shared run cut, tail kept
      .toDF("doc_id", "text")
    for (parts <- Seq(1, 5)) {
      val got = Dedup.scrubSharedWindows(docs.repartition(parts),
          "doc_id", "text", windowTokens = 3)
        .orderBy($"doc_id")
        .as[(Long, Long, Long, String)].collect().toSeq
      assert(got === Seq(
        (1L, 6L, 0L, "a b c d e f"),
        (2L, 6L, 6L, ""),
        (3L, 9L, 6L, "p q r")), s"parts=$parts")
    }
  }

  test("scrubSharedWindows: within-doc repeats collapse to the first span") {
    val got = Dedup.scrubSharedWindows(
        Seq((1L, "x y z x y z x y z")).toDF("doc_id", "text"),
        "doc_id", "text", windowTokens = 3)
      .as[(Long, Long, Long, String)].head()
    assert(got === ((1L, 9L, 6L, "x y z")))
  }

  test("scrubSharedWindows: short docs have no windows and pass through") {
    val got = Dedup.scrubSharedWindows(
        Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text"),
        "doc_id", "text", windowTokens = 3)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq((1L, 2L, 0L, "a b"), (2L, 2L, 0L, "a b")))
  }

  test("scrubSharedWindows: in-row ScrubTokensExpr rebuild is bit-equal to " +
    "the exploded reference on an adversarial corpus") {
    // overlapping + adjacent duplicate spans, whole-doc husks, within-doc
    // repeats, mixed case / tabs / multi-space (the words() contract),
    // non-ASCII, empty and null text — every edge the two plans could
    // diverge on
    def w(i: Int) = s"v${('a' + i % 26).toChar}${i / 26}"
    val boiler = (0 until 12).map(w).mkString(" ")
    val rows: Seq[(Long, String)] = Seq(
      1L -> ((0 until 40).map(w).mkString(" ")),
      2L -> ((0 until 40).map(w).mkString(" ")),               // exact copy
      3L -> (boiler + " unique tail words here " + boiler),    // repeat + gap
      4L -> ("Mixed\tCASE   and weird  Spacing " + boiler),
      5L -> ("café naïve résumé " + boiler + " café"),
      6L -> ((5 until 45).map(w).mkString(" ")),               // shifted copy
      7L -> "",
      8L -> null,
      9L -> "short doc") ++
      (0 until 30).map(i => (100L + i,
        (0 until 25).map(j => w((i * 7 + j) % 60)).mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    // pin BOTH ANSI modes: the null-text row's n_tokens once diverged across
    // the flip (bare size(null) is -1 legacy / null ANSI; both routes now
    // emit explicit nulls regardless of session conf)
    val prevAnsi = spark.conf.getOption("spark.sql.ansi.enabled")
    try for (ansi <- Seq("true", "false"); win <- Seq(2, 5, 12)) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val fast = Dedup.scrubSharedWindows(docs, "doc_id", "text", win)
        .orderBy($"doc_id").collect().toSeq
      val ref = Dedup.scrubSharedWindowsExploded(docs, "doc_id", "text", win)
        .orderBy($"doc_id").collect().toSeq
      assert(fast === ref, s"ansi=$ansi windowTokens=$win")
    } finally prevAnsi match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("dedupedCorpus collapseExact: identical survivor set on a " +
    "duplicate-dense corpus, identity edges bridge reps to near-dups") {
    // every base doc gains 3 exact twins (the ×100-amplified-corpus shape
    // that spilled the r10 sf10 receipt, in miniature) plus one NEAR-dup of
    // doc 0 — the near-dup must still cluster through the representative
    def w(i: Int) = s"t${('a' + i % 26).toChar}${i / 26}"
    val base = (0 until 8).map(d =>
      (d.toLong, (0 until 30).map(i => w(d * 40 + i)).mkString(" ")))
    val twins = for {
      (id, text) <- base; k <- 1 to 3
    } yield (id + 100L * k, text)
    val near = Seq((9000L,
      (0 until 30).map(i => if (i == 13) "zzz" else w(i)).mkString(" ")))
    val docs = (base ++ twins ++ near).toDF("doc_id", "text")
    def run(collapse: Boolean): Set[Long] =
      Dedup.dedupedCorpus(docs, "doc_id", "text", n = 3, threshold = 0.5,
          blockCols = Nil, collapseExact = collapse)
        .select($"doc_id").as[Long].collect().toSet
    val withCollapse = run(true)
    val without = run(false)
    assert(withCollapse === without)
    // min-id survivors: the 8 base docs; twins and the near-dup collapse in
    assert(withCollapse === (0 until 8).map(_.toLong).toSet)
  }

  test("fuzzy contamination (q110 shape): threshold boundary is inclusive, " +
    "empty/short bench sets are harmless") {
    // J exactly AT the threshold must match (>=, via the exact integer
    // cross-multiply — no float shaving): bench {abc,bcd,cde} vs doc
    // {abc,bcd,cdf} -> inter 2, union 4, J = 0.5 exactly
    val corpus = Seq(
      (1L, "a b c d f"),  // J = 2/4 = 0.5 — exactly at threshold
      (2L, "a b c e f"),  // J = 1/5 = 0.2 — below
      (3L, "q r s t u"))  // disjoint
      .toDF("doc_id", "text")
    val bench = Seq((900L, "a b c d e")).toDF("doc_id", "text")
    def matches(c: org.apache.spark.sql.DataFrame,
                b: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalJaccardMatches(c, b, "doc_id", "text",
        n = 3, threshold = 0.5, blockCols = Nil)
        .select($"id_a", $"id_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSeq
    assert(matches(corpus, bench) === Seq((900L, 1L, 0.5)))
    // empty bench set: no matches, no crash — every doc survives the
    // downstream anti-join
    val emptyBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(matches(corpus, emptyBench).isEmpty)
    // bench items SHORTER than the n-gram width have no shingles: they can
    // contaminate nothing (and must not blow up the prefix-filter join)
    val shortBench = Seq((901L, "a b"), (902L, "")).toDF("doc_id", "text")
    assert(matches(corpus, shortBench).isEmpty)
  }

  test("incrementalJaccardMatches: corpus-side exact-dup collapse route is " +
    "bit-equal to the direct join on a duplicate-dense corpus") {
    // the ×k-amplified-lake shape the collapse exists for: every corpus doc
    // has exact twins (same shingle set, different ids), plus near-dups,
    // disjoint docs, a block split, and shingle-less short docs; matches
    // must come back for EVERY twin with the rep's exact jaccard
    def w(i: Int) = s"u${('a' + i % 26).toChar}${i / 26}"
    val base = (0 until 6).map(d =>
      (d.toLong, (0 until 15).map(i => w(d * 9 + i)).mkString(" "),
        s"b${d % 2}"))
    val twins = for { (id, text, blk) <- base; k <- 1 to 4 }
      yield (id + 100L * k, text, blk)
    val extra = Seq(
      (7000L, (0 until 15).map(i =>
        if (i == 7) "zz" else w(i)).mkString(" "), "b0"),   // near-dup of 0
      (7001L, "x1 x2", "b0"),                               // shingle-less
      (7002L, (90 until 110).map(w).mkString(" "), "b1"))   // disjoint
    val corpus = (base ++ twins ++ extra).toDF("doc_id", "text", "lang")
    val incoming = Seq(
      (9000L, (0 until 15).map(i => w(i)).mkString(" "), "b0"),   // == doc 0
      (9001L, (0 until 15).map(i =>
        if (i == 3) "yy" else w(9 + i)).mkString(" "), "b1"),     // near doc 1
      (9002L, "totally disjoint words only here now", "b0"))
      .toDF("doc_id", "text", "lang")
    for (blocks <- Seq(Nil, Seq("lang"))) {
      def run(force: Boolean) = Dedup.incrementalJaccardMatchesImpl(
          corpus, incoming, "doc_id", "text", 3, 0.4, blocks, Some(force))
        .select($"id_a", $"id_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val collapsed = run(true)
      val direct = run(false)
      assert(collapsed === direct, s"blocks=$blocks")
      // doc 9000 matches doc 0 AND all four of its twins at jaccard 1.0
      assert(collapsed.count { case (a, b, j) =>
        a == 9000L && j == 1.0 && (b == 0L || b % 100 == 0) } >= 5,
        s"blocks=$blocks got $collapsed")
    }
  }

  test("incrementalJaccardMatches collapse route: release(result) + the " +
    "internal early corpus-store free leave zero cached blocks") {
    // the r11 review's leak class: the collapse checkpoints truncate lineage,
    // so the corpus-sized shingle store must be freed INSIDE the route (it
    // has no consumer after reps/memberGroups materialize) and everything the
    // result plan still pins must be release()-reachable
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    def w(i: Int) = s"m${('a' + i % 26).toChar}${i / 26}"
    val base = (0 until 5).map(d =>
      (d.toLong, (0 until 12).map(i => w(d * 7 + i)).mkString(" ")))
    val corpus = (base ++ (for { (id, t) <- base; k <- 1 to 3 }
      yield (id + 100L * k, t))).toDF("doc_id", "text")
    val incoming = Seq((9000L, (0 until 12).map(w).mkString(" ")))
      .toDF("doc_id", "text")
    val matches = Dedup.incrementalJaccardMatchesImpl(corpus, incoming,
      "doc_id", "text", 3, 0.5, Nil, forceCollapse = Some(true))
    assert(matches.count() === 4)   // doc 0 and its three twins
    Dedup.release(matches)
    def residual = spark.sparkContext.getPersistentRDDs.values.toSeq
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (residual.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(residual.isEmpty,
      s"residual cached blocks after release: ${residual.map(_.toString)}")
  }

  test("embedding LSH blocking: subset of exact pairs, near-identical vectors kept") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200)
    val exact = Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", 0.9, Nil,
      lshPlanes = 0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", 0.9, Nil,
      lshPlanes = 6, lshBands = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // candidates verified by the same exact kernel
    // identical vectors agree on every hyperplane — always recovered
    val dup = Seq(
      (9001L, Array.fill(8)(0.5f)), (9002L, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val found = Dedup.embeddingCosinePairs(dup, "vec_id", "embedding", 0.99, Nil,
      lshPlanes = 6, lshBands = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(found == Set((9001L, 9002L)))
  }
}

object DedupSpec {
  /** ~1 KB deterministic pseudo-paragraph (UTF-8 ASCII) for doc `d`: 14 stems
    * plus one doc-unique token — the low-diversity flood corpus. */
  private def docText(d: Long): String = {
    val words = Array("the", "quick", "corpus", "stream", "record", "capture",
      "parse", "filter", "sample", "token", "layer", "model", "batch", "scale")
    val sb = new java.lang.StringBuilder(1100)
    var s = d * 2654435761L + 12345L
    var i = 0
    while (sb.length < 1000) {
      s = s * 6364136223846793005L + 1442695040888963407L
      sb.append(words(((s >>> 33) % words.length).toInt)).append(' ')
      i += 1
      if (i % 12 == 0) sb.append("doc").append(d).append(". ")
    }
    sb.toString
  }
}
