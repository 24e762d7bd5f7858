package graft

import graft.ops.TimeSeriesOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.4), using raw ScalaCheck generators with
  * fixed seeds (the scalatest<->scalacheck bridge artifact is not available offline).
  * Few but meaningful generations — each sample spins Spark jobs. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val pointsGen = Gen.nonEmptyListOf(for {
    offsetMin <- Gen.choose(0, 600)
    cents <- Gen.choose(-10000L, 10000L)
  } yield (offsetMin, cents / 100.0))

  test("resample conservation: sum of right-closed bucket sums == total sum") {
    for (pts <- samples(pointsGen, 5)) {
      val df = pts.toDF("m", "value")
        .select((to_timestamp(lit("2024-01-01 00:00:00")).cast("timestamp_ntz")
          + make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), $"m")).as("time"),
          $"value")
      val total = df.agg(sum(round($"value" * 100).cast("long"))).as[Long].head()
      val bucketTotal = TimeSeriesOps
        .resampleSum(df.withColumn("value",
          round($"value" * 100).cast("long").cast("double")),
          "time", 900L, Nil, "value")
        .agg(sum($"value".cast("long"))).as[Long].head()
      assert(bucketTotal == total)
    }
  }

  test("histogram quantiles == sort-derived rank statistics on random strata") {
    // Quantiles.strataStats must equal the literal rank definition (sort the
    // stratum, take the value at rank r) for every stratum shape the generator
    // produces: heavy ties, singletons, skewed sizes
    val gen = Gen.nonEmptyListOf(for {
      stratum <- Gen.choose(0, 3)
      value <- Gen.choose(0L, 12L) // narrow domain -> dense ties
    } yield (stratum, value))
    for (rows <- samples(gen, 6)) {
      val df = rows.toDF("s", "v")
      val got = graft.ops.Quantiles.strataStats(df, Seq("s"), $"v",
        ranks = Seq(
          "med" -> (n => graft.ops.Quantiles.div(n + lit(1L), lit(2L))),
          "p90" -> (n => greatest(lit(1L),
            graft.ops.Quantiles.div(n * lit(9L), lit(10L))))))
        .select($"s", $"n", $"total", $"med", $"p90")
        .as[(Int, Long, Long, Long, Long)].collect().toSet
      val want = rows.groupBy(_._1).map { case (s, g) =>
        val sorted = g.map(_._2).sorted
        val n = sorted.length.toLong
        (s, n, sorted.sum,
          sorted(((n + 1) / 2 - 1).toInt),
          sorted((math.max(1L, n * 9 / 10) - 1).toInt))
      }.toSet
      assert(got == want)
    }
  }

  test("rankBuckets == row_number bucket rule on random strata, any binStep") {
    // the histogram-offset rank plan must equal the literal definition —
    // rank = ROW_NUMBER over (value, id), bucket = (rank-1)*k div n + 1 —
    // for every stratum shape, tie density, and bin granularity (binStep 1
    // puts every value in its own bin; a huge binStep collapses all into one)
    val gen = Gen.nonEmptyListOf(for {
      stratum <- Gen.choose(0, 2)
      value <- Gen.choose(-20L, 20L) // negatives: div-toward-zero bins stay contiguous
    } yield (stratum, value))
    for ((rows, i) <- samples(gen, 5).zipWithIndex) {
      val withId = rows.zipWithIndex.map { case ((s, v), id) => (s, v, id.toLong) }
      val df = withId.toDF("s", "v", "id")
      for (binStep <- Seq(1L, 7L, 1000000L); k <- Seq(1, 3, 4)) {
        val got = graft.ops.Quantiles
          .rankBuckets(df.repartition(5), "id", $"v", k, binStep, Seq("s"))
          .select($"id", $"rank", $"bucket")
          .as[(Long, Long, Int)].collect().toSet
        val want = withId.groupBy(_._1).values.flatMap { g =>
          val n = g.size.toLong
          g.sortBy(r => (r._2, r._3)).zipWithIndex.map { case (r, j) =>
            (r._3, j + 1L, ((j.toLong * k) / n + 1).toInt)
          }
        }.toSet
        assert(got == want, s"sample=$i binStep=$binStep k=$k")
      }
    }
    // stratum-free: one global ranking
    val df = Seq((5L, 1L), (3L, 2L), (5L, 3L), (1L, 4L)).toDF("v", "id")
    val got = graft.ops.Quantiles.rankBuckets(df, "id", $"v", 2, 2L)
      .select($"id", $"rank", $"bucket").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((4L, 1L, 1), (2L, 2L, 1), (1L, 3L, 2), (3L, 4L, 2)))
  }

  test("strataStats refuses a near-unique value column instead of packing it") {
    // the histogram plan is only safe when the value column is
    // histogram-shaped; a near-unique column would pack a corpus-sized array
    // into one row (the r4 single-task failure as an executor OOM). The
    // bound lives inside the packing aggregate's buffer (r7: no probe job,
    // no cache), so the refusal surfaces on the first action, from whichever
    // partial buffer crosses the bound first — before the array exists.
    val nearUnique = spark.range(50000)
      .select(lit("one").as("s"), $"id".as("v"))
    val ex = intercept[Exception] {
      graft.ops.Quantiles.strataStats(nearUnique, Seq("s"), $"v",
        ranks = Seq(
          "med" -> (n => graft.ops.Quantiles.div(n + lit(1L), lit(2L)))),
        maxBinsPerStratum = 10000L).collect()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("distinct values"))
    // the same frame bucketed to a coarse unit passes under the same bound
    val bucketed = graft.ops.Quantiles.strataStats(nearUnique, Seq("s"),
        graft.ops.Quantiles.div($"v", lit(100L)),
        ranks = Seq(
          "med" -> (n => graft.ops.Quantiles.div(n + lit(1L), lit(2L)))),
        maxBinsPerStratum = 10000L)
      .select($"n", $"med").as[(Long, Long)].head()
    assert(bucketed == ((50000L, 249L))) // rank 25000, value 24999 div 100
    spark.catalog.clearCache()
  }

  test("strataStatsApprox: the near-unique escape hatch, within its rank bound") {
    // the refusal message points here: the sketch's state is bounded by
    // accuracy, not by distinct values, so the EXACT plan's refusal case runs
    // clean — and the estimates honor percentile_approx's documented rank
    // error (<= n/accuracy) against the true sorted ranks
    val nearUnique = spark.range(50000)
      .select(lit("one").as("s"), $"id".as("v"))
    val got = graft.ops.Quantiles.strataStatsApprox(nearUnique, Seq("s"), $"v",
        percentiles = Seq("med" -> 0.5, "p90" -> 0.9), accuracy = 10000)
      .select($"n", $"total", $"med", $"p90")
      .as[(Long, Long, Long, Long)].head()
    assert(got._1 == 50000L && got._2 == 49999L * 50000L / 2)
    val rankErr = 50000L / 10000L + 1 // n/accuracy, +1 for the floor seam
    assert(math.abs(got._3 - 24999L) <= rankErr, s"median ${got._3} off")
    assert(math.abs(got._4 - 44999L) <= rankErr, s"p90 ${got._4} off")
  }

  test("budget sampling == naive greedy prefix on random strata/weights/budgets") {
    // the histogram-cutoff plan must equal the literal running-sum definition
    // for every shape: tiny/huge budgets, weight skew, strata of odd sizes,
    // budgets landing exactly on a doc boundary (inclusive semantics)
    val gen = for {
      nRows <- Gen.choose(1, 300)
      nStrata <- Gen.choose(1, 5)
      weights <- Gen.listOfN(nRows, Gen.choose(0L, 50L))
      budget <- Gen.choose(0L, 600L)
    } yield (nStrata, weights.zipWithIndex.map { case (w, i) =>
      (s"g${i % nStrata}", i.toLong, w) }, budget)
    for ((_, rows, budget) <- samples(gen, 6)) {
      val df = rows.toDF("g", "id", "w")
      val got = graft.operators.DataMix
        .sampleToBudget(df, Seq("g"), budget, "id", $"w", buckets = 16)
        .select($"g", $"id").as[(String, Long)].collect().toSet
      val want = rows.groupBy(_._1).toSeq.flatMap { case (_, grp) =>
        val ordered = grp.sortBy { case (_, i, _) =>
          ((i * 2654435761L) % 4294967296L, i) }
        val cums = ordered.scanLeft(0L)((acc, r) => acc + r._3).tail
        ordered.zip(cums).takeWhile(_._2 <= budget)
          .map { case ((s, i, _), _) => (s, i) }
      }.toSet
      assert(got == want, s"budget=$budget rows=${rows.take(8)}...")
    }
  }

  test("impute idempotence: imputing an already-imputed frame changes nothing") {
    val gen = Gen.listOfN(8, Gen.option(Gen.choose(0, 1000)))
    for (vals <- samples(gen, 5) if vals.exists(_.isDefined)) {
      // one wide row, a column per station: the fill reads the row mean of
      // the pre-fill columns, as MikeJobs' rainfall builders do
      val stations = vals.indices.map(i => s"s$i")
      val df = Seq(vals.map(_.map(_.toDouble))).toDF("v")
        .select(stations.indices.map(i => $"v"(i).as(stations(i))): _*)
      def impute(wide: org.apache.spark.sql.DataFrame) = wide
        .withColumn("__mean", TimeSeriesOps.rowMean(stations.map(col)))
        .select(stations.map(s => coalesce(col(s), $"__mean").as(s)): _*)
      val once = impute(df)
      val twice = impute(once)
      assert(once.collect().toSeq == twice.collect().toSeq)
      assert(once.head().toSeq.forall(_ != null))
    }
  }

  test("lineFrequencyCap == naive earliest-k reference on random corpora") {
    import graft.operators.Dedup
    // docs = random stacks of lines drawn from a SMALL pool (so cross-doc
    // floods are common), lines of 0-5 tokens (sub-minTokens immunity in
    // play), caps 1-3
    val linePool = Vector(
      "alpha beta gamma", "delta epsilon zeta eta", "one two three four five",
      "--", "", "solo", "red green blue", "alpha beta gamma")
    val corpusGen = for {
      nDocs <- Gen.choose(1, 8)
      docs <- Gen.listOfN(nDocs, Gen.listOfN(5, Gen.choose(0, linePool.size - 1)))
      cap <- Gen.choose(1, 3)
    } yield (docs.map(_.map(linePool)), cap)
    for (((docLines, cap), ci) <- samples(corpusGen, 6).zipWithIndex) {
      val docs = docLines.zipWithIndex
        .map { case (ls, i) => (i.toLong, ls.mkString("\n")) }
      // naive reference: global (doc, idx) scan in order, count per line
      val counts = scala.collection.mutable.Map[String, Int]()
      val expected = docs.map { case (id, text) =>
        val kept = scala.collection.mutable.ArrayBuffer[String]()
        var removed = 0L
        text.split("\n", -1).foreach { line =>
          val dedupable = graft.functions.TextFns.bpeTokenPattern.r
            .findAllMatchIn(line.toLowerCase).size >= 3
          if (!dedupable) kept += line
          else {
            val c = counts.getOrElse(line, 0)
            if (c < cap) { counts(line) = c + 1; kept += line }
            else removed += 1
          }
        }
        (id, kept.mkString("\n"), removed)
      }
      val got = Dedup.lineFrequencyCap(docs.toDF("doc_id", "text")
          .repartition(3), "doc_id", "text", cap)
        .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
      assert(got === expected, s"case $ci cap=$cap docs=$docLines")
    }
  }

  test("prefix-filter exactness: ngramJaccardPairs == brute force on random corpora") {
    // random small-vocab docs (high shingle collision rate — the adversarial case
    // for prefix filtering) must yield EXACTLY the brute-force pair set
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docGen = Gen.listOfN(20, Gen.choose(3, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
    graft.functions.SortedIntersectCount.register(spark)
    for (texts <- samples(docGen, 3)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "x") }
        .toDF("doc_id", "text", "lang")
      val sh = docs.select($"doc_id", $"lang",
          graft.functions.TextFns.sortedHashedShingles($"text", 2).as("sh"))
        .filter(size($"sh") > 0)
      val brute = sh.as("x").join(sh.as("y"),
          $"x.lang" === $"y.lang" && $"x.doc_id" < $"y.doc_id")
        .withColumn("inter",
          graft.functions.SortedIntersectCount($"x.sh", $"y.sh"))
        .withColumn("j", $"inter".cast("double") /
          (size($"x.sh") + size($"y.sh") - $"inter").cast("double"))
        .filter($"j" >= 0.6)
        .select($"x.doc_id", $"y.doc_id").as[(Long, Long)].collect().toSet
      val fast = graft.operators.Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", 2, 0.6, Seq("lang"))
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(fast == brute, s"prefix filter diverged from brute force")
    }
  }

  test("simhash pigeonhole recall: band pairs == brute-force Hamming pairs") {
    val sigGen = Gen.listOfN(12, Gen.choose(Long.MinValue, Long.MaxValue))
    for ((sigs, radius) <- samples(sigGen, 3).zip(Seq(3, 7, 12))) {
      val sig = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "simhash")
      val brute = (for {
        (a, i) <- sigs.zipWithIndex; (b, j) <- sigs.zipWithIndex
        if i < j && java.lang.Long.bitCount(a ^ b) <= radius
      } yield (i.toLong, j.toLong)).toSet
      val banded = graft.operators.Dedup.simhashBandPairs(sig, "doc_id", radius)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(banded == brute, s"radius $radius: banding missed or invented pairs")
    }
  }

  test("stratified sampling is a pure function of (id, stratum): subset stability") {
    // removing rows never changes the membership decision of surviving rows
    val df = (0L until 300L).map(i => (i, s"s${i % 3}")).toDF("id", "src")
    val fr = Map("s0" -> 0.5, "s1" -> 0.2)
    val full = graft.operators.DataMix.stratifiedSample(df, "id", "src", fr, 0.8)
      .as[(Long, String)].collect().toSet
    val half = graft.operators.DataMix.stratifiedSample(
        df.filter($"id" % 2 === 0), "id", "src", fr, 0.8)
      .as[(Long, String)].collect().toSet
    assert(half == full.filter(_._1 % 2 == 0))
  }

  test("native text kernels == column references on random unicode text") {
    import graft.functions.TextFns
    // mixed alphabets, emoji (surrogate pairs), odd whitespace runs, repeats
    val tokenGen = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("the", "und", "la", "的", "flüsse", "café", "😀", "🚀x", "İstanbul"),
      Gen.const(""))
    val sepGen = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val textGen = for {
      n <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, tokenGen)
      seps <- Gen.listOfN(math.max(n - 1, 0), sepGen)
      lead <- sepGen; trail <- sepGen
    } yield toks.zipAll(seps, "", "").map { case (t, s) => t + s }
      .mkString(lead, "", trail)
    val docs = samples(textGen, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val stops = Seq("the", "und", "la")
    val bad = docs.select(
        TextFns.repetitionStruct($"t").as("r1"),
        TextFns.repetitionStructCols($"t").as("r2"),
        graft.functions.SimHash64Expr($"t").as("s1"),
        TextFns.fingerprintSha($"t").as("f1"),
        TextFns.fingerprintShaCols($"t").as("f2"),
        graft.functions.StopCountsExpr($"t", Seq(stops)).as("c1"),
        array(TextFns.stopwordCount(TextFns.words($"t"), stops).cast("long")).as("c2"))
      .filter($"r1" =!= $"r2" || $"f1" =!= $"f2" || $"c1" =!= $"c2")
      .count()
    assert(bad == 0)
  }

  test("r9 native kernels == references on random small-alphabet text (forced ties)") {
    // a 4-word alphabet + newline separators maximizes duplicate lines,
    // duplicate n-grams and top-gram TIES — the paths hand-picked cases miss
    val tokenGen = Gen.oneOf("aa", "b", "cc", "d", "é")
    val sepGen = Gen.frequency(5 -> Gen.const(" "), 2 -> Gen.const("\n"),
      1 -> Gen.const("  \n"))
    val textGen = for {
      n <- Gen.choose(0, 30)
      toks <- Gen.listOfN(n, tokenGen)
      seps <- Gen.listOfN(math.max(n - 1, 0), sepGen)
    } yield toks.zipAll(seps, "", "").map { case (t, s) => t + s }.mkString
    val docs = samples(textGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    // LineStatsExpr vs the column-fold battery forms; LineScrubExpr vs the
    // array_position walk; DistinctShinglesExpr vs the HOF pipeline
    val bad = docs.select(
        graft.functions.LineStatsExpr($"t").as("l1"),
        struct(
          graft.operators.GopherRules.lineRepetitionStruct($"t")("n_lines").as("n_lines"),
          graft.operators.GopherRules.lineRepetitionStruct($"t")("n_dup_lines").as("n_dup_lines"),
          graft.operators.GopherRules.lineRepetitionStruct($"t")("n_line_chars").as("n_line_chars"),
          graft.operators.GopherRules.lineRepetitionStruct($"t")("n_dup_line_chars").as("n_dup_line_chars"),
          graft.operators.GopherRules.topWordStruct($"t")("n_words").as("n_words"),
          graft.operators.GopherRules.topWordStruct($"t")("n_word_chars").as("n_word_chars"),
          graft.operators.GopherRules.topWordStruct($"t")("top_word_n").as("top_word_n"),
          graft.operators.GopherRules.topWordStruct($"t")("top_word_chars").as("top_word_chars")).as("l2"),
        graft.functions.LineScrubExpr($"t").as("s1"),
        graft.functions.DistinctShinglesExpr($"t", 2).as("g1"),
        array_distinct(graft.functions.TextFns.wordShingles(
          graft.functions.TextFns.words($"t"), 2)).as("g2"))
      .filter($"l1" =!= $"l2" || !($"g1" <=> $"g2") ||
        $"s1.n_removed" < 0)
      .count()
    assert(bad == 0)
    // scrub reference comparison needs the frame form
    val nat = graft.operators.GopherRules.dropRepeatedLines(docs, "t")
    val refd = graft.operators.GopherRules.dropRepeatedLines(docs, "t",
      native = false)
    assert(nat.exceptAll(refd).isEmpty && refd.exceptAll(nat).isEmpty)
    // NgramRepetitionExpr vs the q98 spec's independent reference shape:
    // coverage union monotonicity + denominators as cheap invariants here
    // (full reference equality lives in GopherRulesSpec); dup_n chars can
    // never exceed total word chars and never increase with n on these docs
    val inv = docs.select(
        graft.functions.NgramRepetitionExpr($"t").as("r"))
      .select($"r.n_word_chars".as("wc"),
        $"r.dup5_chars".as("d5"), $"r.dup6_chars".as("d6"),
        $"r.dup7_chars".as("d7"), $"r.dup8_chars".as("d8"),
        $"r.dup9_chars".as("d9"), $"r.dup10_chars".as("d10"),
        $"r.top2_chars".as("t2c"), $"r.top2_n".as("t2n"))
      .filter($"d5" > $"wc" || $"d6" > $"d5" || $"d7" > $"d6" ||
        $"d8" > $"d7" || $"d9" > $"d8" || $"d10" > $"d9" ||
        ($"t2n" === 0 && $"t2c" =!= 0))
      .count()
    assert(inv == 0)
  }

  test("pivot . unpivot == identity on deduplicated (time,key) pairs") {
    val gen = Gen.nonEmptyListOf(for {
      t <- Gen.oneOf("t1", "t2", "t3"); k <- Gen.oneOf("a", "b")
      v <- Gen.choose(1, 99)
    } yield (t, k, v.toDouble))
    for (rows <- samples(gen, 5)) {
      val dedup = rows.distinctBy(r => (r._1, r._2))
      val long = dedup.toDF("time", "station", "value")
      val wide = TimeSeriesOps.pivotWide(long, "time", "station", "value", Seq("a", "b"))
      val back = TimeSeriesOps.unpivotLong(wide, Seq("time"))
        .filter($"value".isNotNull)
        .as[(String, String, Double)].collect().toSet
      assert(back == dedup.toSet)
    }
  }

  test("TopKAgg property: heap rows == window rows on random groups with ties") {
    // heavy tie pressure: v drawn from a tiny domain, duplicate (g, id) pruned
    val gen = Gen.listOfN(60, for {
      g <- Gen.choose(0, 3)
      id <- Gen.choose(0L, 40L)
      v <- Gen.choose(0L, 4L)
    } yield (s"g$g", id, v))
    for ((rows, i) <- samples(gen, 5).zipWithIndex) {
      val df = rows.distinctBy(r => (r._1, r._2)).toDF("g", "id", "v")
        .repartition(3 + i) // vary partitioning: partials must merge identically
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"g").orderBy($"v".desc, $"id")
      val win = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
        .select($"g", $"id", $"v", $"rn")
        .as[(String, Long, Long, Int)].collect().toSet
      val heap = graft.ops.TopK.topKPerGroup(df, Seq("g"), $"v", $"id",
          Seq($"id".as("pid"), $"v".as("pv")), k = 3)
        .select($"g", $"pid", $"pv", $"rn")
        .as[(String, Long, Long, Int)].collect().toSet
      assert(heap == win, s"sample $i diverged")
    }
  }
}
