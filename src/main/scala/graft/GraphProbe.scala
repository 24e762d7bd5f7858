package graft

import graft.operators.{Bm25, LinkGraph}
import org.apache.spark.sql.functions._

/** Scratch profiling main for the r14 retrieval/link-graph operators (not
  * part of the driver contract): synthesizes the q135 crawl shape at any
  * node count and times edge building (extract_links → url_resolve →
  * url_normalize → distinct) and PageRank at a production iteration count,
  * plus BM25 retrieval over a real sf directory — the receipts that the
  * link graph's per-iteration cost is flat (edges persist once, rank
  * frames stay node-sized) and that BM25's cost is the tf index build,
  * not the query fan-out.
  *
  * Usage:
  *   GraphProbe rank <nPages> [iters]      — synthetic crawl + PageRank
  *   GraphProbe bm25 <sfDir> [k] [every]   — BM25 top-k, queries = every
  *                                           `every`-th doc's first 5 words
  */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()

    def timed[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[graph-probe] $label%-14s ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    args(0) match {
      case "rank" =>
        val n = args(1).toLong
        val iters = args.drop(2).headOption.map(_.toInt).getOrElse(10)
        val i = col("id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val site = str(pmod(i, lit(997L))) // ~1k sites at any scale
        val html = concat(
          lit("<html><body><h1>Page "), str(i), lit("</h1>"),
          lit("<a href=\"HTTPS://Site"), site, lit(".Example.COM:443/p/"),
          str(pmod(i, lit(1000L))), lit("\">hub "), str(pmod(i, lit(10L))),
          lit("</a> <a href='/p/"), str(pmod(i * 7L + 1L, lit(n))),
          lit("'>next "), str(pmod(i, lit(7L))),
          lit("</a> <a href=\"https://site"), str(pmod(i + 1L, lit(997L))),
          lit(".example.com/p/"), str(pmod(i * 13L + 5L, lit(n))),
          lit("?utm_source=feed&amp;x="), str(pmod(i, lit(3L))),
          lit("\">cross</a></body></html>"))
        val pages = spark.range(n).select(
          concat(lit("https://site"), site, lit(".example.com/p/"), str(i))
            .as("url"),
          html.as("html"))
          .repartition(spark.sparkContext.defaultParallelism)
        val links = timed("links") {
          val l = LinkGraph.links(pages, "url", "html")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          println(s"[graph-probe] links rows=${l.count()}")
          l
        }
        val ranked = timed(s"pagerank x$iters") {
          val r = LinkGraph.pageRank(links, iters = iters)
          println(s"[graph-probe] nodes=${r.count()}")
          r
        }
        timed("top20") {
          ranked.orderBy(col("pr_e12").desc, col("node")).limit(20)
            .collect().take(5).foreach(r => println(s"[graph-probe]   $r"))
        }
      case "bm25" =>
        val dir = args(1)
        val k = args.drop(2).headOption.map(_.toInt).getOrElse(10)
        val every = args.drop(3).headOption.map(_.toLong).getOrElse(37L)
        val maxHits = args.drop(4).headOption.map(_.toLong).getOrElse(0L)
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val queries = docs
          .filter(pmod(col("doc_id"), lit(every)) === 0L)
          .select(col("doc_id").as("q_id"),
            array_join(slice(graft.functions.TextFns.words(col("text")),
              1, 5), " ").as("q_text"))
        println(s"[graph-probe] docs=${docs.count()} queries=${queries.count()}")
        timed("bm25") {
          try {
            val out = Bm25.topK(docs, "doc_id", "text", queries,
              "q_id", "q_text", k = k, maxHits = maxHits)
            println(s"[graph-probe] result rows=${out.count()}")
          } catch {
            case e: IllegalArgumentException =>
              println(s"[graph-probe] REFUSED: ${e.getMessage}")
          }
        }
      case "bm25serve" =>
        // Serving-stack census (args: bm25serve <nDocs> [nQueries] [k]):
        // the r15 buildIndex/search split's receipt — the corpus
        // tokenize/aggregate is paid ONCE at build; each served search
        // costs the query-restricted postings join (the from-scratch topK
        // run alongside pays the build EVERY call). Synthetic corpus:
        // 20 terms/doc over a 100,003-term vocabulary (df ≈ 100 at 500k
        // docs — the healthy regime, not the stopword landmine).
        val nDocs = args(1).toLong
        val nQueries = args.drop(2).headOption.map(_.toInt).getOrElse(1000)
        val k = args.drop(3).headOption.map(_.toInt).getOrElse(10)
        val i = col("id")
        val text = concat_ws(" ", (0 until 20).map(j =>
          concat(lit("w"), pmod(i * lit(2 * j + 7) + lit(j),
            lit(100003L)).cast("string"))): _*)
        val docs = spark.range(nDocs)
          .select(i.as("doc_id"), text.as("text"))
          .repartition(spark.sparkContext.defaultParallelism)
        val every = math.max(1L, nDocs / nQueries)
        val queries = docs.filter(pmod(col("doc_id"), lit(every)) === 0L)
          .select(col("doc_id").as("q_id"),
            array_join(slice(graft.functions.TextFns.words(col("text")),
              1, 5), " ").as("q_text"))
        println(s"[graph-probe] docs=$nDocs queries=${queries.count()}")
        timed("build+save") {
          Bm25.buildIndex(docs, "doc_id", "text")
            .save("bm25_probe_idx", nBuckets = 32)
        }
        val loaded = Bm25.Bm25Index.load(spark, "bm25_probe_idx")
        (1 to 3).foreach { pass =>
          timed(s"search#$pass") {
            println(s"[graph-probe] served rows=" +
              Bm25.search(loaded, queries, "q_id", "q_text", k = k).count())
          }
        }
        timed("tick 1%+save") {
          val batch = spark.range(nDocs, nDocs + nDocs / 100)
            .select(col("id").as("doc_id"),
              concat_ws(" ", (0 until 20).map(j =>
                concat(lit("w"), pmod(col("id") * lit(2 * j + 7) + lit(j),
                  lit(100003L)).cast("string"))): _*).as("text"))
          Bm25.add(loaded, batch, "text").save("bm25_probe_idx2",
            nBuckets = 32)
        }
        timed("from-scratch") {
          println(s"[graph-probe] topK rows=" +
            Bm25.topK(docs, "doc_id", "text", queries, "q_id", "q_text",
              k = k).count())
        }

      case "frontier" =>
        // Frontier census (args: frontier <nPages> [hostCap]): the q135
        // synthetic crawl shape → links → host-level PageRank prior +
        // per-host robots (odd sites disallow /p/1*) → the prioritized,
        // robots-clean, host-capped fetch list. The receipt: frontier cost
        // is one distinct + anti-join + host-sized broadcasts + the TopK
        // heap — output bounded by sites × hostCap, never candidate-sized.
        val n = args(1).toLong
        val hostCap = args.drop(2).headOption.map(_.toInt).getOrElse(50)
        val i = col("id")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        val site = str(pmod(i, lit(997L)))
        val html = concat(
          lit("<a href=\"https://site"), site, lit(".example.com/p/"),
          str(pmod(i * 7L + 1L, lit(4L * n))), lit("\">next</a>"),
          lit("<a href=\"https://site"), str(pmod(i + 1L, lit(997L))),
          lit(".example.com/p/"), str(pmod(i * 13L + 5L, lit(4L * n))),
          lit("\">cross</a>"))
        val pages = spark.range(n).select(
          concat(lit("https://site"), site, lit(".example.com/p/"), str(i))
            .as("url"), html.as("html"))
          .repartition(spark.sparkContext.defaultParallelism)
        val links = timed("links") {
          val l = LinkGraph.links(pages, "url", "html")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          println(s"[graph-probe] links rows=${l.count()}")
          l
        }
        val hosts = timed("host rank") {
          val h = LinkGraph.pageRank(links
            .select(graft.functions.UrlFns.urlHost(col("src")).as("src"),
              graft.functions.UrlFns.urlHost(col("dst")).as("dst"))
            .filter(col("src") =!= col("dst")), iters = 3)
          println(s"[graph-probe] hosts=${h.count()}")
          h
        }
        val robots = spark.range(997).select(
          concat(lit("site"), str(i), lit(".example.com")).as("host"),
          when(pmod(i, lit(2L)) === 1L,
            lit("User-agent: *\nDisallow: /p/1\n"))
            .otherwise(lit("User-agent: *\nAllow: /\n")).as("robots_txt"))
        val crawled = pages.select(col("url"))
        timed("frontier") {
          val f = LinkGraph.frontier(links, crawled,
            hosts.select(col("node"), col("pr_e12")), robots,
            hostCap = hostCap)
          val stats = f.agg(count(lit(1)), countDistinct(col("host")),
            max(col("rn"))).first()
          println(s"[graph-probe] frontier urls=${stats.getLong(0)} " +
            s"hosts=${stats.getLong(1)} maxPerHost=${stats.getInt(2)}")
        }
        graft.operators.Dedup.release(hosts)

      case "recall" =>
        // Partial-probe QUALITY census (r16 — the number the nProbe dial
        // trades away, measured instead of asserted): recall@k of
        // ivfPqSearch vs bruteForceTopK across nProbe ∈ {1,2,4,8,16}.
        // Args: recall <sfDir> [k=10] [nQueries=100] [amplify=1] [m=8]
        // [ksub=64] [residual=1] — `amplify` unions id-shifted VERBATIM
        // copies (the ScaleGen discipline) so the census runs at sf1/sf10
        // without amplifying the whole table set. Note exact twins make
        // top-k tie-dense; the recall read at amplify>1 is conservative
        // (tie-order between the exact and ADC rankings costs recall no
        // user would). The m/ksub/residual dials reprice the PQ budget —
        // the spec-pinned quality tradeoff (SimilaritySpec recall floors).
        import graft.operators.Similarity
        val dir = args(1)
        val k = args.drop(2).headOption.map(_.toInt).getOrElse(10)
        val nQ = args.drop(3).headOption.map(_.toInt).getOrElse(100)
        val amplify = args.drop(4).headOption.map(_.toInt).getOrElse(1)
        val base = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        val maxId = base.agg(max(col("vec_id"))).first() match {
          case r if r.isNullAt(0) => sys.error("empty embeddings frame")
          case r => r.getLong(0) + 1L
        }
        val emb = (0 until amplify).map(c => base.select(
            (col("vec_id") + lit(c * maxId)).as("vec_id"), col("embedding")))
          .reduce(_.unionByName(_))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = emb.count()
        val step = math.max(1L, n / nQ)
        val queries = emb.filter(pmod(col("vec_id"), lit(step)) === 0L)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nq = queries.count()
        println(s"[graph-probe] corpus=$n queries=$nq k=$k")
        val truth = timed("brute") {
          val t = Similarity.bruteForceTopK(queries, emb, k)
            .select(col("query_id"), col("neighbor_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          println(s"[graph-probe] truth rows=${t.count()}")
          t
        }
        val denom = truth.count().toDouble
        val m = args.drop(5).headOption.map(_.toInt).getOrElse(8)
        val ksub = args.drop(6).headOption.map(_.toInt).getOrElse(64)
        val residual = args.drop(7).headOption.forall(_ != "0")
        println(s"[graph-probe] dials m=$m ksub=$ksub residual=$residual")
        val tmpIdxDir = java.nio.file.Files
          .createTempDirectory("graft_recall_idx")
        val idx = timed("build") {
          val i = Similarity.buildIvfPqIndex(emb, nCentroids = 16, m = m,
            ksub = ksub, iters = 2, refineIters = 2, residual = residual)
          i.save(tmpIdxDir.toString)
          Similarity.IvfPqIndex.load(spark, tmpIdxDir.toString)
        }
        for (nProbe <- Seq(1, 2, 4, 8, 16)) {
          timed(s"probe$nProbe") {
            val got = Similarity.ivfPqSearch(idx, queries, k,
                nProbe = nProbe, m = m)
              .select(col("query_id"), col("neighbor_id"))
            val inter = got.join(truth, Seq("query_id", "neighbor_id"),
              "left_semi").count()
            println(f"[graph-probe] recall@$k nProbe=$nProbe " +
              f"${inter / denom}%.4f")
          }
        }
        graft.operators.Dedup.release(emb)
        graft.operators.Dedup.release(queries)
        graft.operators.Dedup.release(truth)
        // the census index is throwaway — don't leak the temp dir
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmpIdxDir).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))

      case "bpelearn" =>
        // Real-vocab BPE training census (r17 — the verdict's #3 receipt):
        // time `Bpe.learn` at production merge counts. Args:
        // bpelearn <sfDir|synth:N> [nMerges=32768]. The sf documents
        // tables carry ~31 distinct words (synthetic corpus), far under a
        // real tokenizer's vocabulary, so `synth:N` generates an N-word
        // Zipf-ish corpus (8–14-char mixed words, count = 1 + id % 97) —
        // honest for this census because the WORD TABLE is the quantity
        // the training loop's cost follows (its own scale law: corpus
        // growth does not grow the word table).
        val src = args(1)
        val nMerges = args.drop(2).headOption.map(_.toInt).getOrElse(32768)
        val docs = (if (src.startsWith("synth:")) {
          val n = src.stripPrefix("synth:").toLong
          val letters = (0 until 14).map { i =>
            // per-letter hash: fully mixed, ANSI-safe (no multiply)
            val v = pmod(xxhash64(col("id"), lit(i)), lit(26L))
            when(lit(i) < pmod(col("id"), lit(7L)) + 8L,
              chr(lit(97L) + v)).otherwise(lit(""))
          }
          spark.range(n).select(concat(letters: _*).as("w0"),
            (pmod(col("id"), lit(97L)) + 1L).as("reps"))
            .select(array_join(array_repeat(col("w0"), col("reps").cast("int")),
              " ").as("text"))
        } else spark.read.parquet(s"$src/documents.parquet")
          .select(col("text")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nWords = timed("wordtable") {
          val n = graft.operators.Bpe.wordCounts(docs, "text").count()
          println(s"[graph-probe] distinct words=$n"); n
        }
        // optional 4th arg: auto (default) | local | dist — the A/B dial
        // for pricing the per-round distributed loop against the
        // collected-table loop on the same corpus
        val threshold = args.drop(3).headOption match {
          case Some("local") => 0
          case Some("dist") => Int.MaxValue
          case _ => 64
        }
        val rules = timed(s"learn$nMerges") {
          graft.operators.Bpe.learn(docs, "text", nMerges,
            localThreshold = threshold)
        }
        println(s"[graph-probe] nWords=$nWords learned=${rules.length} " +
          s"(asked $nMerges)")
        graft.operators.Dedup.release(docs)

      case "packstream" =>
        // Streaming tokenized-export census (r17): drive PackingStream's
        // tick kernel directly over a growing published corpus — the
        // receipt that PER-TICK cost is BATCH-sized (encode + one window
        // over batch rows + a shard-bounded state swap), flat in how much
        // has already been published. Args:
        // packstream <docsPerTick> [ticks=8] [budget=2048]
        val perTick = args(1).toLong
        val ticks = args.drop(2).headOption.map(_.toInt).getOrElse(8)
        val budget = args.drop(3).headOption.map(_.toLong).getOrElse(2048L)
        def tickDocs(t: Int) = {
          val i = col("id")
          // ~500-word vocabulary, 20 words/doc: the per-batch distinct-word
          // frame stays bounded (the encode path's own scale law)
          val words = (0 until 20).map(j => concat(lit("w"),
            pmod(xxhash64(i, lit(j)), lit(500L)).cast("string")))
          spark.range(t * perTick, (t + 1) * perTick).select(
            i.as("doc_id"),
            concat_ws(" ", words: _*).as("text"),
            concat(lit("s"), pmod(i, lit(4L)).cast("string")).as("source"))
        }
        val seed = tickDocs(0).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val merges = timed("train") {
          graft.operators.Bpe.learn(seed, "text", 64)
        }
        val vocab = graft.operators.Packing
          .encodeIdsWithVocab(seed, "doc_id", "text", merges)._2
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        println(s"[graph-probe] vocab=${vocab.count()}")
        val outDir = java.nio.file.Files
          .createTempDirectory("graft_packstream").toString
        (0 until ticks).foreach { t =>
          timed(f"tick$t%02d") {
            graft.streaming.PackingStream.applyTick(tickDocs(t), t.toLong,
              "doc_id", "text", Seq("source"), budget, merges, vocab,
              outDir, "probe", (_, _) => ())
          }
        }
        val published = graft.streaming.PackingStream.pieces(spark, outDir)
        // unk=0 certifies the frozen tick-0 vocab covered every later
        // tick's words — at small perTick coupon-collector gaps would
        // show here as non-zero UNK ids in the published stream
        val unk = published.select(explode(col("token_ids")).as("t"))
          .filter(col("t") === 0).count()
        println(s"[graph-probe] pieces=${published.count()} " +
          s"bins=${graft.streaming.PackingStream
            .manifest(spark, outDir, "doc_id", Seq("source")).count()} " +
          s"unk=$unk")
        seed.unpersist(blocking = false)
        vocab.unpersist(blocking = false)
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(outDir))

      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
