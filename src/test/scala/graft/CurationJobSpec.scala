package graft

import java.nio.file.Files

import graft.jobs.CurationJob
import org.apache.spark.sql.functions._

/** End-to-end curation CLI: quality gate, near-dup corpus dedup, PII scrub,
  * mixture sampling, partitioned sink, S13 idempotence. */
class CurationJobSpec extends SparkSpec {
  import spark.implicits._

  test("curation job gates, dedups, scrubs, samples, and writes partitioned parquet") {
    val dir = Files.createTempDirectory("curation")
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, s"$filler contact me at alice@example.com today", "en", "src0"),
      (2L, s"$filler contact me at alice@example.com today", "en", "src0"), // dup of 1
      (3L, s"$filler entirely different content about rivers", "en", "src0"),
      (4L, "too short", "en", "src0"),                                      // quality-gated
      (5L, s"$filler ganz anderer deutscher inhalt über flüsse", "de", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "block_cols": ["lang"], "redact_pii": true,
         | "partition_by": ["lang"],
         | "mix_strata_col": "source", "mix_fractions": {"src0": 1.0, "src1": 1.0},
         | "report_strata_col": "source"}"""
        .stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.input == 5 && stats.afterQuality == 4 &&
      stats.afterDedup == 3 && stats.output == 3)
    val out = spark.read.parquet(s"$dir/out")
    // survivor of the {1,2} cluster is min-id 1; PII scrubbed in place
    val kept = out.select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
    val texts = out.filter($"doc_id" === 1L).select($"text").as[String].head()
    assert(texts.contains("[EMAIL]") && !texts.contains("alice@example.com"))
    // partitioned layout
    assert(Files.exists(dir.resolve("out/lang=en")))
    // the data card describes what was ACTUALLY written
    val report = spark.read.parquet(s"$dir/out_report")
    val bynDocs = report.select($"source", $"n_docs")
      .as[(String, Long)].collect().toMap
    assert(bynDocs == Map("src0" -> 2L, "src1" -> 1L), bynDocs)
    // S13: second tick skips
    assert(CurationJob.run(spark, s"$dir/cfg.json").isEmpty)
  }

  test("curation job: jsonl release in, curated lake out, jsonl export round-trips") {
    val dir = Files.createTempDirectory("curation_jsonl")
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    // the Dolma-style release shape: string ids, gzip JSONL shards
    Seq(
      ("a-1", s"$filler first document about rivers", "en", "src0"),
      ("a-2", s"$filler second document about tides", "en", "src0"),
      ("a-3", "too short", "en", "src0"),
      ("b-1", s"$filler dritte deutsche urkunde über seen", "de", "src1"))
      .toDF("id", "text", "lang", "source")
      .repartition(2)
      .write.option("compression", "gzip").json(s"$dir/release")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/release", "input_format": "jsonl",
         | "jsonl_schema": "id STRING, text STRING, lang STRING, source STRING",
         | "jsonl_id_hash_col": "id",
         | "output_path": "$dir/out", "jsonl_export_path": "$dir/export",
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "block_cols": ["lang"], "redact_pii": false,
         | "partition_by": []}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.input == 4 && stats.afterQuality == 3 && stats.output == 3)
    val lake = spark.read.parquet(s"$dir/out")
    // string ids hashed to the long contract, deterministically
    val wantIds = Seq("a-1", "a-2", "b-1")
      .map(s => Seq(s).toDF("id").select(xxhash64($"id")).as[Long].head())
      .toSet
    assert(lake.select($"doc_id").as[Long].collect().toSet == wantIds)
    // the JSONL export is gzip members that parse back to the SAME corpus
    val export = spark.read.schema(lake.schema).json(s"$dir/export")
    assert(export.select($"doc_id", $"text").as[(Long, String)]
      .collect().sorted.toSeq ==
      lake.select($"doc_id", $"text").as[(Long, String)]
        .collect().sorted.toSeq)
    assert(Files.list(dir.resolve("export")).iterator().hasNext)
  }

  test("curation job: warc_html_extract=justext drops fluent zero-stopword boilerplate") {
    val dir = Files.createTempDirectory("curation_justext")
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    import java.nio.charset.StandardCharsets.UTF_8
    def capture(d: Long, bodyHtml: String): Array[Byte] = {
      val body = bodyHtml.getBytes(UTF_8)
      val http = ("HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=UTF-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: ${graft.operators.SyntheticWarc.uri(d)}\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8) ++
        http ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val good = "the cat sat on the mat and the dog lay in the sun today " +
      "and it was the best of all the days that the cat had seen"
    val pitch = "buy cheap deals now best offers sale discount here " +
      "premium quality products shipped fast worldwide free"
    // the sales pitch passes the legacy "main" rules (long, no links) but
    // has zero stopwords — only the justext mode kills it
    Files.write(dir.resolve("c.warc.gz"), gz(Seq(
      capture(1L, s"<html><body><p>$good</p><p>$pitch</p></body></html>"))))
    def run(mode: String, out: String): String = {
      Files.writeString(dir.resolve(s"cfg_$out.json"),
        s"""{"documents_path": "$dir/c.warc.gz", "input_format": "warc",
           | "output_path": "$dir/$out", "min_words": 5,
           | "warc_html_extract": "$mode",
           | "justext_stopwords": ["the","a","an","and","of","to","in",
           |   "it","was","is","for","on","with","that","all","had"]}"""
          .stripMargin)
      CurationJob.run(spark, s"$dir/cfg_$out.json")
      spark.read.parquet(s"$dir/$out").select($"text").as[String].head()
    }
    val mainText = run("main", "out_main")
    assert(mainText.contains(pitch) && mainText.contains(good), mainText)
    val jt = run("justext", "out_justext")
    assert(jt == good, jt)
  }

  test("curation job: justext_stopwords_by_lang extracts each page under ITS language's list") {
    val dir = Files.createTempDirectory("curation_jtlang")
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    import java.nio.charset.StandardCharsets.UTF_8
    def capture(d: Long, bodyHtml: String): Array[Byte] = {
      val body = bodyHtml.getBytes(UTF_8)
      val http = ("HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=UTF-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: ${graft.operators.SyntheticWarc.uri(d)}\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8) ++
        http ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val goodEn = "the cat sat on the mat and the dog lay in the sun today " +
      "and it was the best of all the days that the cat had seen"
    val goodFr = "le chat est sur le tapis et les chiens sont dans la " +
      "maison et le jour est beau et la nuit est calme"
    val pitch = "buy cheap deals now best offers sale discount here " +
      "premium quality products shipped fast worldwide free"
    Files.write(dir.resolve("c.warc.gz"), gz(Seq(
      capture(1L, s"<html><body><p>$goodEn</p><p>$pitch</p></body></html>"),
      capture(2L, s"<html><body><p>$goodFr</p><p>$pitch</p></body></html>"))))
    val enList = """["the","a","an","and","of","to","in","it","was","is",
                   |"for","on","with","that","all","had"]""".stripMargin
    def run(extraDials: String, out: String): Set[String] = {
      Files.writeString(dir.resolve(s"cfg_$out.json"),
        s"""{"documents_path": "$dir/c.warc.gz", "input_format": "warc",
           | "output_path": "$dir/$out", "min_words": 5,
           | "warc_html_extract": "justext", $extraDials}""".stripMargin)
      CurationJob.run(spark, s"$dir/cfg_$out.json")
      spark.read.parquet(s"$dir/$out").select($"text").as[String]
        .collect().toSet
    }
    // ONE list (the q133 surface): the French page's content paragraph has
    // ~zero ENGLISH stopwords — it is classified boilerplate and the whole
    // page dies at the word floor. The motivating defect.
    assert(run(s""""justext_stopwords": $enList""", "out_en") ==
      Set(goodEn))
    // per-language lists: the in-row lang probe routes each page to ITS
    // list — both content paragraphs survive, the pitch dies under both
    assert(run(
      s""""justext_stopwords_by_lang": {"en": $enList,
         |  "fr": ["le","la","les","et","est","un","une","dans","il",
         |         "sont","sur"]}""".stripMargin, "out_bilingual") ==
      Set(goodEn, goodFr))
  }

  test("curation job: min_words_by_lang applies per-language floors, min_words backs off") {
    val dir = Files.createTempDirectory("curation_mwbl")
    def words(n: Int, tag: String): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    Seq(
      (1L, words(12, "en"), "en"),  // en floor 20: drops
      (2L, words(25, "en"), "en"),  // en floor 20: keeps
      (3L, words(12, "zh"), "zh"),  // zh floor 8: keeps
      (4L, words(5, "zh"), "zh"),   // zh floor 8: drops
      (5L, words(12, "fr"), "fr"))  // unlisted -> min_words 10: keeps
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 10,
         | "min_words_by_lang": {"en": 20, "zh": 8},
         | "ngram_n": 3, "jaccard_threshold": 0.9}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.afterQuality == 3, stats)
    val kept = spark.read.parquet(s"$dir/out")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 5L), kept)
    // the dial without a lang column refuses with an actionable message
    Seq((1L, words(25, "x"))).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs2")
    Files.writeString(dir.resolve("cfg2.json"),
      s"""{"documents_path": "$dir/docs2", "output_path": "$dir/out2",
         | "min_words_by_lang": {"en": 20}}""".stripMargin)
    val ex = intercept[IllegalArgumentException] {
      CurationJob.run(spark, s"$dir/cfg2.json")
    }
    assert(ex.getMessage.contains("lang column"), ex.getMessage)
  }

  test("curation job: classifier-backed warc_derive_lang via lang_id_weights_path") {
    val dir = Files.createTempDirectory("curation_lid")
    // planted bilingual corpus: languages differ in character statistics
    // (disjoint alphabets) — the signal char-n-gram LID keys on
    def doc(lang: Int, idx: Int): String = {
      val alphabet = "abcdefghijklmnopqrstuvwxyz".drop(lang * 8).take(8)
      val rnd = new scala.util.Random(lang * 7919 + idx)
      (0 until 25).map { _ =>
        (0 until 3 + rnd.nextInt(4))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }.mkString(" ")
    }
    val train = (for {
      (l, li) <- Seq("aa", "bb").zipWithIndex
      d <- 0 until 15
    } yield (li * 100L + d, doc(li, d), l)).toDF("doc_id", "text", "lang")
    val model = graft.operators.Classifier.trainMulticlass(train, "doc_id",
      "text", "lang", nMin = 2, nMax = 3, dim = 128, iters = 6, lr = 2.0)
    graft.operators.Classifier.multiclassWeightsFrame(spark, model)
      .write.parquet(s"$dir/lid_weights")
    // a crawl lake of UNSEEN docs in both planted languages
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    val docs = (for {
      li <- Seq(0, 1); d <- 50 until 53
    } yield (li * 1000L + d, doc(li, d), if (li == 0) "aa" else "bb"))
    Files.write(dir.resolve("crawl.warc.gz"), gz(docs.map { case (id, t, _) =>
      graft.operators.SyntheticWarc.record(id, t, wet = true) }))
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/crawl.warc.gz", "input_format": "warc",
         | "output_path": "$dir/out", "min_words": 5,
         | "warc_derive_lang": true,
         | "lang_id_weights_path": "$dir/lid_weights",
         | "lang_id_dim": 128, "lang_id_ngram_min": 2, "lang_id_ngram_max": 3,
         | "partition_by": ["lang"]}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.output == 6, stats)
    val out = spark.read.parquet(s"$dir/out")
      .select($"url", $"lang").as[(String, String)].collect().toMap
    for ((id, _, l) <- docs)
      assert(out(graft.operators.SyntheticWarc.uri(id)) == l,
        s"doc $id: got ${out(graft.operators.SyntheticWarc.uri(id))}, planted $l")
    assert(Files.exists(dir.resolve("out/lang=aa")) &&
      Files.exists(dir.resolve("out/lang=bb")))
  }

  test("curation job: max_candidates dial refuses the near-identical flood loudly") {
    val dir = Files.createTempDirectory("curation_budget")
    // the r13 landmine shape at miniature scale: one doc-unique token per
    // otherwise-identical template copy — collapseExact can't contract it,
    // the candidate join would go clique-quadratic
    // the unique token rides mid-document (3 of 18 shingles), so pairwise
    // Jaccard is 15/21 ≈ 0.71 < 0.8: candidates are quadratic, TRUE pairs
    // are zero — the exact regime that spilled the disk dry in r13
    (0 until 300).map { i =>
      (i.toLong, "the shared template body with unique" + i + " many " +
        "common words alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda")
    }.toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 5, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "max_candidates": 2000}""".stripMargin)
    val ex = intercept[IllegalArgumentException] {
      CurationJob.run(spark, s"$dir/cfg.json")
    }
    assert(ex.getMessage.contains("maxCandidates budget of 2000"),
      ex.getMessage)
    // raising the dial lets the identical job through (no true near-dup
    // pairs at 0.8 — every doc survives)
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 5, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "max_candidates": 1000000}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.output == 300, stats)
  }

  test("curation job: input_format=warc runs crawl-to-corpus in one job") {
    val dir = Files.createTempDirectory("curationwarc")
    Files.createDirectory(dir.resolve("captures"))
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    import graft.operators.SyntheticWarc.record
    // two capture files: a dup pair split ACROSS files (file-local parsing,
    // corpus-global dedup), a distinct doc, a too-short doc, junk tail
    Files.write(dir.resolve("captures/a.warc.gz"), gz(Seq(
      record(1L, s"$filler the very same page content", wet = true),
      record(3L, s"$filler entirely different content about rivers", wet = true))))
    Files.write(dir.resolve("captures/b.warc.gz"), gz(Seq(
      record(2L, s"$filler the very same page content", wet = true),
      record(4L, "too short", wet = true))) ++ Array[Byte](1, 2, 3))
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/captures", "input_format": "warc",
         | "output_path": "$dir/out",
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.input == 4 && stats.afterQuality == 3 && stats.output == 2)
    val out = spark.read.parquet(s"$dir/out")
    // ids are xxhash64(url); the dup cluster keeps its min-id survivor and
    // the url column rides through the whole pipeline
    assert(out.select($"url").as[String].collect().toSet.subsetOf(
      Set(1L, 2L, 3L).map(d => graft.operators.SyntheticWarc.uri(d))))
    assert(out.count() == 2)
    val survivors = out.select($"doc_id").as[Long].collect().toSet
    val expected = spark.range(1).select(
        xxhash64(lit(graft.operators.SyntheticWarc.uri(1L))),
        xxhash64(lit(graft.operators.SyntheticWarc.uri(2L))))
      .as[(Long, Long)].head()
    assert(survivors.contains(math.min(expected._1, expected._2)) ||
      // blockless dedup keeps exactly one of the dup pair either way
      survivors.intersect(Set(expected._1, expected._2)).size == 1)
  }

  test("curation job: raw HTML response captures — envelope parse + html_to_text in one job") {
    val dir = Files.createTempDirectory("curationhtml")
    Files.createDirectory(dir.resolve("captures"))
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    import java.nio.charset.StandardCharsets.UTF_8
    def capture(d: Long, status: String, bodyHtml: String): Array[Byte] = {
      val body = bodyHtml.getBytes(UTF_8)
      val http = (s"HTTP/1.1 $status\r\n" +
        "Content-Type: text/html; charset=UTF-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Record-ID: <urn:graft:doc:$d>\r\n" +
        s"WARC-Target-URI: ${graft.operators.SyntheticWarc.uri(d)}\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8) ++
        http ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    def page(text: String): String =
      s"""<!DOCTYPE html><html><head><title>t</title><style>p{c:1}</style>
         |<script>var x = "<p>no</p>";</script></head>
         |<body><h1>Heading</h1><p>$text</p></body></html>""".stripMargin
    // dup pair split across files; a distinct page; a 404 (dropped by 2xx)
    Files.write(dir.resolve("captures/a.warc.gz"), gz(Seq(
      capture(1L, "200 OK", page(s"$filler the very same page content")),
      capture(3L, "200 OK", page(s"$filler entirely different content about rivers")))))
    Files.write(dir.resolve("captures/b.warc.gz"), gz(Seq(
      capture(2L, "200 OK", page(s"$filler the very same page content")),
      capture(4L, "404 Not Found", page(s"$filler never enters the corpus at all")))))
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/captures", "input_format": "warc",
         | "output_path": "$dir/out",
         | "warc_derive_lang": true,
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    // 404 dropped at the scan; 3 pages in; dup pair collapses to 1 survivor
    assert(stats.input == 3 && stats.output == 2, stats)
    val out = spark.read.parquet(s"$dir/out")
    val texts = out.select($"text").as[String].collect().toSeq
    // markup gone, script/style gone, heading + body text extracted
    texts.foreach { t =>
      assert(!t.contains("<") && !t.contains("var x"), t)
      assert(t.startsWith("t Heading w1 w2 "), t)
    }
    // the derived lang column rides the whole pipeline (q28 kernel at scan)
    assert(out.columns.contains("lang") &&
      out.filter($"lang".isNull).isEmpty)
  }

  test("curation job: link_host_rank_iters attaches the crawl's own host-rank prior") {
    val dir = Files.createTempDirectory("curationrank")
    Files.createDirectory(dir.resolve("captures"))
    import java.nio.charset.StandardCharsets.UTF_8
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    def capture(uri: String, bodyHtml: String): Array[Byte] = {
      val body = bodyHtml.getBytes(UTF_8)
      val http = ("HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=UTF-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Record-ID: <urn:graft:$uri>\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8) ++
        http ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    def page(text: String, hrefs: String*): String =
      s"<html><body><p>$text</p>" +
        hrefs.map(h => s"""<a href="$h">x</a>""").mkString(" ") +
        "</body></html>"
    // hosts a and c both link host b; b links c; nobody links a
    Files.write(dir.resolve("captures/a.warc.gz"), gz(Seq(
      capture("http://hosta.test/p1",
        page(s"$filler page one about rivers", "http://hostb.test/x")),
      capture("http://hostb.test/p2",
        page(s"$filler page two about tides", "/local", "http://hostc.test/y")),
      capture("http://hostc.test/p3",
        page(s"$filler page three about lakes", "http://hostb.test/z")))))
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/captures", "input_format": "warc",
         | "output_path": "$dir/out", "link_host_rank_iters": 2,
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.input == 3 && stats.output == 3, stats)
    val out = spark.read.parquet(s"$dir/out")
    val got = out.select(graft.functions.UrlFns.urlHost($"url"),
        $"host_rank_e12")
      .as[(String, Long)].collect().toMap
    // the SAME edges through the operator directly = the expected ranks
    // (the /local href resolves within hostb and drops as a self-host edge)
    val want = graft.operators.LinkGraph.pageRank(
        Seq(("hosta.test", "hostb.test"), ("hostc.test", "hostb.test"),
          ("hostb.test", "hostc.test")).toDF("src", "dst"), iters = 2)
      .select($"node", $"pr_e12").as[(String, Long)].collect().toMap
    assert(got == want, s"got $got want $want")
    // linked hosts outrank the never-linked source host (b and c trade
    // mass in this tiny cycle; a only decays)
    assert(got("hostb.test") > got("hosta.test") &&
      got("hostc.test") > got("hosta.test"))
  }

  test("curation job: WET export re-publishes the corpus; indexed form serves byte ranges") {
    val dir = Files.createTempDirectory("curationwet")
    val docs = (0L until 40L).map(i =>
      (i, s"wet doc $i " + (1 to 25).map(j => s"t$i$j").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    docs.write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 5, "redact_pii": false,
         | "wet_export_path": "$dir/wet", "wet_export_indexed": true}"""
        .stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.output == 40, stats)
    // the export round-trips through the production parser: urn ids were
    // synthesized (parquet corpora carry no url), text survives bit-equal
    val back = graft.io.Warc.textDocs(
        graft.io.Warc.records(spark, s"$dir/wet"))
      .collect()
    assert(back.length == 40)
    assert(back.map(_.text).toSet ==
      docs.select($"text").as[String].collect().toSet)
    assert(back.forall(_.url.startsWith("urn:graft:doc:")))
    // the CDX parquet landed and serves selective byte-range fetches
    val idx = spark.read.parquet(s"$dir/wet_cdx")
    assert(idx.count() == 40L)
    val picked = idx.filter($"doc_id" % 5 === 0)
    val fetched = graft.io.Warc.textDocs(
        graft.io.Warc.recordsIndexed(picked)).collect()
    assert(fetched.length == picked.count().toInt && fetched.nonEmpty)
  }

  /** 20 docs under `dir/docs` with one planted near-dup cluster {5, 9}. */
  private def writeTrainingPairsDocs(dir: java.nio.file.Path): Unit = {
    val base = "common alpha beta"
    val docs = (0L until 20L).map { i =>
      val uniq = (0 until 6).map(j => s"u${i}x$j").mkString(" ")
      (i, s"$base $uniq", "en", "src0")
    }.map {
      // plant a near-dup cluster {5, 9}: 9 is 5's text plus one token
      case (9L, _, l, s) =>
        (9L, (0 until 6).map(j => s"u5x$j").mkString(s"$base ", " ",
          " extra"), l, s)
      case r => r
    }
    docs.toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/docs")
  }

  test("curation job: training pairs survive a stage pin on the distributed CC route") {
    // the dedup labels ride in the deduped corpus's plan, and a stage pin
    // releases that plan; on the distributed CC route the labels are
    // checkpoint blocks, which the training-pairs stage must not need
    val dir = Files.createTempDirectory("curationtppin")
    writeTrainingPairsDocs(dir)
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 3, "gopher_rules": false, "redact_pii": false,
         | "ngram_n": 3, "jaccard_threshold": 0.5, "block_cols": ["lang"],
         | "line_freq_cap": 100,
         | "training_pairs_output_path": "$dir/tp",
         | "training_query_every": 1, "training_query_words": 3,
         | "training_negatives_k": 3}""".stripMargin)
    spark.conf.set(graft.operators.Dedup.MaxLocalEdgesKey, "0")
    try assert(CurationJob.run(spark, s"$dir/cfg.json").get.output == 19)
    finally spark.conf.unset(graft.operators.Dedup.MaxLocalEdgesKey)
    assert(spark.read.parquet(s"$dir/tp").count() > 0)
    assert(spark.read.parquet(s"$dir/tp_labels").filter($"id" === 9L)
      .select($"component").as[Long].head() == 5L)
  }

  test("curation job: training-pairs publication — gold-excluded negatives, cluster-keyed splits") {
    val dir = Files.createTempDirectory("curationtp")
    writeTrainingPairsDocs(dir)
    (0L until 20L).map(i => (i, Array.tabulate(8)(d =>
        math.sin(i * 0.9 + d * 0.61).toFloat)))
      .toDF("doc_id", "embedding").write.parquet(s"$dir/emb")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 3, "gopher_rules": false, "redact_pii": false,
         | "ngram_n": 3, "jaccard_threshold": 0.5, "block_cols": ["lang"],
         | "bm25_index_table": "cj_tp_bm25",
         | "ivfpq_index_path": "$dir/ivfpq", "ivfpq_centroids": 8,
         | "training_pairs_output_path": "$dir/tp",
         | "training_eval_path": "$dir/tpeval",
         | "training_query_every": 1, "training_query_words": 3,
         | "training_negatives_k": 3,
         | "training_splits": {"train": 0.5, "test": 0.5},
         | "training_embeddings_path": "$dir/emb"}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.output == 19, stats) // 9 collapsed into 5's cluster
    val tp = spark.read.parquet(s"$dir/tp")
    assert(tp.columns.toSet == Set("q_id", "gold_id", "retriever",
      "neighbor_id", "rank", "split_key", "split"))
    val rows = tp.as[(Long, Long, String, Long, Int, Long, String)]
      .collect().toSeq
    assert(rows.nonEmpty)
    // gold exclusion: the query's own doc never appears as a negative
    assert(rows.forall(r => r._2 == r._1 && r._4 != r._2),
      "a gold doc leaked into its own negatives")
    // both retrievers contribute; ranks are 1-based and contiguous
    assert(rows.map(_._3).toSet == Set("bm25", "dense"))
    rows.groupBy(r => (r._1, r._3)).foreach { case (_, g) =>
      assert(g.map(_._5).sorted == (1 to g.size).toSeq)
    }
    // the labels frame published beside the pairs carries the planted
    // cluster: 9's root is 5 (the standing minimum)
    val labels = spark.read.parquet(s"$dir/tp_labels")
    assert(labels.filter($"id" === 9L).select($"component")
      .as[Long].head() == 5L)
    // split keys on the cluster ROOT: query 5 keys on itself, and a
    // day-two admission into cluster 5 (via the published labels)
    // INHERITS its split — the leakage contract, end to end
    val q5 = rows.find(r => r._1 == 5L).get
    assert(q5._6 == 5L)
    // bucket order in the job = SORTED split names (JSON objects are
    // unordered); reproduce it here
    val admitted = graft.operators.DataMix.assignSplitByComponent(
        Seq(999L).toDF("doc_id"), "doc_id",
        Seq((999L, 5L)).toDF("id", "component"),
        Seq("test" -> 0.5, "train" -> 0.5))
      .select($"split").as[String].head()
    assert(admitted == q5._7, "admission into the cluster changed the split")
    // every row of one query shares one split (queries key atomically)
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._7).toSet.size == 1)
    }
    // the day-one QA gate on the published product (q154's operator):
    // negatives are gold-excluded, so evaluating them AS IF they were
    // retrieval hits against the gold frame must score exactly zero on
    // every metric — any non-zero recall/MRR/nDCG is a leak
    val gold = tp.select($"q_id", $"gold_id").distinct()
    val leakEval = graft.operators.Retrieval.evaluate(
        tp.select($"q_id", $"neighbor_id", $"rank"), gold, k = 10)
      .select($"recall_e6", $"mrr_e6", $"ndcg_e6")
      .as[(Long, Long, Long)].collect()
    assert(leakEval.nonEmpty &&
      leakEval.forall(_ == ((0L, 0L, 0L))), "gold leaked into negatives")
    // positive control: the gold frame served at rank 1 scores perfect
    val perfect = graft.operators.Retrieval.evaluateSummary(
        gold.select($"q_id", $"gold_id", lit(1).as("rank")), gold, k = 10)
      .select($"recall_e6", $"mrr_e6", $"ndcg_e6")
      .as[(Long, Long, Long)].head()
    assert(perfect == ((1000000L, 1000000L, 1000000L)))
    // the published QA card: one self-retrieval summary row per
    // retriever, every metric a valid e6 fraction, all 19 queries judged
    val card = spark.read.parquet(s"$dir/tpeval")
      .as[(String, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(card.map(_._1) == Seq("bm25", "dense"))
    assert(card.forall(r => r._2 == 19L &&
      Seq(r._3, r._4, r._5).forall(m => m >= 0L && m <= 1000000L)))
    // the DENSE serving index published beside the corpus covers exactly
    // the curated ids, and the job's dense negatives came off it: a
    // direct gold-excluded search over the loaded index reproduces them
    val didx = graft.operators.Similarity.IvfPqIndex.load(spark,
      s"$dir/ivfpq")
    assert(didx.cells.count() == 19L)
    val q5emb = spark.read.parquet(s"$dir/emb").filter($"doc_id" === 5L)
      .select($"doc_id".as("vec_id"), $"embedding")
    val served = graft.operators.Similarity.ivfPqSearch(didx, q5emb,
        k = 3, nProbe = 4,
        excludePairs = Seq((5L, 5L)).toDF("q", "g"))
      .select($"neighbor_id", $"rank").as[(Long, Int)].collect().toSet
    assert(served == rows.filter(r => r._1 == 5L && r._3 == "dense")
      .map(r => (r._4, r._5)).toSet)
    // the card's dense row = EXACT-SEARCH AGREEMENT, reproducible off the
    // published artifacts alone: re-serving the same nProbe search off the
    // loaded index and re-deriving brute-force cosine truth rebuilds the
    // row to the exact e6 integer (no tolerance — the card is a contract,
    // not an estimate)
    val embAll = spark.read.parquet(s"$dir/emb")
      .join(spark.read.parquet(s"$dir/out").select($"doc_id"),
        Seq("doc_id"), "left_semi")
      .select($"doc_id".as("vec_id"), $"embedding")
    val expectedDense = graft.operators.Retrieval.evaluateSummary(
        graft.operators.Similarity.ivfPqSearch(didx, embAll, k = 3,
            nProbe = 4)
          .select($"query_id", $"neighbor_id", $"rank"),
        graft.operators.Similarity.bruteForceTopK(embAll, embAll, 3)
          .select($"query_id", $"neighbor_id"), 3)
      .select($"n_queries", $"recall_e6", $"mrr_e6", $"ndcg_e6")
      .as[(Long, Long, Long, Long)].head()
    val denseRow = card.find(_._1 == "dense").get
    assert((denseRow._2, denseRow._3, denseRow._4, denseRow._5)
      == expectedDense)
    // and the agreement is non-trivial here: 4-of-8 probed cells on a
    // 19-doc corpus must find SOMETHING exact search finds
    assert(denseRow._3 > 0L, s"dense agreement collapsed: $denseRow")
  }

  test("curation job: mixture plan + materialized epochs published beside the corpus") {
    val dir = Files.createTempDirectory("curationmix")
    // three sources with distinct token masses: a=20, b=10, c=5 words
    val docs = ((0 until 4).map(i => (i.toLong, s"alpha bravo c$i d$i e$i", "en", "srcA")) ++
      (4 until 6).map(i => (i.toLong, s"fox golf h$i i$i j$i", "en", "srcB")) ++
      Seq((6L, "kilo lima m6 n6 o6", "en", "srcC")))
      .toSeq.toDF("doc_id", "text", "lang", "source")
    docs.write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 3, "gopher_rules": false, "redact_pii": false,
         | "ngram_n": 3, "jaccard_threshold": 0.9, "block_cols": ["lang"],
         | "mixture_plan_path": "$dir/plan",
         | "mixture_budget_tokens": 30,
         | "mixture_weights": {"srcB": 2},
         | "mixture_max_epochs_e3": 2000,
         | "mixture_materialize_path": "$dir/epochs"}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.output == 7, stats)
    val plan = spark.read.parquet(s"$dir/plan")
      .select($"source", $"avail_tokens", $"mix_w", $"cap_tokens",
        $"alloc_tokens", $"unallocated_tokens")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // the fold's conservation law: allocations + residue == the budget
    assert(plan.map(_._5).sum + plan.head._6 == 30L)
    // caps honor the 2-epoch ceiling exactly
    assert(plan.forall(r => r._4 == r._2 * 2))
    assert(plan.find(_._1 == "srcB").get._3 == 2L)
    // the materialization equals re-executing the published plan over the
    // published corpus — the artifact chain is self-consistent
    val priced = spark.read.parquet(s"$dir/out")
      .select($"doc_id", $"source",
        size(graft.functions.TextFns.words($"text")).cast("long")
          .as("n_tok"))
    val want = graft.operators.DataMix.executeEpochPlan(priced, "source",
        "doc_id", $"n_tok", spark.read.parquet(s"$dir/plan"))
      .select($"doc_id", $"source", $"epoch_idx")
      .as[(Long, String, Long)].collect().toSet
    val gotRows = spark.read.parquet(s"$dir/epochs")
      .select($"doc_id", $"source", $"epoch_idx")
      .as[(Long, String, Long)].collect().toSeq
    val got = gotRows.toSet
    assert(got == want && got.nonEmpty)
    // no (doc, epoch) row repeats (collect as a SEQ — a set would swallow
    // duplicates before the check); epochs are dense from 0 per doc
    assert(gotRows.size == got.size)
    got.groupBy(r => (r._1, r._2)).foreach { case (_, g) =>
      assert(g.map(_._3).toSeq.sorted == (0L until g.size).toSeq)
    }
  }

  test("curation job: tokenized export — ids, vocab, and addressable packed slots") {
    val dir = Files.createTempDirectory("curationtok")
    // doc 2 is LONGER than the pack budget (24 tokens vs 10) — the r17
    // concat-and-cut contract must split it at bin boundaries instead of
    // silently overflowing its bin (the r16 defect)
    Seq(
      (1L, "ab ab ab cd", "en", "s0"),
      (2L, Seq.fill(12)("cd cd").mkString(" "), "en", "s0"),
      (3L, "cd cd ab", "en", "s0"),
      (4L, "ab cd ab cd", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 3, "gopher_rules": false, "redact_pii": false,
         | "ngram_n": 3, "jaccard_threshold": 0.9, "block_cols": ["lang"],
         | "tokenized_output_path": "$dir/tok",
         | "examples_output_path": "$dir/examples",
         | "bpe_merges": 2, "pack_budget_tokens": 10,
         | "pack_shard_col": "source"}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.output == 4, stats)
    val tok = spark.read.parquet(s"$dir/tok")
    assert(tok.columns.toSet == Set("doc_id", "source", "chunk_idx",
      "n_tokens_bpe", "bin_id", "offset_tokens", "token_ids"))
    val rows = tok.select($"doc_id", $"source", $"chunk_idx",
        $"n_tokens_bpe", $"bin_id", $"offset_tokens", $"token_ids")
      .as[(Long, String, Long, Long, Long, Long, Seq[Int])]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    // pieces are budget-bounded and each piece's slice IS its priced count
    assert(rows.forall(r => r._7.size.toLong == r._4 && r._4 <= 10))
    // the long doc split into multiple pieces on consecutive bins
    val longPieces = rows.filter(_._1 == 2L)
    assert(longPieces.size >= 2)
    assert(longPieces.map(_._5) == longPieces.map(_._5).sorted)
    // THE published contract: every (shard, bin) sums to exactly the
    // budget, except each shard's final bin
    rows.groupBy(r => (r._2, r._5)).foreach { case ((src, bin), g) =>
      val lastBin = rows.filter(_._2 == src).map(_._5).max
      val tot = g.map(_._4).sum
      if (bin < lastBin) assert(tot == 10L, s"($src,$bin) sum=$tot")
      else assert(tot <= 10L, s"($src,$bin) sum=$tot")
    }
    // offsets are the exclusive running sum within (shard, bin): a reader
    // concatenating at offsets reconstructs each example gap-free
    rows.groupBy(r => (r._2, r._5)).foreach { case (_, g) =>
      val sorted = g.sortBy(r => (r._1, r._3))
      val expect = sorted.scanLeft(0L)(_ + _._4).init
      assert(sorted.map(_._6) == expect)
    }
    // concatenating a doc's pieces in chunk_idx order rebuilds its stream:
    // doc 2's pieces must chain bin-contiguously
    assert(longPieces.map(_._4).sum == 24L)
    // vocab: dense 1-based ids in token sort order, and every id used in
    // a stream resolves
    val vocab = spark.read.parquet(s"$dir/tok_vocab")
      .as[(String, Int)].collect().toSeq.sortBy(_._2)
    assert(vocab.map(_._2) == (1 to vocab.size))
    assert(vocab.map(_._1) == vocab.map(_._1).sorted)
    val used = rows.flatMap(_._7).toSet
    assert(used.subsetOf(vocab.map(_._2).toSet))
    // the validation manifest beside the corpus (r17): counts and stream
    // sha per (shard, bin) — recomputing it from the published pieces
    // must reproduce it row for row (the reader's day-one check)
    val manifest = spark.read.parquet(s"$dir/tok_manifest")
      .select($"source", $"bin_id", $"n_pieces", $"n_docs", $"n_tokens",
        $"content_sha")
      .as[(String, Long, Long, Long, Long, String)].collect().toSet
    val recomputed = graft.operators.Packing.shardManifest(
        spark.read.parquet(s"$dir/tok"), "doc_id", Seq("source"))
      .select($"source", $"bin_id", $"n_pieces", $"n_docs", $"n_tokens",
        $"content_sha")
      .as[(String, Long, Long, Long, Long, String)].collect().toSet
    assert(manifest == recomputed && manifest.nonEmpty)
    // manifest covers every published (shard, bin) and its token sums
    // match the pieces table
    assert(manifest.map(m => (m._1, m._2)) ==
      rows.map(r => (r._2, r._5)).toSet)
    assert(manifest.forall(m => m._5 ==
      rows.filter(r => r._2 == m._1 && r._5 == m._2).map(_._4).sum))
    // the optional materialized-examples table: each bin's stream is its
    // pieces concatenated at offsets, boundaries parallel and ascending
    val ex = spark.read.parquet(s"$dir/examples")
      .select($"source", $"bin_id", $"n_tokens", $"token_ids",
        $"doc_offsets", $"doc_ids")
      .as[(String, Long, Long, Seq[Int], Seq[Long], Seq[Long])]
      .collect().toSet
    assert(ex.map(e => (e._1, e._2)) == rows.map(r => (r._2, r._5)).toSet)
    ex.foreach { e =>
      val ps = rows.filter(r => r._2 == e._1 && r._5 == e._2 && r._4 > 0)
        .sortBy(_._6)
      assert(e._4 == ps.flatMap(_._7))
      assert(e._5 == ps.map(_._6) && e._6 == ps.map(_._1))
      assert(e._3 == ps.map(_._4).sum)
    }
  }

  test("curation job: frontier export + BM25 index publication close the crawl loop") {
    val dir = Files.createTempDirectory("curationfrontier")
    Files.createDirectory(dir.resolve("captures"))
    import java.nio.charset.StandardCharsets.UTF_8
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    def capture(uri: String, ctype: String, body: String): Array[Byte] = {
      val b = body.getBytes(UTF_8)
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n" +
        s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++ b
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8) ++
        http ++ "\r\n\r\n".getBytes(UTF_8)
    }
    def filler(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    Files.write(dir.resolve("captures/c.warc.gz"), gz(Seq(
      capture("http://hosta.test/p1", "text/html; charset=UTF-8",
        s"<html><body><p>${filler("r")} rivers</p>" +
          """<a href="http://hostb.test/x">b</a>""" +
          """<a href="/secret/z">s</a>""" +
          """<a href="/p1b">sib</a></body></html>"""),
      capture("http://hosta.test/p1b", "text/html; charset=UTF-8",
        s"<html><body><p>${filler("l")} lakes</p></body></html>"),
      capture("http://hostb.test/p2", "text/html; charset=UTF-8",
        s"<html><body><p>${filler("z")} zebra canyon</p></body></html>"),
      capture("http://hosta.test/robots.txt", "text/plain",
        "User-agent: *\nDisallow: /secret\n" +
          "Sitemap: http://hosta.test/sm.xml\n"))))
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/captures", "input_format": "warc",
         | "output_path": "$dir/out", "min_words": 20,
         | "robots_from_crawl": true, "link_host_rank_iters": 2,
         | "frontier_output_path": "$dir/frontier",
         | "frontier_host_cap": 10,
         | "bm25_index_table": "cj_bm25_idx",
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.output == 3, stats) // robots capture leaves the corpus
    // the frontier: hostb/x (undiscovered) and hosta's sitemap URL; the
    // disallowed /secret/z and the already-captured /p1b are excluded
    val fr = spark.read.parquet(s"$dir/frontier")
    assert(fr.select($"url").as[String].collect().toSet ==
      Set("http://hostb.test/x", "http://hosta.test/sm.xml"))
    assert(fr.columns.toSet ==
      Set("url", "host", "host_rank_e12", "rn", "fetch_after_ms"))
    // hostb is linked (by p1) — its frontier row carries real rank mass
    assert(fr.filter($"host" === "hostb.test")
      .select($"host_rank_e12").as[Long].head() > 0L)
    // the published BM25 index serves the curated corpus
    val idx = graft.operators.Bm25.Bm25Index.load(spark, "cj_bm25_idx")
    assert(idx.nDocs == 3L)
    val hit = graft.operators.Bm25.search(idx,
        Seq((1L, "zebra")).toDF("q_id", "q_text"), "q_id", "q_text", k = 1)
      .select($"doc_id").as[Long].head()
    assert(hit == spark.read.parquet(s"$dir/out")
      .filter($"url" === "http://hostb.test/p2")
      .select($"doc_id").as[Long].head())
  }

  test("curation job: robots_path retroactively honors RFC 9309 rules per host") {
    val dir = Files.createTempDirectory("curationrobots")
    Files.createDirectory(dir.resolve("captures"))
    import java.nio.charset.StandardCharsets.UTF_8
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    def wet(uri: String, text: String): Array[Byte] = {
      val payload = text.getBytes(UTF_8)
      (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Record-ID: <urn:graft:$uri>\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
        "Content-Type: text/plain\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(UTF_8) ++
        payload ++ "\r\n\r\n".getBytes(UTF_8)
    }
    def filler(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    Files.write(dir.resolve("captures/a.warc.gz"), gz(Seq(
      wet("http://hosta.test/private/one", s"${filler("a")} page about rivers"),
      wet("http://hosta.test/private/ok/two", s"${filler("b")} page about tides"),
      wet("http://hosta.test/open/three", s"${filler("c")} page about lakes"),
      wet("http://hostb.test/private/four", s"${filler("d")} page about seas"))))
    // hosta disallows /private but re-allows /private/ok for graftbot;
    // hostb has NO robots row -> everything allowed
    Seq(("hosta.test",
      "User-agent: graftbot\nDisallow: /private\nAllow: /private/ok\n" +
        "User-agent: *\nDisallow: /\n"))
      .toDF("host", "robots_txt").write.parquet(s"$dir/robots")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/captures", "input_format": "warc",
         | "output_path": "$dir/out",
         | "robots_path": "$dir/robots", "robots_agent": "graftbot",
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    // /private/one drops at the scan; the other three survive
    assert(stats.input == 3 && stats.output == 3, stats)
    val urls = spark.read.parquet(s"$dir/out")
      .select($"url").as[String].collect().toSet
    assert(urls == Set("http://hosta.test/private/ok/two",
      "http://hosta.test/open/three", "http://hostb.test/private/four"))
  }

  test("curation job: robots_from_crawl — the dump's own robots.txt captures govern") {
    val dir = Files.createTempDirectory("curationselfrobots")
    Files.createDirectory(dir.resolve("captures"))
    import java.nio.charset.StandardCharsets.UTF_8
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    def wet(uri: String, text: String): Array[Byte] = {
      val payload = text.getBytes(UTF_8)
      (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Record-ID: <urn:graft:$uri>\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
        "Content-Type: text/plain\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(UTF_8) ++
        payload ++ "\r\n\r\n".getBytes(UTF_8)
    }
    def filler(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    Files.write(dir.resolve("captures/a.warc.gz"), gz(Seq(
      // the host's robots capture travels WITH its pages
      wet("http://hosta.test/robots.txt",
        "User-agent: graftbot\nDisallow: /private\nAllow: /private/ok\n"),
      wet("http://hosta.test/private/one", s"${filler("a")} page about rivers"),
      wet("http://hosta.test/private/ok/two", s"${filler("b")} page about tides"),
      wet("http://hostb.test/private/four", s"${filler("d")} page about seas"))))
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/captures", "input_format": "warc",
         | "output_path": "$dir/out",
         | "robots_from_crawl": true, "robots_agent": "graftbot",
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    // the robots capture itself and the disallowed page both leave at the
    // scan; rule-less hostb is untouched
    assert(stats.input == 2 && stats.output == 2, stats)
    val urls = spark.read.parquet(s"$dir/out")
      .select($"url").as[String].collect().toSet
    assert(urls == Set("http://hosta.test/private/ok/two",
      "http://hostb.test/private/four"))
  }

  test("curation job: url normalization + url-level dedup unify re-fetched captures") {
    val dir = Files.createTempDirectory("curationurl")
    Files.createDirectory(dir.resolve("captures"))
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    import java.nio.charset.StandardCharsets.UTF_8
    def wet(uri: String, date: String, text: String): Array[Byte] = {
      val payload = text.getBytes(UTF_8)
      (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Target-URI: $uri\r\nWARC-Date: $date\r\n" +
        s"Content-Type: text/plain\r\nContent-Length: ${payload.length}\r\n\r\n")
        .getBytes(UTF_8) ++ payload ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    // the same page fetched THREE ways (case/port/tracking variants) plus a
    // genuinely different page on the same host
    Files.write(dir.resolve("captures/a.warc.gz"), gz(Seq(
      wet("HTTP://Site.test:80/page?utm_source=x", "2024-01-02T00:00:00Z",
        s"$filler re-fetch later"),
      wet("http://site.test/page", "2024-01-01T00:00:00Z",
        s"$filler the first fetch"),
      wet("http://site.test/page#frag", "2024-01-03T00:00:00Z",
        s"$filler re-fetch latest"),
      wet("http://site.test/other", "2024-01-01T00:00:00Z",
        s"$filler another page entirely about rivers and lakes"))))
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/captures", "input_format": "warc",
         | "output_path": "$dir/out", "warc_url_dedup": true,
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    // 4 captures -> 2 canonical urls; the survivor is the deterministic
    // lexicographic-min (warc_date, text) capture
    assert(stats.input == 2 && stats.output == 2, stats)
    val out = spark.read.parquet(s"$dir/out")
    val rows = out.select($"url", $"text").as[(String, String)]
      .collect().toMap
    assert(rows.keySet == Set("http://site.test/page", "http://site.test/other"))
    assert(rows("http://site.test/page") == s"$filler the first fetch")
    // ids are assigned AFTER canonicalization: each is the hash of its
    // canonical url, so every re-fetch variant maps to one id
    assert(out.filter($"doc_id" =!= xxhash64($"url")).isEmpty)
  }

  test("curation job: host blocklist drops at scan; host_cap quotas per site") {
    val dir = Files.createTempDirectory("curationhost")
    Files.createDirectory(dir.resolve("captures"))
    def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      recs.foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(r); g.finish()
      }
      bos.toByteArray
    }
    import java.nio.charset.StandardCharsets.UTF_8
    def wet(uri: String, text: String): Array[Byte] = {
      val payload = text.getBytes(UTF_8)
      (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Target-URI: $uri\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
        s"Content-Type: text/plain\r\nContent-Length: ${payload.length}\r\n\r\n")
        .getBytes(UTF_8) ++ payload ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    val bulkUrls = (0 until 4).map(i => s"http://bulk.test/p$i")
    Files.write(dir.resolve("captures/a.warc.gz"), gz(
      bulkUrls.zipWithIndex.map { case (u, i) =>
        wet(u, s"$filler bulk page about subject$i entirely distinct topic$i")
      } ++ Seq(
        wet("http://spam.test/x", s"$filler spam page never enters at all"),
        wet("http://ok.test/y", s"$filler a single good page about rivers"))))
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/captures", "input_format": "warc",
         | "output_path": "$dir/out",
         | "host_blocklist": ["spam.test"], "host_cap": 2,
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    // spam.test never enters (scan filter); bulk.test capped 4 -> 2
    assert(stats.input == 5 && stats.afterHostCap == Some(3) &&
      stats.output == 3, stats)
    val out = spark.read.parquet(s"$dir/out")
    val kept = out.select($"url").as[String].collect().toSet
    assert(kept.contains("http://ok.test/y") && !kept.exists(_.contains("spam")))
    // the two bulk survivors are the DETERMINISTIC least-id ones
    val expected = spark.createDataset(bulkUrls).toDF("url")
      .select($"url", xxhash64($"url").as("id"))
      .orderBy($"id").limit(2).select($"url").as[String].collect().toSet
    assert(kept.intersect(bulkUrls.toSet) == expected, kept)
  }

  test("curation job: banned-wordlist gate drops flagged docs at the threshold") {
    val dir = Files.createTempDirectory("curationbanned")
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, s"$filler perfectly fine content about rivers"),
      (2L, s"$filler casino content with one hit only"),
      (3L, s"$filler casino casino content with two distinct hits"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "banned_words": ["casino"], "max_banned_hits": 1,
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.8,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.afterQuality == 2 && stats.output == 2, stats)
    assert(spark.read.parquet(s"$dir/out").select($"doc_id")
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("curation job: gopher gate, window scrub, and DSIR resample stages") {
    val dir = Files.createTempDirectory("curation2")
    def words(a: Int, b: Int) = (a until b).map(i => s"w$i").mkString(" ")
    val boiler = (0 until 10).map(i => s"b$i").mkString(" ")
    Seq(
      (1L, words(0, 40), "src0"),
      (2L, words(100, 140), "src0"),
      (3L, words(200, 230) + " " + boiler, "src1"), // first boiler occurrence
      (4L, words(300, 330) + " " + boiler, "src1"), // later copy: scrubbed
      (5L, ("dup dup dup dup " * 10).trim, "src0")) // gopher dup-line flag
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 20, "gopher_rules": true, "reline_words_per_line": 4,
         | "ngram_n": 3, "jaccard_threshold": 0.9,
         | "scrub_window_tokens": 10, "redact_pii": false,
         | "dsir_domain_col": "source", "dsir_domain_value": "src0",
         | "dsir_k": 3}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    // doc 5 dies on the battery (every 4-word line identical); the boiler
    // run survives only in doc 3; DSIR keeps 3 of the 4 survivors
    assert(stats.input == 5 && stats.afterQuality == 4 &&
      stats.afterDedup == 4 && stats.afterScrub.contains(4) &&
      stats.afterResample.contains(3) && stats.output == 3)
    val out = spark.read.parquet(s"$dir/out")
    val d4 = out.filter($"doc_id" === 4L).select($"text").as[String].collect()
    d4.foreach(t => assert(!t.contains("b0") && t.contains("w300")))
    val d3 = out.filter($"doc_id" === 3L).select($"text").as[String].collect()
    d3.foreach(t => assert(t.contains("b0")))
  }

  test("curation job: normalize_text collides accented dups, entropy gate kills mash") {
    val dir = Files.createTempDirectory("curation5")
    def w(i: Int) = s"w${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
    val base = (0 until 40).map(w).mkString(" ")
    // accented, double-spaced variant of base: identical AFTER normalization
    val accented = base.replace("wa", "wá").replace(" ", "  ")
    Seq(
      (1L, base, "src0"),
      (2L, accented, "src0"),          // normalize -> exact dup of 1
      (3L, ("aa " * 30).trim, "src0")) // 30 words but ~0.6 nats of chars
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "normalize_text": true, "min_words": 20,
         | "min_char_entropy_e6": 1500000,
         | "ngram_n": 3, "jaccard_threshold": 0.9,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.input == 3 && stats.afterQuality == 2 &&
      stats.afterDedup == 1 && stats.output == 1)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select($"doc_id").as[Long].collect().toSeq == Seq(1L))
    // the surviving text is the normalized form
    assert(out.select($"text").as[String].head() == base)
  }

  test("curation job: line_freq_cap bounds boilerplate, novelty gate drops husks") {
    val dir = Files.createTempDirectory("curation6")
    def w(i: Int) = s"w${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
    def rng(a: Int, b: Int) = (a until b).map(w).mkString(" ")
    val shared = (200 until 210).map(w).mkString(" ")
    val base = rng(0, 40)
    Seq(
      (1L, base, "src0"),
      (4L, rng(100, 110) + "\n" + shared, "src1"),
      (5L, rng(110, 120) + "\n" + shared, "src1"),
      (6L, rng(120, 130) + "\n" + shared, "src1"), // 3rd copy: capped at 2
      (7L, base + " " + rng(100, 110), "src0"))    // mostly-dup concat doc
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.9,
         | "line_freq_cap": 2, "min_novelty_e6": 500000,
         | "novelty_window_tokens": 5, "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.input == 5 && stats.afterQuality == 5 &&
      stats.afterDedup == 5, stats)
    assert(stats.afterLineCap.contains(5), stats)  // doc 6 shrinks, no husk
    assert(stats.afterNovelty.contains(4), stats)  // doc 7 dropped
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select($"doc_id").as[Long].collect().toSet == Set(1L, 4L, 5L, 6L))
    // doc 6 lost the third boilerplate copy, docs 4 and 5 keep theirs
    val byId = out.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(!byId(6L).contains(w(200)) && byId(6L).contains(w(120)))
    assert(byId(4L).contains(w(200)) && byId(5L).contains(w(200)))
  }

  test("curation job: bucketed publication + shard export; admission join " +
    "moves zero corpus rows (r10 verdict #5)") {
    val dir = Files.createTempDirectory("curation7")
    // stale managed-table locations from a killed JVM block saveAsTable
    for (t <- Seq("curated_r11", "tick_batch_r11")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete()
      }
      if (loc.exists()) rm(loc)
    }
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    (0 until 200).map(i => (i.toLong, s"$filler unique token u$i", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 5, "ngram_n": 3, "jaccard_threshold": 0.95,
         | "redact_pii": false,
         | "output_bucketed_table": "curated_r11", "output_buckets": 4,
         | "shard_export_n": 4}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.output == 200, stats)
    // shard export: every shard dir present, union = the curated rows,
    // assignment matches the q81 Knuth-hash definition
    val shards = spark.read.parquet(s"$dir/out_shards")
    assert(shards.count() == 200)
    assert(shards.select($"shard").distinct().as[Int].collect().toSet ==
      Set(0, 1, 2, 3))
    assert(shards.filter(
      $"shard" =!= pmod(pmod($"doc_id" * 2654435761L, lit(4294967296L)),
        lit(4L)).cast("int")).count() == 0)
    // bucketed publication: an admission tick saved with the same key and
    // bucket count joins the published corpus with ZERO exchanges — the
    // whole point of publishing the layout (plan-asserted, AQE-settled)
    val batch = spark.range(50).select($"id".as("doc_id"),
      lit(true).as("admitted"))
    graft.io.BucketedStore.save(batch, "tick_batch_r11", "doc_id", 4)
    val joined = graft.io.BucketedStore.load(spark, "curated_r11")
      .join(graft.io.BucketedStore.load(spark, "tick_batch_r11"), "doc_id")
    assert(joined.count() == 50)
    assert(graft.plans.ParallelismAudit.countShuffleExchanges(
      joined.queryExecution.executedPlan) == 0,
      "the job's published bucketed corpus must join an equally-bucketed " +
        "tick batch with zero exchanges")
  }

  test("curation job: fuzzy decontamination drops the paraphrase span scrub misses") {
    val dir = Files.createTempDirectory("curation7")
    def w(i: Int) = s"w${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
    val benchWords = (0 until 40).map(w)
    // two words swapped so EVERY verbatim run is under 20 tokens (13/13/12
    // — the span pass finds nothing to cut), while 3-gram Jaccard stays
    // ~0.73: exactly the paraphrase the fuzzy pass exists for
    val paraphrase = benchWords.updated(13, "zzq").updated(27, "qqz")
      .mkString(" ")
    Seq(
      (1L, (100 until 140).map(w).mkString(" "), "src0"),
      (4L, paraphrase, "src0"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/docs")
    Seq((900L, benchWords.mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/bench")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.95,
         | "decontaminate_bench_path": "$dir/bench",
         | "decontaminate_window_tokens": 20,
         | "decontaminate_fuzzy_threshold": 0.5,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    // the span pass removes nothing (no verbatim window), the fuzzy pass
    // drops the paraphrase whole
    assert(stats.afterDecontam.contains(2), stats)
    assert(stats.output == 1, stats)
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select($"doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("curation job: fuzzy decontamination composes with normalization — " +
    "the bench set is canonicalized too, so case/accent/digit paraphrases " +
    "still match") {
    val dir = Files.createTempDirectory("curation8")
    def w(i: Int) = s"v${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
    val benchWords = (0 until 40).map(w)
    // the contaminated doc is the bench text POST-normalization (lowercase,
    // accents stripped, digits zeroed) with two words swapped — no verbatim
    // 20-token window, 3-gram Jaccard ~0.73. The bench parquet carries the
    // RAW form (uppercase + accent + digits): without normalizing the bench
    // side, not one shingle would match and the paraphrase would train.
    val rawBench = benchWords.updated(3, "Cafés").updated(8, "ITEM12")
      .map(t => if (t.hashCode % 3 == 0) t.toUpperCase else t).mkString(" ")
    val normalizedParaphrase = benchWords.updated(3, "cafes")
      .updated(8, "item00").updated(13, "zzq").updated(27, "qqz")
      .mkString(" ")
    Seq(
      (1L, (100 until 140).map(w).mkString(" "), "src0"),
      (4L, normalizedParaphrase, "src0"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/docs")
    Seq((900L, rawBench)).toDF("doc_id", "text").write.parquet(s"$dir/bench")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "normalize_text": true,
         | "min_words": 20, "ngram_n": 3, "jaccard_threshold": 0.95,
         | "decontaminate_bench_path": "$dir/bench",
         | "decontaminate_window_tokens": 20,
         | "decontaminate_fuzzy_threshold": 0.5,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.afterDecontam.contains(2), stats) // span pass: nothing verbatim
    assert(stats.afterFuzzy.contains(1), stats)    // fuzzy pass: paraphrase out
    assert(spark.read.parquet(s"$dir/out")
      .select($"doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("curation job: gopher_ngrams gate drops repetition-flooded docs") {
    val dir = Files.createTempDirectory("curation4")
    Seq(
      (1L, (1 to 40).map(i => s"word$i").mkString(" "), "src0"),
      (2L, ("theorem proof " * 15).trim, "src0")) // top-2-gram flood
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/docs")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 5, "gopher_ngrams": true,
         | "ngram_n": 3, "jaccard_threshold": 0.9,
         | "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.input == 2 && stats.afterQuality == 1 && stats.output == 1)
    assert(spark.read.parquet(s"$dir/out")
      .select($"doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("curation job: span-level benchmark decontamination stage") {
    val dir = Files.createTempDirectory("curation3")
    def words(a: Int, b: Int) = (a until b).map(i => s"w$i").mkString(" ")
    val benchSpan = (0 until 12).map(i => s"e$i").mkString(" ")
    Seq(
      (1L, words(0, 30) + " " + benchSpan, "src0"), // contaminated tail
      (2L, words(100, 130), "src0"),                // clean
      (3L, benchSpan, "src0"))                      // fully covered -> dropped
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/docs")
    Seq((900L, s"$benchSpan trailing bench words here"))
      .toDF("bench_id", "text").write.parquet(s"$dir/bench")
    Files.writeString(dir.resolve("cfg.json"),
      s"""{"documents_path": "$dir/docs", "output_path": "$dir/out",
         | "min_words": 5, "ngram_n": 3, "jaccard_threshold": 0.9,
         | "decontaminate_bench_path": "$dir/bench",
         | "decontaminate_window_tokens": 10, "redact_pii": false}""".stripMargin)
    val stats = CurationJob.run(spark, s"$dir/cfg.json").get
    assert(stats.input == 3 && stats.afterDecontam.contains(2) &&
      stats.output == 2)
    val out = spark.read.parquet(s"$dir/out")
    val d1 = out.filter($"doc_id" === 1L).select($"text").as[String].head()
    assert(!d1.contains("e0") && d1.contains("w0"),
      s"benchmark span must be cut, body kept: $d1")
    assert(out.filter($"doc_id" === 3L).isEmpty, "fully-covered husk must drop")
  }
}
