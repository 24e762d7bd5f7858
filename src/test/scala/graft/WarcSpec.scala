package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.io.Warc
import graft.operators.SyntheticWarc
import org.apache.spark.sql.functions._

/** WARC/WET ingestion: the production file route (`Warc.records` over
  * `.warc` / member-concatenated `.warc.gz`), the in-plane oracle seam
  * (`recordsFromFrame`), WET extraction, and the robustness contract —
  * truncated tails keep their good prefix, oversized payloads frame-skip
  * with bounded memory, garbage yields zero rows, never a task failure. */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def gz(recs: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    recs.foreach { r =>
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(r); g.finish()
    }
    bos.toByteArray
  }

  private val texts = Seq(
    (1L, "hello warc world"),
    (2L, "payload with\r\nCRLF and a blank\r\n\r\nline kept verbatim"),
    (3L, "ünïcøde → bytes ≠ chars"))

  test("file route: .warc.gz and plain .warc parse identically to the in-plane form") {
    val dir = Files.createTempDirectory("warc")
    val recs = texts.map { case (d, t) => SyntheticWarc.record(d, t, wet = false) }
    Files.write(dir.resolve("a.warc.gz"), gz(recs.take(2)))
    Files.write(dir.resolve("b.warc"), recs.drop(2).flatten.toArray)
    val rows = Warc.records(spark, dir.toString).collect()
      .sortBy(_.target_uri)
    assert(rows.length == 3)
    assert(rows.map(_.rec_type).toSet == Set("response"))
    assert(rows.map(_.target_uri).toSeq ==
      texts.map { case (d, _) => SyntheticWarc.uri(d) })
    // byte-exact payloads, including CRLFs and multi-byte UTF-8
    (rows zip texts).foreach { case (r, (_, t)) =>
      assert(new String(r.payload, UTF_8) == t)
      assert(r.content_length == t.getBytes(UTF_8).length)
    }
    // the in-plane parser is the same code over the same bytes
    val frame = Seq((77L, gz(recs))).toDF("file_id", "payload")
    val inPlane = Warc.recordsFromFrame(frame).collect().sortBy(_.target_uri)
    assert(inPlane.map(r => (r.target_uri, r.content_length,
        new String(r.payload, UTF_8))).toSeq ==
      rows.map(r => (r.target_uri, r.content_length,
        new String(r.payload, UTF_8))).toSeq)
  }

  test("file reads scale splits with cluster parallelism (binaryFiles audit)") {
    // binaryFiles sizes combine-splits at totalBytes / max(cluster
    // defaultParallelism, minPartitions), floored at the 4 MB open cost and
    // packed cut-on-exceed — so a multi-file lake of real-sized (> 4 MB)
    // files must land MORE THAN ONE split on a multi-core session without
    // any caller-side minPartitions (the single-task-ingest hazard the
    // ParallelismAudit family guards elsewhere). Incompressible ~5 MB
    // payloads keep each file above the open-cost floor, as real captures
    // are.
    val dir = Files.createTempDirectory("warcpar")
    val rng = new scala.util.Random(7)
    (0 until 8).foreach { i =>
      val blob = new Array[Byte](5 * 1024 * 1024)
      rng.nextBytes(blob)
      val rec = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
        s"WARC-Target-URI: http://graft.test/blob/$i\r\n" +
        s"Content-Length: ${blob.length}\r\n\r\n").getBytes(UTF_8) ++
        blob ++ "\r\n\r\n".getBytes(UTF_8)
      Files.write(dir.resolve(f"p$i%02d.warc.gz"), gz(Seq(rec)))
    }
    val ds = Warc.records(spark, dir.toString)
    // local[4] session, 40 MB over 8 files -> bytes/core 18 MB (with open
    // cost), cut-on-exceed packing = 2+ splits; the exact count is packing
    // detail, single-split bundling is the defect
    assert(ds.rdd.getNumPartitions > 1,
      s"bundled into ${ds.rdd.getNumPartitions} partitions")
    assert(ds.count() == 8)
  }

  test("wetDocs: conversion records and text/* responses become (url, date, text)") {
    val conv = SyntheticWarc.record(5L, "wet text", wet = true)
    val resp = SyntheticWarc.record(6L, "resp text", wet = false)
    val frame = Seq((1L, gz(Seq(conv, resp)))).toDF("file_id", "payload")
    val docs = Warc.wetDocs(Warc.recordsFromFrame(frame))
      .orderBy($"url").as[(String, String, String)].collect().toSeq
    assert(docs == Seq(
      (SyntheticWarc.uri(5L), "2024-01-01T00:00:00Z", "wet text"),
      (SyntheticWarc.uri(6L), "2024-01-01T00:00:00Z", "resp text")))
  }

  test("robustness: truncated tail keeps prefix; oversized frame-skips; garbage is empty") {
    val good = SyntheticWarc.record(1L, "kept", wet = false)
    val truncated = SyntheticWarc.record(2L, "this record is cut off", wet = false)
      .dropRight(15)
    val it = Warc.parseRecords("t",
      new java.io.ByteArrayInputStream(good ++ truncated))
    assert(it.map(_.target_uri).toSeq == Seq(SyntheticWarc.uri(1L)))

    // oversized: payload null, content_length reported, stream ADVANCES so
    // the following record still parses (framed skip, not a bailout)
    val big = SyntheticWarc.record(3L, "x" * 1000, wet = false)
    val after = SyntheticWarc.record(4L, "after the big one", wet = false)
    val rows = Warc.parseRecords("t",
      new java.io.ByteArrayInputStream(big ++ after),
      maxPayloadBytes = 100).toSeq
    assert(rows.map(_.target_uri) ==
      Seq(SyntheticWarc.uri(3L), SyntheticWarc.uri(4L)))
    assert(rows.head.payload == null && rows.head.content_length == 1000)
    assert(new String(rows(1).payload, UTF_8) == "after the big one")

    assert(Warc.parseRecords("t", new java.io.ByteArrayInputStream(
      "HTTP/1.1 200 OK\r\nnot a warc\r\n".getBytes(UTF_8))).isEmpty)
    // corrupt gzip tail after a good member: prefix kept
    val okMember = gz(Seq(good))
    val corrupt = okMember ++ Array[Byte](0x1f, 0x8b.toByte, 8, 0, 9, 9, 9)
    assert(Warc.parseRecords("t", new java.io.ByteArrayInputStream(corrupt))
      .map(_.target_uri).toSeq == Seq(SyntheticWarc.uri(1L)))
  }

  test("HTTP envelope: chunked decode, charset, CL truncation, status — the real-capture battery") {
    // the synthetic variant map (httpRecord): pick doc ids that hit each case
    //   0 -> %3=0: CL framing + trailing junk      10 -> %3=1: chunked text/html
    //   5 -> %3=2: ISO-8859-1 ' café'              3 -> %11=3: 404 (and %3=0)
    //   16 -> %7=2: application/pdf (dropped)
    val docs = Seq((0L, "zero doc body"), (10L, "ten doc body is long enough for chunks"),
      (5L, "five doc"), (3L, "four-oh-four body"), (16L, "pdf never seen"))
      .toDF("doc_id", "text")
    val td = Warc.textDocs(Warc.recordsFromFrame(
        SyntheticWarc.httpWarcFrame(docs, nFiles = 2)))
      .collect().sortBy(_.url)
    // pdf dropped by the HTTP-level media type; everything else kept
    assert(td.map(_.url).toSeq ==
      Seq(0L, 10L, 3L, 5L).map(SyntheticWarc.uri).sorted)
    val byId = td.map(r => r.url -> r).toMap
    val d0 = byId(SyntheticWarc.uri(0L))
    assert(d0.http_status == 200 && d0.mime == "text/plain" &&
      d0.text == "zero doc body") // junk past Content-Length truncated
    val d10 = byId(SyntheticWarc.uri(10L))
    assert(d10.mime == "text/html" &&
      d10.text == "ten doc body is long enough for chunks") // de-chunked
    val d5 = byId(SyntheticWarc.uri(5L))
    assert(d5.text == "five doc café") // 0xE9 decoded as LATIN-1, not UTF-8
    val d3 = byId(SyntheticWarc.uri(3L))
    assert(d3.http_status == 404 && d3.text == "four-oh-four body")
    // wetDocs = the 2xx text projection: the 404 and the pdf are gone
    val wet = Warc.wetDocs(Warc.recordsFromFrame(
        SyntheticWarc.httpWarcFrame(docs, nFiles = 2)))
      .orderBy($"url").as[(String, String, String)].collect().toSeq
    assert(wet.map(_._1) == Seq(0L, 10L, 5L).map(SyntheticWarc.uri).sorted)
  }

  test("HTTP envelope robustness: non-HTTP payloads drop, never glue headers onto text") {
    // an application/http record whose payload is NOT an HTTP message
    val bogus = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://graft.test/bogus\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      "Content-Length: 9\r\n\r\nnot http!\r\n\r\n").getBytes(UTF_8)
    val frame = Seq((1L, gz(Seq(bogus)))).toDF("file_id", "payload")
    assert(Warc.textDocs(Warc.recordsFromFrame(frame)).isEmpty)
    // direct parser checks: LFLF separator, quoted+mixed-case charset,
    // truncated chunk keeps its good prefix, missing CL takes the remainder
    val lflf = "HTTP/1.1 200 OK\nContent-Type: text/plain\n\nbody here"
    val m1 = Warc.parseHttpResponse(lflf.getBytes(UTF_8)).get
    assert(m1.status == 200 && m1.mime == "text/plain" && m1.bodyText == "body here")
    val quoted = "HTTP/1.1 200 OK\r\nContent-Type: text/plain; CHARSET=\"ISO-8859-1\"\r\n\r\n"
      .getBytes(UTF_8) ++ Array[Byte]('c', 0xE9.toByte)
    assert(Warc.parseHttpResponse(quoted).get.bodyText == "cé")
    val cut = ("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
      "5\r\nhello\r\nff\r\nway too short").getBytes(UTF_8)
    assert(Warc.parseHttpResponse(cut).get.bodyText == "hello")
    assert(Warc.parseHttpResponse("junk".getBytes(UTF_8)).isEmpty)
  }

  test("meta-charset sniffing: header wins, meta fills the gap, html-only") {
    def http(headers: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\n$headers\r\n").getBytes(UTF_8) ++ body
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    // no header charset + <meta charset> in the body -> sniffed
    val m1 = Warc.parseHttpResponse(http("Content-Type: text/html\r\n",
      "<meta charset='ISO-8859-1'><p>café</p>".getBytes(latin1))).get
    assert(m1.bodyText == "<meta charset='ISO-8859-1'><p>café</p>")
    // header charset WINS over a lying meta tag (the HTTP layer is
    // authoritative per the HTML spec's precedence)
    val m2 = Warc.parseHttpResponse(http(
      "Content-Type: text/html; charset=UTF-8\r\n",
      "<meta charset=\"ISO-8859-1\">café".getBytes(latin1))).get
    assert(m2.bodyText.contains("caf�"), m2.bodyText) // 0xE9 invalid UTF-8
    // meta is sniffed for text/html ONLY — a plain-text body with the same
    // bytes stays UTF-8
    val m3 = Warc.parseHttpResponse(http("Content-Type: text/plain\r\n",
      "<meta charset='ISO-8859-1'>café".getBytes(latin1))).get
    assert(m3.bodyText.contains("caf�"))
    // http-equiv form sniffs too
    val m4 = Warc.parseHttpResponse(http("Content-Type: text/html\r\n",
      ("<meta http-equiv=\"Content-Type\" content=\"text/html; " +
        "charset=ISO-8859-1\">café").getBytes(latin1))).get
    assert(m4.bodyText.endsWith("café"))
    // ordinary body text mentioning "charset=" OUTSIDE any <meta> tag must
    // not flip the whole document's decode (r13 advice: the sniff is a
    // meta-tag pre-scan, not a raw substring search)
    val m5 = Warc.parseHttpResponse(http("Content-Type: text/html\r\n",
      "<p>set charset=ISO-8859-1 in your config</p><p>café</p>"
        .getBytes(UTF_8))).get
    assert(m5.bodyText.endsWith("café</p>"), m5.bodyText)
    // and a meta tag AFTER such body text is still found
    val m6 = Warc.parseHttpResponse(http("Content-Type: text/html\r\n",
      ("<p>charset=UTF-8 is common</p><meta charset=ISO-8859-1>café")
        .getBytes(latin1))).get
    assert(m6.bodyText.endsWith("café"), m6.bodyText)
  }

  test("Content-Encoding bodies decode: gzip, zlib deflate, raw deflate, corrupt-lenient") {
    def http(headers: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n$headers\r\n")
        .getBytes(UTF_8) ++ body
    def gzBytes(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes(UTF_8)); g.finish(); bos.toByteArray
    }
    assert(Warc.parseHttpResponse(http("Content-Encoding: gzip\r\n",
      gzBytes("gzipped body text"))).get.bodyText == "gzipped body text")
    // zlib-wrapped deflate (the RFC form)
    val zlib = {
      val d = new java.util.zip.Deflater()
      d.setInput("zlib body".getBytes(UTF_8)); d.finish()
      val out = new Array[Byte](256); val n = d.deflate(out)
      java.util.Arrays.copyOf(out, n)
    }
    assert(Warc.parseHttpResponse(http("Content-Encoding: deflate\r\n", zlib))
      .get.bodyText == "zlib body")
    // raw deflate (broken-server form) falls back
    val raw = {
      val d = new java.util.zip.Deflater(-1, true)
      d.setInput("raw deflate body".getBytes(UTF_8)); d.finish()
      val out = new Array[Byte](256); val n = d.deflate(out)
      java.util.Arrays.copyOf(out, n)
    }
    assert(Warc.parseHttpResponse(http("Content-Encoding: deflate\r\n", raw))
      .get.bodyText == "raw deflate body")
    // corrupt gzip: lenient empty, never a task death
    assert(Warc.parseHttpResponse(http("Content-Encoding: gzip\r\n",
      Array[Byte](0x1f, 0x8b.toByte, 9, 9, 9))).get.bodyText == "")
    // compression BOMB: a tiny gzip body expanding far past the cap keeps
    // only the capped prefix — never an OOM-sized allocation
    val bomb = gzBytes("z" * (10 * 1024 * 1024))
    val capped = Warc.parseHttpResponse(
      http("Content-Encoding: gzip\r\n", bomb), maxBodyBytes = 1000).get
    assert(capped.bodyText.length == 1000 &&
      capped.bodyText.forall(_ == 'z'))
    // chunked + gzip compose (transfer decode first, then content decode)
    val gz = gzBytes("chunked and gzipped")
    val chunked = (s"${gz.length.toHexString}\r\n").getBytes(UTF_8) ++ gz ++
      "\r\n0\r\n\r\n".getBytes(UTF_8)
    assert(Warc.parseHttpResponse(http(
      "Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n", chunked))
      .get.bodyText == "chunked and gzipped")
  }

  test("deflate fallback keeps the LONGER decode when a raw stream's head mimics a zlib header") {
    def http(body: Array[Byte]): Array[Byte] =
      ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
        "Content-Encoding: deflate\r\n\r\n").getBytes(UTF_8) ++ body
    def rawDeflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(s.getBytes(UTF_8)); d.finish()
      val out = new Array[Byte](4096); val n = d.deflate(out)
      java.util.Arrays.copyOf(out, n)
    }
    // lenient zlib decode length (the engine's decodeLenient semantics):
    // whatever inflated before the stream errored
    def zlibLen(b: Array[Byte]): Int = {
      val in = new java.util.zip.InflaterInputStream(
        new java.io.ByteArrayInputStream(b))
      val buf = new Array[Byte](4096); var total = 0
      try {
        var r = in.read(buf)
        while (r > 0) { total += r; r = in.read(buf) }
      } catch { case _: java.io.IOException => () }
      total
    }
    // CRAFTED collision (a canonical Deflater can't emit one — its first
    // block always has BFINAL=1, an odd first byte, never zlib's CM=8): a
    // raw-deflate stream opening with a NON-FINAL STORED block whose
    // header bytes 08 1D are simultaneously a valid zlib header
    // (CM=8, CINFO=0, 0x081D % 31 == 0, no FDICT). The zlib view then
    // reads byte 2 as a stored block of LEN 0xFFE2 — whose NLEN check
    // passes because the raw view's first two stored-data bytes are
    // 1D 00 — and copies the rest of the stream as a NONEMPTY garbage
    // prefix before hitting EOF: exactly the case the pre-r14
    // empty-output-only fallback kept as "decoded".
    val storedPayload = Array[Byte](0x1D, 0x00) ++
      "stored-block text part one!".getBytes(UTF_8)
    assert(storedPayload.length == 29)
    val restText =
      "and the remainder of the document body, long enough to matter. " * 3
    val body = Array[Byte](0x08, 0x1D, 0x00, 0xE2.toByte, 0xFF.toByte) ++
      storedPayload ++ rawDeflate(restText)
    val zl = zlibLen(body)
    assert(zl > 0 && zl < body.length, s"collision construction broke: $zl")
    val expected = storedPayload ++ restText.getBytes(UTF_8)
    assert(Warc.parseHttpResponse(http(body)).get.bodyText ==
      new String(expected, UTF_8))
    // plain raw-deflate (zlib decode empty) still falls back
    val plain = rawDeflate("unambiguous raw deflate body")
    if (zlibLen(plain) == 0)
      assert(Warc.parseHttpResponse(http(plain)).get.bodyText ==
        "unambiguous raw deflate body")
  }

  test("Warc.write: WET export round-trips bit-equal through the parser") {
    val dir = java.nio.file.Files.createTempDirectory("warcwrite").toString
    val docs = Seq(
      ("http://graft.test/a", "2024-01-01T00:00:00Z", "plain ascii doc"),
      ("http://graft.test/b", "2024-02-02T12:34:56Z",
        "unicode café 日本語 🙂 and\nnewlines\twith tabs"),
      ("http://graft.test/c", "2024-03-03T00:00:00Z", ""),
      ("http://graft.test/d", "2024-04-04T00:00:00Z",
        "WARC/1.0\r\nContent-Length: 5\r\n\r\nfake!"), // header-shaped body
      ("http://graft.test/e", "2024-05-05T00:00:00Z", "x" * 100000))
      .toDF("url", "warc_date", "text")
    val written = graft.io.Warc.write(docs.repartition(2), dir)
    assert(written == 5L)
    // files: gzip member per record, conversion type, parse route reads them
    val back = Warc.textDocs(Warc.records(spark, dir))
      .collect().map(d => (d.url, d.warc_date, d.text)).toSet
    val want = docs.as[(String, String, String)].collect().toSet
    assert(back == want, s"round-trip drift: ${back.diff(want)} / ${want.diff(back)}")
    // statuses/mimes carry the WET conventions
    val td = Warc.textDocs(Warc.records(spark, dir)).collect()
    assert(td.forall(d => d.http_status == 200 && d.mime == "text/plain"))
    // one file per input partition
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).map(_.getPath).toSeq
    assert(files.size == 2)
    // deterministic re-export: same partitions -> byte-identical files
    val dir2 = java.nio.file.Files.createTempDirectory("warcwrite2").toString
    graft.io.Warc.write(docs.repartition(2), dir2)
    for (f <- files) {
      val twin = new java.io.File(dir2, new java.io.File(f).getName)
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
        java.nio.file.Files.readAllBytes(twin.toPath)), s"bytes drift: $f")
    }
    // empty frame: zero records, no files
    val edir = java.nio.file.Files.createTempDirectory("warcwrite3").toString
    assert(graft.io.Warc.write(docs.limit(0), edir) == 0L)
    assert(!new java.io.File(edir).listFiles().exists(
      _.getName.endsWith(".warc.gz")))
  }

  test("writeIndexed + recordsIndexed: CDX byte ranges fetch exactly the selected records") {
    val dir = java.nio.file.Files.createTempDirectory("warccdx").toString
    val docs = (0L until 40L).map { i =>
      (s"http://graft.test/p/$i", "2024-01-01T00:00:00Z",
        s"document $i body " + ("x" * (i.toInt * 7 % 90)))
    }.toDF("url", "warc_date", "text")
    val index = graft.io.Warc.writeIndexed(docs.repartition(3), dir)
      .persist()
    assert(index.count() == 40L)
    // the index IS a valid cover: ranges are disjoint, in-file, and tile
    // each file from byte 0 to its end
    val byFile = index.as[(String, Long, Long, String, Long)].collect()
      .groupBy(_._1)
    assert(byFile.size == 3)
    byFile.foreach { case (f, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._2 == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._2 + a._3 == b._2, s"gap in $f")
        case _ => ()
      }
      val fileLen = new java.io.File(new java.net.URI(f).getPath match {
        case p if p.nonEmpty => p
        case _ => f
      }).length()
      assert(sorted.last._2 + sorted.last._3 == fileLen ||
        new java.io.File(f).length() == sorted.last._2 + sorted.last._3)
    }
    // select a scattered 25% by url and fetch ONLY those ranges
    val picked = index.filter($"doc_id" % 4 === 0)
    val fetched = graft.io.Warc.textDocs(graft.io.Warc.recordsIndexed(picked))
      .collect().map(d => (d.url, d.text)).toSet
    val pickedUrls = picked.select($"url").as[String].collect().toSet
    val want = docs.as[(String, String, String)].collect()
      .filter(t => pickedUrls.contains(t._1))
      .map(t => (t._1, t._3)).toSet
    assert(fetched == want && fetched.nonEmpty)
    // empty selection fetches nothing
    assert(graft.io.Warc.recordsIndexed(index.limit(0)).count() == 0L)
    // the indexed write's files parse identically through the FULL route
    assert(graft.io.Warc.textDocs(graft.io.Warc.records(spark, dir))
      .count() == 40L)
    index.unpersist()
  }

  test("writeIndexed is EAGER: re-actions replay the pinned index, never the file writes") {
    // r14 advice: a lazy index frame re-ran the partition writes on every
    // action (second action, task retry, speculation) — duplicating files.
    // Decisive probe: delete the exported files AFTER writeIndexed returns;
    // if any later action re-ran the write, the files would reappear.
    val dir = java.nio.file.Files.createTempDirectory("warceager").toString
    val docs = (0L until 12L).map { i =>
      (s"http://graft.test/e/$i", "2024-01-01T00:00:00Z", s"body $i")
    }.toDF("url", "warc_date", "text")
    val index = graft.io.Warc.writeIndexed(docs.repartition(2), dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz"))
    assert(files.length == 2, "writeIndexed materialized at return time")
    files.foreach(f => assert(f.delete()))
    assert(index.count() == 12L)
    assert(index.filter($"doc_id" =!= 0L).count() >= 11L)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.endsWith(".warc.gz")),
      "an action on the index frame re-ran the file writes")
  }

  test("CDXJ interop: a real-format index round-trips and serves byte-range fetches") {
    val dir = java.nio.file.Files.createTempDirectory("warccdxj").toString
    val docs = (0L until 30L).map { i =>
      (s"http://site${i % 3}.test/p/$i?q=$i", "2024-01-01T00:00:00Z",
        s"cdxj body $i " + ("y" * (i.toInt * 5 % 40)))
    }.toDF("url", "warc_date", "text")
    val index = graft.io.Warc.writeIndexed(docs.repartition(2), s"$dir/warc")
    // export official CDXJ lines, write as a gzip shard (the CC layout),
    // parse back — the frame must carry the same fetch-critical cover
    val lines = graft.io.Warc.cdxjLines(index).orderBy($"value")
    lines.coalesce(1).write.option("compression", "gzip")
      .text(s"$dir/cdx")
    val parsed = graft.io.Warc.cdxjIndex(spark, s"$dir/cdx")
    assert(parsed.count() == 30L)
    // SURT keys are the official shape: comma-reversed host )/ path?query
    val surt0 = parsed.filter($"url" === "http://site0.test/p/0?q=0")
      .select($"surt").as[String].head()
    assert(surt0 == "test,site0)/p/0?q=0")
    assert(parsed.select($"file", $"offset", $"length", $"url", $"doc_id")
      .as[(String, Long, Long, String, Long)].collect().toSet ==
      index.as[(String, Long, Long, String, Long)].collect().toSet)
    // byte-range fetch THROUGH the parsed CDXJ == filtered full parse
    val picked = parsed.filter($"doc_id" % 3 === 0)
    val fetched = graft.io.Warc.textDocs(graft.io.Warc.recordsIndexed(picked))
      .collect().map(d => (d.url, d.text)).toSet
    val pickedUrls = picked.select($"url").as[String].collect().toSet
    val full = graft.io.Warc.textDocs(
        graft.io.Warc.records(spark, s"$dir/warc"))
      .collect().filter(d => pickedUrls.contains(d.url))
      .map(d => (d.url, d.text)).toSet
    assert(fetched == full && fetched.nonEmpty)
    // dump-root-relative filenames resolve through `base`; damaged and
    // field-missing lines drop instead of killing the read
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/rel.cdxj"),
      """test,rel)/a 20240101000000 {"url": "http://rel.test/a", "offset": "0", "length": "10", "filename": "segments/part-0.warc.gz"}
        |garbage line without json
        |test,rel)/b 20240101000000 {"url": "http://rel.test/b", "offset": "7"}
        |""".stripMargin)
    val rel = graft.io.Warc.cdxjIndex(spark, s"$dir/rel.cdxj",
      base = "s3a://bucket/dump/")
    assert(rel.count() == 1L)
    assert(rel.select($"file").as[String].head() ==
      "s3a://bucket/dump/segments/part-0.warc.gz")
  }

  test("cdxjLines: non-hierarchical urls key on the raw url, 3-field line survives") {
    // a WET export synthesizes `urn:graft:doc:` ids with no '://' host —
    // the SURT formula has no host to reverse; the line must keep its
    // 3-field shape (key timestamp json) instead of silently dropping the
    // null key and letting the timestamp re-parse as the surt
    val index = Seq(
        ("urn:graft:doc:42", 0L, 10L, "part-0.warc.gz"),
        ("http://ok.test/a", 10L, 20L, "part-0.warc.gz"))
      .toDF("url", "offset", "length", "file")
    val lines = graft.io.Warc.cdxjLines(index)
      .select($"value").as[String].collect().sorted
    val urn = lines.find(_.contains("urn:graft:doc:42")).get
    assert(urn.startsWith("urn:graft:doc:42 20260101000000 {"))
    val ok = lines.find(_.contains("ok.test")).get
    assert(ok.startsWith("test,ok)/a 20260101000000 {"))
    // both re-parse: the urn line's json still carries the fetch cover
    val dir = java.nio.file.Files.createTempDirectory("warcurn").toString
    graft.io.Warc.cdxjLines(index).coalesce(1).write.text(s"$dir/cdx")
    val parsed = graft.io.Warc.cdxjIndex(spark, s"$dir/cdx")
    assert(parsed.count() == 2L)
    assert(parsed.filter($"url" === "urn:graft:doc:42")
      .select($"offset", $"length").as[(Long, Long)].head() == ((0L, 10L)))
  }

  test("recordsIndexed: hostile index entries frame-skip with a null payload") {
    val dir = java.nio.file.Files.createTempDirectory("warchostile").toString
    val docs = Seq(("http://graft.test/h/0", "2024-01-01T00:00:00Z", "ok body"))
      .toDF("url", "warc_date", "text")
    val index = graft.io.Warc.writeIndexed(docs.repartition(1), dir)
    val good = index.select($"file", $"offset", $"length").as[(String, Long, Long)]
      .head()
    // a length no JVM byte[] can hold, a negative offset, a zero length —
    // each must yield a null-payload row, not a dead task (r14 verdict #4)
    val hostile = Seq((good._1, 0L, 3000000000L), (good._1, -5L, 10L),
      (good._1, 0L, 0L)).toDF("file", "offset", "length")
    val out = graft.io.Warc.recordsIndexed(index.select($"file", $"offset",
        $"length").union(hostile))
      .collect()
    assert(out.length == 4)
    assert(out.count(_.payload == null) == 3)
    assert(out.count(r => r.payload != null &&
      r.target_uri == "http://graft.test/h/0") == 1)
  }

  test("resource records with text content types extract as bare text") {
    val res = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "WARC-Target-URI: http://graft.test/res\r\n" +
      "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
      "Content-Type: text/plain\r\nContent-Length: 13\r\n\r\n" +
      "resource text\r\n\r\n").getBytes(UTF_8)
    val docs = Warc.textDocs(Warc.recordsFromFrame(
      Seq((1L, gz(Seq(res)))).toDF("file_id", "payload"))).collect()
    assert(docs.length == 1 && docs(0).text == "resource text" &&
      docs(0).http_status == 200)
  }

  test("hostile Content-Length past Int.MaxValue frame-skips even with the dial raised") {
    val good = SyntheticWarc.record(1L, "kept", wet = false)
    val hostile = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://graft.test/huge\r\n" +
      "Content-Length: 3000000000\r\n\r\n").getBytes(UTF_8)
    // dial raised past 2 GiB: before r13 this allocated new Array(len.toInt)
    // with a NEGATIVE size — NegativeArraySizeException is not in the catch
    // set, so the task died instead of skipping (r12 verdict #3)
    val rows = Warc.parseRecords("t",
      new java.io.ByteArrayInputStream(good ++ hostile),
      maxPayloadBytes = 4L * 1024 * 1024 * 1024).toSeq
    assert(rows.map(_.target_uri) == Seq(SyntheticWarc.uri(1L)))
  }

  test("fuzz: random and mutated inputs never kill the parsers (fixed seed)") {
    val rng = new scala.util.Random(20260815)
    // pure garbage payloads through the HTTP envelope parser
    (0 until 300).foreach { _ =>
      val b = new Array[Byte](rng.nextInt(400))
      rng.nextBytes(b)
      Warc.parseHttpResponse(b) // must return, never throw
    }
    // HTTP-shaped prefixes with garbage tails (chunked markers included)
    (0 until 200).foreach { i =>
      val head = s"HTTP/1.1 ${rng.nextInt(1000)} X\r\n" +
        (if (i % 2 == 0) "Transfer-Encoding: chunked\r\n" else "") +
        (if (i % 3 == 0) "Content-Encoding: gzip\r\n" else "") +
        s"Content-Length: ${rng.nextInt(500) - 100}\r\n\r\n"
      val tail = new Array[Byte](rng.nextInt(300))
      rng.nextBytes(tail)
      Warc.parseHttpResponse(head.getBytes(UTF_8) ++ tail)
    }
    // mutated VALID warc streams through the record parser: flip bytes at
    // random offsets; the iterator must terminate without throwing
    val valid = (0 until 5).flatMap(d =>
      SyntheticWarc.record(d.toLong, s"doc $d " + ("x" * rng.nextInt(50)),
        wet = d % 2 == 0)).toArray
    (0 until 200).foreach { _ =>
      val mutated = valid.clone()
      (0 until 1 + rng.nextInt(8)).foreach { _ =>
        mutated(rng.nextInt(mutated.length)) = rng.nextInt(256).toByte
      }
      val n = Warc.parseRecords("fuzz",
        new java.io.ByteArrayInputStream(mutated)).size
      assert(n <= 5)
    }
    // mutated gzip members
    (0 until 100).foreach { _ =>
      val mutated = gz(Seq(valid)).clone()
      mutated(rng.nextInt(mutated.length)) = rng.nextInt(256).toByte
      Warc.parseRecords("fuzz",
        new java.io.ByteArrayInputStream(mutated)).size
    }
  }

  test("warcFrame oracle seam: warcinfo leads each file, docs bundle by mod, bytes re-derivable") {
    val docs = Seq((10L, "alpha"), (11L, "beta"), (12L, "gamma"), (22L, "delta"))
      .toDF("doc_id", "text")
    val recs = Warc.recordsFromFrame(SyntheticWarc.warcFrame(docs, nFiles = 2))
    val byType = recs.groupBy($"rec_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("warcinfo" -> 2L, "response" -> 4L))
    // doc 10 and 22 share file 0; 11 bundles into file 1 with... 11%2=1, 12%2=0
    val f0 = recs.filter($"file" === "0" && $"rec_type" === "response")
      .orderBy($"target_uri").collect().map(_.target_uri).toSeq
    assert(f0 == Seq(10L, 12L, 22L).map(SyntheticWarc.uri))
  }
}
