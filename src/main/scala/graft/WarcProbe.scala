package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.io.Warc
import graft.operators.SyntheticWarc
import org.apache.spark.sql.functions._

/** Scratch profiling main for WARC ingestion (not part of the driver
  * contract): writes a real `.warc.gz` lake (gzip member per record, the
  * Common Crawl layout) from synthetic documents, then times the streaming
  * parse + WET extraction — the receipt that ingestion is file-parallel,
  * record-streaming, and decode-bound (no shuffle anywhere before the
  * text frame exists).
  *
  * gen: <dir> [nDocs] [nFiles] — each doc's text is a deterministic ~1 KB
  *   pseudo-paragraph, so nDocs=1M ≈ 1 GB of uncompressed capture.
  * read: <dir> — Warc.records → count + byte census, then wetDocs →
  *   length stats; prints wall seconds per stage.
  *
  * Usage: WarcProbe gen|read <dir> [nDocs] [nFiles] */
object WarcProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    import spark.implicits._
    val mode = args(0)
    val dir = args(1)
    lazy val nDocs = args.drop(2).headOption.map(_.toLong).getOrElse(200000L)
    lazy val nFiles = args.drop(3).headOption.map(_.toInt).getOrElse(64)

    def timed[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[warc-probe] $label%-12s ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    mode match {
      case "gen" =>
        // ~1 KB deterministic text per doc; one task per output file writes
        // its member-concatenated .warc.gz directly (the real layout on
        // disk, not parquet blobs)
        timed("gen") {
          spark.range(nFiles).as[Long].foreach { fid =>
            val out = new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(s"$dir/part-$fid.warc.gz"), 1 << 16)
            var d = fid
            while (d < nDocs) {
              val g = new java.util.zip.GZIPOutputStream(out)
              g.write(SyntheticWarc.record(d, docText(d), wet = false))
              g.finish()
              d += nFiles
            }
            out.close()
          }
        }
        val bytes = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".warc.gz")).map(_.length()).sum
        println(s"[warc-probe] lake: $nDocs docs, $nFiles files, " +
          f"${bytes / 1e9}%.2f GB gz")

      case "genhtml" =>
        // render a documents parquet (args: <outDir> <docsParquet> [nFiles])
        // as a lake of TRUE HTTP response captures with HTML bodies — the
        // input shape the r13 crawl-to-corpus census drives end to end
        // (envelope parse + html_to_text + quality + dedup + mixture).
        // Text is entity-escaped into the page so extraction re-derives it
        // exactly; WARC-Date varies by doc for a mixture stratum.
        val docsParquet = args(2)
        val nf = args.drop(3).headOption.map(_.toInt).getOrElse(64)
        // 5th arg "uniq": render a DOC-UNIQUE token into every page title —
        // the measured r13 landmine shape (near-identical ≠ identical, so
        // collapseExact cannot contract the amplified groups and the
        // prefix-candidate join goes clique-quadratic). Used by the budget-
        // refusal receipt; the default constant title stays the honest
        // boilerplate census.
        val uniqTitle = args.drop(4).headOption.contains("uniq")
        new java.io.File(dir).mkdirs()
        timed("genhtml") {
          spark.read.parquet(docsParquet)
            .select(col("doc_id").cast("long"),
              coalesce(col("text"), lit("")).as("text"))
            .as[(Long, String)]
            .groupByKey(_._1 % nf)
            .mapGroups { (fid, it) =>
              val out = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(s"$dir/part-$fid.warc.gz"), 1 << 16)
              var n = 0L
              it.foreach { case (d, text) =>
                val esc = text.replace("&", "&amp;")
                  .replace("<", "&lt;").replace(">", "&gt;")
                // title is CONSTANT: duplicate-amplified docs must extract
                // to byte-identical text so exact-collapse can contract
                // them, as real repeated boilerplate does. (Measured: a
                // doc-unique token in every page defeats collapseExact and
                // the ×100-amplified sf10 groups go clique-quadratic in the
                // prefix-candidate join — 68 GB spill; that regime is
                // priced by the pair-budget estimator, not a census.)
                val title =
                  if (uniqTitle) s"graft capture $d" else "graft capture"
                val body = (s"<!DOCTYPE html><html><head><title>$title" +
                  "</title><style>body{margin:0}</style></head><body>" +
                  s"<p>$esc</p></body></html>").getBytes(UTF_8)
                val http = (s"HTTP/1.1 200 OK\r\n" +
                  "Content-Type: text/html; charset=UTF-8\r\n" +
                  s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
                val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
                  s"WARC-Record-ID: <urn:graft:doc:$d>\r\n" +
                  s"WARC-Target-URI: ${SyntheticWarc.uri(d)}\r\n" +
                  s"WARC-Date: 2024-01-0${d % 4 + 1}T00:00:00Z\r\n" +
                  "Content-Type: application/http; msgtype=response\r\n" +
                  s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8) ++
                  http ++ "\r\n\r\n".getBytes(UTF_8)
                val g = new java.util.zip.GZIPOutputStream(out)
                g.write(rec); g.finish()
                n += 1
              }
              out.close()
              n
            }.agg(sum(col("value"))).as[Long].first()
        }
        val gbytes = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".warc.gz")).map(_.length()).sum
        println(f"[warc-probe] html lake: $nf files, ${gbytes / 1e9}%.2f GB gz")

      case "genlinks" =>
        // link-rich HTML lake (SyntheticWarc.htmlRecord: q135's crawl shape
        // — hub/next/cross links over nSites hosts) from a documents
        // parquet, PLUS a companion robots parquet at <dir>_robots (even
        // sites disallow /p/1 for graftbot, a longer allow rescues /p/12)
        // — the fixture for the FULL-DIAL crawl-to-corpus census: envelope
        // + extraction + lang + host-rank + robots + dedup in one job.
        val docsParquet = args(2)
        val nf = args.drop(3).headOption.map(_.toInt).getOrElse(64)
        val nSites = args.drop(4).headOption.map(_.toInt).getOrElse(23)
        new java.io.File(dir).mkdirs()
        timed("genlinks") {
          val docs = spark.read.parquet(docsParquet)
          val n = docs.count()
          docs.select(col("doc_id").cast("long"),
              coalesce(col("text"), lit("")).as("text"))
            .as[(Long, String)]
            .groupByKey(_._1 % nf)
            .mapGroups { (fid, it) =>
              val out = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(s"$dir/part-$fid.warc.gz"), 1 << 16)
              var cnt = 0L
              it.foreach { case (d, text) =>
                val g = new java.util.zip.GZIPOutputStream(out)
                g.write(SyntheticWarc.htmlRecord(d, text, n, nSites))
                g.finish()
                cnt += 1
              }
              out.close()
              cnt
            }.agg(sum(col("value"))).as[Long].first()
        }
        spark.range(nSites).select(
            concat(lit("site"), col("id"), lit(".example.com")).as("host"),
            when(col("id") % 2 === 0,
              lit("User-agent: graftbot\nDisallow: /p/1\nAllow: /p/12\n" +
                "User-agent: *\nAllow: /\n"))
              .otherwise(lit("User-agent: *\nAllow: /\n")).as("robots_txt"))
          .write.mode("overwrite").parquet(dir + "_robots")
        val lb = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".warc.gz")).map(_.length()).sum
        println(f"[warc-probe] link lake: $nf files, ${lb / 1e9}%.2f GB gz " +
          s"+ robots at ${dir}_robots")

      case "stream" =>
        // drive streaming ingestion over an existing lake: the landing-dir
        // watcher delivers every file across maxFilesPerTrigger-bounded
        // micro-batches; prints per-batch doc counts + wall laps
        val ckpt = java.nio.file.Files
          .createTempDirectory("warcstream-ckpt").toString
        val total = new java.util.concurrent.atomic.AtomicLong()
        val t0 = System.nanoTime()
        val q = graft.streaming.WarcStream.run(spark, dir, ckpt,
          maxFilesPerTrigger = 16) { docs =>
          val docsN = docs.count()
          total.addAndGet(docsN)
          println(f"[warc-probe] batch docs=$docsN " +
            f"t=${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        q.processAllAvailable(); q.stop()
        println(f"[warc-probe] stream total=${total.get()} " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")

      case "read" =>
        val recs = Warc.records(spark, dir + "/*.warc.gz")
        println(s"[warc-probe] partitions=${recs.rdd.getNumPartitions}")
        val (n, payloadBytes) = timed("parse") {
          val r = recs.agg(count(lit(1)), sum(col("content_length")))
            .as[(Long, Long)].first()
          r
        }
        println(f"[warc-probe] records=$n payloadGB=${payloadBytes / 1e9}%.2f")
        val wet = timed("wet+stats") {
          Warc.wetDocs(Warc.records(spark, dir + "/*.warc.gz"))
            .select(length(col("text")).as("n"))
            .agg(count(lit(1)), avg(col("n"))).as[(Long, Double)].first()
        }
        println(f"[warc-probe] wetDocs=${wet._1} avgChars=${wet._2}%.0f")

      case "cdx" =>
        // Indexed-export + selective-fetch census (args: <outDir>
        // <docsParquet> [nFiles] [fetchEvery]): writeIndexed the corpus,
        // persist the CDX parquet, then fetch 1/fetchEvery of the records
        // by BYTE RANGE and compare against a full scan — the receipt that
        // the index turns the lake into a random-access record store.
        val docsParquet = args(2)
        val nf = args.drop(3).headOption.map(_.toInt).getOrElse(64)
        val every = args.drop(4).headOption.map(_.toLong).getOrElse(500L)
        val docs = spark.read.parquet(docsParquet)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
          .withColumn("url", concat(lit("http://graft.test/doc/"),
            col("doc_id")))
          .withColumn("warc_date", lit("2024-01-01T00:00:00Z"))
          .select(col("url"), col("warc_date"), col("text"))
        val idx = timed("writeIndexed") {
          val i = Warc.writeIndexed(docs.repartition(nf), dir)
          i.write.mode("overwrite").parquet(dir + "_cdx")
          spark.read.parquet(dir + "_cdx")
        }
        println(s"[warc-probe] index rows=${idx.count()}")
        val picked = idx.filter(pmod(col("doc_id"), lit(every)) === 0L)
        val nPicked = picked.count()
        timed(s"fetch $nPicked") {
          val n = Warc.textDocs(Warc.recordsIndexed(picked)).count()
          println(s"[warc-probe] fetched=$n (selected $nPicked)")
        }
        timed("full scan") {
          println(s"[warc-probe] full=${
            Warc.textDocs(Warc.records(spark, dir)).count()}")
        }

      case "cdxj" =>
        // CDXJ-interop census (args: <outDir> <docsParquet> [nFiles]
        // [fetchEvery]): like `cdx`, but the index travels through the
        // OFFICIAL Common Crawl plain-text format — writeIndexed →
        // cdxjLines (gzip text shards) → cdxjIndex → byte-range fetch —
        // the receipt that a real dump's own cdx-*.gz serves this engine.
        val docsParquet = args(2)
        val nf = args.drop(3).headOption.map(_.toInt).getOrElse(64)
        val every = args.drop(4).headOption.map(_.toLong).getOrElse(500L)
        val docs = spark.read.parquet(docsParquet)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
          .withColumn("url", concat(lit("http://graft.test/doc/"),
            col("doc_id")))
          .withColumn("warc_date", lit("2024-01-01T00:00:00Z"))
          .select(col("url"), col("warc_date"), col("text"))
        timed("writeIndexed+cdxj") {
          val i = Warc.writeIndexed(docs.repartition(nf), dir)
          Warc.cdxjLines(i).orderBy(col("value"))
            .write.mode("overwrite").option("compression", "gzip")
            .text(dir + "_cdxj")
        }
        val idx = timed("parse cdxj") {
          val p = Warc.cdxjIndex(spark, dir + "_cdxj").persist()
          println(s"[warc-probe] cdxj rows=${p.count()}")
          p
        }
        val picked = idx.filter(pmod(col("doc_id"), lit(every)) === 0L)
        val nPicked = picked.count()
        timed(s"fetch $nPicked") {
          val n = Warc.textDocs(Warc.recordsIndexed(picked)).count()
          println(s"[warc-probe] fetched=$n (selected $nPicked)")
        }

      case "write" =>
        // WET export census (args: <outDir> <docsParquet> [nFiles]): write
        // the documents table as conversion records, then parse it back
        // and require the doc count to survive — throughput receipt for
        // the r14 `Warc.write` sink
        val docsParquet = args(2)
        val nf = args.drop(3).headOption.map(_.toInt).getOrElse(64)
        val docs = spark.read.parquet(docsParquet)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
          .withColumn("url", concat(lit("http://graft.test/doc/"),
            col("doc_id")))
          .withColumn("warc_date", concat(lit("2024-01-0"),
            (col("doc_id") % 4 + 1).cast("string"), lit("T00:00:00Z")))
          .select(col("url"), col("warc_date"), col("text"))
        val inCount = docs.count()
        val written = timed("write") {
          Warc.write(docs.repartition(nf), dir)
        }
        val bytes = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".warc.gz")).map(_.length()).sum
        println(f"[warc-probe] wrote $written records / $nf files, " +
          f"${bytes / 1e9}%.2f GB gz")
        val back = timed("readback") {
          Warc.textDocs(Warc.records(spark, dir)).count()
        }
        require(back == inCount && written == inCount,
          s"round-trip drift: in=$inCount written=$written back=$back")
        println(s"[warc-probe] round-trip OK: $back docs")

      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }

  /** ~1 KB deterministic pseudo-paragraph (UTF-8 ASCII) for doc `d`. */
  private[graft] def docText(d: Long): String = {
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
