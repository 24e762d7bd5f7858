package graft.io

import java.io.{BufferedInputStream, ByteArrayInputStream, EOFException, InputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC/WET ingestion — the source format a web-scale pretraining corpus
  * actually arrives in (Common Crawl publishes WARC response captures and
  * WET extracted-text conversions; ISO 28500). Zero dependencies: WARC is
  * CRLF header lines + a `Content-Length`-framed payload, and `.warc.gz`
  * is one gzip MEMBER per record concatenated — which the JDK's own
  * `GZIPInputStream` decodes transparently.
  *
  * Scale posture (the part that matters at 100 TB): gzip is not splittable,
  * so the unit of parallelism is the FILE — exactly how Common Crawl ships
  * (a dump is ~64k files of ~1 GB each, far more than any cluster's task
  * slots, so file-level parallelism saturates 1000 executors without any
  * byte-range splitting). Each task STREAMS its file through the record
  * parser: one record in memory at a time, bounded by `maxPayloadBytes`
  * (oversized records are framed-skipped — the stream advances by
  * Content-Length, the row is emitted with a null payload so censuses can
  * count what was dropped, and memory stays bounded no matter what a
  * hostile capture declares). The payload column carries raw bytes; it is
  * born in the scan task and every downstream text/quality/dedup operator
  * projects it away before any shuffle — the media-lake discipline
  * (`Multimodal`) applied to web captures. This is `sc.binaryFiles` +
  * a per-partition streaming parse, not `spark.read.format("binaryFile")`:
  * the latter materializes whole files as single rows (a 1 GB cell in the
  * scan), while `PortableDataStream` hands the parser an honest stream.
  *
  * The in-plane form (`recordsFromFrame`) runs the IDENTICAL parser over a
  * binary column — the decode-inclusive oracle seam (q122/q123):
  * `SyntheticWarc` renders real multi-record, multi-member-gzip WARC bytes
  * from the documents table in closed form, this parser walks them for
  * real, and DuckDB re-derives every expected field from the same table —
  * header walk, CRLF framing, Content-Length byte math, and gzip member
  * concatenation all sit under the driver's hash compare. */
object Warc {

  /** One parsed record. `payload` is null when the record was larger than
    * the parse's `maxPayloadBytes` (framed-skipped, never truncated). */
  final case class WarcRecord(file: String, rec_type: String,
                              record_id: String, target_uri: String,
                              warc_date: String, content_type: String,
                              content_length: Long, payload: Array[Byte])

  /** Default per-record payload bound: 100 MB (Common Crawl caps response
    * captures at 1 MB; anything bigger here is a hostile or corrupt frame). */
  val DefaultMaxPayloadBytes: Long = 100L * 1024 * 1024

  /** Stream the records of one WARC (or concatenated-member `.warc.gz`)
    * stream. Stops cleanly at EOF or at the first malformed frame (a
    * truncated tail must not kill the 10,000-file ingest job — the file's
    * good prefix is kept). The caller owns closing `in`. */
  def parseRecords(file: String, in: InputStream,
                   maxPayloadBytes: Long = DefaultMaxPayloadBytes): Iterator[WarcRecord] = {
    val buf = new BufferedInputStream(in, 1 << 16)
    // a corrupt FIRST gzip member throws at construction (the header is
    // read eagerly) — that is "zero good records", not a task failure
    val stream = if (isGzip(buf))
      try new BufferedInputStream(new GZIPInputStream(buf, 1 << 16), 1 << 16)
      catch { case _: java.io.IOException => return Iterator.empty }
    else buf
    new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = null
      private var done = false
      private def advance(): Unit = {
        try {
          while (nextRec == null && !done) {
            val version = skipToVersionLine(stream)
            if (version == null) { done = true; return }
            val headers = readHeaders(stream)
            val len = headers.getOrElse("content-length", "-1").trim.toLong
            if (len < 0) { done = true; return } // unframed: cannot advance
            // > Int.MaxValue is oversized REGARDLESS of the dial: a JVM
            // byte[] cannot hold it, and `len.toInt` would go negative —
            // NegativeArraySizeException is not in the catch set below, so
            // without this bound a hostile header past a raised
            // maxPayloadBytes killed the task instead of framed-skipping
            val payload: Array[Byte] =
              if (len > maxPayloadBytes || len > Int.MaxValue - 8) {
                skipFully(stream, len); null
              } else readFully(stream, len)
            nextRec = WarcRecord(
              file,
              headers.getOrElse("warc-type", ""),
              headers.getOrElse("warc-record-id", ""),
              headers.getOrElse("warc-target-uri", ""),
              headers.getOrElse("warc-date", ""),
              headers.getOrElse("content-type", ""),
              len, payload)
          }
        } catch {
          // truncated/corrupt tail: keep the good prefix, stop the file
          case _: EOFException | _: NumberFormatException |
               _: java.util.zip.ZipException => done = true
        }
      }
      override def hasNext: Boolean = {
        if (nextRec == null && !done) advance()
        nextRec != null
      }
      override def next(): WarcRecord = {
        if (!hasNext) throw new NoSuchElementException("WARC stream exhausted")
        val r = nextRec; nextRec = null; r
      }
    }
  }

  /** Read a directory (or glob) of `.warc` / `.warc.gz` files. The file is
    * the parallelism unit (see object doc). Split sizing needs no help:
    * `binaryFiles`' combine-split size is `totalBytes / max(cluster
    * defaultParallelism, minPartitions)` floored at the 4 MB open cost —
    * so a real lake already parses cluster-wide (the 64-file 0.4 GB probe
    * lake: 16 splits on 32 cores; VERIFIED that passing a large
    * minPartitions changes nothing — Spark takes the max with
    * defaultParallelism internally). Pass `minPartitions` above the core
    * count only to split a few-huge-files lake finer (still never below
    * one FILE per task — gzip members are not byte-range splittable). */
  def records(spark: SparkSession, path: String,
              maxPayloadBytes: Long = DefaultMaxPayloadBytes,
              minPartitions: Int = 0): Dataset[WarcRecord] = {
    import spark.implicits._
    val mp = if (minPartitions > 0) minPartitions
      else spark.sparkContext.defaultMinPartitions
    spark.createDataset(
      spark.sparkContext.binaryFiles(path, mp).flatMap { case (file, pds) =>
        val in = pds.open()
        closeOnExhaust(parseRecords(file, in, maxPayloadBytes), in)
      })
  }

  /** Hadoop Configuration made Serializable (write/readFields round-trip) so
    * an exact-path read can ship the session's FS settings to executors —
    * the same pattern Spark's own datasources use internally. */
  private[graft] final class SerHadoopConf(
      @transient private var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** WET-style EXPORT sink (r14): re-publish a curated corpus in the
    * interchange format it arrived in — `conversion` records, one gzip
    * MEMBER per record (the Common Crawl member-per-record layout this
    * parser streams), one `.warc.gz` file per input partition, written
    * through the Hadoop FileSystem API (hdfs://, s3a://, file:// alike).
    *
    * Scale shape: each task streams its rows straight into its own file —
    * no shuffle, no driver collection, no per-record buffering beyond the
    * one record being framed; size output files by partitioning the input
    * (`docs.repartition(n)` upstream). Record identity is deterministic
    * (`<urn:graft:doc:xxhash64(url)>`), so a re-export is byte-stable for
    * byte-identical input partitions. Fields beyond (url, warc_date, text)
    * are ignored — WET carries exactly the extraction triplet; round-trip
    * `records → textDocs` yields the input docs bit-equal (spec-pinned,
    * the natural dual of q122/q123's parse oracles).
    *
    * Returns the total record count (the write is the action). Empty
    * partitions write no file. */
  def write(docs: DataFrame, dir: String, urlCol: String = "url",
            dateCol: String = "warc_date", textCol: String = "text"): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val bc = sc.broadcast(new SerHadoopConf(sc.hadoopConfiguration))
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    dirPath.getFileSystem(sc.hadoopConfiguration).mkdirs(dirPath)
    docs.select(col(urlCol).cast("string"), col(dateCol).cast("string"),
        col(textCol).cast("string"))
      .as[(String, String, String)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val file = new org.apache.hadoop.fs.Path(
            dir, f"part-$pid%05d.warc.gz")
          val fs = file.getFileSystem(bc.value.value)
          val out = new java.io.BufferedOutputStream(fs.create(file, true),
            1 << 16)
          // ONE native Deflater per partition, reset per record: a fresh
          // GZIPOutputStream per member allocates (and never promptly
          // frees) a native zlib stream per record — measured 2× the whole
          // export's wall. Members are framed by hand: 10-byte header,
          // raw-deflate body, CRC32 + ISIZE little-endian trailer.
          val deflater = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          val crc = new java.util.zip.CRC32
          val buf = new Array[Byte](1 << 16)
          def writeIntLE(v: Int): Unit = {
            out.write(v & 0xff); out.write((v >>> 8) & 0xff)
            out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
          }
          def member(bytes: Array[Byte]): Unit = {
            out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0,
              0xff.toByte))
            deflater.reset()
            deflater.setInput(bytes)
            deflater.finish()
            while (!deflater.finished()) {
              val k = deflater.deflate(buf)
              if (k > 0) out.write(buf, 0, k)
            }
            crc.reset(); crc.update(bytes)
            writeIntLE(crc.getValue.toInt); writeIntLE(bytes.length)
          }
          var n = 0L
          try {
            it.foreach { case (url, date, text) =>
              val u = if (url == null) "" else url
              val payload = (if (text == null) "" else text)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val id = org.apache.spark.sql.catalyst.expressions
                .XxHash64Function.hash(payload,
                  org.apache.spark.sql.types.BinaryType, 42L)
              val header = ("WARC/1.0\r\n" +
                "WARC-Type: conversion\r\n" +
                s"WARC-Record-ID: <urn:graft:doc:${xxhashOf(u)}:$id>\r\n" +
                s"WARC-Target-URI: $u\r\n" +
                s"WARC-Date: ${if (date == null) "" else date}\r\n" +
                "Content-Type: text/plain\r\n" +
                s"Content-Length: ${payload.length}\r\n\r\n")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val rec = new Array[Byte](header.length + payload.length + 4)
              System.arraycopy(header, 0, rec, 0, header.length)
              System.arraycopy(payload, 0, rec, header.length, payload.length)
              rec(rec.length - 4) = '\r'; rec(rec.length - 3) = '\n'
              rec(rec.length - 2) = '\r'; rec(rec.length - 1) = '\n'
              member(rec)
              n += 1
            }
          } finally {
            try out.close() finally deflater.end()
          }
          Iterator.single(n)
        }
      }
      .agg(coalesce(sum(col("value")), lit(0L)))
      .first().getLong(0)
  }

  /** Byte counter in front of the (buffered) file stream: gzip-member
    * offsets must be COMPRESSED-stream positions, so the counter sits
    * OUTERMOST — every member() byte ticks it immediately, buffering
    * happens below. */
  private final class CountingOutputStream(under: java.io.OutputStream)
      extends java.io.OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { under.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      under.write(b, off, len); count += len
    }
    override def flush(): Unit = under.flush()
    override def close(): Unit = under.close()
  }

  /** [[write]] PLUS a CDX-style index: returns one row per exported record
    * — `(file, offset, length, url, doc_id)`, where [offset, offset+length)
    * is the record's own gzip member inside its `.warc.gz`. This is the
    * Common Crawl access pattern: the dump ships an index so consumers
    * fetch the HANDFUL of records they need by byte range instead of
    * scanning petabytes ([[recordsIndexed]] is the read side). The write
    * is EAGER: the returned frame is pinned (localCheckpoint) after a
    * single internal action, so re-actions on the result, task retries
    * triggered by a later job, and speculative re-reads replay the pinned
    * index blocks — they never re-run the file writes (r14 advice; a
    * retry DURING the one internal action re-creates its partition's file
    * with `overwrite = true` and deterministic content, so replay is
    * idempotent). Persist the result to parquet (e.g. `<dir>_cdx`) — it
    * IS the artifact — then free the pinned blocks with
    * `Dedup.release(index)` (the release contract every
    * lineage-truncating operator here shares).
    *
    * Same streaming shape as [[write]]: one file per input partition, one
    * partition-lifetime Deflater, no shuffle. Index rows EMIT AS MEMBERS
    * WRITE (one-in-flight iterator, not a partition-sized buffer), so the
    * per-partition memory bound is one record regardless of partition
    * row count; indexing costs one long counter per byte written. */
  def writeIndexed(docs: DataFrame, dir: String, urlCol: String = "url",
                   dateCol: String = "warc_date",
                   textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val bc = sc.broadcast(new SerHadoopConf(sc.hadoopConfiguration))
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    dirPath.getFileSystem(sc.hadoopConfiguration).mkdirs(dirPath)
    docs.select(col(urlCol).cast("string"), col(dateCol).cast("string"),
        col(textCol).cast("string"))
      .as[(String, String, String)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val fileName = f"part-$pid%05d.warc.gz"
          val file = new org.apache.hadoop.fs.Path(dir, fileName)
          val fs = file.getFileSystem(bc.value.value)
          val counting = new CountingOutputStream(
            new java.io.BufferedOutputStream(fs.create(file, true), 1 << 16))
          val out = counting
          val deflater = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          val crc = new java.util.zip.CRC32
          val buf = new Array[Byte](1 << 16)
          def writeIntLE(v: Int): Unit = {
            out.write(v & 0xff); out.write((v >>> 8) & 0xff)
            out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
          }
          def member(bytes: Array[Byte]): Unit = {
            out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0,
              0xff.toByte))
            deflater.reset()
            deflater.setInput(bytes)
            deflater.finish()
            while (!deflater.finished()) {
              val k = deflater.deflate(buf)
              if (k > 0) out.write(buf, 0, k)
            }
            crc.reset(); crc.update(bytes)
            writeIntLE(crc.getValue.toInt); writeIntLE(bytes.length)
          }
          // crash-safe close: a task failure mid-iteration never reaches
          // the on-exhaust close below, so the stream/Deflater release
          // rides the task-completion listener (idempotent with it)
          var closed = false
          def closeAll(): Unit = if (!closed) {
            closed = true
            try out.close() finally deflater.end()
          }
          org.apache.spark.TaskContext.get() match {
            case null => ()
            case tc => tc.addTaskCompletionListener[Unit](_ => closeAll())
          }
          new Iterator[(String, Long, Long, String, Long)] {
            override def hasNext: Boolean = {
              val h = it.hasNext
              if (!h) closeAll()
              h
            }
            override def next(): (String, Long, Long, String, Long) = {
              val (url, date, text) = it.next()
              val u = if (url == null) "" else url
              val payload = (if (text == null) "" else text)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val id = org.apache.spark.sql.catalyst.expressions
                .XxHash64Function.hash(payload,
                  org.apache.spark.sql.types.BinaryType, 42L)
              val header = ("WARC/1.0\r\n" +
                "WARC-Type: conversion\r\n" +
                s"WARC-Record-ID: <urn:graft:doc:${xxhashOf(u)}:$id>\r\n" +
                s"WARC-Target-URI: $u\r\n" +
                s"WARC-Date: ${if (date == null) "" else date}\r\n" +
                "Content-Type: text/plain\r\n" +
                s"Content-Length: ${payload.length}\r\n\r\n")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val rec = new Array[Byte](header.length + payload.length + 4)
              System.arraycopy(header, 0, rec, 0, header.length)
              System.arraycopy(payload, 0, rec, header.length, payload.length)
              rec(rec.length - 4) = '\r'; rec(rec.length - 3) = '\n'
              rec(rec.length - 2) = '\r'; rec(rec.length - 1) = '\n'
              val before = counting.count
              member(rec)
              (s"$dir/$fileName", before, counting.count - before,
                u, xxhashOf(u))
            }
          }
        }
      }
      .toDF("file", "offset", "length", "url", "doc_id")
      .localCheckpoint(true)
  }

  /** Selective BYTE-RANGE reads against a [[writeIndexed]] index: parse
    * ONLY the records whose index rows are passed in — each file opens
    * once per partition, seeks member by member in offset order, and
    * gunzips exactly `length` bytes per record. At 100 TB this is the
    * difference between fetching kilobytes and scanning the dump: the
    * index (url/doc_id-keyed, parquet) prunes at the SQL layer, and the
    * capture files serve as a random-access record store. */
  def recordsIndexed(index: DataFrame,
                     maxPayloadBytes: Long = DefaultMaxPayloadBytes): Dataset[WarcRecord] = {
    val spark = index.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val bc = sc.broadcast(new SerHadoopConf(sc.hadoopConfiguration))
    val maxPB = maxPayloadBytes
    index.select(col("file").cast("string"), col("offset").cast("long"),
        col("length").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (file, rows) =>
        val hp =
          try new org.apache.hadoop.fs.Path(new java.net.URI(file))
          catch { case _: Exception => new org.apache.hadoop.fs.Path(file) }
        val fs = hp.getFileSystem(bc.value.value)
        val in = fs.open(hp)
        val recs = rows.toArray.sortBy(_._2).iterator.flatMap {
          case (_, offset, length) =>
            // hostile/corrupt index entries: a length a JVM byte[] cannot
            // hold (or a nonsense offset/length) must not kill the task —
            // the parser's oversize discipline applied at the index seam:
            // emit the row with a null payload, skip the fetch (r14
            // verdict #4)
            if (length > Int.MaxValue - 8 || length <= 0 || offset < 0)
              Iterator.single(WarcRecord(file, "", "", "", "", "",
                length, null))
            else {
              in.seek(offset)
              val bytes = new Array[Byte](length.toInt)
              in.readFully(bytes)
              parseRecords(file, new ByteArrayInputStream(bytes), maxPB)
            }
        }
        closeOnExhaust(recs, in)
      }
  }

  /** Parse the official Common Crawl CDXJ plain-text index format into the
    * [[recordsIndexed]] frame shape, so selective byte-range fetch works
    * against a REAL dump's own index (CC publishes `cdx-*.gz` shards; no
    * index build pass over petabytes). A CDXJ line is
    * `<SURT key> <14-digit timestamp> {json}` where the JSON carries
    * STRING-valued `url`, `offset`, `length`, `filename` (plus
    * `mime`/`status`/`digest`, kept when present — they prune at the SQL
    * layer before any fetch). Whole-file gzip shards decompress through
    * the text source's codec handling; malformed lines (no JSON object, or
    * missing any fetch-critical field) drop — a 300-billion-line index
    * tolerates damage, a reader that dies on one bad line does not.
    *
    * `base` prefixes the JSON's dump-root-relative filenames (pass "" when
    * filenames are already absolute, e.g. a locally-written index).
    * `doc_id` is xxhash64(url) with Spark's seed — the same id
    * [[writeIndexed]] emits, so either index serves the same SQL. */
  def cdxjIndex(spark: SparkSession, path: String,
                base: String = ""): DataFrame = {
    val jsonSchema = org.apache.spark.sql.types.StructType(Seq(
      "url", "offset", "length", "filename", "mime", "status", "digest")
      .map(f => org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.StringType)))
    spark.read.text(path)
      .select(col("value"),
        locate("{", col("value")).as("__j"))
      .filter(col("__j") > 0)
      .select(
        substring_index(col("value"), " ", 1).as("surt"),
        element_at(split(col("value"), " ", 3), 2).as("timestamp"),
        from_json(expr("substring(value, __j)"), jsonSchema).as("j"))
      .select(col("surt"), col("timestamp"),
        (if (base.isEmpty) col("j.filename")
         else concat(lit(base.stripSuffix("/") + "/"), col("j.filename")))
          .as("file"),
        col("j.offset").cast("long").as("offset"),
        col("j.length").cast("long").as("length"),
        col("j.url").as("url"),
        xxhash64(col("j.url")).as("doc_id"),
        col("j.mime").as("mime"), col("j.status").as("status"),
        col("j.digest").as("digest"))
      .filter(col("file").isNotNull && col("offset").isNotNull &&
        col("length").isNotNull && col("url").isNotNull)
  }

  /** The write side of the interop: render a [[writeIndexed]] index frame
    * as official CDXJ lines (SURT key = comma-reversed host + `)/` +
    * path-and-query; JSON via `to_json` so urls with quotes escape
    * correctly). Sort before writing for a spec-compliant shard
    * (`.orderBy("surt", "timestamp")`); timestamps are the caller's
    * capture time in the 14-digit form. */
  def cdxjLines(index: DataFrame,
                timestamp: String = "20260101000000"): DataFrame = {
    val pathQ = expr("CASE WHEN locate('/', url, locate('://', url) + 3) = 0" +
      " THEN '/' ELSE substr(url, locate('/', url, locate('://', url) + 3))" +
      " END")
    // non-hierarchical urls (no '://' host — e.g. the `urn:graft:doc:` ids
    // a WET export synthesizes) have no SURT form; key on the raw url so
    // the line stays 3-field and re-parses (a null host under concat_ws
    // would silently drop the key and shift the timestamp into its slot)
    val host = graft.functions.UrlFns.urlHost(col("url"))
    val surtKey = when(host.isNotNull,
      concat(array_join(reverse(split(host, "\\.")), ","), lit(")"), pathQ))
      .otherwise(col("url"))
    index.select(concat_ws(" ", surtKey,
      lit(timestamp),
      to_json(struct(col("url"),
        col("offset").cast("string").as("offset"),
        col("length").cast("string").as("length"),
        col("file").as("filename")))).as("value"))
  }

  /** xxhash64 of a string's UTF-8 bytes with Spark's seed (the engine's
    * url→doc_id convention) — keeps exported record ids deterministic. */
  private def xxhashOf(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  /** The identical parser over an IN-PLANE binary column (file_id, payload
    * bytes) — the oracle seam, and the form a lake that already landed its
    * captures as parquet blobs uses. */
  def recordsFromFrame(df: DataFrame, fileIdCol: String = "file_id",
                       payloadCol: String = "payload",
                       maxPayloadBytes: Long = DefaultMaxPayloadBytes): Dataset[WarcRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(fileIdCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (fid, bytes) =>
        if (bytes == null) Iterator.empty
        else parseRecords(fid, new ByteArrayInputStream(bytes), maxPayloadBytes)
      }
  }

  /** One text document extracted from a capture, with its HTTP provenance
    * (`textDocs`). WET `conversion` records carry status 200 and the
    * WARC-level content type; HTTP `response` captures carry the parsed
    * status line and the HTTP-level media type. */
  final case class TextDoc(url: String, warc_date: String,
                           http_status: Int, mime: String, text: String)

  /** The text documents of a capture, ONE parse pass per record (a union of
    * per-shape routes would re-stream every file once per shape). Three
    * record shapes, matching what real crawls actually ship:
    *
    *  - `conversion` records (WET proper): payload IS the extracted text,
    *    UTF-8 by the WET spec. status 200, mime from the WARC content type.
    *  - `response` records with WARC-level `application/http` content type
    *    (the ISO-28500 shape every Common Crawl `.warc.gz` uses): the
    *    payload is a full HTTP message — status line, headers, body. The
    *    envelope is parsed ([[parseHttpResponse]]): headers split at the
    *    first blank line, `Transfer-Encoding: chunked` bodies de-chunked,
    *    HTTP `Content-Length` honored (trailing capture junk dropped), body
    *    decoded by the `charset=` of the HTTP `Content-Type` (UTF-8
    *    fallback). Kept iff the HTTP-level media type is `text/ *` — the
    *    WARC-level type says "this is an HTTP message", only the HTTP
    *    header knows what the body is. ALL statuses are kept here, with
    *    the parsed status in `http_status` — [[wetDocs]] applies the 2xx
    *    gate, censuses can count redirects/404s.
    *  - `response` records whose WARC-level content type is itself
    *    `text/ *` (nonstandard, but seen in homegrown archivers): payload
    *    treated as bare UTF-8 text, status 200.
    *
    * Until r13 the engine handled only the last shape — on a real crawl the
    * `text/ *` filter silently dropped EVERY response record (r12 verdict
    * #1); q125 now pins the envelope math (status, chunked framing,
    * charset, content-length truncation) under the driver's hash compare. */
  def textDocs(records: Dataset[WarcRecord]): Dataset[TextDoc] = {
    val spark = records.sparkSession
    import spark.implicits._
    records.flatMap { r =>
      if (r.payload == null) Iterator.empty
      else if (r.rec_type == "conversion")
        Iterator.single(TextDoc(r.target_uri, r.warc_date, 200,
          mimeOf(r.content_type, "text/plain"),
          new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)))
      else if (r.rec_type == "response" &&
               r.content_type.startsWith("application/http"))
        parseHttpResponse(r.payload) match {
          case Some(m) if m.mime.startsWith("text/") =>
            Iterator.single(TextDoc(r.target_uri, r.warc_date, m.status,
              m.mime, m.bodyText))
          case _ => Iterator.empty
        }
      // `resource` records carry the raw resource directly (no HTTP
      // envelope); nonstandard bare-text responses look the same
      else if ((r.rec_type == "response" || r.rec_type == "resource") &&
               r.content_type.startsWith("text/"))
        Iterator.single(TextDoc(r.target_uri, r.warc_date, 200,
          mimeOf(r.content_type, "text/plain"),
          new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)))
      else Iterator.empty
    }
  }

  /** WET semantics: the text documents of a capture → (url, warc_date,
    * text), successful fetches only (2xx — the CCNet/WET convention; use
    * [[textDocs]] to see redirects and errors). The downstream curation
    * pipeline's entry row (CurationJob's documents contract). */
  def wetDocs(records: Dataset[WarcRecord]): DataFrame =
    textDocs(records).toDF()
      .filter(col("http_status") >= 200 && col("http_status") <= 299)
      .select(col("url"), col("warc_date"), col("text"))

  // ---- HTTP envelope (the payload of an `application/http` response) ----

  /** A parsed HTTP response message. `mime` is the lowercased media type of
    * the HTTP `Content-Type` (parameters stripped); `bodyText` the body
    * decoded by that header's `charset=` (UTF-8 fallback, malformed bytes
    * replaced — a capture must never kill the task). */
  final case class HttpMessage(status: Int, mime: String, bodyText: String)

  /** Parse one HTTP response message (RFC 9112 framing, lenient):
    * status line + headers up to the first blank line, then the body —
    * de-chunked when `Transfer-Encoding: chunked` (chunk extensions and
    * trailers ignored), else truncated to HTTP `Content-Length` when
    * present and sane (real captures carry trailing CRLFs the WARC frame
    * includes but the message does not). None when the payload is not an
    * HTTP response (no `HTTP/` status line) — the caller drops the record
    * rather than gluing headers onto text. */
  def parseHttpResponse(payload: Array[Byte],
                        maxBodyBytes: Long = DefaultMaxPayloadBytes): Option[HttpMessage] = {
    val headerEnd = indexOfBlankLine(payload)
    if (headerEnd < 0) return None
    // header block is ASCII-compatible by spec; 8859-1 keeps bytes 1:1
    val head = new String(payload, 0, headerEnd,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val lines = head.split("\n").map(l =>
      if (l.nonEmpty && l.last == '\r') l.dropRight(1) else l)
    if (lines.isEmpty || !lines(0).startsWith("HTTP/")) return None
    val status = {
      val parts = lines(0).split(" ", 3)
      if (parts.length < 2) return None
      try parts(1).trim.toInt catch { case _: NumberFormatException => return None }
    }
    val headers = lines.drop(1).flatMap { l =>
      val i = l.indexOf(':')
      if (i > 0) Some(l.substring(0, i).trim
        .toLowerCase(java.util.Locale.ROOT) -> l.substring(i + 1).trim)
      else None
    }.toMap
    val bodyStart = bodyStartAfter(payload, headerEnd)
    val chunked = headers.get("transfer-encoding")
      .exists(_.toLowerCase(java.util.Locale.ROOT).contains("chunked"))
    val body: Array[Byte] =
      if (chunked) dechunk(payload, bodyStart)
      else {
        val cl = headers.get("content-length").flatMap(v =>
          try Some(v.trim.toLong) catch { case _: NumberFormatException => None })
        val avail = payload.length - bodyStart
        val take = cl match {
          case Some(n) if n >= 0 && n <= avail => n.toInt
          case _ => avail
        }
        java.util.Arrays.copyOfRange(payload, bodyStart, bodyStart + take)
      }
    // WARC stores the payload AS TRANSMITTED (ISO 28500), so a server that
    // sent `Content-Encoding: gzip`/`deflate` leaves a compressed body in
    // the capture — decode it, leniently (a corrupt stream keeps whatever
    // decoded plus nothing, and an unknown coding passes through raw)
    val decoded = headers.get("content-encoding")
      .map(_.toLowerCase(java.util.Locale.ROOT).trim) match {
      case Some(enc) if enc.contains("gzip") || enc == "x-gzip" =>
        decodeLenient(body, maxBodyBytes,
          in => new GZIPInputStream(in, 1 << 16))
      case Some("deflate") =>
        // zlib-wrapped per RFC 9110; broken servers send raw deflate. A raw
        // stream whose first two bytes HAPPEN to parse as a zlib header
        // decodes to a short garbage prefix, not to empty — so when the
        // zlib attempt looks suspicious (empty, or shorter than the
        // compressed input — deflate output virtually always expands), the
        // raw framing is decoded too and the LONGER result wins (r13
        // advice). Well-formed zlib bodies still pay a single decode.
        val zlib = decodeLenient(body, maxBodyBytes,
          in => new java.util.zip.InflaterInputStream(in))
        if (body.isEmpty || zlib.length >= body.length) zlib
        else {
          val raw = decodeLenient(body, maxBodyBytes,
            in => new java.util.zip.InflaterInputStream(
              in, new java.util.zip.Inflater(true)))
          if (zlib.length >= raw.length) zlib else raw
        }
      case _ => body
    }
    val contentType = headers.getOrElse("content-type", "")
    val mime = mimeOf(contentType, "")
    // charset resolution order (what real crawl pipelines do): the HTTP
    // header's charset= param; else, for HTML, a <meta charset=…> /
    // http-equiv declaration sniffed from the first 1 KB of the body
    // (ASCII-compatible by the HTML spec's own pre-scan rule); else UTF-8
    val cs = charsetParam(contentType)
      .orElse(if (mime == "text/html") sniffMetaCharset(decoded) else None)
      .getOrElse(java.nio.charset.StandardCharsets.UTF_8)
    Some(HttpMessage(status, mime, new String(decoded, cs)))
  }

  /** Decode `bytes` through `wrap`, keeping whatever decoded before any
    * corruption (lenient: a truncated stream yields its good prefix; a
    * stream whose very header is broken yields empty). Output is CAPPED at
    * `maxOut` — a compression BOMB (a KB-sized gzip body expanding to GBs;
    * the WARC frame bounds only the COMPRESSED size) must not OOM the
    * task; the capped prefix is kept, same as any other truncation. */
  private def decodeLenient(bytes: Array[Byte], maxOut: Long,
      wrap: InputStream => InputStream): Array[Byte] = {
    val cap = math.min(maxOut, Int.MaxValue - 8L).toInt
    val out = new java.io.ByteArrayOutputStream(
      math.min(cap.toLong, math.max(64L, bytes.length * 3L)).toInt)
    try {
      val in = wrap(new ByteArrayInputStream(bytes))
      val buf = new Array[Byte](8192)
      var r = in.read(buf)
      while (r > 0 && out.size() < cap) {
        out.write(buf, 0, math.min(r, cap - out.size()))
        r = if (out.size() < cap) in.read(buf) else -1
      }
    } catch { case _: java.io.IOException => () }
    out.toByteArray
  }

  /** Media type of a Content-Type value: lowercased, parameters stripped. */
  private def mimeOf(contentType: String, dflt: String): String = {
    val semi = contentType.indexOf(';')
    val m = (if (semi >= 0) contentType.substring(0, semi) else contentType)
      .trim.toLowerCase(java.util.Locale.ROOT)
    if (m.isEmpty) dflt else m
  }

  /** `charset=` parameter of a Content-Type-shaped value (quotes stripped,
    * case-insensitive); None when absent, unknown, or unsupported. */
  private def charsetParam(value: String): Option[java.nio.charset.Charset] = {
    val lower = value.toLowerCase(java.util.Locale.ROOT)
    val i = lower.indexOf("charset=")
    if (i < 0) return None
    var v = value.substring(i + 8)
    // token ends at the first param/attribute/tag delimiter
    val end = v.indexWhere(c => c == ';' || c == '>' || c == ' ' ||
      c == '\t' || c == '\r' || c == '\n' || c == '/')
    if (end >= 0) v = v.substring(0, end)
    v = v.trim.stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("'").stripSuffix("'").trim
    if (v.isEmpty) None
    else try Some(java.nio.charset.Charset.forName(v))
    catch { case _: Exception => None }
  }

  /** HTML `<meta charset=…>` / `http-equiv Content-Type` pre-scan over the
    * first 1 KB of the body (ASCII-compatible per the HTML spec's encoding
    * sniffing rule) — the fallback when the HTTP header names no charset.
    * The scan is restricted to the inside of `<meta …>` tags (r13 advice):
    * ordinary body text like "charset=latin1" near the top of a page must
    * not flip the whole document's decode. */
  private def sniffMetaCharset(
      body: Array[Byte]): Option[java.nio.charset.Charset] = {
    val n = math.min(body.length, 1024)
    if (n == 0) return None
    val head = new String(body, 0, n,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val lower = head.toLowerCase(java.util.Locale.ROOT)
    var i = lower.indexOf("<meta")
    while (i >= 0) {
      val gt = lower.indexOf('>', i)
      val stop = if (gt < 0) head.length else gt
      val cs = charsetParam(head.substring(i, stop))
      if (cs.isDefined) return cs
      i = lower.indexOf("<meta", stop)
    }
    None
  }

  /** Byte offset of the first blank line (the CRLFCRLF — leniently LFLF —
    * header/body separator); -1 when none. Returns the offset where the
    * header block ENDS (start of the first empty line's terminator). */
  private def indexOfBlankLine(b: Array[Byte]): Int = {
    var i = 0
    while (i < b.length) {
      if (b(i) == '\n') {
        if (i + 2 < b.length && b(i + 1) == '\r' && b(i + 2) == '\n') return i + 1
        if (i + 1 < b.length && b(i + 1) == '\n') return i + 1
        // also accept a bare "\n\r\n"/"\n\n" handled above; CRLFCRLF hits
        // the first branch because the '\n' at i is CRLF's LF
      }
      i += 1
    }
    -1
  }

  /** First body byte after the blank-line separator at `sepStart`. */
  private def bodyStartAfter(b: Array[Byte], sepStart: Int): Int =
    if (sepStart + 1 < b.length && b(sepStart) == '\r') sepStart + 2
    else sepStart + 1

  /** Decode a `Transfer-Encoding: chunked` body: hex-size line (chunk
    * extensions after ';' ignored) + data + CRLF, terminated by a 0 chunk
    * (trailers ignored). Lenient: a malformed frame yields the bytes
    * accumulated so far — a truncated capture keeps its good prefix. */
  private def dechunk(b: Array[Byte], start: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(16, b.length - start))
    var i = start
    var going = true
    while (going) {
      // read the size line
      var j = i
      while (j < b.length && b(j) != '\n') j += 1
      if (j >= b.length) going = false
      else {
        var line = new String(b, i, j - i,
          java.nio.charset.StandardCharsets.ISO_8859_1).trim
        val semi = line.indexOf(';')
        if (semi >= 0) line = line.substring(0, semi).trim
        val size =
          try java.lang.Long.parseLong(line, 16)
          catch { case _: NumberFormatException => -1L }
        if (size <= 0 || j + 1 + size > b.length) going = false // 0 = done
        else {
          out.write(b, j + 1, size.toInt)
          i = j + 1 + size.toInt
          // skip the chunk-terminating CRLF (lenient: LF alone)
          if (i < b.length && b(i) == '\r') i += 1
          if (i < b.length && b(i) == '\n') i += 1
        }
      }
    }
    out.toByteArray
  }

  // ---- stream helpers ----

  private def isGzip(buf: BufferedInputStream): Boolean = {
    buf.mark(2)
    val b0 = buf.read(); val b1 = buf.read()
    buf.reset()
    b0 == 0x1f && b1 == 0x8b
  }

  /** Skip inter-record CRLFs (the spec's two trailing CRLFs, leniently any
    * number) to the `WARC/…` version line; null at EOF. */
  private def skipToVersionLine(in: InputStream): String = {
    var line = readLine(in)
    while (line != null && line.isEmpty) line = readLine(in)
    if (line == null) null
    else if (line.startsWith("WARC/")) line
    else throw new EOFException(s"expected WARC version line, got: $line")
  }

  /** Header lines to the blank separator; names lowercased (the spec is
    * case-insensitive), values trimmed. */
  private def readHeaders(in: InputStream): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    var line = readLine(in)
    while (line != null && line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0)
        m += line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT) ->
          line.substring(i + 1).trim
      line = readLine(in)
    }
    if (line == null) throw new EOFException("EOF inside WARC header block")
    m.result()
  }

  /** One ISO-8859-1 line up to LF (CR stripped); null at EOF-before-byte. */
  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder(96)
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') { sb.append(c.toChar); c = in.read() }
    val n = sb.length()
    if (n > 0 && sb.charAt(n - 1) == '\r') sb.setLength(n - 1)
    sb.toString
  }

  private def readFully(in: InputStream, len: Long): Array[Byte] = {
    val out = new Array[Byte](len.toInt)
    var off = 0
    while (off < len) {
      val r = in.read(out, off, len.toInt - off)
      if (r < 0) throw new EOFException("EOF inside WARC payload")
      off += r
    }
    out
  }

  private def skipFully(in: InputStream, len: Long): Unit = {
    var left = len
    while (left > 0) {
      val s = in.skip(left)
      if (s > 0) left -= s
      else if (in.read() < 0) throw new EOFException("EOF inside skipped payload")
      else left -= 1
    }
  }

  /** Close the backing stream when the record iterator drains (binaryFiles
    * hands one open stream per file; a task that leaks 10k of them dies on
    * fd exhaustion long before memory). */
  private def closeOnExhaust(it: Iterator[WarcRecord],
                             in: InputStream): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private var closed = false
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && !closed) { closed = true; in.close() }
        h
      }
      override def next(): WarcRecord = it.next()
    }
}
