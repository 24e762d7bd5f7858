package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns with
  * typed metadata.
  *
  * The Spark-side contract is real and tested — schema, partition sizing, batch
  * shape, deterministic chunking. The codec layer is split honestly: the PNM
  * image family (PPM/PGM — uncompressed rasters), non-interlaced 8-bit PNG
  * (DEFLATE is in the JVM — `PngCodec`), JPEG/BMP/GIF (the JDK's own
  * `javax.imageio`, `java.desktop` module — `ImageIoCodec`), and RIFF/WAVE
  * PCM audio all get REAL decoders with no third-party or native dependency
  * (decode → nearest-neighbor resize → exact per-channel stats), proving the
  * mapPartitions plumbing end-to-end with real pixels and samples; G.711
  * μ-law/A-law compressed audio decodes via the JDK's `javax.sound.sampled`
  * (`JavaSoundCodec`); uncompressed video decodes via `Y4mCodec` and REAL
  * compressed video via the JDK's own animated-GIF codec (`GifCodec` —
  * LZW frames, palette color, disposal compositing). Only perceptual
  * codecs with no decoder anywhere in the JDK (MP3/AAC/Opus audio,
  * inter-predicted H.264/VP9/AV1 video) remain STUBBED with a
  * deterministic fake.
  * Swapping one in means replacing the `BatchDecoder` value only; every plan
  * shape stays the same.
  *
  * Scale design: media rows are orders of magnitude wider than text rows, so the
  * operators (a) never shuffle the binary payload except when explicitly
  * repartitioning by size, and (b) process partitions as iterators (mapPartitions)
  * so one bad 2 GB blob cannot OOM an executor holding a materialized batch.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate_hz", IntegerType),
      StructField("duration_ms", LongType))), nullable = true)))

  /** Deterministic fake "decode": derives a fixed-length feature vector from the
    * payload bytes via seeded hashes. Stands in for a real image/audio decoder —
    * ??? territory, clearly marked; the surrounding plan (projection, batching,
    * schema) is production-shaped. */
  def decodeStub(df: DataFrame, payloadCol: String = "payload",
                 dims: Int = 16): DataFrame =
    // real impl: mapPartitions over an Arrow batch handed to the codec library
    df.withColumn("features",
      transform(sequence(lit(0), lit(dims - 1)),
        i => pmod(xxhash64(col(payloadCol), i), lit(1000L)).cast("double") / 1000.0))

  /** Deterministic frame sampling: split the payload into `frameBytes` chunks and
    * keep every `everyNth` chunk, preserving frame index. The payload stays in-row
    * through the posexplode — per-file contract: the binary column is never joined
    * or shuffled, each frame is sliced out of the blob in the partition that read
    * it. */
  def sampleFrames(df: DataFrame, frameBytes: Int, everyNth: Int,
                   payloadCol: String = "payload"): DataFrame = {
    val nFrames = ceil(length(col(payloadCol)).cast("double") / frameBytes).cast("int")
    df.withColumn("__idx",
        when(nFrames > 0,
          filter(sequence(lit(0), nFrames - 1), i => i % everyNth === 0))
          .otherwise(array().cast("array<int>")))
      .select(col("media_id"), col(payloadCol),
        posexplode(col("__idx")).as(Seq("pos", "frame_idx")))
      .withColumn("frame",
        col(payloadCol).substr(col("frame_idx") * frameBytes + 1, lit(frameBytes)))
      .select(col("media_id"), col("frame_idx"), col("frame"))
  }

  /** The decoder contract a real codec plugs into: called once per PARTITION with
    * an iterator of (media_id, kind, payload) — the codec library (expensive to
    * initialize, native-memory-backed) is constructed once per partition inside
    * the function, never serialized from the driver, and streams rows so one
    * oversized blob cannot force a materialized batch. Returns (media_id,
    * features). */
  type BatchDecoder =
    Iterator[(Long, String, Array[Byte])] => Iterator[(Long, Array[Double])]

  /** Deterministic stand-in decoder with the EXACT shape a real one has —
    * per-partition "codec" setup happens inside the closure; features are seeded
    * hashes of the payload bytes (matches `decodeStub`'s distribution: 16 dims in
    * [0, 1)). Swap this value for a JNI/FFmpeg/libvips-backed implementation and
    * nothing else in the plan changes. */
  def stubBatchDecoder(dims: Int = 16): BatchDecoder = rows => {
    val codec = new scala.util.hashing.MurmurHash3.ArrayHashing[Byte] // "init" once per partition
    rows.map { case (id, _, payload) =>
      val feats = Array.tabulate(dims) { d =>
        if (payload == null) 0.0
        else {
          val h = scala.util.hashing.MurmurHash3.bytesHash(payload, d)
          ((h & 0x7fffffff) % 1000) / 1000.0
        }
      }
      val _ = codec // silence unused: real codecs close() in a finally here
      (id, feats)
    }
  }

  /** REAL decoder for the PNM image family (PPM/PGM — raw uncompressed rasters,
    * decodable in pure JVM code with no native library): optional
    * nearest-neighbor resize, then exact per-channel mean/variance + shape
    * features (`PnmCodec`). Payloads that are not binary PNM are DROPPED —
    * the curation semantic for undecodable media. Compressed audio/video
    * still require the stub seam; this decoder proves the plumbing
    * end-to-end with real pixels. */
  def pnmBatchDecoder(resizeTo: Option[(Int, Int)] = None): BatchDecoder =
    rows => rows.flatMap { case (id, _, payload) =>
      PnmCodec.decode(payload).map { img =>
        val prepped = resizeTo match {
          case Some((tw, th)) => PnmCodec.resizeNearest(img, tw, th)
          case None => img
        }
        (id, PnmCodec.features(prepped))
      }
    }

  /** REAL decoder for non-interlaced 8-bit gray/RGB PNG (`PngCodec`): the
    * JVM ships PNG's DEFLATE (`java.util.zip.Inflater`), so decode + per-row
    * unfilter need no native library. Shares resize/features with the PNM
    * path; undecodable or out-of-subset payloads (16-bit, palette, alpha,
    * Adam7) are DROPPED — `imageIoBatchDecoder` handles those shapes via the
    * JDK's own codecs; this hand-rolled route stays as the
    * dependency-auditable reference the spec cross-checks it against. */
  def pngBatchDecoder(resizeTo: Option[(Int, Int)] = None): BatchDecoder =
    rows => rows.flatMap { case (id, _, payload) =>
      PngCodec.decode(payload).map { img =>
        val prepped = resizeTo match {
          case Some((tw, th)) => PnmCodec.resizeNearest(img, tw, th)
          case None => img
        }
        (id, PnmCodec.features(prepped))
      }
    }

  /** REAL decoder for JPEG (and any other format `javax.imageio` registers —
    * PNG, BMP, GIF): the JDK's `java.desktop` module ships the codecs, so the
    * dominant web-corpus image format decodes with zero new dependencies.
    * ImageIO reader construction happens via the static registry per call —
    * the per-partition shape is kept so a future native codec swaps in
    * unchanged. Normalizes to the shared `PnmCodec.Image` raster (raw raster
    * samples for gray — getRGB's gray->sRGB conversion is nonlinear — packed
    * sRGB for color), then shares resize/features with the PNM/PNG paths;
    * undecodable payloads are DROPPED. With this, the stub seam covers only
    * compressed audio/video. */
  def imageIoBatchDecoder(resizeTo: Option[(Int, Int)] = None): BatchDecoder =
    rows => rows.flatMap { case (id, _, payload) =>
      ImageIoCodec.decode(payload).map { img =>
        val prepped = resizeTo match {
          case Some((tw, th)) => PnmCodec.resizeNearest(img, tw, th)
          case None => img
        }
        (id, PnmCodec.features(prepped))
      }
    }

  /** REAL decoder for RIFF/WAVE PCM audio (`WavCodec`): exact-integer
    * duration/RMS/zero-crossing/peak features; non-PCM payloads dropped.
    * Together with `pnmBatchDecoder` this covers the uncompressed half of the
    * media space with real codecs; only compressed formats stub. */
  def wavBatchDecoder(): BatchDecoder =
    rows => rows.flatMap { case (id, _, payload) =>
      WavCodec.decode(payload).map(a => (id, WavCodec.features(a)))
    }

  /** REAL decoder for compressed telephony audio (G.711 μ-law/A-law in
    * WAV/AU containers) via the JDK's `javax.sound.sampled` codec chain
    * (`JavaSoundCodec`) — converts to signed 16-bit PCM and shares the
    * exact-integer feature pass with `wavBatchDecoder`. Undecodable payloads
    * are DROPPED. With this plus `imageIoBatchDecoder`, the deterministic
    * stub covers only perceptual codecs (MP3/AAC/Opus/video), which have no
    * decoder anywhere in the JDK. */
  def javaSoundBatchDecoder(): BatchDecoder =
    rows => rows.flatMap { case (id, _, payload) =>
      JavaSoundCodec.decode(payload).map(a => (id, WavCodec.features(a)))
    }

  /** mapPartitions decode path (SURVEY.md §2.10 altitude note: this is the ONE
    * place imperative per-partition logic is the right tool — a native codec
    * cannot be a Catalyst expression). The media frame is decoded
    * partition-by-partition with `decoder`; pair with `repartitionBySize` first
    * so partitions are byte-balanced, not row-balanced. */
  def decodePartitions(df: DataFrame, decoder: BatchDecoder,
                       payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("kind"), col(payloadCol))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(decoder)
      .toDF("media_id", "features")
  }

  /** Per-partition perceptual-hash contract — `BatchDecoder`'s shape with a
    * 64-bit signature instead of a feature vector, so a native hasher swaps
    * in identically. Undecodable payloads are dropped (curation semantic). */
  type BatchHasher =
    Iterator[(Long, String, Array[Byte])] => Iterator[(Long, Long)]

  /** dHash hasher over any single-payload decode route (`PnmCodec.decode`,
    * `PngCodec.decode`, `ImageIoCodec.decode`, or a chain). */
  def phashHasher(decode: Array[Byte] => Option[PnmCodec.Image]): BatchHasher =
    rows => rows.flatMap { case (id, _, payload) =>
      decode(payload).map(img => (id, PnmCodec.dhash64(img)))
    }

  /** dHash via every real image route in preference order: the hand-rolled
    * PNM/PNG decoders first (dependency-auditable), then the JDK's ImageIO
    * registry (JPEG/BMP/GIF/palette-PNG...). One hasher for a mixed lake. */
  def anyImagePhashHasher(): BatchHasher = phashHasher(b =>
    PnmCodec.decode(b).orElse(PngCodec.decode(b)).orElse(ImageIoCodec.decode(b)))

  /** mapPartitions perceptual-hash path — `decodePartitions`' twin producing
    * (media_id, phash). The 64-bit signature is ~10⁻⁵ the payload's size, so
    * this is the frame every downstream image-dedup join runs on; the binary
    * column never survives past the partition that read it. Owns the
    * few-file parallelism guard (the r10 receipt's lesson, at the decode
    * cost weight): a 2-file media lake must not hash on 2 tasks. */
  def perceptualHashes(df: DataFrame, hasher: BatchHasher,
                       payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Dedup.ensureParallel(df, costWeight = 4)
      .select(col("media_id").cast("long"), col("kind"), col(payloadCol))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(hasher)
      .toDF("media_id", "phash")
  }

  /** Image near-dup pairs: decode → dHash per partition, then the EXISTING
    * SimHash pigeonhole banding (`Dedup.simhashBandPairs`) finds every pair
    * within `maxHamming` — no new pair machinery, the text path's recall
    * guarantee, flood guards (`maxBucket` star collapse), and pair-budget
    * refusal (`maxPairs`) apply verbatim to images. Returns (id_a, id_b,
    * hamming). Radius guidance: 0 = same coarse luma field (re-encodes,
    * rescales), ≤ 6 = localized edits; beyond ~8 prefer embedding LSH.
    *
    * Cache lifecycle: the banding stage rides a persisted signature frame
    * reachable from the returned pairs, like the batch text listings
    * (q24/q25) — `Dedup.release(pairs)` after the last action frees it. */
  def imageNearDupPairs(df: DataFrame, hasher: BatchHasher,
                        maxHamming: Int = 6, maxBucket: Int = 0,
                        maxPairs: Long = 0L,
                        payloadCol: String = "payload"): DataFrame =
    signatureNearDupPairs(df, hasher, maxHamming, maxBucket, maxPairs,
      payloadCol)

  /** Shared body of [[imageNearDupPairs]]/[[audioNearDupPairs]] — the
    * modality lives entirely in the hasher. */
  private def signatureNearDupPairs(df: DataFrame, hasher: BatchHasher,
                                    maxHamming: Int, maxBucket: Int,
                                    maxPairs: Long,
                                    payloadCol: String): DataFrame =
    Dedup.simhashBandPairs(
      perceptualHashes(df, hasher, payloadCol)
        .select(col("media_id"), col("phash").as("simhash")),
      "media_id", maxHamming, maxBucket, maxPairs)

  /** Audio fingerprint hasher over any decode route ending in PCM
    * (`WavCodec.decode`, `JavaSoundCodec.decode`, or a chain). */
  def afpHasher(decode: Array[Byte] => Option[WavCodec.Audio]): BatchHasher =
    rows => rows.flatMap { case (id, _, payload) =>
      decode(payload).map(a => (id, WavCodec.afp64(a)))
    }

  /** Audio fingerprint via every real audio route: PCM WAV first, then the
    * JDK's javax.sound chain (G.711 μ-law/A-law WAV/AU). */
  def anyAudioFpHasher(): BatchHasher =
    afpHasher(b => WavCodec.decode(b).orElse(JavaSoundCodec.decode(b)))

  /** Audio near-dup pairs — [[imageNearDupPairs]]' acoustic twin: decode →
    * `WavCodec.afp64` per partition, then the same pigeonhole banding (and
    * the same cache lifecycle — see [[imageNearDupPairs]]).
    * Radius guidance: 0 = re-containered / gain-changed / resampled copies
    * (the envelope hash is invariant to all three), ≤ 6 = localized edits. */
  def audioNearDupPairs(df: DataFrame, hasher: BatchHasher,
                        maxHamming: Int = 6, maxBucket: Int = 0,
                        maxPairs: Long = 0L,
                        payloadCol: String = "payload"): DataFrame =
    signatureNearDupPairs(df, hasher, maxHamming, maxBucket, maxPairs,
      payloadCol)

  /** Per-frame hash contract: (media_id, frame_idx, signature) per decodable
    * frame — the clip-level analog of `BatchHasher`. */
  type BatchFrameHasher =
    Iterator[(Long, String, Array[Byte])] => Iterator[(Long, Int, Long)]

  /** Per-frame perceptual dHash for REAL uncompressed video (`Y4mCodec`):
    * every `everyNth`-th luma frame hashed; undecodable payloads dropped.
    * Compressed video still goes through the stub seam — swap the decode
    * inside for a JNI/FFmpeg-backed one and nothing downstream changes. */
  def y4mFrameHasher(everyNth: Int = 1): BatchFrameHasher = rows =>
    rows.flatMap { case (id, _, payload) =>
      Y4mCodec.decodeFrames(payload).iterator.flatMap(fs =>
        fs.iterator.zipWithIndex.collect {
          case (img, i) if i % everyNth == 0 => (id, i, PnmCodec.dhash64(img))
        })
    }

  /** Per-frame perceptual dHash via every real video route: uncompressed
    * Y4M first, then animated GIF through the JDK's own codec
    * (`GifCodec.decodeFrames` — real COMPRESSED video, frames composited
    * per the GIF disposal semantics), then MJPEG-in-AVI
    * (`AviMjpegCodec.decodeFrames` — RIFF walk + per-frame JPEG decode,
    * the camera/capture-card slice of a scraped lake). One hasher for a
    * mixed clip lake; undecodable payloads dropped; each codec rejects on
    * its magic in O(1), so the chain costs nothing on the wrong format.
    * With this the stub seam covers only perceptual audio and
    * inter-predicted video (H.264/VP9/AV1). */
  def anyVideoFrameHasher(everyNth: Int = 1): BatchFrameHasher = rows =>
    rows.flatMap { case (id, _, payload) =>
      Y4mCodec.decodeFrames(payload).orElse(GifCodec.decodeFrames(payload))
        .orElse(AviMjpegCodec.decodeFrames(payload))
        .iterator.flatMap(fs =>
          fs.iterator.zipWithIndex.collect {
            case (img, i) if i % everyNth == 0 => (id, i, PnmCodec.dhash64(img))
          })
    }

  /** mapPartitions frame-signature path: (media_id, frame_idx, fsig), one row
    * per sampled decodable frame. Owns the few-file guard like
    * [[perceptualHashes]]; the video blob never leaves its scan partition —
    * only 64-bit frame signatures shuffle. */
  def frameSignatures(df: DataFrame, hasher: BatchFrameHasher,
                      payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Dedup.ensureParallel(df, costWeight = 4)
      .select(col("media_id").cast("long"), col("kind"), col(payloadCol))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(hasher)
      .toDF("media_id", "frame_idx", "fsig")
  }

  /** Clip-level near-dup pairs: clips sharing at least `minSharedFrames`
    * DISTINCT frame signatures — `Dedup.sharedWindowPairs`' media twin
    * (windows → frames), with the same oversized-bucket star collapse for
    * boilerplate frames (test cards, black frames) and the same scale shape:
    * signatures equi-join on their own value, no clip × clip pass exists.
    * Returns (id_a, id_b, shared_frames). */
  def videoNearDupPairs(df: DataFrame, hasher: BatchFrameHasher,
                        minSharedFrames: Int = 2, maxBucket: Int = 4096,
                        payloadCol: String = "payload"): DataFrame =
    videoNearDupPairsFromSigs(frameSignatures(df, hasher, payloadCol),
      minSharedFrames, maxBucket)

  /** [[videoNearDupPairs]] over a PRECOMPUTED frame-signature frame
    * (media_id, fsig — extra columns ignored): the form a tick that already
    * checkpointed its `frameSignatures` output calls, so clips decode exactly
    * ONCE per tick (decode dominates the tick's cost by design — see
    * `MediaCurationJob`). Also the signature-store form: the persisted store
    * (media_id, fsig) feeds it directly, no payloads anywhere. */
  def videoNearDupPairsFromSigs(frameSigs: DataFrame, minSharedFrames: Int = 2,
                                maxBucket: Int = 4096): DataFrame = {
    require(minSharedFrames >= 1,
      s"minSharedFrames must be >= 1, got $minSharedFrames")
    val ex = frameSigs
      .select(col("media_id").as("__id"), col("fsig").as("__wh"))
      .distinct() // shared count = distinct shared signatures, repeats don't inflate
    val (normal, star) = Dedup.splitOversizedBuckets(ex, Seq("__wh"), maxBucket)
    val normalPairs = normal.as("a").join(normal.as("b"),
        col("a.__wh") === col("b.__wh") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    val all = if (star == null) normalPairs
      else normalPairs.unionByName(
        star.select(col("__bmin").as("id_a"), col("__id").as("id_b")))
    all.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minSharedFrames)
  }

  /** Video admission matches — [[videoNearDupPairs]]' tick form: every
    * (incoming clip, corpus clip) pair sharing at least `minSharedFrames`
    * DISTINCT frame signatures, where the corpus side is its persisted
    * FRAME-SIGNATURE store (media_id, fsig) — incoming × corpus only, the
    * lake's blobs never re-read. Returns (id_a = incoming, id_b = corpus,
    * shared_frames). */
  def videoAdmissionMatches(corpusFrameSigs: DataFrame, incoming: DataFrame,
                            hasher: BatchFrameHasher, minSharedFrames: Int = 2,
                            payloadCol: String = "payload"): DataFrame =
    videoAdmissionMatchesFromSigs(corpusFrameSigs,
      frameSignatures(incoming, hasher, payloadCol), minSharedFrames)

  /** [[videoAdmissionMatches]] over the tick's PRECOMPUTED frame signatures
    * (media_id, fsig) — a tick that already checkpointed `frameSignatures`
    * feeds it directly and never decodes a payload twice. */
  def videoAdmissionMatchesFromSigs(corpusFrameSigs: DataFrame,
                                    incomingSigs: DataFrame,
                                    minSharedFrames: Int = 2): DataFrame = {
    require(minSharedFrames >= 1,
      s"minSharedFrames must be >= 1, got $minSharedFrames")
    incomingSigs
      .select(col("media_id").as("id_a"), col("fsig")).distinct()
      .join(corpusFrameSigs.select(col("media_id").as("id_b"), col("fsig"))
        .distinct(), Seq("fsig"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minSharedFrames)
  }

  /** Media admission matches — the batch media tick against an existing
    * lake: every (incoming, corpus) pair within `maxHamming`, where the
    * corpus side is its persisted SIGNATURE STORE (media_id, phash) — the
    * lake's blobs are never re-read, and the banded join runs
    * incoming × corpus only (`Dedup.simhashBandMatchesBetween`). */
  def mediaAdmissionMatches(corpusHashes: DataFrame, incoming: DataFrame,
                            hasher: BatchHasher, maxHamming: Int = 6,
                            payloadCol: String = "payload",
                            collapseCorpus: Boolean = true): DataFrame =
    Dedup.simhashBandMatchesBetween(
      perceptualHashes(incoming, hasher, payloadCol)
        .select(col("media_id"), col("phash").as("simhash")),
      corpusHashes.select(col("media_id"), col("phash").as("simhash")),
      "media_id", maxHamming, collapseCorpus)

  /** Media admission gate — text's `Dedup.admitNew` for binary payloads: the
    * incoming batch's rows that DECODE and have no within-radius perceptual
    * match already in the corpus. Undecodable payloads are dropped (the
    * curation semantic — an unreadable blob is filtered, not admitted
    * unseen). Admit, then append the admitted rows' hashes to the signature
    * store for the next tick.
    *
    * `collapseCorpus` (default ON) is the flood guard's per-tick price: a
    * narrow (id, hash) aggregate over the store each tick. A maintainer
    * that keeps the store pre-collapsed — `MediaCurationJob` publishes
    * survivor signatures, already duplicate-free per cluster — passes
    * `false` and skips the corpus-order shuffle entirely.
    *
    * The tick's hashes are checkpointed ONCE and read by both the match
    * subtree and the decodability gate (the `admissionPairs` one-tokenize
    * lesson — without it every payload decodes twice); `Dedup.release(result)`
    * after the final action frees the tick-sized checkpoint (the composites'
    * contract). */
  def admitNewMedia(corpusHashes: DataFrame, incoming: DataFrame,
                    hasher: BatchHasher, maxHamming: Int = 6,
                    payloadCol: String = "payload",
                    collapseCorpus: Boolean = true): DataFrame = {
    val inc = perceptualHashes(incoming, hasher, payloadCol)
      .localCheckpoint(eager = true) // tick-sized: (id, long) per decodable row
    val matches = Dedup.simhashBandMatchesBetween(
      inc.select(col("media_id"), col("phash").as("simhash")),
      corpusHashes.select(col("media_id"), col("phash").as("simhash")),
      "media_id", maxHamming, collapseCorpus)
    incoming
      .join(inc.select(col("media_id")), Seq("media_id"), "left_semi")
      .join(matches.select(col("id_a").as("media_id")), Seq("media_id"),
        "left_anti")
  }

  /** COMPRESSED-CONTAINER census (r17 — the perceptual-codec seam's
    * governable half): walk each payload's container STRUCTURE (ISO BMFF
    * boxes via [[Mp4Codec]], Matroska/WebM EBML via [[MkvCodec]]) and emit
    * the fields a lake is censused, quota'd and governed on — container,
    * brand/doctype, duration, per-track codec ids, pixel geometry, channel
    * layout, sample rate, payload bytes — with NO frame decode (the
    * inter-predicted bitstream stays behind the documented stub boundary
    * above). One metadata row (~100 bytes) per payload shuffles; the blob
    * never survives past the partition that read it — the signature-frame
    * discipline at the governance layer. Unparseable payloads drop
    * (curation semantic, same as the hashers). Output: (media_id,
    * container, brand, duration_ms, video_codec, width, height,
    * audio_codec, channels, sample_rate, payload_bytes). */
  def containerCensus(df: DataFrame,
                      payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Dedup.ensureParallel(df, costWeight = 2)
      .select(col("media_id").cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, payload) =>
        probeContainer(payload).map(m => (id, m._1, m._2, m._3, m._4,
          m._5, m._6, m._7, m._8, m._9, m._10))
      })
      .toDF("media_id", "container", "brand", "duration_ms", "video_codec",
        "width", "height", "audio_codec", "channels", "sample_rate",
        "payload_bytes")
  }

  /** The per-payload census kernel of [[containerCensus]]: (container,
    * brand, duration_ms, video_codec, width, height, audio_codec, channels,
    * sample_rate, payload_bytes) or None. */
  private def probeContainer(payload: Array[Byte]):
      Option[(String, String, Long, Option[String], Option[Int],
        Option[Int], Option[String], Option[Int], Option[Int], Long)] =
    Mp4Codec.probe(payload).map { i =>
      val v = i.tracks.find(_.handler == "vide")
      val a = i.tracks.find(_.handler == "soun")
      ("mp4", i.brand, i.durationMs,
        v.map(_.codec), v.map(_.width), v.map(_.height),
        a.map(_.codec), a.map(_.channels), a.map(_.sampleRate),
        i.payloadBytes)
    }.orElse(MkvCodec.probe(payload).map { i =>
      val v = i.tracks.find(_.trackType == 1)
      val a = i.tracks.find(_.trackType == 2)
      ("mkv", i.docType, i.durationMs,
        v.map(_.codecId), v.map(_.width), v.map(_.height),
        a.map(_.codecId), a.map(_.channels), a.map(_.sampleRate),
        i.payloadBytes)
    })

  /** Size-aware repartitioning: choose the partition count from the TOTAL payload
    * size so each partition holds ~`targetBytes`, then spread rows by id hash —
    * prevents the skew where one partition holds all the videos and the rest hold
    * thumbnails. The total is a driver-side scalar (a planning decision, one cheap
    * aggregate) — NOT a global window, which would funnel every row through a single
    * partition. */
  def repartitionBySize(df: DataFrame, targetBytes: Long,
                        payloadCol: String = "payload"): DataFrame = {
    val total = df.agg(sum(coalesce(length(col(payloadCol)), lit(0))))
      .first() match { case r if r.isNullAt(0) => 0L; case r => r.getLong(0) }
    val nPart = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    df.repartition(nPart, col("media_id"))
  }
}
