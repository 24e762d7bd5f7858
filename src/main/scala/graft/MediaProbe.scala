package graft

import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch profiling main for the multimodal near-dup path (not part of the
  * driver contract): generates a synthetic media lake with planted near-dup
  * groups, then times the perceptual-hash pass and the banded pair join at
  * scale — the receipt that the decode→hash→band pipeline is decode-bound
  * and the binary column never shuffles.
  *
  * Image rows are REAL binary PPMs (decoded by `PnmCodec`, not a stub):
  * each duplicate group renders a random 9×8 cell-block pattern (cell means
  * far apart, so the dHash is stable), copies perturb a few dozen scattered
  * bytes (cell means move <1 luma step — planted hamming ≈ 0-1); 1% junk
  * payloads prove the drop semantic at scale. Audio rows are real PCM WAVs
  * whose 65-bin envelope comes from the group and whose per-copy gain
  * varies (`afp64` gain invariance ⇒ planted hamming 0).
  *
  * Usage: MediaProbe gen|phash|pairs|audio <dir> [nImages] [dupFactor] */
object MediaProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    import spark.implicits._
    val mode = args(0)
    val dir = args(1)
    val n = args.drop(2).headOption.map(_.toLong).getOrElse(500000L)
    val dup = args.drop(3).headOption.map(_.toInt).getOrElse(5)

    def lcg(seed0: Long): () => Int = {
      var s = seed0 * 6364136223846793005L + 1442695040888963407L
      () => { s = s * 6364136223846793005L + 1442695040888963407L
              ((s >>> 33) & 0x7fffffff).toInt }
    }

    def ppm(groupSeed: Long, copySeed: Long): Array[Byte] = {
      val w = 48; val h = 48
      val g = lcg(groupSeed)
      val cells = Array.fill(9 * 8)(g() % 256) // the dHash grid's own geometry
      val pix = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        val cy = y * 8 / h
        var x = 0
        while (x < w) {
          val v = cells(cy * 9 + x * 9 / w).toByte
          val i = (y * w + x) * 3
          pix(i) = v; pix(i + 1) = v; pix(i + 2) = v
          x += 1
        }
        y += 1
      }
      val c = lcg(copySeed)
      var k = 0
      while (k < 40) { // scattered per-copy perturbation: cell means move <1
        val at = c() % pix.length
        pix(at) = ((pix(at) & 0xff) ^ (c() % 8)).toByte
        k += 1
      }
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ pix
    }

    def wavBytes(groupSeed: Long, copySeed: Long): Array[Byte] = {
      val g = lcg(groupSeed)
      val amps = Array.fill(65)(100 + g() % 7000)
      // per-copy gain by pure multiplication (max 7100*4 < Short.MaxValue):
      // afp64 compares energy RATIOS, so the hash is exactly gain-invariant
      val gain = 1 << (lcg(copySeed)() % 3)
      val frames = 65 * 16
      val bb = java.nio.ByteBuffer.allocate(44 + frames * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + frames * 2)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(frames * 2)
      var f = 0
      while (f < frames) {
        val a = amps(f / 16) * gain
        bb.putShort((if (f % 2 == 0) a else -a).toShort)
        f += 1
      }
      bb.array()
    }

    def y4mBytes(groupSeed: Long, copySeed: Long): Array[Byte] = {
      val w = 32; val h = 32
      val g = lcg(groupSeed)
      val c = lcg(copySeed)
      // 8 frames of 9x8 cell-block luma from the GROUP; each copy replaces
      // two of its frames (chosen by the copy seed) with its own patterns,
      // so within-group pairs share >= 4 distinct frame signatures
      val swapA = c() % 8
      val swapB = (swapA + 1 + c() % 7) % 8
      val frames = (0 until 8).map { f =>
        val src = if (f == swapA || f == swapB) c else g
        val cells = Array.fill(9 * 8)(src() % 256)
        Array.tabulate[Byte](w * h) { i =>
          val x = i % w; val y = i / w
          cells((y * 8 / h) * 9 + x * 9 / w).toByte
        }
      }
      val cb = 2 * ((w + 1) / 2) * ((h + 1) / 2)
      val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n"
        .getBytes("US-ASCII")
      header ++ frames.flatMap(y =>
        "FRAME\n".getBytes("US-ASCII") ++ y ++ Array.fill[Byte](cb)(-128))
    }

    def gen(kind: String, make: (Long, Long) => Array[Byte]): Unit = {
      spark.range(n).repartition(64)
        .map { id =>
          val payload = if (id % 100 == 99) Array[Byte](9, 9, 9) // 1% junk
            else make(id / dup + 1, id + 1)
          (id, kind, payload)
        }
        .toDF("media_id", "kind", "payload")
        .write.mode("overwrite").parquet(s"$dir/$kind.parquet")
      println(s"PROBE gen $kind n=$n dup=$dup -> $dir/$kind.parquet")
    }

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val out = f
      println(f"PROBE $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$out")
      spark.catalog.clearCache()
    }
    def lake(kind: String): DataFrame = spark.read.parquet(s"$dir/$kind.parquet")

    mode match {
      case "gen" =>
        gen("image", ppm)
        gen("audio", wavBytes)
        gen("video", y4mBytes)
      case "phash" =>
        for (round <- 1 to 2)
          time(s"image-phash-$round")(Multimodal.perceptualHashes(
            lake("image"), Multimodal.anyImagePhashHasher()).count())
      case "pairs" =>
        for (round <- 1 to 2) {
          val p = Multimodal.imageNearDupPairs(lake("image"),
            Multimodal.anyImagePhashHasher(), maxHamming = 4, maxBucket = 4096)
          time(s"image-pairs-$round")(p.count())
          Dedup.release(p)
        }
      case "audio" =>
        for (round <- 1 to 2) {
          val p = Multimodal.audioNearDupPairs(lake("audio"),
            Multimodal.anyAudioFpHasher(), maxHamming = 2, maxBucket = 4096)
          time(s"audio-pairs-$round")(p.count())
          Dedup.release(p)
        }
      case "video" =>
        for (round <- 1 to 2)
          time(s"video-pairs-$round")(Multimodal.videoNearDupPairs(lake("video"),
            Multimodal.y4mFrameHasher(), minSharedFrames = 4).count())
      case "admit" =>
        // the admission tick vs the full lake's SIGNATURE store: 4000
        // perturbed copies of existing groups (rejected at radius 4) + 1000
        // novel groups (admitted) — expect rows=1000 EXACTLY
        val storePath = s"$dir/image_store.parquet"
        val fs = new java.io.File(storePath)
        if (!fs.exists()) {
          time("store-build")(0L)
          Multimodal.perceptualHashes(lake("image"),
              Multimodal.anyImagePhashHasher())
            .write.parquet(storePath)
          time("store-build")(spark.read.parquet(storePath).count())
        }
        val store = spark.read.parquet(storePath)
        val tick = spark.range(5000).repartition(8)
          .map { i =>
            val id = 10000000L + i
            if (i < 4000) (id, "image", ppm(i / 4 + 1, id + 1))
            else (id, "image", ppm(5000000L + i, id + 1))
          }.toDF("media_id", "kind", "payload")
        for (round <- 1 to 2) {
          val admittedDf = Multimodal.admitNewMedia(store, tick,
            Multimodal.anyImagePhashHasher(), maxHamming = 4)
          time(s"admit-$round")(admittedDf.count())
          Dedup.release(admittedDf)
        }
      case "tick" =>
        // r11 verdict #6: the in-job pairs+cc (42.9s) and write (26.9s)
        // stage walls rode a burst-throttled host — this mode re-times them
        // warm over alternating rounds (min across rounds = the attributable
        // wall), and A/Bs the survivors write: A = the job's broadcast
        // ANTI-join on the drop set vs B = broadcast SEMI-join on the
        // survivor id set (same scan, same broadcast size class — measures
        // whether the join direction changes what the payload scan pays).
        val rounds = args.drop(2).headOption.map(_.toInt).getOrElse(3)
        val media = lake("image")
        for (r <- 1 to rounds) {
          var t0 = System.nanoTime()
          val sigs = Multimodal.perceptualHashes(media,
              Multimodal.anyImagePhashHasher())
            .localCheckpoint(eager = true)
          val tHash = (System.nanoTime() - t0) / 1e9
          t0 = System.nanoTime()
          val pairs = Dedup.simhashBandPairs(
            sigs.select(col("media_id"), col("phash").as("simhash")),
            "media_id", maxHamming = 4, maxBucket = 4096)
          val labels = Dedup.components(pairs)
          val undecodable = media.select(col("media_id"))
            .join(sigs.select(col("media_id")).distinct(), Seq("media_id"),
              "left_anti")
          val losers = labels.filter(col("id") =!= col("component"))
            .select(col("id").as("media_id"))
          val dropIds = undecodable.unionByName(losers).distinct()
            .localCheckpoint(eager = true)
          Dedup.release(labels)
          val tPairs = (System.nanoTime() - t0) / 1e9
          val nDrop = dropIds.count()
          val survivorIds = sigs.select(col("media_id")).distinct()
            .join(broadcast(dropIds), Seq("media_id"), "left_anti")
            .localCheckpoint(eager = true)
          def wa(): Double = { val t = System.nanoTime()
            media.join(broadcast(dropIds), Seq("media_id"), "left_anti")
              .write.mode("overwrite").parquet("/tmp/graft_tick_out_a")
            (System.nanoTime() - t) / 1e9 }
          def wb(): Double = { val t = System.nanoTime()
            media.join(broadcast(survivorIds), Seq("media_id"), "left_semi")
              .write.mode("overwrite").parquet("/tmp/graft_tick_out_b")
            (System.nanoTime() - t) / 1e9 }
          val (ta, tb) = if (r % 2 == 1) { val a = wa(); val b = wb(); (a, b) }
            else { val b = wb(); val a = wa(); (a, b) }
          println(f"PROBE tick-$r hash=$tHash%.1fs pairs+cc=$tPairs%.1fs " +
            f"drop=$nDrop writeA_anti=$ta%.1fs writeB_semi=$tb%.1fs")
          Seq(sigs, dropIds, survivorIds).foreach(Dedup.release)
          spark.catalog.clearCache()
        }
      case "containers" =>
        // r17: the compressed-container census at scale — n MP4/Matroska
        // payloads (SyntheticMedia.mp4/mkv, ~1.2 KB each) walked by the
        // REAL box/EBML parsers; the receipt that governance rows are
        // metadata-sized and the walk is payload-scan-bound. Usage:
        // containers <dir-ignored> [n]
        val ids = spark.range(n).toDF("doc_id")
          .repartition(spark.sparkContext.defaultParallelism)
        val lakeDf = graft.operators.SyntheticMedia.containerFrame(
            ids, "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        println(s"[media-probe] lake rows=${lakeDf.count()}")
        for (r <- 1 to 2) {
          val t0 = System.nanoTime()
          val census = Multimodal.containerCensus(lakeDf)
          val cnt = census.count()
          val agg = census.groupBy(col("container"), col("video_codec"))
            .agg(count(lit(1)).as("n"), sum(col("duration_ms")).as("ms"),
              sum(col("payload_bytes")).as("bytes"))
            .collect()
          println(f"[media-probe] census-$r rows=$cnt " +
            f"groups=${agg.length} ${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        Dedup.release(lakeDf)

      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
