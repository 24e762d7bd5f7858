package graft

import graft.operators.Multimodal
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def mediaDf = {
    val rows = Seq(
      Row(1L, "image", Array.fill[Byte](100)(7),
        Row(10, 10, null, null)),
      Row(2L, "audio", Array.fill[Byte](250)(3),
        Row(null, null, 16000, 4000L)),
      Row(3L, "image", null, null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
  }

  test("decodeStub: deterministic fixed-length features; null payload -> null-safe") {
    val out = Multimodal.decodeStub(mediaDf)
    val feats = out.filter($"media_id" === 1L)
      .select($"features").as[Seq[Double]].head()
    assert(feats.length == 16)
    assert(feats.forall(f => f >= 0.0 && f < 1.0))
    // deterministic: same payload -> same features on re-evaluation
    val again = Multimodal.decodeStub(mediaDf)
      .filter($"media_id" === 1L).select($"features").as[Seq[Double]].head()
    assert(feats == again)
  }

  test("PNM codec: real decode/resize/features end-to-end through mapPartitions") {
    import graft.operators.PnmCodec
    // hand-built 2x2 P6: red, green / blue, white
    def ppm(pix: Array[Byte], w: Int, h: Int): Array[Byte] =
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ pix
    val checker = ppm(Array(
      255.toByte, 0, 0,   0, 255.toByte, 0,
      0, 0, 255.toByte,   255.toByte, 255.toByte, 255.toByte), 2, 2)
    val gray = "P5\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 30)
    val junk = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
    // direct codec checks: decode + exact integer stats
    val img = PnmCodec.decode(checker).get
    assert(img.width == 2 && img.height == 2 && img.channels == 3)
    val f = PnmCodec.features(img)
    assert(f(0) == 2.0 && f(1) == 2.0)
    assert(f(3) == (255 + 0 + 0 + 255) / 4.0)   // R mean
    assert(f(4) == (0 + 255 + 0 + 255) / 4.0)   // G mean
    assert(f(5) == (0 + 0 + 255 + 255) / 4.0)   // B mean
    // nearest-neighbor upscale doubles each pixel; corner pixels preserved
    val up = PnmCodec.resizeNearest(img, 4, 4)
    assert(up.width == 4 && up.height == 4)
    assert((up.pixels(0) & 0xff) == 255 && (up.pixels(1) & 0xff) == 0) // (0,0) red
    assert(PnmCodec.features(up).drop(3).sameElements(f.drop(3))) // means/vars invariant
    // gray decodes with channel replication in features
    val gf = PnmCodec.features(PnmCodec.decode(gray).get)
    assert(gf(3) == 20.0 && gf(4) == 20.0 && gf(5) == 20.0)
    // end-to-end: the mapPartitions plumbing with the REAL decoder; junk dropped
    val rows = Seq(
      Row(1L, "image", checker, null),
      Row(2L, "image", gray, null),
      Row(3L, "image", junk, null),
      Row(4L, "image", null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val out = Multimodal.decodePartitions(df,
        Multimodal.pnmBatchDecoder(resizeTo = Some((4, 4))))
      .select($"media_id", $"features").as[(Long, Seq[Double])]
      .collect().toMap
    assert(out.keySet == Set(1L, 2L)) // undecodable payloads filtered
    assert(out(1L)(0) == 4.0 && out(1L)(3) == 127.5)
  }

  test("PNG codec: Deflater round-trip across all five filters; junk filtered") {
    import graft.operators.{PngCodec, PnmCodec}
    // hand-built encoder (java.util.zip.Deflater + CRC32): applies the chosen
    // PNG filter per row, so decode exercises every unfilter branch
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    def png(w: Int, h: Int, channels: Int, pix: Array[Byte],
            filterType: Int, bitDepth: Int = 8): Array[Byte] = {
      val colorType = if (channels == 3) 2 else 0
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h).put(bitDepth.toByte).put(colorType.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      val stride = w * channels
      val raw = new Array[Byte]((stride + 1) * h)
      for (y <- 0 until h) {
        raw(y * (stride + 1)) = filterType.toByte
        for (x <- 0 until stride) {
          val cur = pix(y * stride + x) & 0xff
          val left = if (x >= channels) pix(y * stride + x - channels) & 0xff else 0
          val up = if (y > 0) pix((y - 1) * stride + x) & 0xff else 0
          val ul = if (x >= channels && y > 0)
            pix((y - 1) * stride + x - channels) & 0xff else 0
          val enc = filterType match {
            case 0 => cur
            case 1 => cur - left
            case 2 => cur - up
            case 3 => cur - ((left + up) >> 1)
            case 4 =>
              val p = left + up - ul
              val pa = math.abs(p - left); val pb = math.abs(p - up)
              val pc = math.abs(p - ul)
              cur - (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          }
          raw(y * (stride + 1) + 1 + x) = (enc & 0xff).toByte
        }
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1024)
      while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
      defl.end()
      Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte) ++
        chunk("IHDR", ihdr) ++ chunk("IDAT", out.toByteArray) ++
        chunk("IEND", Array.empty)
    }
    // deterministic 16x16 RGB test raster with structure in both axes
    val w = 16; val h = 16
    val rgb = Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val c = i % 3
      (((p % w) * 17 + (p / w) * 31 + c * 53) % 256).toByte
    }
    for (ft <- 0 to 4) {
      val img = PngCodec.decode(png(w, h, 3, rgb, ft))
        .getOrElse(fail(s"filter $ft did not decode"))
      assert(img.width == w && img.height == h && img.channels == 3)
      assert(img.pixels.sameElements(rgb), s"filter $ft round-trip mismatch")
    }
    // grayscale subset + feature parity with the PNM path (same Image type)
    val grayPix = Array.tabulate(8 * 4)(i => (i * 7 % 256).toByte)
    val gimg = PngCodec.decode(png(8, 4, 1, grayPix, 4)).get
    assert(gimg.channels == 1)
    assert(PnmCodec.features(gimg).sameElements(
      PnmCodec.features(PnmCodec.Image(8, 4, 1, grayPix))))
    // undecodable payloads: truncation, CRC corruption, unsupported depth,
    // interlace, palette color type, PNM bytes, null
    val good = png(w, h, 3, rgb, 0)
    assert(PngCodec.decode(good.dropRight(15)).isEmpty, "truncated decoded")
    val corrupt = good.clone(); corrupt(40) = (corrupt(40) ^ 0xff).toByte
    assert(PngCodec.decode(corrupt).isEmpty, "CRC corruption decoded")
    assert(PngCodec.decode(png(w, h, 3, rgb, 0, bitDepth = 16)).isEmpty,
      "16-bit depth decoded") // header valid (CRC ok), subset check must reject
    assert(PngCodec.decode("P6\n2 2\n255\n".getBytes("US-ASCII") ++
      Array.fill[Byte](12)(1)).isEmpty)
    assert(PngCodec.decode(null).isEmpty)
    // end-to-end through the mapPartitions seam: PNGs decode, junk drops,
    // resize shares the PNM path
    val rows = Seq(
      Row(1L, "image", good, null),
      Row(2L, "image", png(8, 4, 1, grayPix, 2), null),
      Row(3L, "image", Array.fill[Byte](64)(5), null),
      Row(4L, "image", null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val out = Multimodal.decodePartitions(df,
        Multimodal.pngBatchDecoder(resizeTo = Some((4, 4))))
      .select($"media_id", $"features").as[(Long, Seq[Double])]
      .collect().toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)(0) == 4.0 && out(1L)(1) == 4.0)
  }

  test("ImageIO codec: JPEG decode, PNG byte-exact vs hand-rolled codec") {
    import graft.operators.{ImageIoCodec, PngCodec}
    import java.awt.image.BufferedImage
    // the PNG spec's deterministic 16x16 RGB raster
    val w = 16; val h = 16
    val rgb = Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val c = i % 3
      (((p % w) * 17 + (p / w) * 31 + c * 53) % 256).toByte
    }
    def encode(fmt: String, pix: Array[Byte]): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val i = (y * w + x) * 3
        img.setRGB(x, y, ((pix(i) & 0xff) << 16) | ((pix(i + 1) & 0xff) << 8) |
          (pix(i + 2) & 0xff))
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    // JPEG round-trip: lossy, so dims/channels exact and pixels CLOSE — on a
    // smooth gradient (the per-pixel-noise raster above is a DCT worst case
    // and measures the format, not the decoder)
    val smooth = Array.tabulate(w * h * 3) { i =>
      val p = i / 3
      (i % 3 match {
        case 0 => (p % w) * 8
        case 1 => (p / w) * 8
        case 2 => 128
      }).toByte
    }
    val jpg = encode("jpg", smooth)
    val dec = ImageIoCodec.decode(jpg).getOrElse(fail("JPEG did not decode"))
    assert(dec.width == w && dec.height == h && dec.channels == 3)
    val meanAbsErr = dec.pixels.zip(smooth)
      .map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }
      .sum.toDouble / smooth.length
    assert(meanAbsErr < 12.0, s"JPEG mean abs pixel error $meanAbsErr")
    // PNG cross-check: the JDK route and the hand-rolled PngCodec must agree
    // BYTE-FOR-BYTE on the same file — two independent decoders, one raster
    val pngBytes = encode("png", rgb)
    val viaJdk = ImageIoCodec.decode(pngBytes).get
    val viaOwn = PngCodec.decode(pngBytes).get
    assert(viaJdk.width == viaOwn.width && viaJdk.height == viaOwn.height &&
      viaJdk.channels == viaOwn.channels)
    assert(viaJdk.pixels.sameElements(viaOwn.pixels))
    assert(viaJdk.pixels.sameElements(rgb)) // PNG is lossless: exact raster
    // grayscale: raw raster samples (getRGB's gray->sRGB curve would drift)
    val grayPix = Array.tabulate(8 * 4)(i => (i * 7 % 256).toByte)
    val gimg = new BufferedImage(8, 4, BufferedImage.TYPE_BYTE_GRAY)
    gimg.getRaster.setDataElements(0, 0, 8, 4, grayPix)
    val gbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gimg, "png", gbos)
    val g = ImageIoCodec.decode(gbos.toByteArray).get
    assert(g.channels == 1 && g.pixels.sameElements(grayPix))
    assert(PngCodec.decode(gbos.toByteArray).get.pixels.sameElements(g.pixels))
    // non-8-bit gray drops (r7 ADVICE): getSample(..).toByte on a 16-bit
    // (TYPE_USHORT_GRAY) source would silently truncate to the low byte —
    // PngCodec treats 16-bit as out-of-subset, so this route must agree
    val gimg16 = new BufferedImage(8, 4, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 4; x <- 0 until 8)
      gimg16.getRaster.setSample(x, y, 0, (x * 8 + y) * 2048)
    val gbos16 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gimg16, "png", gbos16)
    assert(ImageIoCodec.decode(gbos16.toByteArray).isEmpty,
      "16-bit gray must be rejected, not truncated")
    assert(PngCodec.decode(gbos16.toByteArray).isEmpty) // routes agree
    // undecodable payloads drop: junk, truncated JPEG, null
    assert(ImageIoCodec.decode(Array.fill[Byte](64)(5)).isEmpty)
    assert(ImageIoCodec.decode(jpg.take(20)).isEmpty)
    assert(ImageIoCodec.decode(null).isEmpty)
    // end-to-end through the mapPartitions seam: JPEG + PNG decode, junk and
    // null drop, resize shares the PNM path (features(0,1) = resized dims)
    val rows = Seq(
      Row(1L, "image", jpg, null),
      Row(2L, "image", pngBytes, null),
      Row(3L, "image", Array.fill[Byte](64)(5), null),
      Row(4L, "image", null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val out = Multimodal.decodePartitions(df,
        Multimodal.imageIoBatchDecoder(resizeTo = Some((4, 4))))
      .select($"media_id", $"features").as[(Long, Seq[Double])]
      .collect().toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)(0) == 4.0 && out(1L)(1) == 4.0)
    // identical FEATURES for the same PNG through either decoder route
    val pngOnly = df.filter($"media_id" === 2L)
    val fOwn = Multimodal.decodePartitions(pngOnly,
      Multimodal.pngBatchDecoder()).select($"features").as[Seq[Double]].head()
    val fJdk = Multimodal.decodePartitions(pngOnly,
      Multimodal.imageIoBatchDecoder()).select($"features").as[Seq[Double]].head()
    assert(fOwn == fJdk)
  }

  test("WAV codec: real PCM decode + exact features through mapPartitions") {
    import graft.operators.WavCodec
    // hand-built 16-bit mono WAV: 4 frames at 8000 Hz, a full square wave
    def wav(samples: Array[Short], rate: Int, channels: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(rate)
        .putInt(rate * channels * 2).putShort((channels * 2).toShort).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val square = wav(Array[Short](1000, -1000, 1000, -1000), 8000, 1)
    val a = WavCodec.decode(square).get
    assert(a.sampleRateHz == 8000 && a.channels == 1 && a.nFrames == 4)
    val f = WavCodec.features(a)
    assert(f(0) == 8000.0 && f(1) == 1.0)
    assert(f(2) == 0.0)   // 4 frames / 8000 Hz -> 0 ms (integer division)
    assert(f(3) == 1000.0) // RMS of a square wave == amplitude
    assert(f(4) == 3.0)   // three sign changes
    assert(f(5) == 1000.0)
    // end-to-end: WAV rows decode, junk and PNM payloads drop
    val rows = Seq(
      Row(1L, "audio", square, null),
      Row(2L, "audio", Array.fill[Byte](50)(9), null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val out = Multimodal.decodePartitions(df, Multimodal.wavBatchDecoder())
      .select($"media_id", $"features").as[(Long, Seq[Double])].collect().toMap
    assert(out.keySet == Set(1L))
    assert(out(1L)(3) == 1000.0)
  }

  test("JavaSound codec: G.711 u-law decode, PCM byte-exact vs hand-rolled codec") {
    import graft.operators.{JavaSoundCodec, WavCodec}
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    // smooth sine at amplitude 8000 — mu-law's log quantization error is
    // relative to amplitude, so tolerance is a percentage, not exactness
    val n = 512
    val pcm = Array.tabulate[Short](n)(i =>
      (8000 * math.sin(2 * math.Pi * i / 64)).toShort)
    def pcmStream(): AudioInputStream = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false)
      val bytes = java.nio.ByteBuffer.allocate(n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      pcm.foreach(bytes.putShort)
      new AudioInputStream(
        new java.io.ByteArrayInputStream(bytes.array()), fmt, n)
    }
    // encode to a u-law WAV with the JDK's own converter
    val ulawFmt = new AudioFormat(AudioFormat.Encoding.ULAW,
      8000f, 8, 1, 1, 8000f, false)
    val ulaw = AudioSystem.getAudioInputStream(ulawFmt, pcmStream())
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ulaw, AudioFileFormat.Type.WAVE, bos)
    val ulawWav = bos.toByteArray
    // the hand-rolled PCM codec must REFUSE it (format 7, not 1)...
    assert(WavCodec.decode(ulawWav).isEmpty)
    // ...and the JDK codec chain decodes it back to PCM within G.711 error
    val dec = JavaSoundCodec.decode(ulawWav)
      .getOrElse(fail("u-law WAV did not decode"))
    assert(dec.sampleRateHz == 8000 && dec.channels == 1 && dec.nFrames == n)
    val meanAbsErr = dec.samples.zip(pcm)
      .map { case (a, b) => math.abs(a - b) }.sum.toDouble / n
    assert(meanAbsErr < 8000 * 0.04, s"u-law mean abs error $meanAbsErr")
    // cross-check: plain 16-bit PCM WAV decodes SAMPLE-EXACT through both
    // the hand-rolled parser and the JDK chain
    val pbos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(pcmStream(), AudioFileFormat.Type.WAVE, pbos)
    val pcmWav = pbos.toByteArray
    val own = WavCodec.decode(pcmWav).get
    val jdk = JavaSoundCodec.decode(pcmWav).get
    assert(own.sampleRateHz == jdk.sampleRateHz &&
      own.channels == jdk.channels && own.nFrames == jdk.nFrames)
    assert(own.samples.sameElements(jdk.samples))
    assert(WavCodec.features(own).sameElements(WavCodec.features(jdk)))
    // undecodable payloads drop: junk, truncation, null
    assert(JavaSoundCodec.decode(Array.fill[Byte](64)(9)).isEmpty)
    assert(JavaSoundCodec.decode(ulawWav.take(30)).isEmpty)
    assert(JavaSoundCodec.decode(null).isEmpty)
    // end-to-end through the mapPartitions seam
    val rows = Seq(
      Row(1L, "audio", ulawWav, null),
      Row(2L, "audio", Array.fill[Byte](50)(9), null),
      Row(3L, "audio", null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val out = Multimodal.decodePartitions(df, Multimodal.javaSoundBatchDecoder())
      .select($"media_id", $"features").as[(Long, Seq[Double])].collect().toMap
    assert(out.keySet == Set(1L))
    assert(out(1L)(0) == 8000.0 && out(1L)(1) == 1.0)
  }

  test("repartitionBySize packs by total payload bytes") {
    val out = Multimodal.repartitionBySize(mediaDf, targetBytes = 120)
    // 100 + 250 + 0 bytes => ceil(350/120) = 3 partitions
    assert(out.rdd.getNumPartitions == 3)
    assert(out.count() == 3)
  }

  test("sampleFrames: deterministic chunking keeps every Nth frame with lineage") {
    val frames = Multimodal.sampleFrames(mediaDf.filter($"media_id" === 2L),
      frameBytes = 50, everyNth = 2)
    val idx = frames.orderBy($"frame_idx").select($"frame_idx").as[Int].collect()
    assert(idx.toSeq == Seq(0, 2, 4)) // 250 bytes -> 5 frames -> keep 0,2,4
    val f0len = frames.filter($"frame_idx" === 0)
      .select(length($"frame")).as[Int].head()
    assert(f0len == 50)
    // payload stays in-row: no join (= no shuffle of the binary column) in the plan
    val plan = frames.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"unexpected join in plan:\n$plan")
  }

  test("decodePartitions: per-partition batch decode, deterministic, null-safe") {
    val out = Multimodal.decodePartitions(mediaDf, Multimodal.stubBatchDecoder())
    assert(out.count() == 3)
    val feats = out.filter($"media_id" === 1L)
      .select($"features").as[Seq[Double]].head()
    assert(feats.length == 16 && feats.forall(f => f >= 0.0 && f < 1.0))
    // partition-count independent: same rows regardless of how batches split
    val one = Multimodal.decodePartitions(mediaDf.repartition(1),
      Multimodal.stubBatchDecoder())
      .as[(Long, Seq[Double])].collect().toSet
    val many = Multimodal.decodePartitions(mediaDf.repartition(3),
      Multimodal.stubBatchDecoder())
      .as[(Long, Seq[Double])].collect().toSet
    assert(one == many)
    // null payload (media 3) decodes to the zero vector, not a crash
    assert(out.filter($"media_id" === 3L)
      .select($"features").as[Seq[Double]].head().forall(_ == 0.0))
  }

  test("sampleFrames: empty payload yields zero frames") {
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(9L, "video", Array.empty[Byte], null))),
      Multimodal.mediaSchema)
    assert(Multimodal.sampleFrames(empty, frameBytes = 50, everyNth = 1).count() == 0)
  }

  test("perceptual dHash: container-invariant, edit-local, and image near-dup " +
       "pairs ride the SimHash pigeonhole banding") {
    import graft.operators.PnmCodec
    def ppm(pix: Array[Byte], w: Int, h: Int): Array[Byte] =
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ pix
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    def png(w: Int, h: Int, pix: Array[Byte]): Array[Byte] = { // RGB, filter 0
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      val stride = w * 3
      val raw = new Array[Byte]((stride + 1) * h)
      for (y <- 0 until h; x <- 0 until stride)
        raw(y * (stride + 1) + 1 + x) = pix(y * stride + x)
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1024)
      while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
      defl.end()
      Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte) ++
        chunk("IHDR", ihdr) ++ chunk("IDAT", out.toByteArray) ++
        chunk("IEND", Array.empty)
    }
    // 36x32 left-to-right luma ramp: every dHash grid cell is brighter than
    // its right neighbor's predecessor -> all 64 bits set
    val w = 36; val h = 32
    def ramp(f: (Int, Int) => Int): Array[Byte] = Array.tabulate(w * h * 3) { i =>
      val px = i / 3; f(px % w, px / w).toByte
    }
    val a = ramp((x, _) => x * 7)                     // the original
    val edited = a.clone()                            // localized edit: one
    for (y <- 0 until 4; x <- 0 until 8; c <- 0 until 3) // grid-row corner block
      edited((y * w + x) * 3 + c) = 250.toByte
    val reversed = ramp((x, _) => (w - 1 - x) * 7)    // every gradient flipped

    // unit level: same raster, different container -> IDENTICAL hash
    val hashA = PnmCodec.dhash64(PnmCodec.decode(ppm(a, w, h)).get)
    val hashPng = PnmCodec.dhash64(
      graft.operators.PngCodec.decode(png(w, h, a)).get)
    assert(hashA == hashPng)
    assert(hashA == -1L) // the ramp's 64 rising gradients, all bits set
    // nearest-neighbor 2x upscale preserves the coarse luma field ~exactly
    val up = PnmCodec.resizeNearest(PnmCodec.decode(ppm(a, w, h)).get, 2 * w, 2 * h)
    assert(java.lang.Long.bitCount(hashA ^ PnmCodec.dhash64(up)) <= 4)
    // a localized edit flips only the bits whose cells it touches
    val hashEdit = PnmCodec.dhash64(PnmCodec.decode(ppm(edited, w, h)).get)
    val editDist = java.lang.Long.bitCount(hashA ^ hashEdit)
    assert(editDist >= 1 && editDist <= 6, s"edit distance $editDist")
    // the reversed ramp is maximally far
    val hashRev = PnmCodec.dhash64(PnmCodec.decode(ppm(reversed, w, h)).get)
    assert(java.lang.Long.bitCount(hashA ^ hashRev) == 64)

    // end-to-end: a mixed-container lake, one hasher, banding finds exactly
    // the near-dup pairs within the radius; junk payloads drop silently
    val rows = Seq(
      Row(1L, "image", ppm(a, w, h), null),
      Row(2L, "image", png(w, h, a), null),      // container twin of 1
      Row(3L, "image", ppm(edited, w, h), null), // localized edit of 1
      Row(4L, "image", ppm(reversed, w, h), null), // unrelated
      Row(5L, "image", Array[Byte](9, 9, 9), null)) // undecodable
    val lake = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val pairs = Multimodal.imageNearDupPairs(lake,
        Multimodal.anyImagePhashHasher(), maxHamming = 6)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    assert(pairs == Set((1L, 2L, 0), (1L, 3L, editDist), (2L, 3L, editDist)))
  }

  test("planted image near-dup groups: pair count equals the planted formula") {
    // each group renders one random 9x8 cell-block pattern (the dHash grid's
    // own geometry); every copy perturbs 40 scattered bytes by < 8, so cell
    // means move < 1 luma step. Ids ending in 99 are undecodable junk.
    def lcg(seed0: Long): () => Int = {
      var s = seed0 * 6364136223846793005L + 1442695040888963407L
      () => { s = s * 6364136223846793005L + 1442695040888963407L
              ((s >>> 33) & 0x7fffffff).toInt }
    }
    def ppm(groupSeed: Long, copySeed: Long): Array[Byte] = {
      val w = 48; val h = 48
      val g = lcg(groupSeed)
      val cells = Array.fill(9 * 8)(g() % 256)
      val pix = Array.tabulate[Byte](w * h * 3) { i =>
        val px = i / 3
        cells((px / w) * 8 / h * 9 + (px % w) * 9 / w).toByte
      }
      val c = lcg(copySeed)
      for (_ <- 0 until 40) {
        val at = c() % pix.length
        pix(at) = ((pix(at) & 0xff) ^ (c() % 8)).toByte
      }
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ pix
    }
    val (n, dup) = (200L, 5L)
    val rows = (0L until n).map { id =>
      Row(id, "image",
        if (id % 100 == 99) Array[Byte](9, 9, 9) else ppm(id / dup + 1, id + 1),
        null)
    }
    val lake = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val pairs = Multimodal.imageNearDupPairs(lake,
        Multimodal.anyImagePhashHasher(), maxHamming = 4, maxBucket = 4096)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a / dup == b / dup })
    // C(5,2) per intact group, C(4,2) for the two groups that hold junk
    assert(pairs.length == 38 * 10 + 2 * 6)
  }

  test("y4m video: real luma decode, chroma-blind frame hashes, clip near-dup " +
       "by shared distinct frame signatures") {
    import graft.operators.{PnmCodec, Y4mCodec}
    val w = 36; val h = 32
    def gray(f: (Int, Int) => Int): Array[Byte] =
      Array.tabulate(w * h)(i => f(i % w, i / w).toByte)
    def y4m(chroma: String, frames: Seq[Array[Byte]]): Array[Byte] = {
      val cb = chroma match {
        case "420jpeg" => 2 * ((w + 1) / 2) * ((h + 1) / 2)
        case "444" => 2 * w * h
        case "mono" => 0
      }
      s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C$chroma\n".getBytes("US-ASCII") ++
        frames.flatMap(y => "FRAME\n".getBytes("US-ASCII") ++ y ++
          Array.fill[Byte](cb)(128.toByte))
    }
    val p1 = gray((x, _) => x * 7)                 // rising ramp: hash -1
    val p2 = gray((x, _) => (w - 1 - x) * 7)       // falling ramp: hash 0
    val p3 = gray((x, _) => if ((x / 4) % 2 == 0) 200 else 50) // alternating
    val p4 = gray((x, _) => if (x < 18) x * 7 else (35 - x) * 7) // tent

    // decode: frame count, dimensions, luma-only; chroma mode is skipped by
    // size, so the SAME luma under different chroma subsampling decodes (and
    // hashes) identically
    val c420 = Y4mCodec.decodeFrames(y4m("420jpeg", Seq(p1, p2, p3))).get
    assert(c420.length == 3 && c420.head.width == w && c420.head.channels == 1)
    val c444 = Y4mCodec.decodeFrames(y4m("444", Seq(p1, p2, p3))).get
    assert(c420.zip(c444).forall { case (a, b) => a.pixels.sameElements(b.pixels) })
    assert(PnmCodec.dhash64(c420.head) == -1L && PnmCodec.dhash64(c420(1)) == 0L)
    assert(Y4mCodec.decodeFrames(y4m("mono", Seq(p1))).get.length == 1)
    assert(Y4mCodec.decodeFrames("YUV4MPEG2 W4 H4\nJUNK".getBytes).isEmpty)
    assert(Y4mCodec.decodeFrames(Array[Byte](1, 2, 3)).isEmpty)

    // frame sampling: every 2nd frame keeps indices 0 and 2
    val sampled = Multimodal.y4mFrameHasher(everyNth = 2)(
      Iterator((7L, "video", y4m("420jpeg", Seq(p1, p2, p3))))).toSeq
    assert(sampled.map(_._2) == Seq(0, 2))

    // clip near-dup: clip2 shares {p1, p3} with clip1 across DIFFERENT chroma
    // modes and frame order; repeats in clip3 don't inflate its single share
    val rows = Seq(
      Row(1L, "video", y4m("420jpeg", Seq(p1, p2, p3)), null),
      Row(2L, "video", y4m("444", Seq(p3, p1, p4)), null),
      Row(3L, "video", y4m("420jpeg", Seq(p2, p2, p2, p4)), null),
      Row(4L, "video", Array[Byte](3, 3, 3), null)) // undecodable
    val lake = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val pairs = Multimodal.videoNearDupPairs(lake,
        Multimodal.y4mFrameHasher(), minSharedFrames = 2)
      .select($"id_a", $"id_b", $"shared_frames").as[(Long, Long, Long)]
      .collect().toSet
    assert(pairs == Set((1L, 2L, 2L)))
  }

  test("media admission gate: the tick joins the corpus SIGNATURE store only; " +
       "dups and undecodables rejected, novel payloads admitted") {
    def ppm(pix: Array[Byte], w: Int, h: Int): Array[Byte] =
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ pix
    val w = 36; val h = 32
    def ramp(f: (Int, Int) => Int): Array[Byte] = Array.tabulate(w * h * 3) { i =>
      val px = i / 3; f(px % w, px / w).toByte
    }
    val a = ramp((x, _) => x * 7)
    val edited = a.clone()
    for (y <- 0 until 4; x <- 0 until 8; c <- 0 until 3)
      edited((y * w + x) * 3 + c) = 250.toByte
    val reversed = ramp((x, _) => (w - 1 - x) * 7)
    val checker = ramp((x, _) => if ((x / 4) % 2 == 0) 200 else 50)
    def lake(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val corpus = lake(Seq(
      Row(1L, "image", ppm(a, w, h), null),
      Row(2L, "image", ppm(reversed, w, h), null)))
    // the lake persists its signature store once; ticks never re-read blobs
    val store = Multimodal.perceptualHashes(
      corpus, Multimodal.anyImagePhashHasher())
    val tick = lake(Seq(
      Row(10L, "image", ppm(a, w, h), null),       // exact dup of 1
      Row(11L, "image", ppm(edited, w, h), null),  // near-dup of 1
      Row(12L, "image", ppm(checker, w, h), null), // novel
      Row(13L, "image", Array[Byte](7, 7), null))) // undecodable
    val matches = Multimodal.mediaAdmissionMatches(store, tick,
        Multimodal.anyImagePhashHasher(), maxHamming = 6)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    assert(matches.map(m => (m._1, m._2)) == Set((10L, 1L), (11L, 1L)))
    assert(matches.collect { case (10L, 1L, d) => d }.head == 0)
    val admitted = Multimodal.admitNewMedia(store, tick,
        Multimodal.anyImagePhashHasher(), maxHamming = 6)
      .select($"media_id").as[Long].collect().toSet
    assert(admitted == Set(12L)) // dup+near-dup rejected, junk dropped
  }

  test("perceptualHashes owns the few-file parallelism guard") {
    import graft.operators.Dedup
    // a ONE-file media lake: without the guard the decode kernel would run
    // at file-count parallelism (the r10 receipt's bug class)
    val dir = java.nio.file.Files.createTempDirectory("mediaguard").toString
    val pix = Array.fill[Byte](12)(66)
    val rows = (1L to 20L).map(i =>
      Row(i, "image", s"P6\n2 2\n255\n".getBytes("US-ASCII") ++ pix, null))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val prevMin = spark.conf.getOption(Dedup.MinKernelBytesKey)
    spark.conf.set(Dedup.MinKernelBytesKey, "0") // disable the size skip
    try {
      val out = Multimodal.perceptualHashes(
        spark.read.parquet(dir), Multimodal.anyImagePhashHasher())
      assert(out.rdd.getNumPartitions ==
        spark.sessionState.conf.numShufflePartitions,
        "1-file lake must hash above the guard exchange")
      assert(out.count() == 20)
    } finally prevMin match {
      case Some(v) => spark.conf.set(Dedup.MinKernelBytesKey, v)
      case None => spark.conf.unset(Dedup.MinKernelBytesKey)
    }
  }

  test("audio fingerprint: gain/duration-invariant, edit-local, near-dup pairs " +
       "through the same banding") {
    import graft.operators.WavCodec
    def wav(samples: Array[Short], rate: Int, channels: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(rate)
        .putInt(rate * channels * 2).putShort((channels * 2).toShort).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    // square wave whose amplitude rises per fingerprint bin -> rising energy
    // envelope -> all 64 gradient bits set
    def clip(nFrames: Int, gain: Int, amp: Int => Int): Array[Short] =
      Array.tabulate[Short](nFrames) { f =>
        val bin = (f.toLong * 65 / nFrames).toInt
        val a = amp(bin) * gain
        (if (f % 2 == 0) a else -a).toShort
      }
    val rising = (b: Int) => 100 + 10 * b
    val a = clip(650, 1, rising)
    val fpA = WavCodec.afp64(WavCodec.decode(wav(a, 8000, 1)).get)
    assert(fpA == -1L)
    // uniform gain and a 2x-shorter cut preserve the envelope exactly
    assert(WavCodec.afp64(WavCodec.decode(wav(clip(650, 2, rising), 8000, 1)).get) == fpA)
    assert(WavCodec.afp64(WavCodec.decode(wav(clip(325, 1, rising), 8000, 1)).get) == fpA)
    // muting two interior bins flips exactly the touched gradient bits
    val muted = clip(650, 1, b => if (b == 10 || b == 11) 0 else rising(b))
    val fpMut = WavCodec.afp64(WavCodec.decode(wav(muted, 8000, 1)).get)
    val editDist = java.lang.Long.bitCount(fpA ^ fpMut)
    assert(editDist == 2, s"edit distance $editDist")
    // the reversed envelope is maximally far
    val rev = clip(650, 1, b => rising(64 - b))
    assert(java.lang.Long.bitCount(
      fpA ^ WavCodec.afp64(WavCodec.decode(wav(rev, 8000, 1)).get)) == 64)

    val rows = Seq(
      Row(1L, "audio", wav(a, 8000, 1), null),
      Row(2L, "audio", wav(clip(650, 2, rising), 8000, 1), null), // louder copy
      Row(3L, "audio", wav(muted, 8000, 1), null),                // local edit
      Row(4L, "audio", wav(rev, 8000, 1), null),                  // unrelated
      Row(5L, "audio", Array[Byte](1, 2, 3), null))               // undecodable
    val lake = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val pairs = Multimodal.audioNearDupPairs(lake,
        Multimodal.anyAudioFpHasher(), maxHamming = 6)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    assert(pairs == Set((1L, 2L, 0), (1L, 3L, editDist), (2L, 3L, editDist)))
  }
}
