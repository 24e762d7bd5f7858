package graft.jobs

import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI for the media-lake curation tick — the job a user of the multimodal
  * near-dup operators actually runs: decode gate (undecodable payloads
  * dropped) -> optional ADMISSION against an existing signature store
  * (tick × store only; the lake's blobs are never re-read) -> within-tick
  * perceptual near-dup clusters (banded pairs -> connected components ->
  * min-id survivors) -> survivors parquet + the signature store for the
  * NEXT tick, with an audit line. The media analog of `CurationJob`'s text
  * pipeline, composed from the same operators the specs pin.
  *
  * Config JSON:
  * {
  *   "media_path": "<parquet (media_id, kind, payload)>",
  *   "output_path": "<dir>",          // <dir>/media + <dir>/sigs
  *   "modality": "image",             // image | audio | video
  *   "max_hamming": 4,                // image/audio near-dup radius
  *   "min_shared_frames": 2,          // video: clip near-dup threshold
  *                                    //   (every frame is hashed)
  *                                    // the pair join star-collapses any
  *                                    //   bucket over 4096 members (the
  *                                    //   flood guard), every modality
  *   "container_census_path": "",     // r17: optional — publish the
  *                                    //   compressed-container governance
  *                                    //   census (Multimodal
  *                                    //   .containerCensus: duration,
  *                                    //   codec ids, geometry, channels,
  *                                    //   rate, bytes per MP4/Matroska
  *                                    //   payload; no frame decode. A
  *                                    //   byte/duration QUOTA over the
  *                                    //   census is one deterministic
  *                                    //   DataMix.sampleToBudget over
  *                                    //   this table (spec-pinned in
  *                                    //   ContainerCensusSpec) — applied
  *                                    //   where the lake is STORED, not
  *                                    //   in this decode-gated tick
  *   "signature_store": "",           // optional existing store parquet:
  *                                    //   image/audio (media_id, phash),
  *                                    //   video (media_id, fsig); matched
  *                                    //   incoming rows are rejected BEFORE
  *                                    //   the within-tick dedup
  *   "store_path": "",                // optional MAINTAINED store: a
  *                                    //   `SignatureStore` tick-partitioned
  *                                    //   dir read for admission AND updated
  *                                    //   with the tick's survivor signatures
  *                                    //   (idempotent per tick_id); overrides
  *                                    //   signature_store
  *   "tick_id": "",                   //   the tick's identity in the store
  *                                    //   (default: the output dir's name)
  *   "store_keep_ticks": 0            // optional store compaction: after the
  *                                    //   tick's append, fold all but the
  *                                    //   newest N tick partitions into the
  *                                    //   reserved base (SignatureStore
  *                                    //   .compact — crash-safe, replay-
  *                                    //   transparent via src_tick); 0 = off.
  *                                    //   A year of daily ticks stays a few
  *                                    //   partitions instead of 365
  * }
  *
  * With `store_path` the store maintenance lives INSIDE the job through
  * `SignatureStore` (tick-partitioned dynamic overwrite + crash-safe
  * compaction): replaying a tick rewrites exactly its own partition with
  * identical content, so the store equals the union of every tick's
  * survivor signatures no matter how often any tick re-runs. Without it the
  * published store is the TICK's signatures only (`<dir>/sigs`) and the
  * union is the deployment's business — the job stays a pure function of
  * its inputs. S13 idempotence: a `_DONE` marker under the output dir skips;
  * a marker-less partial dir (crash between the output writes and the store
  * append) re-runs and heals via whole-dir overwrites + the idempotent
  * tick append.
  *
  * Usage: MediaCurationJob <config.json> */
object MediaCurationJob {

  final case class Stats(total: Long, decodable: Long, admitted: Long,
                         survivors: Long)

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    try run(spark, args(0))
    finally spark.stop()
  }

  /** Returns per-stage row counts (None = output existed, S13 skip). */
  def run(spark: SparkSession, cfgPath: String): Option[Stats] = {
    val cfg = JobConfig.read(spark, cfgPath)
    import cfg.str
    val outPath = cfg.req("output_path")
    // S13 gate on the COMPLETION marker, not the dir: the job writes two
    // outputs (media, sigs) — a crash between them leaves a dir that a
    // dir-existence gate would treat as done, silently skipping a store-less
    // output forever. A marker-less partial dir re-runs, and every write is
    // a whole-dir overwrite, so the re-run heals it (the BucketedStore /
    // compact restart discipline applied at the job level).
    // Gate + stamp ride the Hadoop FileSystem API (Maintenance.markerDone) so
    // a non-local output_path (hdfs://, s3a://) gates identically to local.
    if (Maintenance.markerDone(outPath, spark.sparkContext.hadoopConfiguration))
      return None

    val modality = str("modality", "image")
    val maxHamming = str("max_hamming", "4").toInt
    val minShared = str("min_shared_frames", "2").toInt
    val maintainedStore = str("store_path", "")
    val tickId = {
      val t = str("tick_id", "")
      if (t.nonEmpty) t
      else new org.apache.hadoop.fs.Path(outPath).getName
    }
    // Admission source: the maintained store (when it already holds OTHER
    // ticks' partitions) wins over a plain signature_store parquet. The
    // tick's OWN rows are excluded by `SignatureStore.readExcluding` — by
    // the `src_tick` DATA column, not just the partition — so a crash-heal
    // replay (store appended, marker missing) cannot find its own
    // signatures and self-reject EVEN AFTER a compaction folded them into
    // the reserved `tick=__folded__` partition, and other ticks' folded
    // rows stay visible to the probe.
    val corpusStore: DataFrame =
      if (maintainedStore.nonEmpty) {
        val p = new org.apache.hadoop.fs.Path(maintainedStore)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val others = fs.exists(p) && fs.listStatus(p)
          .exists(s => s.isDirectory &&
            s.getPath.getName.startsWith("tick=") &&
            s.getPath.getName != s"tick=$tickId")
        if (others)
          graft.io.SignatureStore.readExcluding(spark, maintainedStore, tickId)
        else null // fresh store (or only our own replayed tick): admit all
      } else {
        val sp = str("signature_store", "")
        if (sp.isEmpty) null else spark.read.parquet(sp)
      }
    val stageTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var tLast = System.nanoTime()
    def lap(stage: String): Unit = {
      val now = System.nanoTime()
      stageTimes += stage -> (now - tLast) / 1e9
      tLast = now
    }
    val mediaRaw = spark.read.parquet(cfg.req("media_path"))
    val total = mediaRaw.count()
    lap("read+count")

    // optional COMPRESSED-CONTAINER census (r17): one governance row per
    // MP4/Matroska payload — duration, codec ids, geometry, channels,
    // rate, bytes — from the box/EBML STRUCTURE (no frame decode; the
    // perceptual dedup below still needs a decodable modality). The
    // census is how a compressed-video lake gets quota'd and governed
    // while frame decode stays behind the documented stub boundary.
    val censusPath = str("container_census_path", "")
    val media: DataFrame = mediaRaw
    if (censusPath.nonEmpty) {
      Multimodal.containerCensus(mediaRaw)
        .write.mode("overwrite").parquet(censusPath)
      lap("container_census")
    }

    val isVideo = modality == "video"
    val hasher = modality match {
      case "image" => Multimodal.anyImagePhashHasher()
      case "audio" => Multimodal.anyAudioFpHasher()
      case "video" => null // frame route below
      case other => sys.error(s"unknown modality $other")
    }
    val frameHasher =
      if (isVideo) Multimodal.anyVideoFrameHasher() else null

    // ONE decode pass: the tick's signatures, checkpointed — the decode gate,
    // the admission probe, the pair join, and the published store all read it
    val sigs = (if (isVideo)
        Multimodal.frameSignatures(media, frameHasher) // (media_id, frame_idx, fsig)
      else Multimodal.perceptualHashes(media, hasher)) // (media_id, phash)
      .localCheckpoint(eager = true)
    lap("decode+hash")
    // image/audio signatures are one row per decodable media row already
    // (perceptualHashes is a per-row map) — the distinct was a pure extra
    // exchange in the drop-set plan and made the count a 2-stage job; only
    // the video route's frame-level rows need the collapse (r18, guide §2.4)
    val decodableIds =
      if (isVideo) sigs.select(col("media_id")).distinct()
      else sigs.select(col("media_id"))
    val decodable = decodableIds.count()
    lap("decodable")

    // admission BEFORE within-tick dedup: rows already in the lake never
    // compete for survivorship
    val rejected: DataFrame = if (corpusStore == null) null
      else if (isVideo)
        // the CHECKPOINTED tick signatures feed the probe — the "ONE decode
        // pass" promise above holds for video too (the payload-form
        // videoAdmissionMatches would re-decode every clip here)
        Multimodal.videoAdmissionMatchesFromSigs(corpusStore, sigs, minShared)
          .select(col("id_a").as("media_id")).distinct()
      else Dedup.simhashBandMatchesBetween(
          sigs.select(col("media_id"), col("phash").as("simhash")),
          corpusStore.select(col("media_id"), col("phash").as("simhash")),
          "media_id", maxHamming)
        .select(col("id_a").as("media_id")).distinct()
    // the rejected set is tick-bounded by construction and every consumer
    // broadcasts it — collect ONCE into a LocalRelation (r18): the old
    // eager checkpoint + count pair cost two sequential jobs per tick and
    // left blocks to free
    val (rejectedIds, nRejected) = if (rejected == null) (null, 0L)
      else {
        val rows = rejected.collect()
        (spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*),
          rejected.schema), rows.length.toLong)
      }
    // rejected ids all decoded (they have signatures) and are distinct, so
    // the admitted count never touches the payload column
    val admitted = decodable - nRejected
    lap("admission")

    // within-tick near-dup clusters over the ADMITTED signatures — the
    // rejected set is tick-bounded, so it broadcasts and the (narrow)
    // signature frame never shuffles for the gate
    val admittedSigs = if (rejectedIds == null) sigs
      else sigs.join(broadcast(rejectedIds), Seq("media_id"), "left_anti")
    val (pairs, freePairs) = if (isVideo)
      (Multimodal.videoNearDupPairsFromSigs(admittedSigs, minShared), () => ())
    else Dedup.simhashBandPairsManaged(
      admittedSigs.select(col("media_id"), col("phash").as("simhash")),
      "media_id", maxHamming, maxBucket = 4096)
    val labels = Dedup.components(pairs)
    freePairs() // CC is eager: the labels no longer reach the banded frame
    lap("pairs+cc")
    // EVERYTHING that falls out of the tick is small — junk, store dups, and
    // cluster non-survivors — while the tick's rows carry payload blobs. So
    // the final selection is one broadcast ANTI-join on the DROP set and the
    // payloads never shuffle: the first cut semi-joined the (corpus-sized)
    // survivor ID set instead, which planned the payload side into shuffle
    // files before AQE's broadcast conversion could see the sizes. At 100 TB
    // the drop set is tick-bounded while survivors approach corpus-sized —
    // broadcasting the former is the shape that scales.
    val undecodable = media.select(col("media_id")) // narrow: ids only
      .join(decodableIds, Seq("media_id"), "left_anti")
    val losers = labels.filter(col("id") =!= col("component"))
      .select(col("id").as("media_id"))
    val dropBase = undecodable.unionByName(losers)
    val dropIds = (if (rejectedIds == null) dropBase
      else dropBase.unionByName(rejectedIds))
      .distinct().localCheckpoint(eager = true)
    Dedup.release(labels)
    lap("drop-set")

    // The two tick outputs are INDEPENDENT writes off the same broadcast
    // drop set — submit them concurrently (guide §2.6): the tiny sigs write
    // (and the store append chained behind it) back-fills the payload-sized
    // media write's tail instead of queueing two more driver round trips.
    // The survivor count rides the media write as an OBSERVED metric —
    // the old read-back count paid a listing + metadata job per tick for a
    // number the write itself already knew (r18, guide §5 driver work).
    // A failed write cancels its sibling and returns only once both ended,
    // so a retry never races a store append still in flight.
    val obs = new org.apache.spark.sql.Observation()
    graft.Concurrent.all(spark)(() => {
      media.join(broadcast(dropIds), Seq("media_id"), "left_anti")
        .observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$outPath/media")
    }, () => {
      // the tick's signature store: SURVIVOR signatures only (rejected and
      // shadowed rows are represented by their store/survivor twins)
      sigs.join(broadcast(dropIds), Seq("media_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$outPath/sigs")
      // store maintenance INSIDE the job (the r11 verdict's "leaves the
      // union to deployment" gap): the tick's survivor signatures land under
      // their own tick= partition via the idempotent dynamic overwrite —
      // re-running this tick rewrites the identical partition, so the store
      // always equals the union of every tick's survivors. Reads back the
      // just-written sigs parquet: no recompute, and a crash before this
      // line re-runs the whole marker-less tick.
      if (maintainedStore.nonEmpty)
        graft.io.SignatureStore.appendTick(
          spark.read.parquet(s"$outPath/sigs"), maintainedStore, tickId)
    })
    lap("write+append")
    if (maintainedStore.nonEmpty) {
      // in-job maintenance: compaction BEFORE the _DONE stamp is safe — a
      // crash mid-compact leaves duplicates or stale dirs (both
      // read-correct, absorbed by the next run), and a marker-less replay
      // re-runs the whole tick whose admission excludes its own rows by
      // src_tick wherever compaction moved them
      val keepTicks = str("store_keep_ticks", "0").toInt
      if (keepTicks > 0) {
        val rep = graft.io.SignatureStore.compact(spark, maintainedStore,
          keepTicks)
        if (rep.ticksBefore != rep.ticksAfter)
          System.err.println(s"[media-curate] store compacted: " +
            s"${rep.ticksBefore} -> ${rep.ticksAfter} tick partitions")
        lap("store-compact")
      }
    }
    val survivors = obs.get("n").asInstanceOf[Long]
    Seq(sigs, dropIds).foreach(Dedup.release)
    Maintenance.touchDone(outPath, spark.sparkContext.hadoopConfiguration)
    val stats = Stats(total, decodable, admitted, survivors)
    System.err.println(s"[media-curate] $stats")
    System.err.println("[media-curate-times] " + stageTimes
      .map { case (k, v) => f"$k=$v%.1fs" }.mkString(" "))
    Some(stats)
  }
}
