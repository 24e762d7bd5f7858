package graft

import java.nio.file.Files

import graft.io.VersionedFactStore
import org.apache.spark.sql.functions._

/** The lake-native warehouse honors the same T4/T5 contract as the JDBC sink:
  * idempotent ticks, fgt versioning, latest-wins reads, time travel. */
class VersionedFactStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tick(fgt: String, rows: (String, String, Double)*) =
    rows.toSeq.toDF("tms_id", "t", "value")
      .select($"tms_id", to_timestamp($"t").cast("timestamp_ntz").as("time"),
        to_timestamp(lit(fgt)).cast("timestamp_ntz").as("fgt"), $"value")

  test("compact: folds old ticks, readLatest bit-identical, horizon semantics") {
    val dir = Files.createTempDirectory("vfs-compact").toString + "/facts"
    val fgts = Seq("2024-01-01 01:00:00", "2024-01-01 02:00:00",
      "2024-01-01 03:00:00", "2024-01-01 04:00:00")
    // overlapping revisions across ticks: every tick revises key (a, 00:00)
    // and contributes one key of its own
    for ((f, i) <- fgts.zipWithIndex)
      VersionedFactStore.appendTick(
        tick(f, ("a", "2024-01-01 00:00:00", i + 1.0),
          ("k" + i, "2024-01-01 00:00:00", 100.0 + i)), dir)
    // facts only: folded rows necessarily report fgt = horizon (their
    // provenance tick no longer exists), so transparency is on the values
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select($"tms_id", $"time".cast("string"), $"value")
        .as[(String, String, Double)].collect().toSet
    val latestBefore = snap(VersionedFactStore.readLatest(spark, dir))
    val asOfCutBefore = snap(VersionedFactStore.readAsOf(spark, dir, fgts(1)))

    val rep = VersionedFactStore.compact(spark, dir, keepTicks = 2)
    assert(rep.ticksBefore == 4 && rep.ticksAfter == 3) // 2 folded into 1 + 2 kept
    assert(rep.filesAfter < rep.filesBefore)
    // fold is read-transparent for latest-wins: values AND winning fgts match
    assert(snap(VersionedFactStore.readLatest(spark, dir)) == latestBefore)
    // time travel AT the horizon answers the folded state exactly
    assert(snap(VersionedFactStore.readAsOf(spark, dir, fgts(1))) == asOfCutBefore)
    // BELOW the horizon, history is gone by design: empty, not wrong data
    assert(snap(VersionedFactStore.readAsOf(spark, dir, fgts(0))).isEmpty)
    // on-disk: the folded base carries every pre-horizon key, once
    assert(spark.read.parquet(dir)
      .filter($"fgt" === to_timestamp(lit(fgts(1))).cast("timestamp_ntz"))
      .count() == 3) // (a, 00:00) resolved + k0 + k1
    // compacting again with nothing to fold is a no-op
    val rep2 = VersionedFactStore.compact(spark, dir, keepTicks = 3)
    assert(rep2.ticksBefore == 3 && rep2.ticksAfter == 3)
  }

  test("idempotent ticks, latest-wins read, time travel, per-series fgt") {
    val dir = Files.createTempDirectory("vfs").toString + "/facts"
    val t1 = "2024-01-01 01:00:00"
    val t2 = "2024-01-01 02:00:00"
    VersionedFactStore.appendTick(
      tick(t1, ("a", "2024-01-01 00:00:00", 1.0), ("a", "2024-01-01 00:15:00", 2.0),
        ("b", "2024-01-01 00:00:00", 5.0)), dir)
    // T4: re-running the SAME tick replaces its partition — no duplicates
    VersionedFactStore.appendTick(
      tick(t1, ("a", "2024-01-01 00:00:00", 1.0), ("a", "2024-01-01 00:15:00", 2.0),
        ("b", "2024-01-01 00:00:00", 5.0)), dir)
    assert(spark.read.parquet(dir).count() == 3)
    // a newer tick revises one fact and adds one; older ticks untouched
    VersionedFactStore.appendTick(
      tick(t2, ("a", "2024-01-01 00:00:00", 10.0), ("a", "2024-01-01 00:30:00", 3.0)),
      dir)
    assert(spark.read.parquet(dir).count() == 5) // full history retained
    val latest = VersionedFactStore.readLatest(spark, dir)
      .select($"tms_id", $"time".cast("string"), $"value")
      .as[(String, String, Double)].collect().toSet
    assert(latest == Set(
      ("a", "2024-01-01 00:00:00", 10.0), // t2 wins
      ("a", "2024-01-01 00:15:00", 2.0),  // only in t1
      ("a", "2024-01-01 00:30:00", 3.0),  // only in t2
      ("b", "2024-01-01 00:00:00", 5.0)))
    // time travel to t1 sees the pre-revision value and not t2's addition
    val asOf = VersionedFactStore.readAsOf(spark, dir, t1)
      .select($"tms_id", $"time".cast("string"), $"value")
      .as[(String, String, Double)].collect().toSet
    assert(asOf == Set(
      ("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-01 00:15:00", 2.0),
      ("b", "2024-01-01 00:00:00", 5.0)))
    // the asOf filter must prune newer fgt partitions at the file index
    val scan = VersionedFactStore.readAsOf(spark, dir, t1)
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("fgt"), scan)
    // T5 read pattern: latest fgt per series
    val fgts = VersionedFactStore.latestFgtPerSeries(spark, dir)
      .select($"tms_id", $"latest_fgt".cast("string"))
      .as[(String, String)].collect().toMap
    assert(fgts == Map("a" -> t2, "b" -> t1))
    // layout: one directory per tick
    assert(new java.io.File(dir).listFiles.count(_.getName.startsWith("fgt=")) == 2)
  }

  // ---- compact crash battery -----------------------------------------------
  // Compaction's input is the partition it rewrites, so a driver death inside
  // the publish must never be able to destroy rows (the fold pins the same
  // class with stage→publish-beside→retire). Each test materializes one reachable
  // intermediate state on disk, asserts READS ARE ALREADY CORRECT in that
  // state, then re-runs compact and asserts it heals to the clean layout.

  private def fourTickStore(): String = {
    val dir = Files.createTempDirectory("vfs-crash").toString + "/facts"
    val fgts = Seq("2024-01-01 01:00:00", "2024-01-01 02:00:00",
      "2024-01-01 03:00:00", "2024-01-01 04:00:00")
    for ((f, i) <- fgts.zipWithIndex)
      VersionedFactStore.appendTick(
        tick(f, ("a", "2024-01-01 00:00:00", i + 1.0),
          ("k" + i, "2024-01-01 00:00:00", 100.0 + i)), dir)
    dir
  }

  private def snapLatest(dir: String) =
    VersionedFactStore.readLatest(spark, dir)
      .select($"tms_id", $"time".cast("string"), $"value")
      .as[(String, String, Double)].collect().toSet

  private def tickDirCount(dir: String) =
    new java.io.File(dir).listFiles.count(_.getName.startsWith("fgt="))

  test("compact heals a crashed run's stale partial staging") {
    val dir = fourTickStore()
    val expected = snapLatest(dir)
    val staging = new java.io.File(dir, ".compact_staging")
    assert(staging.mkdirs())
    java.nio.file.Files.write(new java.io.File(staging, "part-junk.parquet").toPath,
      Array[Byte](1, 2, 3)) // unreadable leftover from a killed stage step
    assert(snapLatest(dir) == expected) // dot-dir invisible to readers
    val rep = VersionedFactStore.compact(spark, dir, keepTicks = 2)
    assert(rep.ticksBefore == 4 && rep.ticksAfter == 3)
    assert(snapLatest(dir) == expected)
    assert(!staging.exists())
  }

  test("compact crash windows: post-publish, partial-publish, and mid-retire " +
       "states all read correct and re-run to the clean layout") {
    // clone an identical store and compact IT to obtain the exact base files
    // the publish step renames in — then graft them into crash states
    val cloneDir = fourTickStore()
    VersionedFactStore.compact(spark, cloneDir, keepTicks = 2)
    def partition(d: String, name: String) = new java.io.File(d, name)
    val targetName = new java.io.File(cloneDir).listFiles
      .filter(_.getName.startsWith("fgt=")).map(_.getName).sorted.head
    val baseFiles = partition(cloneDir, targetName).listFiles
      .filter(f => f.getName.startsWith("compact-") && f.getName.endsWith(".parquet"))
    assert(baseFiles.nonEmpty, "clone compact produced no base files")

    // CRASH B: complete base published beside the originals, retire never ran
    val dirB = fourTickStore()
    val expected = snapLatest(dirB)
    assert(expected == snapLatest(cloneDir)) // identical stores by construction
    val tgtB = partition(dirB, targetName)
    val originalsB = tgtB.listFiles.filter(_.getName.endsWith(".parquet")).map(_.getName)
    for (f <- baseFiles)
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(tgtB, f.getName.replace("compact-", "compact-deadb-")).toPath)
    assert(snapLatest(dirB) == expected) // duplicate rows shadow to identical values
    // pre-horizon time travel is STILL intact in this state (older dirs alive)
    assert(VersionedFactStore.readAsOf(spark, dirB, "2024-01-01 01:00:00")
      .select($"tms_id", $"value").as[(String, Double)].collect().toSet ==
      Set(("a", 1.0), ("k0", 100.0)))
    val repB = VersionedFactStore.compact(spark, dirB, keepTicks = 2)
    assert(repB.ticksAfter == 3 && snapLatest(dirB) == expected)
    val leftB = tgtB.listFiles.map(_.getName)
    assert(!leftB.exists(_.contains("deadb")), "stale crashed base not retired")
    assert(!leftB.exists(originalsB.contains), "shadowed originals not retired")

    // CRASH C: publish died after renaming only the FIRST base file
    val dirC = fourTickStore()
    val tgtC = partition(dirC, targetName)
    java.nio.file.Files.copy(baseFiles.head.toPath,
      new java.io.File(tgtC, baseFiles.head.getName.replace("compact-", "compact-dead2-")).toPath)
    assert(snapLatest(dirC) == expected) // partial base only duplicates, never replaces
    val repC = VersionedFactStore.compact(spark, dirC, keepTicks = 2)
    assert(repC.ticksAfter == 3 && snapLatest(dirC) == expected)
    assert(!tgtC.listFiles.map(_.getName).exists(_.contains("dead2")))

    // CRASH D: retire died halfway — originals gone, ONE older tick dir gone,
    // one still standing
    val dirD = fourTickStore()
    val tgtD = partition(dirD, targetName)
    val originalsD = tgtD.listFiles.filter(_.getName.endsWith(".parquet"))
    for (f <- baseFiles)
      java.nio.file.Files.copy(f.toPath, new java.io.File(tgtD, f.getName).toPath)
    originalsD.foreach(f => assert(f.delete()))
    val oldestD = new java.io.File(dirD).listFiles
      .filter(_.getName.startsWith("fgt=")).map(_.getName).sorted.head
    assert(oldestD < targetName, "battery expects an older dir below the target")
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmTree); f.delete()
    }
    rmTree(partition(dirD, oldestD))
    assert(snapLatest(dirD) == expected) // base carries every folded row
    val repD = VersionedFactStore.compact(spark, dirD, keepTicks = 2)
    assert(repD.ticksAfter == 3 && snapLatest(dirD) == expected)
    assert(tickDirCount(dirD) == 3)
  }
}
