package graft.jobs

import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Operational semantics of the reference's shell orchestration (SURVEY.md §2.1/§2.9):
  * idempotence gates and TTL retention. Driver-side utilities — they manage job
  * artifacts, not the distributed data path.
  *
  * All paths resolve through the Hadoop `FileSystem` API (the
  * `VersionedFactStore.compact` discipline), so the gates keep working the day
  * the artifacts move from local disk to `hdfs://`/`s3a://` — a
  * `java.nio.file` gate on a remote scheme silently never sees its marker and
  * re-runs every tick. Local paths behave exactly as before (Hadoop's
  * `file:` scheme is the default for scheme-less paths). The default conf is
  * the ACTIVE SparkSession's `hadoopConfiguration` when one exists — jobs set
  * credentials/endpoints via `spark.hadoop.*`, and a bare `new Configuration()`
  * would miss them, failing the gate on exactly the remote schemes this API
  * exists for. A bare Configuration is the fallback only when no session is up
  * (plain local tooling). */
object Maintenance {

  /** The active session's Hadoop conf (carries `spark.hadoop.*` credentials /
    * endpoints), else a plain one. Evaluated at CALL time (Scala default-arg
    * semantics), so gates always see the session that is actually running. */
  def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Done = `dir/marker` exists: the one commit rule behind both gates. */
  private def committed(dir: Path, marker: String,
                        conf: Configuration): Boolean = {
    val m = new Path(dir, marker)
    m.getFileSystem(conf).exists(m)
  }

  /** S13: idempotence gate — skip a job tick whose output is already
    * committed (ref: inputs/gen_mike_input_rf_linux.py:271-280). A plain
    * file counts once it exists; a directory (a Spark sink) only once
    * Spark's `_SUCCESS` is in it. The plan runs lazily inside the write,
    * which creates the directory first, so a failed write leaves a
    * marker-less directory that the next tick re-runs over. Returns true
    * if the job should run. */
  def shouldRun(outputPath: String,
                conf: Configuration = sessionConf()): Boolean = {
    val p = new Path(outputPath)
    val fs = p.getFileSystem(conf)
    !fs.exists(p) ||
      (fs.getFileStatus(p).isDirectory && !committed(p, "_SUCCESS", conf))
  }

  /** Run `job` only if `outputPath` is not committed; returns whether it
    * ran. `job` must overwrite what a failed run left behind. */
  def runIdempotent(outputPath: String,
                    conf: Configuration = sessionConf())
                   (job: => Unit): Boolean =
    if (shouldRun(outputPath, conf)) { job; true } else false

  /** S13 completion-marker gate for multi-output jobs (CurationJob /
    * MediaCurationJob): true iff `dir/_DONE` exists — i.e. a PRIOR run wrote
    * every output and then stamped the marker. A marker-less partial dir
    * (crash between output writes) reports false and re-runs. */
  def markerDone(dir: String, conf: Configuration): Boolean =
    committed(new Path(dir), "_DONE", conf)

  /** Stamp `dir/_DONE` — the LAST statement of a gated job's run. Fails if
    * the marker already exists (two racing ticks cannot both claim the
    * completion). */
  def touchDone(dir: String, conf: Configuration): Unit = {
    val m = new Path(dir, "_DONE")
    m.getFileSystem(conf).create(m, /* overwrite = */ false).close()
  }

  /** S14/T7: TTL retention — delete artifacts older than `ttlDays` under `dir`
    * (ref: flush_mike_data_in_bucket.sh:20-24, 60-day monthly flush). Returns the
    * deleted paths. Age is by last-modified time, like `find -mtime`. */
  def flushOlderThan(dir: String, ttlDays: Long,
                     now: Instant = Instant.now(),
                     conf: Configuration = sessionConf()): Seq[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Nil
    val cutoffMs = now.minus(ttlDays, ChronoUnit.DAYS).toEpochMilli
    val it = fs.listFiles(root, /* recursive = */ true)
    val doomed = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(st => st.isFile && st.getModificationTime < cutoffMs)
      .map(_.getPath).toSeq
    doomed.foreach(p => fs.delete(p, false))
    doomed
  }
}
