package graft.jobs

import java.io.FileNotFoundException
import java.time.{Duration, Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileStatus, Path}

/** The cron front-gate of the output-extraction pipeline (T3; SURVEY §2.7) —
  * re-expressing `outputs/extract_mike_data_to_db.sh:5-32`:
  *
  *  1. "today" is the current DATE in the reference deployment's UTC+5:30
  *     timezone (`date -u -d '+5 hour +30 min' '+%F'`, ref line 5);
  *  2. candidate run directories are those named `<today>*` under the outputs
  *     root (`find -name "$today"\*`, ref line 6);
  *  3. a directory is processed only when its result CSV was modified less
  *     than `maxAgeMinutes` ago — shell integer-minute arithmetic,
  *     `(CURRENT-FILE_MODIFIED_TIME)/60 < 40` (ref lines 15-21);
  *  4. the forecast-generated time is parsed FROM THE DIRECTORY NAME:
  *     basename split on '_' → date + 'H-M-S', dashes to colons
  *     (ref lines 23-33), yielding `"yyyy-MM-dd H:M:S"`.
  *
  * Directory selection is deliberately driver-side (like the reference's find
  * loop): the candidate set is run-sized (dozens), not data-sized. */
object RunDirGate {

  /** One admitted run directory: its path, the result CSV inside it, and the
    * fgt parsed from the directory name. */
  case class RunDir(dir: String, resultCsv: String, fgt: String)

  /** `date -u -d '+5 hour +30 min' '+%F'` — the deployment-local calendar
    * date (ref line 5). */
  def today(nowMs: Long, utcOffsetMinutes: Int = 330): String =
    Instant.ofEpochMilli(nowMs).plus(Duration.ofMinutes(utcOffsetMinutes))
      .atOffset(ZoneOffset.UTC).toLocalDate
      .format(DateTimeFormatter.ISO_LOCAL_DATE)

  /** `"$dir" | grep -oE "[^//]+$"` then the '_'/'-' splits of ref lines 23-33.
    * None when the basename doesn't carry a `date_H-M-S` prefix (the reference
    * would emit a malformed fgt and fail downstream; skipping is the safe
    * re-expression). */
  def fgtFromDirname(basename: String): Option[String] = {
    val parts = basename.split('_')
    if (parts.length < 2) return None
    val t = parts(1).split('-')
    if (!parts(0).matches("[0-9]{4}-[0-9]{2}-[0-9]{2}") || t.length < 3 ||
      !t.take(3).forall(_.matches("[0-9]{1,2}"))) None
    else Some(s"${parts(0)} ${t(0)}:${t(1)}:${t(2)}")
  }

  /** Run directories that pass the reference gate, sorted by path for
    * deterministic processing order. `nowMs`/`todayOverride` are injectable so
    * the gate is testable against a fixture tree (and so callers replaying
    * history can pin the reference wall-clock). Directories without the result
    * file are skipped — same outcome as the reference, where the unset mtime
    * makes the age test fail.
    *
    * The root, its listing and the CSV mtimes resolve through the Hadoop
    * `FileSystem` of `Maintenance.sessionConf()`, as `Maintenance`'s gates
    * do, so a `file:`, `hdfs://` or `s3a://` root is walked like a local one.
    * A scheme-less root reports scheme-less paths, as the local walk did. */
  def freshRunDirs(outputsRoot: String,
                   resultFile: String = "resmike11_WL.csv",
                   maxAgeMinutes: Long = 40L,
                   nowMs: Long = System.currentTimeMillis(),
                   todayOverride: Option[String] = None,
                   utcOffsetMinutes: Int = 330): Seq[RunDir] = {
    val root = new Path(outputsRoot)
    val fs = root.getFileSystem(Maintenance.sessionConf())
    def status(p: Path): Option[FileStatus] =
      try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    // the walk includes the root itself, as `Files.walk` does
    def walk(d: FileStatus): Seq[FileStatus] =
      d +: fs.listStatus(d.getPath).toSeq.filter(_.isDirectory).flatMap(walk)
    def shown(p: Path): String =
      if (root.toUri.getScheme == null) Path.getPathWithoutSchemeAndAuthority(p).toString
      else p.toString
    val day = todayOverride.getOrElse(today(nowMs, utcOffsetMinutes))
    status(root).filter(_.isDirectory).toSeq.flatMap(walk)
      .filter(_.getPath.getName.startsWith(day))
      .flatMap { dir =>
        val csv = new Path(dir.getPath, resultFile)
        for {
          st <- status(csv) if st.isFile
          // shell integer-minute arithmetic: (CURRENT - FILE_MODIFIED_TIME)/60
          if (nowMs / 1000L - st.getModificationTime / 1000L) / 60L < maxAgeMinutes
          fgt <- fgtFromDirname(dir.getPath.getName)
        } yield RunDir(shown(dir.getPath), shown(csv), fgt)
      }
      .sortBy(_.dir)
  }
}
