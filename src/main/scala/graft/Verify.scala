package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.SessionCache
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: substring filter over query names, for fast local
    // re-verification of a single query (driver always passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter = args.drop(2).headOption
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val toRun = SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(name.contains) }
    val failed = runQueries(spark, sfDir, outDir, toRun)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // no_oracle rows' hash-green twins — lets the correctness ledger (and its
    // readers) resolve WHY a row is structurally rows-only
    val twins = SparkEntry.twins
      .map { case (k, v) => s"${q(k)}: {${q("twin")}: ${q(v)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/twins.json"), twins)
    // Shrinkage guard: a failed query must NEVER just vanish from the
    // correctness artifact. Emit the failure ledger and exit nonzero so the
    // round reads as broken, not as a smaller-but-green run (the r7 lesson:
    // 9 erroring queries silently dropped from CORRECTNESS_r07).
    val failJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), failJson)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] FATAL: ${failed.size}/${toRun.size} queries failed to run: " +
          failed.keys.toSeq.sorted.mkString(", ") +
          s" — see $outDir/verify_failures.json; artifact is INCOMPLETE")
      sys.exit(1)
    }
  }

  /** Run each query, dump its result, return the map of failures
    * (name -> error), leftover blocks included ([[released]]). Factored out
    * of main so the guard is spec-testable. */
  def runQueries(spark: SparkSession, sfDir: String, outDir: String,
                 queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] = {
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try released(spark, fn(spark, sfDir)) {
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    failed.toMap
  }

  /** Consumes `query`'s result with `consume`, then `Dedup.release`s it (also
    * when `consume` throws), and throws if blocks the query made are still held: persistent RDDs and
    * session cache entries that appeared since the call began (a delta, so
    * blocks other work holds in the session do not count). */
  def released[T](spark: SparkSession, query: => DataFrame)(
      consume: DataFrame => T): T = {
    def rdds = spark.sparkContext.getPersistentRDDs
    val (rdds0, entries0) = (rdds.keySet, SessionCache.entries(spark))
    val df = query
    val r = try consume(df) finally graft.operators.Dedup.release(df)
    val entries = SessionCache.entries(spark) - entries0
    val left = rdds.view.filterKeys(!rdds0(_)).values.toSeq.sortBy(_.id)
      .map(SessionCache.describe) ++
      Option.when(entries > 0)(s"$entries session cache entries")
    if (left.nonEmpty) throw new IllegalStateException(
      "blocks still held after release: " + left.mkString("; "))
    r
  }
}
