package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: runs every SparkEntry query against SPARK_GRAFT_SF_DIR and prints
  * one JSON line. Queries are forced with a noop-format write so the FULL result is
  * materialized (count() would let Catalyst prune unused projections — that would
  * flatter the numbers dishonestly). */
object Bench {
  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // SPARK_GRAFT_MULTIFILE=N (opt-in): rewrite each table as N parquet files
    // in /tmp and bench against that — cluster corpora arrive as many files,
    // while the driver's tables are single-file; this mode checks that the
    // explicit repartitions (added for single-file parallelism) don't turn
    // into regressions on realistic multi-file layouts. Untimed, cached by a
    // marker file. Default off: BENCH_r* numbers stay comparable to BASELINE.
    val sfDir = sys.env.get("SPARK_GRAFT_MULTIFILE").map(_.trim.toInt) match {
      case Some(n) if n > 1 =>
        val tgt = s"/tmp/graft_multifile_${new java.io.File(srcDir).getName}_$n"
        val marker = new java.io.File(tgt, "_DONE")
        if (!marker.exists()) {
          for (f <- new java.io.File(srcDir).listFiles
               if f.getName.endsWith(".parquet")) {
            spark.read.parquet(f.getPath).repartition(n)
              .write.mode("overwrite").parquet(s"$tgt/${f.getName}")
          }
          marker.createNewFile()
        }
        tgt
      case _ => srcDir
    }
    // untimed warm-up: JVM/codegen/parquet-footer caches, so the first measured
    // query is not charged for session startup
    Seq("lineitem", "orders", "events", "documents", "embeddings").foreach { n =>
      try spark.read.parquet(s"$sfDir/$n.parquet").count()
      catch { case _: Throwable => () }
    }
    // Best-of-2 per query, but the two attempts are DECORRELATED: the host
    // shows multi-minute interference stall windows (a trivial projection
    // swings 0.5s -> 17s run-to-run with zero code change, measured round 2;
    // round 4's official record had a contiguous alphabetical stretch of
    // "regressions" on unchanged code). Back-to-back best-of-2 loses to any
    // stall longer than one query, so the suite runs as TWO FULL PASSES and
    // each query takes the min across passes — a full pass (~tens of seconds
    // to minutes) separates a query's two timings, so one stall window can no
    // longer cover both. A query whose min across passes is still > 3s gets
    // one adaptive third attempt to bound residual damage. Both pass totals
    // are reported so interference is visible in the artifact itself.
    // A failed query must NOT read as a (fast) timing: each run returns either
    // a duration or the error, failures are excluded from the total and
    // reported under "failed" in the JSON line — a broken query can't hide.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      // a query that leaves blocks held after its release fails: they would
      // pile up across the suite and bleed into its tail
      try Right(Verify.released(spark, fn(spark, sfDir)) { df =>
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      })
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200))
      }
    }
    // SPARK_GRAFT_ONLY / SPARK_GRAFT_SKIP (opt-in, comma-separated query
    // names): subset the suite for scale rehearsals — e.g. the sf10 census
    // skips the two raw pair-LISTING queries whose output is the product,
    // not the processing (their scale story is the pair-budget estimator +
    // the CC composites). Default unset: driver runs time every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) && !skip.contains(n) }
    def fullPass(): Seq[(String, Either[String, Double])] =
      suite.map { case (name, fn) => name -> once(name, fn) }
    val pass1 = fullPass()
    val pass2 = fullPass()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = pass1.zip(pass2).flatMap {
      case ((name, r1), (_, r2)) =>
        val best = (r1, r2) match {
          case (Left(e), _) => Left(e)
          case (_, Left(e)) => Left(e)
          case (Right(a), Right(b)) =>
            val two = math.min(a, b)
            if (two > 3.0) once(name, suite.toMap.apply(name)).map(math.min(two, _))
            else Right(two)
        }
        best match {
          case Right(t) => Some(name -> t)
          case Left(e) => failures += name -> e; None
        }
    }
    def passTotal(p: Seq[(String, Either[String, Double])]): Double =
      p.collect { case (_, Right(t)) => t }.sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fs = failures.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"pass_totals":[${passTotal(pass1)},${passTotal(pass2)}],"failed":$fs,"failed_count":${failures.size},"sf":"$sfDir"}"""
    // The driver's artifact captures a bounded TAIL of stdout, and the full
    // line (110+ per-query timings) outgrew it — BENCH_r09.json lost every
    // timing before q46 to truncation. Persist the COMPLETE line to a stable
    // per-run file (kept across rounds for round-over-round diffs) and print
    // the path LAST on its own short line, which a tail always retains.
    val fullDir = java.nio.file.Paths.get("bench_full")
    java.nio.file.Files.createDirectories(fullDir)
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val fullPath = fullDir.resolve(
      s"bench_${stamp}_${new java.io.File(srcDir).getName}.json")
    java.nio.file.Files.writeString(fullPath, line + "\n")
    java.nio.file.Files.writeString(fullDir.resolve("latest.json"), line + "\n")
    // The driver keeps only a bounded TAIL of stdout (~2000 chars), so the
    // full line above always loses its head to truncation and parses as
    // nothing. The LAST line printed is therefore a bounded COMPACT summary
    // — totals, pass totals, failures, the slowest 10 queries, and the path
    // to the complete per-query artifact — sized to survive the tail capture
    // whole, so BENCH_r*.json always carries usable parsed data.
    val slow = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val fsShort = failures.take(3)
      .map { case (k, v) => "\"" + k + "\":\"" + v.take(80) + "\"" }
      .mkString("{", ",", "}")
    val summaryPath = fullDir.resolve("latest_summary.json")
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"pass_totals":[${passTotal(pass1)},${passTotal(pass2)}],"failed_count":${failures.size},"failed":$fsShort,"slowest10":$slow,"bench_full":"${fullPath.toAbsolutePath}","summary_file":"${summaryPath.toAbsolutePath}"}"""
    // The compact summary is also WRITTEN to a fixed sidecar path (r12
    // verdict #4 — two rounds of stdout-capture truncation fights end here:
    // a parser that misses every printed copy can always read the tiny
    // stable file named in `summary_file`/the final printed line).
    java.nio.file.Files.writeString(summaryPath, compact + "\n")
    // The compact summary prints FIRST (a head-reading parser finds it — r11
    // verdict #3: the summary appearing only last left BENCH parsed=null),
    // then the full per-query line (persisted above regardless — a bounded
    // stdout tail may truncate its head), then the compact summary AGAIN so
    // a tail-reading parser finds it whole no matter the capture window.
    println(compact)
    println(line)
    println(compact)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
