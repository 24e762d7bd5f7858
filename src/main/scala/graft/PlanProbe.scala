package graft

/** Dev tool for the optimization rounds: dump `.explain("formatted")` for
  * named registry queries to files (the `plans/r17/<query>_{before,after}.txt`
  * deliverable). Bench-shaped session (same master/shuffle/AQE settings), so
  * the captured plan is the one the bench runs.
  *
  * Usage: runMain graft.PlanProbe <outDir> <suffix> <q1,q2,...|all> [srcDir]
  *   e.g. runMain graft.PlanProbe plans/r17 before q88_bpe_tokens,q134_bm25_topk
  *
  * NOTE: a query FUNCTION may run eager side work (index builds/saves) while
  * constructing its frame — the dump is of the returned frame's plan, which
  * for those rows is the serve path (exactly what the plan pins care about).
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanProbe <outDir> <suffix> <q1,q2,...|all> [srcDir]")
    val outDir = args(0)
    val suffix = args(1)
    val sel = args(2)
    val src = args.drop(3).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    // GRAFT_CONF="k=v,k=v": session confs for plan captures (e.g. force the
    // size-gated pins on to show the at-scale plan shape at bench scale)
    sys.env.get("GRAFT_CONF").foreach(_.split(",").map(_.trim)
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    val wanted: Set[String] =
      if (sel == "all") SparkEntry.queries.keySet.toSet
      else sel.split(",").map(_.trim).filter(_.nonEmpty).toSet
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if wanted.contains(name)) {
      try {
        val df = fn(spark, src)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        graft.operators.Dedup.release(df)
        spark.catalog.clearCache()
        println(s"[plan] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plan] $name FAILED: ${e.getClass.getSimpleName}: " +
          s"${e.getMessage}")
      }
    }
    spark.stop()
  }
}
