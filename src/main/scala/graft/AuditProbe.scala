package graft

/** Dev tool behind `ParallelismAuditSpec`: plans every registry query against
  * a deliberately 2-file corpus with the guard's size skip disabled and
  * prints any kernel node the `ParallelismAudit` walker finds unguarded.
  * Usage: runMain graft.AuditProbe [srcDir] (default sf0.01). */
object AuditProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val tgt = s"/tmp/audit2f_${new java.io.File(src).getName}"
    val marker = new java.io.File(tgt, "_DONE")
    if (!marker.exists()) {
      for (f <- new java.io.File(src).listFiles
           if f.getName.endsWith(".parquet"))
        spark.read.parquet(f.getPath).repartition(2)
          .write.mode("overwrite").parquet(s"$tgt/${f.getName}")
      marker.createNewFile()
    }
    spark.conf.set(graft.operators.Dedup.MinKernelBytesKey, "0")
    // second arg: print one query's full physical plan (offender debugging)
    args.drop(1).headOption.foreach { q =>
      println(SparkEntry.queries(q)(spark, tgt).queryExecution.executedPlan
        .treeString)
      spark.stop(); return
    }
    var bad = 0
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val offenders =
        try graft.plans.ParallelismAudit.unguardedKernels(fn(spark, tgt), 16)
        catch { case e: Throwable =>
          Seq(s"ERROR ${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (offenders.nonEmpty) { bad += 1; println(s"$name: ${offenders.mkString(" | ")}") }
    }
    println(s"AUDIT DONE offending_queries=$bad")
    spark.stop()
  }
}
