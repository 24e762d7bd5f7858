package graft

/** Scratch profiling main for hot queries (not part of the driver contract). */
object TextProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"PROBE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    val qs = if (args.nonEmpty) args.toSeq else Seq("q47_contamination", "q41_try_cast", "q28_lang_id")
    for (q <- qs; i <- 1 to 3)
      time(s"$q-$i") {
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
