package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool for the optimization rounds (r18): run one registry query on a
  * bench-shaped session under a job listener and print every Spark job it
  * fired — id, wall ms, stage count, and the call site — plus the total.
  * This is the "job-count receipt": at small scale these rows are
  * sequential-action-bound, so the fix target is the NUMBER of driver
  * round trips, which timings alone cannot attribute.
  *
  * Usage: runMain graft.JobProbe <query> [srcDir] [reps]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProbe <query> [srcDir] [reps]")
    val name = args(0)
    val src = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("GRAFT_CONF").foreach(_.split(",").map(_.trim)
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]
    val done = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (j.time, j.stageIds.length,
          Seq("callSite.short", "spark.job.description",
            "spark.sql.execution.root.id")
            .flatMap(k => Option(j.properties.getProperty(k))).headOption
            .getOrElse("?")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        done.put(j.jobId, j.time)
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        if (i.taskMetrics != null &&
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L) > 200)
          println(f"[stage] ${i.stageId}%4d " +
            f"wall=${i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)}%5d ms " +
            f"tasks=${i.numTasks}%3d taskTime=${i.taskMetrics.executorRunTime}%6d ms " +
            f"${i.name.take(60)}")
      }
    })
    val fn = SparkEntry.queries(name)
    for (r <- 1 to reps) {
      jobs.clear(); done.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, src)
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.operators.Dedup.release(df)
      spark.catalog.clearCache()
      Thread.sleep(300) // let listener events drain
      import scala.jdk.CollectionConverters._
      val rows = jobs.asScala.toSeq.sortBy(_._1)
      val base = rows.headOption.map(_._2._1).getOrElse(0L)
      println(f"[jobprobe] $name rep $r wall=$wall%.2fs jobs=${rows.size}")
      rows.foreach { case (id, (t0j, nStages, site)) =>
        val ms = done.getOrDefault(id, t0j) - t0j
        println(f"[jobprobe]   job $id%3d +${t0j - base}%6d ${ms}%6d ms " +
          f"stages=$nStages%2d $site")
      }
    }
    spark.stop()
  }
}
