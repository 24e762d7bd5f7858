package mikebench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer collector for traced units: a SparkListener for jobs, stages and
  * task metrics plus a QueryExecutionListener for Catalyst planning time, plan
  * size and SQL row metrics. Attached only while a traced unit runs
  * (`begin`..`end`); untraced units run with no listener of the harness on the
  * bus. `cut` closes one call's span: it drains the listener bus (no sleeps),
  * returns the counters gathered since the previous cut and resets them.
  *
  * Each job is attributed to an engine module by the first `graft.` frame of
  * its call site (the innermost engine frame): `entry` for SparkEntry, else the
  * package under `graft` (`jobs`, `io`, `ops`, `operators`, `functions`, ...).
  * Jobs started off the calling thread (broadcasts) carry no engine frame of
  * their own and take the call site of their SQL execution. A job with no
  * engine frame at all was forced by the harness itself (the noop write of a
  * registry query) and counts as `harness`. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final case class Job(module: String, step: String, start: Long, var end: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val execSites = mutable.Map.empty[Long, String]
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized(execSites(s.executionId) = s.details)
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val own = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).details
      val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSites.get(id.toLong)).getOrElse("")
      val site = if (Probe.engineFrames(own).nonEmpty) own else exec
      jobs(j.jobId) = Job(Probe.module(site), Probe.step(site), j.time, j.time)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(j.jobId).foreach(_.end = j.time)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      add("spark.stages", 1)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      add("spark.tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        val in = m.inputMetrics.recordsRead
        val sh = m.shuffleReadMetrics.recordsRead
        if (in == 0 && sh == 0) add("spark.empty_tasks", 1)
        add("spark.task_time_s", m.executorRunTime.toDouble)
        add("spark.input_mb", m.inputMetrics.bytesRead.toDouble)
        add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = scala.util.Try(qe.executedPlan).foreach { plan =>
    val (nodes, root, scan, scanBytes) = Probe.planStats(plan)
    val planning = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized {
      add("catalyst.executions", 1)
      add("catalyst.planning_ms", planning.toDouble)
      add("catalyst.plan_nodes", nodes.toDouble)
      add("sql.root_rows", root.toDouble)
      add("sql.scan_rows", scan.toDouble)
      add("sql.scan_mb", scanBytes.toDouble)
    }
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs(): Long = collectors.map(_.getCollectionTime).filter(_ > 0).sum
  private var gcBase = 0L

  def begin(): Unit = {
    BenchBus.drain(sc)
    synchronized { jobs.clear(); c.clear() }
    heapPools.foreach(_.resetPeakUsage())
    gcBase = gcMs()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def end(): Unit = {
    BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Counters for the span [startMs, endMs] (wall clock), then reset. */
  def cut(startMs: Long, endMs: Long): Map[String, Double] = {
    BenchBus.drain(sc)
    val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    heapPools.foreach(_.resetPeakUsage())
    val gc = gcMs()
    val gcS = (gc - gcBase) / 1e3
    gcBase = gc
    synchronized {
      val js = jobs.values.toSeq.sortBy(_.start)
      // counters are summed as whole ms and bytes, in whatever order the
      // events arrive, and scaled once here: the totals repeat exactly
      val out = mutable.Map.empty[String, Double] ++= c.map { case (k, v) => k -> v * Probe.scale(k) }
      out("spark.jobs") = js.size.toDouble
      out("spark.idle_s") = (endMs - startMs - Probe.busyMs(js.map(j => (j.start, j.end)),
        startMs, endMs)) / 1e3
      js.groupBy(_.module).foreach { case (m, g) =>
        out(s"layer.$m.jobs") = g.size.toDouble
        out(s"layer.$m.job_s") = g.map(j => j.end - j.start).sum / 1e3
      }
      // a step's time runs from its first job to the next step's first job
      // (steps run one after another inside one public call)
      val firsts = js.filter(_.step.nonEmpty).groupBy(_.step).map { case (s, g) => s -> g.head.start }
        .toSeq.sortBy(_._2)
      firsts.zipWithIndex.foreach { case ((s, t), i) =>
        val from = if (i == 0) startMs else t
        val to = if (i + 1 < firsts.size) firsts(i + 1)._2 else endMs
        out(s"jobs.${s}_s") = (to - from) / 1e3
      }
      out("jvm.heap_peak_mb") = heapMb
      out("jvm.gc_s") = gcS
      jobs.clear(); c.clear()
      out.toMap
    }
  }
}

object Probe extends AdaptiveSparkPlanHelper {
  private def scale(key: String): Double =
    if (key.endsWith("_mb")) 1e-6 else if (key == "spark.task_time_s") 1e-3 else 1.0

  /** Engine frames (`graft.*`) of a long-form call site, innermost first. */
  def engineFrames(site: String): Seq[String] =
    site.split('\n').iterator.map(_.trim).filter(_.startsWith("graft.")).toSeq

  def module(site: String): String = engineFrames(site).headOption match {
    case None => "harness"
    case Some(f) =>
      val parts = f.takeWhile(_ != '(').split('.')
      if (parts(1).startsWith("SparkEntry")) "entry"
      else if (parts.length > 3) parts(1) // graft.<pkg>.<Class>.<method>
      else "graft"
  }

  private val steps = Seq(
    "graft.jobs.RawRainfallInputJob" -> "raw_rainfall",
    "graft.jobs.RainfallInputJob" -> "rainfall",
    "graft.jobs.DischargeInputJob" -> "discharge",
    "graft.jobs.TideInputJob" -> "tide",
    "graft.jobs.ExtractToWarehouseJob" -> "extract")

  /** The MIKE job step whose `run` is on the call stack, if any. */
  def step(site: String): String = engineFrames(site).iterator.flatMap { f =>
    steps.collectFirst { case (cls, s) if f.startsWith(cls + "$.") => s }
  }.nextOption().getOrElse("")

  /** Milliseconds of [from, to] covered by at least one job interval. */
  def busyMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var cur = from
    clipped.foreach { case (a, b) =>
      val s = math.max(a, cur)
      if (b > s) { busy += b - s; cur = b }
    }
    busy
  }

  /** (physical plan nodes, rows out of the topmost node that counts rows, rows
    * out of the leaf scans, bytes of the files the scans read), from the SQL
    * metrics after execution. */
  def planStats(plan: SparkPlan): (Int, Long, Long, Long) = {
    def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)
    val nodes = collectWithSubqueries(plan) { case p => p }
    var top: Option[Long] = None
    var p: Option[SparkPlan] = Some(plan)
    while (top.isEmpty && p.isDefined) {
      top = rows(p.get)
      p = allChildren(p.get).headOption
    }
    val leaves = collect(plan) { case l: LeafExecNode => l }
    (nodes.size, top.getOrElse(0L), leaves.map(rows(_).getOrElse(0L)).sum,
      leaves.map(_.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum)
  }
}
