package mikebench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One public call into the engine, timed from outside. `layer` holds the
  * probe's counters when the call ran traced; `residual` is the number of
  * persistent RDDs still held when the call returned, before the harness's
  * own cache sweep. */
final case class Call(name: String, startMs: Long, endMs: Long, wall: Double, error: Option[String],
                      layer: Map[String, Double], residual: Int)

/** Times the calls of one unit. Per call: wall clock around the call only;
  * then (traced units) the probe's span is cut, the residual cache is counted,
  * and the harness sweeps the cache so the next call starts clean. */
final class CallRunner(spark: SparkSession, probe: Option[Probe]) {
  val calls = ArrayBuffer.empty[Call]

  def apply[T](name: String)(body: => T): Option[T] = apply(name, (_: T) => ())(body)

  /** As `apply`, with `release` run on the result after the residual count. */
  def apply[T](name: String, release: T => Unit)(body: => T): Option[T] = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = Try(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val layer = probe.map(_.cut(ms0, ms1)).getOrElse(Map.empty)
    val residual = spark.sparkContext.getPersistentRDDs.size
    r.foreach(release)
    spark.catalog.clearCache()
    r match {
      case Failure(e) => System.err.println(s"[mikebench] $name FAILED: $e")
      case _ =>
    }
    calls += Call(name, ms0, ms1, wall, r.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}"),
      layer, residual)
    r.toOption
  }

  /** Adds a counter the caller read from the last call's return value. */
  def note(key: String, value: Double): Unit = {
    val last = calls.last
    calls(calls.size - 1) = last.copy(layer = last.layer + (key -> (last.layer.getOrElse(key, 0.0) + value)))
  }
}

/** A benchmark workload: untimed preparation, timed units, untimed checks. */
trait Workload {
  /** Builds the inputs (fixtures, warehouse, warm-up). Called several times
    * during set-up; the last call's inputs are the ones measured. */
  def prepare(attempt: Int): Unit
  /** One timed unit (a cron tick, a pass over the queries). */
  def unit(i: Int, run: CallRunner): Unit
  /** Untimed correctness checks after unit `i`: (check, passed). */
  def check(i: Int): Seq[(String, Boolean)]
  /** Warm units a run measures at least, whatever `--seconds` says. */
  def minWarm: Int = 1
  /** Workload-specific end-to-end numbers over the warm units: name -> (samples, unit). */
  def extras(warm: Seq[Seq[Call]]): Seq[(String, Seq[Double], String)] = Nil
}

final case class UnitRun(index: Int, traced: Boolean, calls: Seq[Call], checks: Seq[(String, Boolean)]) {
  def wall: Double = calls.map(_.wall).sum
}

/** Benchmark main. Usage (normally through mikebench/run.py):
  * Main --workload <mike_tick|scan_sf0.2> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <n> --work <dir> --data <dir> --expected <file> --result <file>
  *      [--trace-out <file>] [--record] */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap ++
      args.filter(_ == "--record").map(_ => "record" -> "1")
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val cores = o("cores").toInt
    val work = new File(o("work"))
    Files.createDirectories(work.toPath)
    val jvmStart = System.nanoTime()

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"mikebench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val w: Workload = workload match {
      case "mike_tick" => new MikeTick(spark, seed, new File(work, "mike"))
      case ScanSuite.Name => new ScanSuite(spark, seed, new File(o("data")), new File(o("expected")),
        o.contains("record"))
      case other => sys.error(s"unknown workload $other")
    }
    val prepareS = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      w.prepare(k)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(prepareS)
    println(f"[mikebench] session ${sessionS}%.3fs, prepare ${prepareS.map(x => f"$x%.3f").mkString(" ")}s")

    // timed units: a cold one, then warm ones until the time is used up.
    // Traced runs trace the cold unit, then alternate traced/untraced warm
    // units so the probe's own overhead is measured in the same run; the
    // traced unit goes first, so the warm-up trend overstates the overhead
    // rather than hiding it.
    val probe = if (trace) Some(new Probe(spark)) else None
    val minWarm = if (trace) math.max(2, w.minWarm) else w.minWarm
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val hardStop = jvmStart + 125e9.toLong
    val units = ArrayBuffer.empty[UnitRun]
    while (units.isEmpty || ((System.nanoTime() < deadline || units.size - 1 < minWarm) &&
      System.nanoTime() < hardStop)) {
      val i = units.size
      val traced = trace && (i == 0 || i % 2 == 1)
      val p = if (traced) probe else None
      p.foreach(_.begin())
      val run = new CallRunner(spark, p)
      w.unit(i, run)
      p.foreach(_.end())
      val tCheck = System.nanoTime()
      val checks = Try(w.check(i)) match {
        case Success(cs) => cs
        case Failure(e) => System.err.println(s"[mikebench] checks of unit $i threw: $e"); Seq("checks" -> false)
      }
      checks.filterNot(_._2).foreach { case (n, _) => System.err.println(s"[mikebench] CHECK FAILED unit $i: $n") }
      units += UnitRun(i, traced, run.calls.toSeq, checks)
      println(f"[mikebench] unit $i%2d ${if (traced) "traced  " else "untraced"} " +
        f"wall=${units.last.wall}%.3fs checks=${(System.nanoTime() - tCheck) / 1e9}%.1fs calls=${run.calls.map(c => f"${c.name}=${c.wall}%.3f").mkString(" ")}")
    }

    val cold = units.head
    val warm = units.tail.toSeq
    val warmUntraced = warm.filterNot(_.traced)
    val failedCalls = units.flatMap(_.calls).count(_.error.nonEmpty)
    val failedChecks = units.flatMap(_.checks).count(!_._2)
    val attempted = units.map(u => u.calls.size + u.checks.size).sum
    val failed = failedCalls + failedChecks

    type M = (Seq[Double], String) // samples, unit
    val e2e: Seq[(String, M)] = Seq(
      "setup_s" -> (Seq(setupS), "s"),
      "cold_s" -> (Seq(cold.wall), "s"),
      "warm_s" -> (warmUntraced.map(_.wall), "s"),
      "call_geomean_s" -> (warmUntraced.map(u => Stats.geomean(u.calls.map(_.wall))), "s")) ++
      w.extras(warmUntraced.map(_.calls)).map { case (n, xs, u) => n -> (xs, u) } :+
      ("fail_rate" -> (Seq(failed.toDouble / attempted), "ratio"))

    val perLayer: Seq[(String, M)] = if (!trace) Nil else {
      val traced = warm.filter(_.traced)
      val aggs = traced.map(u => Main.aggregate(u.calls))
      val names = aggs.flatMap(_.keys).distinct.sorted
      val overhead = Stats.median(traced.map(_.wall)) / Stats.median(warmUntraced.map(_.wall))
      names.map(n => n -> (aggs.map(_.getOrElse(n, 0.0)), Main.unitOf(n))) :+
        ("trace.overhead_ratio" -> (Seq(overhead), "ratio"))
    }

    def render(ms: Seq[(String, M)]): Map[String, Any] = ms.filter(_._2._1.nonEmpty).map {
      case (n, (xs, u)) =>
        val hp = Stats.highPercentile(xs.size).map(p => s"p$p" -> Stats.percentile(xs, p)).toMap
        n -> (Map("value" -> Stats.median(xs), "unit" -> u, "n" -> xs.size) ++ hp)
    }.toMap

    val metrics = if (trace) render(perLayer) else render(e2e)
    val correct = failed == 0
    val out = Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)

    // human-readable report: every metric with its unit, n and high percentile
    println(f"[mikebench] workload=$workload seed=$seed cores=$cores trace=${if (trace) 1 else 0} " +
      f"units=${units.size} attempted=$attempted failed=$failed correct=$correct")
    (e2e ++ perLayer).filter(_._2._1.nonEmpty).foreach { case (n, (xs, u)) =>
      val hp = Stats.highPercentile(xs.size).map(p => f" p$p=${Stats.percentile(xs, p)}%.6g").getOrElse("")
      println(f"[mikebench]   $n%-32s ${Stats.median(xs)}%14.6g $u%-6s n=${xs.size}$hp")
    }

    // spans: one per unit, one per call inside it (parent = its unit)
    o.get("trace-out").filter(_ => trace).foreach { path =>
      val lines = units.flatMap { u =>
        val id = s"$workload/$seed/u${u.index}"
        Stats.json(Map("span" -> id, "parent" -> None, "name" -> workload, "unit" -> u.index,
          "traced" -> u.traced, "start_ms" -> u.calls.head.startMs, "end_ms" -> u.calls.last.endMs,
          "wall_s" -> u.wall, "layer" -> (if (u.traced) Main.aggregate(u.calls) else Map.empty),
          "checks_failed" -> u.checks.filterNot(_._2).map(_._1))) +:
          u.calls.zipWithIndex.map { case (c, k) =>
            Stats.json(Map("span" -> s"$id/c$k", "parent" -> id, "name" -> c.name, "unit" -> u.index,
              "traced" -> u.traced, "start_ms" -> c.startMs, "end_ms" -> c.endMs, "wall_s" -> c.wall,
              "ok" -> c.error.isEmpty, "cache.residual_rdds" -> c.residual, "layer" -> c.layer))
          }
      }
      Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
      Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
      println(s"[mikebench] spans written: $path (${lines.size} spans)")
    }

    Files.writeString(Paths.get(o("result")), Stats.json(out) + "\n")
    spark.stop()
  }

  /** Modules whose job counts every traced run reports, 0 where none ran. */
  val Modules = Seq("entry", "harness", "jobs", "io", "ops")

  /** A unit's counters: sums over its calls, peaks as maxima, ratios derived. */
  def aggregate(calls: Seq[Call]): Map[String, Double] = {
    val keys = calls.flatMap(_.layer.keys).distinct
    val sums = keys.map { k =>
      val xs = calls.map(_.layer.getOrElse(k, 0.0))
      k -> (if (k == "jvm.heap_peak_mb") xs.max else xs.sum)
    }.toMap
    val tasks = sums.getOrElse("spark.tasks", 0.0)
    val scan = sums.getOrElse("sql.scan_rows", 0.0)
    val derived = Map(
      "spark.empty_task_ratio" -> (if (tasks > 0) sums.getOrElse("spark.empty_tasks", 0.0) / tasks else 0.0),
      "sql.rows_out_per_row_in" -> (if (scan > 0) sums.getOrElse("sql.root_rows", 0.0) / scan else 0.0),
      "cache.residual_rdds" -> calls.map(_.residual.toDouble).sum)
    val modules = Modules.map(m => s"layer.$m.jobs" -> sums.getOrElse(s"layer.$m.jobs", 0.0))
    val upserts = calls.filter(_.layer.contains("io.facts_upserted"))
    val rate = if (upserts.isEmpty) Map.empty[String, Double]
      else Map("io.facts_per_s" -> upserts.map(_.layer("io.facts_upserted")).sum / upserts.map(_.wall).sum)
    sums -- Seq("spark.empty_tasks", "sql.root_rows") ++ derived ++ modules ++ rate
  }

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_per_s") => "1/s"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("ratio") || m.endsWith("per_row_in") => "ratio"
    case _ => "count"
  }
}
