package org.apache.spark

/** Deterministic listener-bus drain. `SparkContext.listenerBus` is
  * package-private, so the harness reaches it from inside the package. Every
  * event posted before the call (job/stage/task ends, SQL execution ends and
  * the QueryExecutionListener callbacks they carry) has been delivered to
  * every listener when this returns — no sleeps. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
