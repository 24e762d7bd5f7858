package org.apache.spark

import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Settles the scheduler for specs: the package-private parts of
  * `SparkContext` are reached from inside the package. */
object TestBus {

  /** Returns once the DAG scheduler has handled every event queued before the
    * call and the listener bus has delivered every event posted by then, so
    * the status store (`statusTracker`) shows each job end already decided.
    * A cancel of an unused tag is the barrier: the scheduler's event queue is
    * FIFO, and the cancel's future completes when its turn is handled. A job
    * still running stays running; this only flushes what already happened. */
  def settle(sc: SparkContext): Unit = {
    Await.ready(sc.cancelJobsWithTagWithFuture("graft-test-barrier",
      "scheduler barrier"), Duration(60, "s"))
    sc.listenerBus.waitUntilEmpty(60000L)
  }
}
