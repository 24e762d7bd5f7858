package graft

import java.util.UUID
import java.util.concurrent.{CompletableFuture, CompletionException, ExecutionException, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** Independent Spark actions submitted at once, failing fast.
  *
  * Each thunk runs on a thread of its own that carries the caller's active
  * session and Spark local properties (job group, description, scheduler
  * pool), captured when the call is made, so its jobs are attributed like the
  * caller's own. Every job the thunks submit also carries one job tag unique
  * to the call. On the first failure the jobs under that tag are cancelled,
  * the call waits until every thunk has ended, and then rethrows that first
  * failure: no sibling write is still running when the caller sees the error.
  * A tag rather than a job group, so the caller's group stays its own. */
object Concurrent {

  /** Runs `thunks` concurrently; their results, in order. No thunks: `Nil`,
    * without a pool. */
  def all[A](spark: SparkSession)(thunks: (() => A)*): Seq[A] = {
    if (thunks.isEmpty) return Nil
    val sc = spark.sparkContext
    val tag = s"graft-concurrent-${UUID.randomUUID}"
    val pool = Executors.newFixedThreadPool(thunks.size, (r: Runnable) => {
      val t = new Thread(r, tag)
      t.setDaemon(true)
      t
    })
    val firstFailure = new AtomicReference[Throwable]()
    val futures = thunks.map { thunk =>
      SQLExecution.withThreadLocalCaptured(castToImpl(spark), pool) {
        sc.addJobTag(tag)
        thunk()
      }.whenComplete { (_, e) =>
        val cause = e match {
          case c: CompletionException if c.getCause != null => c.getCause
          case other => other
        }
        if (cause != null && firstFailure.compareAndSet(null, cause))
          sc.cancelJobsWithTag(tag, s"a concurrent sibling failed: $cause")
      }
    }
    val ended = CompletableFuture.allOf(futures: _*)
    try {
      // a sibling between two actions can submit a job after the cancel
      // above; keep cancelling the tag until every thunk has ended
      while (!ended.isDone) {
        if (firstFailure.get != null) sc.cancelJobsWithTag(tag)
        try ended.get(100, TimeUnit.MILLISECONDS)
        catch { case _: TimeoutException | _: ExecutionException => }
      }
    } finally {
      if (!ended.isDone) sc.cancelJobsWithTag(tag) // the caller was interrupted
      pool.shutdown()
    }
    Option(firstFailure.get).foreach(e => throw e)
    futures.map(_.join())
  }
}
