package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.{TaskContext, TestBus}

object ConcurrentSpec {
  /** Counted down by the slow job's task once it runs (local mode: same JVM). */
  @volatile var slowTaskRunning = new CountDownLatch(1)
}

/** `Concurrent.all`: results in order, the caller's local properties carried
  * into every thunk, and fail-fast — the first failure cancels the sibling's
  * running job, and the call returns only after the sibling has ended. */
class ConcurrentSpec extends SparkSpec {

  test("Concurrent.all: results in call order; each thunk carries the " +
    "caller's local properties and one tag for the call") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller-desc")
    try {
      val got = Concurrent.all(spark)(
        () => (sc.getLocalProperty("spark.job.description"), sc.getJobTags()),
        () => (sc.getLocalProperty("spark.job.description"), sc.getJobTags()))
      assert(got.map(_._1) == Seq("caller-desc", "caller-desc"))
      assert(got.map(_._2).distinct.size == 1 && got.head._2.size == 1, got)
      // the tag lives on the thunks' threads only
      assert(sc.getJobTags().isEmpty)
      assert(Concurrent.all(spark)(() => 1, () => 2, () => 3) == Seq(1, 2, 3))
    } finally sc.setJobDescription(null)
  }

  test("Concurrent.all: no thunks, no pool") {
    assert(Concurrent.all[Int](spark)() == Nil)
  }

  test("Concurrent.all: a failing thunk cancels its sibling's running job " +
    "and is rethrown only after the sibling has ended") {
    val sc = spark.sparkContext
    ConcurrentSpec.slowTaskRunning = new CountDownLatch(1)
    val slowMs = 60000L
    val siblingEnded = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Concurrent.all(spark)(
        () => {
          // one task that runs for a minute unless its job is cancelled
          try sc.parallelize(Seq(1), 1).map { i =>
              ConcurrentSpec.slowTaskRunning.countDown()
              val end = System.currentTimeMillis() + slowMs
              while (!TaskContext.get().isInterrupted() &&
                System.currentTimeMillis() < end) Thread.sleep(20)
              i
            }.count()
          finally siblingEnded.set(true)
        },
        () => {
          assert(ConcurrentSpec.slowTaskRunning.await(30, TimeUnit.SECONDS))
          throw new IllegalStateException("boom")
        })
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(e.getMessage == "boom")
    assert(siblingEnded.get, "the call returned before the sibling ended")
    assert(elapsedMs < slowMs / 3, s"took $elapsedMs ms")
    TestBus.settle(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }
}
