package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.SessionCache

/** Pins the Verify shrinkage guard (r7 verdict item 4): a query that throws must
  * surface in the returned failure ledger — never silently vanish from the
  * correctness artifact the way r7's 9 ts-broken queries did. And the
  * leftover-block check: a query whose blocks are still held after its
  * release fails, naming them. */
class VerifyGuardSpec extends SparkSpec {

  test("runQueries reports throwing queries and still writes the healthy ones") {
    val out = java.nio.file.Files.createTempDirectory("verify-guard").toString
    val good: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).toDF("id")
    val bad: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("forced failure for the guard spec")
    val failed = Verify.runQueries(spark, "/unused", out,
      Map("q_good" -> good, "q_bad" -> bad))
    assert(failed.keySet == Set("q_bad"))
    assert(failed("q_bad").contains("forced failure"))
    assert(new java.io.File(s"$out/q_good").exists(),
      "healthy queries must still be dumped when a sibling fails")
    assert(spark.read.parquet(s"$out/q_good").count() == 3)
  }

  test("runQueries returns empty on an all-green map") {
    val out = java.nio.file.Files.createTempDirectory("verify-guard2").toString
    val failed = Verify.runQueries(spark, "/unused", out,
      Map("q_ok" -> ((s: SparkSession, _: String) => s.range(1).toDF("id"))))
    assert(failed.isEmpty)
  }

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("runQueries fails a query leaving a persisted frame its result cannot reach") {
    val out = java.nio.file.Files.createTempDirectory("verify-guard3").toString
    var side: DataFrame = null
    var leaked = Set.empty[Int]
    val leaky: (SparkSession, String) => DataFrame = (s, _) => {
      val before = persistentIds
      side = s.range(5).toDF("id").persist()
      side.count()
      leaked = persistentIds -- before
      s.range(3).toDF("id")
    }
    try {
      val failed = Verify.runQueries(spark, "/unused", out, Map("q_leaky" -> leaky))
      assert(leaked.size == 1)
      assert(failed.keySet == Set("q_leaky"))
      assert(failed("q_leaky").contains("blocks still held after release"))
      assert(failed("q_leaky").contains(s"[${leaked.head}] at count at VerifyGuardSpec.scala"),
        failed("q_leaky"))
    } finally if (side != null) side.unpersist(blocking = true)
  }

  test("a result reaching a persist and a checkpoint passes; release leaves nothing") {
    val both: (SparkSession, String) => DataFrame = (s, _) => {
      val p = s.range(10).toDF("id").persist()
      p.count()
      val c = s.range(10).select(col("id"), (col("id") * 2).as("x"))
        .localCheckpoint(eager = true)
      p.join(c, "id")
    }
    val out = java.nio.file.Files.createTempDirectory("verify-guard4").toString
    assert(Verify.runQueries(spark, "/unused", out, Map("q_both" -> both)).isEmpty)
    val (rdds0, entries0) = (persistentIds, SessionCache.entries(spark))
    val df = both(spark, "")
    assert(df.count() == 10)
    assert((persistentIds -- rdds0).size >= 2 && SessionCache.entries(spark) == entries0 + 1)
    graft.operators.Dedup.release(df)
    assert(persistentIds -- rdds0 == Set.empty[Int])
    assert(SessionCache.entries(spark) == entries0)
  }
}
