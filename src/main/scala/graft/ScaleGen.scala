package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale amplifier for bench runs beyond the driver-provided sf0.1: writes
  * `copies` id-shifted replicas of every fact table (dims pass through) so
  * the suite can be timed at ~sf1 without regenerating source data.
  *
  * Key discipline: each logical entity's keys shift by
  * `copy * (max(key) + 1)`, and every FOREIGN key shifts by its TARGET
  * table's offset — referential joins hold within each replica and never
  * cross replicas. Text/embedding payloads are copied VERBATIM, which makes
  * the amplified corpus deliberately duplicate-heavy: every document gains
  * `copies - 1` exact twins, stress-testing precisely the dedup/CC/LSH
  * composites whose constant factors hide at sf0.1 (flood guards, banded
  * joins, cluster resolution all face 10× denser duplicate structure).
  *
  * Usage: ScaleGen <inDir> <outDir> [copies=10]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val copies = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    // only stop the session on exit if this main OWNS it — under a test
    // harness getOrCreate returns the suite's shared session, and stopping
    // that would poison every later suite in the JVM
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = GraftSession()

    def tbl(n: String): DataFrame = spark.read.parquet(s"$inDir/$n.parquet")
    def off(n: String, key: String): Long =
      tbl(n).agg(max(col(key)).cast("long")).first().getLong(0) + 1L

    val oCust = off("customer", "c_custkey")
    val oSupp = off("supplier", "s_suppkey")
    val oPart = off("part", "p_partkey")
    val oOrd = off("orders", "o_orderkey")
    val oEvt = off("events", "event_id")
    val oUsr = off("events", "user_id")
    val oDoc = off("documents", "doc_id")
    val oVec = off("embeddings", "vec_id")

    /** `copies` replicas with the named key columns shifted by their target
      * entity's offset; all other columns verbatim, order preserved. */
    def amplify(name: String, shifts: Map[String, Long]): DataFrame = {
      val base = tbl(name)
      base.crossJoin(spark.range(copies).toDF("__k"))
        .select(base.columns.map { c =>
          shifts.get(c) match {
            case Some(o) => (col(c) + col("__k") * o).as(c)
            case None => col(c)
          }
        }: _*)
    }

    val out: Seq[(String, DataFrame)] = Seq(
      "region" -> tbl("region"),
      "nation" -> tbl("nation"),
      "customer" -> amplify("customer", Map("c_custkey" -> oCust)),
      "supplier" -> amplify("supplier", Map("s_suppkey" -> oSupp)),
      "part" -> amplify("part", Map("p_partkey" -> oPart)),
      "orders" -> amplify("orders",
        Map("o_orderkey" -> oOrd, "o_custkey" -> oCust)),
      "lineitem" -> amplify("lineitem",
        Map("l_orderkey" -> oOrd, "l_partkey" -> oPart, "l_suppkey" -> oSupp)),
      "events" -> amplify("events",
        Map("event_id" -> oEvt, "user_id" -> oUsr)),
      "documents" -> amplify("documents", Map("doc_id" -> oDoc)),
      "embeddings" -> amplify("embeddings", Map("vec_id" -> oVec)))
    out.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }
    if (!preExisting) spark.stop()
  }
}
