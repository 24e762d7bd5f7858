package mikebench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The data-bound workload: MIKE time-series and relational registry rows
  * (`SparkEntry.queries(name)`, forced by a noop write as `graft.Bench` does)
  * over TPC-H-ish tables plus an `events` stream generated by the harness.
  * The tables do not depend on `--seed` (every value is a hash of the row id
  * and a per-column salt), so every query's result can be checked against a
  * fingerprint recorded when the benchmark was added; `--seed` permutes the
  * query order of every pass. Generated once per checkout into the data
  * directory and reused by later runs. */
final class ScanSuite(spark: SparkSession, seed: Long, dataRoot: File, expectedFile: File,
                      record: Boolean) extends Workload {
  import ScanSuite._

  private val dir = new File(dataRoot, s"scan-v$DataVersion-sf$Scale")
  private val fns: Seq[(String, (SparkSession, String) => DataFrame)] = Queries.map { q =>
    SparkEntry.queries.find(_._1.startsWith(q + "_")).getOrElse(sys.error(s"no registry row $q"))
  }

  if (!new File(dir, "_DONE").exists()) {
    val t0 = System.nanoTime()
    generate(spark, dir)
    println(f"[mikebench] generated scan tables in ${(System.nanoTime() - t0) / 1e9}%.1fs: $dir")
  }

  /** Warm-up as in `graft.Bench`: open the three large tables once. */
  def prepare(attempt: Int): Unit =
    Seq("lineitem", "orders", "events").foreach(t => spark.read.parquet(new File(dir, s"$t.parquet").getAbsolutePath).count())

  def unit(i: Int, run: CallRunner): Unit = {
    val order = new scala.util.Random(seed * 7919 + i).shuffle(fns)
    order.foreach { case (name, fn) =>
      run(name, graft.operators.Dedup.release) {
        val df = fn(spark, dir.getAbsolutePath)
        df.write.format("noop").mode("overwrite").save()
        df
      }
    }
  }

  /** Row count plus an order-insensitive content fingerprint of every query,
    * once per run (after the cold pass), against the recorded values. */
  def check(i: Int): Seq[(String, Boolean)] =
    if (i > 0) Nil else {
      val got = fns.map { case (name, fn) =>
        val df = fn(spark, dir.getAbsolutePath)
        val fp = fingerprint(df)
        graft.operators.Dedup.release(df)
        spark.catalog.clearCache()
        name -> fp
      }
      if (record) {
        Files.writeString(expectedFile.toPath, got.map { case (n, f) => s"$n\t$f" }.mkString("", "\n", "\n"))
        println(s"[mikebench] recorded ${got.size} fingerprints: $expectedFile")
      }
      val expected = Files.readAllLines(expectedFile.toPath).asScala.filter(_.contains("\t"))
        .map { l => val Array(n, f) = l.split("\t", 2); n -> f }.toMap
      got.map { case (name, fp) =>
        if (!expected.get(name).contains(fp))
          System.err.println(s"[mikebench] $name fingerprint $fp != expected ${expected.getOrElse(name, "none")}")
        s"$name fingerprint" -> expected.get(name).contains(fp)
      }
    }
}

object ScanSuite {
  val Scale = 0.2
  val Name = s"scan_sf$Scale"
  val DataVersion = 1
  val Queries = Seq("q01", "q04", "q07", "q08", "q09", "q10", "q11", "q12", "q13", "q21", "q33",
    "q35", "q44", "q54")

  /** "rows:sum of row hashes" with doubles rounded to 6 decimals (and -0.0
    * folded into 0.0), independent of row order and partitioning. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6) + lit(0.0)
        case _: DecimalType => col(f.name).cast(StringType)
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).first()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Deterministic uniform draws from the row id: the same values whatever the
    * partitioning or core count. */
  private def h(salt: Int, id: Column): Column = xxhash64(lit(salt), id)
  private def pick(salt: Int, id: Column, n: Long): Column = pmod(h(salt, id), lit(n))
  private def unif(salt: Int, id: Column): Column = pmod(h(salt, id), lit(1000000L)).cast(DoubleType) / 1e6
  private def oneOf(salt: Int, id: Column, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (pick(salt, id, xs.size.toLong) + 1).cast(IntegerType))
  private def day(from: String, salt: Int, id: Column, days: Long): Column =
    date_add(lit(java.sql.Date.valueOf(from)), pick(salt, id, days).cast(IntegerType)).cast(TimestampNTZType)

  def generate(spark: SparkSession, dir: File): Unit = {
    val nL = (6000000 * Scale).toLong
    val (nO, nC, nP, nS, nE) = (nL / 4, nL / 40, nL / 30, nL / 600, nL / 6)
    val nUsers = nE * 3 / 200
    def rows(n: Long, files: Int) = spark.range(0, n, 1, files).select(col("id"))
    val id = col("id")
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> rows(5, 1).select(id.cast(IntegerType).as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (id + 1).cast(IntegerType)).as("r_name")),
      "nation" -> rows(25, 1).select(id.cast(IntegerType).as("n_nationkey"),
        concat(lit("NATION_"), id.cast(StringType)).as("n_name"), pmod(id, lit(5L)).cast(IntegerType).as("n_regionkey")),
      "customer" -> rows(nC, 1).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"), pick(1, id, 25).cast(IntegerType).as("c_nationkey"),
        round(unif(2, id) * 11000 - 1000, 2).as("c_acctbal"),
        oneOf(3, id, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment")),
      "supplier" -> rows(nS, 1).select(id.as("s_suppkey"), format_string("Supplier#%09d", id).as("s_name"),
        pick(4, id, 25).cast(IntegerType).as("s_nationkey"), round(unif(5, id) * 11000 - 1000, 2).as("s_acctbal")),
      "part" -> rows(nP, 1).select(id.as("p_partkey"),
        concat(oneOf(6, id, "large", "hot", "blue", "smooth", "pale"), lit(" "),
          oneOf(7, id, "ring", "bolt", "nut", "gear", "pipe")).as("p_name"),
        concat(lit("Brand#"), (pick(8, id, 25) + 1).cast(StringType)).as("p_brand"),
        oneOf(9, id, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD").as("p_type"),
        (pick(10, id, 50) + 1).cast(IntegerType).as("p_size"),
        round(lit(900.0) + pmod(id, lit(1000L)).cast(DoubleType) / 10, 1).as("p_retailprice")),
      "orders" -> rows(nO, 4).select(id.as("o_orderkey"), pick(11, id, nC).as("o_custkey"),
        oneOf(12, id, "F", "O", "P").as("o_orderstatus"), round(lit(1000.0) + unif(13, id) * 499000, 2).as("o_totalprice"),
        day("1995-01-01", 14, id, 2404).as("o_orderdate"),
        oneOf(15, id, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")),
      "lineitem" -> rows(nL, 4).select(pick(16, id, nO).as("l_orderkey"), pick(17, id, nP).as("l_partkey"),
        pick(18, id, nS).as("l_suppkey"), (pick(19, id, 7) + 1).cast(IntegerType).as("l_linenumber"),
        (pick(20, id, 50) + 1).cast(DoubleType).as("l_quantity"),
        round(lit(900.0) + unif(21, id) * 104100, 2).as("l_extendedprice"),
        (pick(22, id, 11).cast(DoubleType) / 100).as("l_discount"),
        (pick(23, id, 9).cast(DoubleType) / 100).as("l_tax"),
        oneOf(24, id, "A", "N", "R").as("l_returnflag"), oneOf(25, id, "F", "O").as("l_linestatus"),
        day("1995-01-02", 26, id, 2498).as("l_shipdate")),
      "events" -> rows(nE, 4).select(id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + pick(27, id, 30L * 86400 * 1000000))
          .cast(TimestampNTZType).as("ts"),
        pick(28, id, nUsers).as("user_id"),
        oneOf(29, id, "click", "error", "purchase", "signup", "view").as("event_type"),
        round(-log(lit(1.0) - unif(30, id)) * 50, 2).as("value"),
        concat(lit("{\"k\": "), pick(31, id, 100).cast(StringType), lit("}")).as("props")))
    val tmp = new File(dir.getParentFile, dir.getName + ".tmp")
    MikeTick.deleteTree(tmp)
    tables.foreach { case (name, df) => df.write.parquet(new File(tmp, s"$name.parquet").getAbsolutePath) }
    Files.createFile(new File(tmp, "_DONE").toPath)
    MikeTick.deleteTree(dir)
    Files.move(tmp.toPath, dir.toPath)
  }
}
