package graft

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.time.temporal.ChronoUnit

import graft.jobs.Maintenance
import org.apache.spark.sql.SparkSession

class ExtensionsMaintenanceSpec extends SparkSpec {

  test("GraftExtensions: native functions available from plain SQL") {
    // getOrCreate would return the suite's session (extensions ignored) — clear the
    // default so a genuinely new session is built with the extensions installed,
    // then restore the suite session afterwards
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      runExtensionChecks(s2)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private def runExtensionChecks(s2: SparkSession): Unit = {
    val r = s2.sql(
      """SELECT rolling_hash64('abc') AS h,
        |  sorted_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS i,
        |  minhash_signature(array(7L), 4) AS sig,
        |  sorted_hashed_shingles('a b c', 2) AS sh,
        |  simhash64('a b c') AS sim,
        |  text_stats('a b a').n_distinct_words AS ndw""".stripMargin)
      .collect().head
    assert(r.getSeq[Long](3).length == 2) // "a b", "b c"
    assert(r.getLong(0) == graft.functions.RollingHash64.hashBytes("abc".getBytes("UTF-8")))
    assert(r.getLong(1) == 2L)
    val expected = (0 until 4).map(i => graft.functions.MinHashSketch.mix(
      7L ^ graft.functions.MinHashSketch.seed(i)))
    assert(r.getSeq[Long](2) == expected)
    assert(r.getLong(4) ==
      graft.functions.SimHash64Expr.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b c")).longValue())
    assert(r.getLong(5) == 2L)
    // crawl kernels injected by the extensions
    val u = s2.sql(
      """SELECT url_normalize('HTTP://Ex.COM:80/a?utm_source=x&q=1#f') AS un,
        |  url_host('https://A.example.com:8443/x') AS uh,
        |  url_resolve('https://h.test/a/b/c.html', '../up.html') AS ur,
        |  extract_links('<a href="https://t.test/x?p=1&amp;q=2">go</a>') AS el,
        |  html_to_text('<p>a &amp; b</p><script>var x;</script>') AS ht
        |""".stripMargin).collect().head
    assert(u.getString(4) == "a & b")
    val rv = s2.sql(
      """SELECT robots_allowed('/private/x',
        |  transform(r, x -> x.pattern), transform(r, x -> x.allow)) AS v
        |FROM (SELECT robots_rules(
        |  concat('User-agent: *', chr(10), 'Disallow: /private'),
        |  'anybot') AS r)""".stripMargin).collect().head
    assert(!rv.getBoolean(0))
    assert(u.getString(0) == "http://ex.com/a?q=1")
    assert(u.getString(1) == "a.example.com")
    assert(u.getString(2) == "https://h.test/a/up.html")
    val link = u.getSeq[org.apache.spark.sql.Row](3).head
    assert(link.getString(0) == "https://t.test/x?p=1&q=2" &&
      link.getString(1) == "go")
    // aggregate functions injected by the extensions
    val agg = s2.sql(
      """SELECT g,
        |  topk_struct(struct(v, id, v), 2) AS top,
        |  vector_sum(arr) AS vs
        |FROM VALUES ('a', 5L, 1L, array(1L, 2L)),
        |            ('a', 9L, 2L, array(10L, 20L)),
        |            ('a', 7L, 3L, array(100L, 200L)) AS t(g, v, id, arr)
        |GROUP BY g""".stripMargin).collect().head
    val top = agg.getSeq[org.apache.spark.sql.Row](1)
    assert(top.map(_.getLong(0)) == Seq(9L, 7L)) // best two by v desc
    assert(agg.getSeq[Long](2) == Seq(111L, 222L))
  }

  test("S13 idempotence gate: second tick skips") {
    val dir = Files.createTempDirectory("gate").toString
    val out = s"$dir/RF_2024.csv"
    var runs = 0
    assert(Maintenance.runIdempotent(out) { Files.writeString(Paths.get(out), "x"); runs += 1 })
    assert(!Maintenance.runIdempotent(out) { runs += 1 })
    assert(runs == 1)
  }

  test("S13 idempotence gate: a Spark write that failed in a task re-runs") {
    import org.apache.spark.sql.functions.{col, lit, udf}
    val out = Files.createTempDirectory("gate-crash").toString + "/tide.csv"
    def series(failAt: Long) = {
      val value = udf { (id: Long) =>
        if (id == failAt) throw new IllegalStateException("task failure")
        id.toDouble
      }
      spark.range(4).select(
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("time"),
        value(col("id")).as("value"))
    }
    val success = Paths.get(out, "_SUCCESS")
    // the plan runs inside the write, which has already made the directory
    intercept[Exception] {
      Maintenance.runIdempotent(out) {
        graft.io.MikeCsv.writeHeaderlessSeries(series(failAt = 2L), out)
      }
    }
    assert(Files.isDirectory(Paths.get(out)) && !Files.exists(success))
    var runs = 0
    assert(Maintenance.runIdempotent(out) {
      graft.io.MikeCsv.writeHeaderlessSeries(series(failAt = -1L), out)
      runs += 1
    })
    assert(Files.exists(success))
    assert(graft.io.MikeCsv.readHeaderlessSeries(spark, out).count() == 4L)
    assert(!Maintenance.runIdempotent(out) { runs += 1 })
    assert(runs == 1)
  }

  test("gates default to the ACTIVE session's Hadoop conf, not a bare one") {
    // jobs configure remote-FS credentials/endpoints via spark.hadoop.*,
    // which land in the session's hadoopConfiguration — a default-arg
    // `new Configuration()` would miss them and break the very hdfs/s3a
    // gating this API exists for. Default args evaluate at call time, so
    // the running session is always the one consulted.
    assert(Maintenance.sessionConf() eq spark.sparkContext.hadoopConfiguration)
  }

  test("S14 TTL retention deletes only expired artifacts") {
    val dir = Files.createTempDirectory("flush")
    val old = dir.resolve("old.csv"); val fresh = dir.resolve("fresh.csv")
    Files.writeString(old, "o"); Files.writeString(fresh, "f")
    Files.setLastModifiedTime(old, java.nio.file.attribute.FileTime.from(
      Instant.now().minus(61, ChronoUnit.DAYS)))
    val deleted = Maintenance.flushOlderThan(dir.toString, 60)
    assert(deleted.map(_.getName) == Seq("old.csv"))
    assert(!Files.exists(old) && Files.exists(fresh))
  }
}
