package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Testdata-schema canary (r7 verdict item 2).
  *
  * The driver regenerates /root/testdata between rounds and has already flipped
  * a physical type once (events.ts: parquet TIMESTAMP(NANOS)-as-long →
  * timestamp[us], which broke 9 queries + 3 suites in r7). This suite pins every
  * physical-type assumption the engine hardcodes against the REAL testdata, so
  * the next silent regeneration fails HERE with a diagnosis naming the adaptive
  * seam, not as scattered analysis errors.
  */
class TestdataCanarySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  test("events.ts physical type is one the EventsTs seam supports") {
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    assert(
      tsType == LongType || tsType == TimestampNTZType || tsType == TimestampType,
      s"events.ts arrived as $tsType — a physical encoding graft.io.EventsTs.toNanosLong " +
        "does not normalize. Teach the seam (src/main/scala/graft/io/EventsTs.scala) the " +
        "new encoding; every time-series query flows through it.")
  }

  test("EventsTs normalizes the real events file to a canonical nanos long") {
    val df = graft.io.EventsTs.toNanosLong(spark.read.parquet(s"$dir/events.parquet"))
    assert(df.schema("ts").dataType == LongType,
      "EventsTs.toNanosLong must land every supported encoding on a nanos-epoch long")
    val Array(lo, hi) = df.agg(min("ts"), max("ts")).collect()(0).toSeq.toArray
      .map(_.asInstanceOf[Long])
    // sanity band: 2001-01-01 .. 2050-01-01 in nanos — catches a seconds-vs-nanos
    // or zone-shifted normalization without pinning data content
    assert(lo > 978307200L * 1000000000L && hi < 2524608000L * 1000000000L,
      s"normalized ts range [$lo, $hi] ns is outside any plausible epoch band — " +
        "the EventsTs normalization is mis-scaling or zone-shifting")
  }

  test("both ts encodings normalize to identical nanos (long vs TIMESTAMP_NTZ)") {
    // Synthesize the SAME instants in the legacy long encoding and the current
    // NTZ encoding; the seam must erase the difference bit-for-bit.
    val micros = Seq(0L, 1L, 1696118400000000L, 1696118400123456L, -1000000L)
    val asLong = spark.createDataFrame(
      spark.sparkContext.parallelize(micros.map(u => org.apache.spark.sql.Row(u * 1000L))),
      StructType(Seq(StructField("ts", LongType))))
    val asNtz = spark.createDataFrame(
      spark.sparkContext.parallelize(micros.map(u => org.apache.spark.sql.Row(u))),
      StructType(Seq(StructField("us", LongType))))
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    val a = graft.io.EventsTs.toNanosLong(asLong).orderBy("ts").collect().map(_.getLong(0))
    val b = graft.io.EventsTs.toNanosLong(asNtz).orderBy("ts").collect().map(_.getLong(0))
    assert(a.sameElements(b), s"encodings disagree: ${a.toSeq} vs ${b.toSeq}")
  }

  test("NTZ normalization is session-time-zone independent") {
    // The r8 ADVICE medium: on a driver JVM not pinned to UTC, the NTZ→nanos
    // conversion must not shift by the zone offset. Flip the session zone,
    // normalize, flip back, compare.
    val ntz = spark.sql(
      "SELECT TIMESTAMP_NTZ '2023-10-01 00:00:00.123456' AS ts")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    val utc = graft.io.EventsTs.toNanosLong(ntz).collect()(0).getLong(0)
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Colombo")
      val colombo = graft.io.EventsTs.toNanosLong(ntz).collect()(0).getLong(0)
      assert(utc == colombo,
        s"NTZ normalization read the session zone: UTC=$utc vs Asia/Colombo=$colombo")
      assert(utc == 1696118400123456L * 1000L)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("documents / embeddings columns the engine hardcodes keep their types") {
    val doc = spark.read.parquet(s"$dir/documents.parquet").schema
    assert(doc("doc_id").dataType == LongType, "documents.doc_id must stay long")
    assert(doc("text").dataType == StringType, "documents.text must stay string")
    assert(doc("lang").dataType == StringType, "documents.lang must stay string")
    assert(doc("source").dataType == StringType, "documents.source must stay string")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").schema
    assert(emb("vec_id").dataType == LongType, "embeddings.vec_id must stay long")
    assert(emb("embedding").dataType == ArrayType(FloatType, containsNull = true) ||
      emb("embedding").dataType == ArrayType(FloatType, containsNull = false),
      s"embeddings.embedding arrived as ${emb("embedding").dataType} — Similarity/Dedup " +
        "assume array<float>; adapt at the loader if the element type changes")
    assert(emb("label").dataType == IntegerType || emb("label").dataType == LongType,
      "embeddings.label must stay integral")
  }

  test("driver smoke: entry() works on a session with hostile conf presets") {
    // The driver builds its own bare session: no nanosAsLong, no UTC pin.
    // Simulate worse than bare — actively wrong presets — and require the
    // loader seam (EventsTs.prepareSession inside SparkEntry.t) to fix both
    // at runtime before touching the files.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    s2.conf.set("spark.sql.session.timeZone", "Asia/Colombo")
    assert(SparkEntry.entry(s2).count() > 0)
    assert(s2.conf.get("spark.sql.session.timeZone") == "UTC",
      "the loader must pin UTC so timestamp functions match the oracle")
  }

  test("events non-ts columns keep their types") {
    val ev = spark.read.parquet(s"$dir/events.parquet").schema
    assert(ev("event_id").dataType == LongType)
    assert(ev("user_id").dataType == LongType)
    assert(ev("event_type").dataType == StringType)
    assert(ev("value").dataType == DoubleType)
    assert(ev("props").dataType == StringType)
  }
}
