package graft

import java.nio.file.{Files, Path}

import graft.jobs.JobConfig

class JobConfigSpec extends SparkSpec {

  private def write(body: String): Path = {
    val f = Files.createTempDirectory("jobcfg").resolve("cfg.json")
    Files.writeString(f, body)
    f
  }

  private val sample = write(
    """{
      |  "s": "text", "empty": "", "i": 40, "neg": -3, "huge": 12345678901234567890,
      |  "d": 0.8, "d_int": 40.0, "d_small": 1e-5, "d_large": 2.5e20,
      |  "b": true, "f": false,
      |  "a": ["x", "y"],
      |  "o": {"en": 12, "de": 0.5, "zh": "7"},
      |  "oa": {"en": ["the", "a"], "de": ["der"]},
      |  "n": null
      |}""".stripMargin)

  test("values read as the Row-based Spark JSON reader gave them") {
    val cfg = JobConfig.read(spark, sample.toString)
    val row = spark.read.option("multiLine", true).json(sample.toString).first()
    def old(r: org.apache.spark.sql.Row, k: String) = r.get(r.fieldIndex(k)).toString
    for (k <- Seq("s", "empty", "i", "neg", "huge", "d", "d_int", "d_small",
        "d_large", "b", "f"))
      assert(cfg.opt(k).contains(old(row, k)), k)
    assert(cfg.str("i", "?") == "40" && cfg.req("d") == "0.8")
    assert(cfg.strSeq("a") == row.getSeq[String](row.fieldIndex("a")))
    val o = row.getStruct(row.fieldIndex("o"))
    assert(cfg.obj("o")(_.req(_)) == o.schema.fieldNames.map(k => k -> old(o, k)).toMap)
    val oa = row.getStruct(row.fieldIndex("oa"))
    assert(cfg.obj("oa")(_.strSeq(_)) ==
      oa.schema.fieldNames.map(k => k -> oa.getSeq[String](oa.fieldIndex(k))).toMap)
  }

  test("null and absent both mean not set; a required one names key and file") {
    val cfg = JobConfig.read(spark, sample.toString)
    for (k <- Seq("n", "absent")) {
      assert(cfg.opt(k).isEmpty && cfg.str(k, "dflt") == "dflt", k)
      assert(cfg.strSeq(k).isEmpty && cfg.obj(k)(_.req(_)).isEmpty, k)
      val e = intercept[IllegalArgumentException](cfg.req(k))
      assert(e.getMessage.contains(s"'$k'") && e.getMessage.contains(sample.toString))
    }
  }

  test("a file: URI reads like the bare path") {
    val cfg = JobConfig.read(spark, sample.toUri.toString)
    assert(sample.toUri.toString.startsWith("file:"))
    assert(cfg.req("s") == "text" && cfg.strSeq("a") == Seq("x", "y"))
  }

  test("a malformed file fails with an error naming the config path") {
    for (bad <- Seq("""{"a": 1,""", """[{"a": 1}]""", "")) {
      val p = write(bad).toString
      val e = intercept[IllegalArgumentException](JobConfig.read(spark, p))
      assert(e.getMessage.contains(p), s"$bad -> ${e.getMessage}")
    }
  }

  test("GraftSession: UTC, shuffle partitions = cores, nanosAsLong") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val s = GraftSession()
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == GraftSession.cores.toString)
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
