package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every CLI job and tool main starts
  * here, so the session conventions cannot drift between them.
  *
  *  - master: `SPARK_MASTER`, else `local[cores]`;
  *  - shuffle partitions: `cores`;
  *  - session timezone UTC: the engine keeps naive wall-clock TIMESTAMP_NTZ
  *    end to end;
  *  - `spark.sql.legacy.parquet.nanosAsLong` on: TIMESTAMP(NANOS) parquet
  *    (the events table) is unreadable without it;
  *  - UI off; log level WARN.
  *
  * AQE is left at Spark's default (on). Under a harness that already holds a
  * session, `getOrCreate` returns that session with the SQL confs applied. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every processor the JVM may use. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
