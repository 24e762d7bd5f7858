package graft

/** Driver-smoke probe: `SparkEntry.entry` must work on a session built the
  * way the DRIVER builds one — bare, with none of the test harness's confs
  * preset (in particular no `nanosAsLong`, which `SparkEntry.t` sets at
  * runtime). A zero-row or throwing entry fails the round's smoke gate, so
  * this probe is kept as a one-command local mirror of it. */
object EntryProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    // the driver's own session does not carry this engine convention
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
