package graft.io

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV source/sink conventions of the MIKE interchange formats (SURVEY.md §2.1).
  *
  * The reference exchanges three CSV shapes with the MIKE host over NFS:
  *  - wide matrix with header + time index (rainfall input / MIKE results;
  *    ref: inputs/gen_mike_input_rf_linux.py:276, outputs/extract_water_level.py:247-248)
  *  - headerless `time,value` series (discharge/tide inputs;
  *    ref: inputs/gen_mike_input_dis_linux.py:189, inputs/gen_mike_input_tide_linux.py:187)
  * MIKE consumes ONE time-ordered file, so the sinks honor a single-ordered-file
  * contract (SURVEY.md §7.4.8): `coalesce(1).sortWithinPartitions(time)` — one
  * partition sorted in place, without the range-partitioning sample job a global
  * `orderBy` starts. That is a deliberate sequential tail on an otherwise
  * distributed plan — acceptable because these files are model-interchange
  * artifacts (hundreds of rows), never the 100 TB data path.
  */
object MikeCsv {

  val TimeFmt = "yyyy-MM-dd HH:mm:ss"

  /** S2: read a wide MIKE result matrix — first column is the time stamp, every other
    * column a station (double). Header row defines the station set dynamically,
    * exactly like the reference's first-row-as-columns load (SURVEY.md §1.3).
    * The header is read on the driver and parsed by Spark's own CSV parser, so
    * the read starts no Spark job of its own. */
  def readWideCsv(spark: SparkSession, path: String,
                  timeCol: String = "time"): DataFrame = {
    import spark.implicits._
    // a one-line local Dataset: Spark names the columns (quotes, duplicates,
    // blanks) as for a file, without a job
    val names = spark.read.option("header", true)
      .csv(Seq(headerLine(spark, path)).toDS()).columns
    val raw = spark.read.option("header", true)
      .schema(StructType(names.map(StructField(_, StringType)))).csv(path)
    val srcTime = names.head
    val stations = names.tail
    raw.select(
      to_timestamp(col(srcTime), TimeFmt).cast("timestamp_ntz").as(timeCol) +:
        stations.map(s => col(s).cast(DoubleType).as(s)): _*)
  }

  /** The first non-blank line of `path`, or of the first file in name order in
    * it when it is a directory (`_`- and `.`-prefixed files are skipped, as
    * Spark's file listing skips them). A leading UTF-8 byte order mark is
    * dropped, as Hadoop's line reader drops it. */
  private def headerLine(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = if (fs.getFileStatus(p).isFile) p else
      fs.listStatus(p).filter(_.isFile).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .sortBy(_.getName).headOption
        .getOrElse(throw new IllegalArgumentException(s"no data file in $path"))
    val in = new BufferedReader(new InputStreamReader(fs.open(file), UTF_8))
    try {
      in.mark(1)
      if (in.read() != '\uFEFF') in.reset()
      Iterator.continually(in.readLine()).takeWhile(_ != null).find(_.trim.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(s"no header line in $file"))
    } finally in.close()
  }

  /** S1: plain header CSV with an explicit schema (dims / coefficient tables). */
  def readDimCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", true).schema(schema).csv(path)

  /** S9: wide matrix sink, header + formatted time index, single ordered file. */
  def writeWideCsv(df: DataFrame, path: String, timeCol: String = "time"): Unit =
    df.coalesce(1).sortWithinPartitions(col(timeCol))
      .withColumn(timeCol, date_format(col(timeCol), TimeFmt))
      .write.mode("overwrite").option("header", true)
      .option("emptyValue", "").csv(path)

  /** S10: headerless `time,value` series sink (discharge/tide inputs). */
  def writeHeaderlessSeries(df: DataFrame, path: String, timeCol: String = "time",
                            valueCol: String = "value"): Unit =
    df.coalesce(1).sortWithinPartitions(col(timeCol))
      .select(date_format(col(timeCol), TimeFmt), col(valueCol))
      .write.mode("overwrite").option("header", false)
      .option("emptyValue", "").csv(path)

  /** Read back a headerless `time,value` series. */
  def readHeaderlessSeries(spark: SparkSession, path: String,
                           timeCol: String = "time",
                           valueCol: String = "value"): DataFrame =
    spark.read.schema(StructType(Seq(
        StructField("_c0", StringType), StructField("_c1", DoubleType))))
      .csv(path)
      .select(to_timestamp(col("_c0"), TimeFmt).cast("timestamp_ntz").as(timeCol),
        col("_c1").as(valueCol))
}
