package graft.jobs

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A CLI job's config file: one JSON object, parsed on the driver.
  *
  * The file is read through the Hadoop FileSystem of the session's
  * `hadoopConfiguration`, so `hdfs://`, `s3a://` and `file:` paths work as they
  * do for data. No Spark job runs for it: a Spark JSON read would cost two
  * (schema inference, then the row), pure scheduling latency in a multi-tick
  * driver.
  *
  * Values read as the text Spark's JSON reader gave them: a string as itself,
  * an integer as `40`, a double as `Double.toString` does, a boolean as
  * `true`/`false`. A key that is absent and a key that is `null` both mean
  * "not set". */
final class JobConfig private (path: String, root: JsonNode) {

  private def node(key: String): Option[JsonNode] =
    Option(root.get(key)).filterNot(_.isNull)

  private def text(key: String, n: JsonNode): String = {
    require(n.isValueNode,
      s"config $path: '$key' must be a string, number or boolean")
    n.asText
  }

  /** The value at `key`; None when absent or null. */
  def opt(key: String): Option[String] = node(key).map(text(key, _))

  def str(key: String, default: => String): String = opt(key).getOrElse(default)

  /** A key the job cannot run without. */
  def req(key: String): String = opt(key).getOrElse(
    throw new IllegalArgumentException(s"config $path: '$key' is required"))

  /** An array of values; empty when absent or null. */
  def strSeq(key: String): Seq[String] = node(key).fold(Seq.empty[String]) { n =>
    require(n.isArray, s"config $path: '$key' must be an array")
    n.elements.asScala.map(text(key, _)).toSeq
  }

  /** An object's entries, each read by `value(entries, key)`; empty when
    * absent or null. */
  def obj[A](key: String)(value: (JobConfig, String) => A): Map[String, A] =
    node(key).fold(Map.empty[String, A]) { n =>
      require(n.isObject, s"config $path: '$key' must be an object")
      val entries = new JobConfig(s"$path#$key", n)
      n.fieldNames.asScala.map(k => k -> value(entries, k)).toMap
    }
}

object JobConfig {

  // the two relaxations Spark's JSON reader allows by default, so every
  // config it accepted still parses
  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  def read(spark: SparkSession, path: String): JobConfig = {
    val root = try {
      val p = new Path(path)
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try mapper.readTree(in) finally in.close()
    } catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(
          s"config $path: ${e.getMessage}", e)
    }
    require(root != null && root.isObject,
      s"config $path: expected one JSON object")
    new JobConfig(path, root)
  }
}
