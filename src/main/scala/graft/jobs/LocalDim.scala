package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Dim-scale tables on the driver: the generators collect each dim once here
  * and hand `MikeJobs`' plan functions a local frame, plus what they need from
  * it as plain values — pivot keys, column orders — instead of letting a pivot
  * infer them from a second run of the data plan. */
object LocalDim {

  /** The most rows a dim may have: Spark's own `spark.sql.pivotMaxValues`
    * default, so a dim too large to pivot on fails here as loudly as an
    * inferred pivot would. */
  val MaxRows = 10000

  /** `dim` collected once and handed back as a local frame: plans that use it
    * read it from driver memory, and `column` reads of it start no Spark job.
    * More than `MaxRows` rows fails naming `source`: a mis-pointed config (a
    * series file given as a dim) must fail loudly, not pull a data-scale file
    * into the driver. */
  def apply(dim: DataFrame, source: String): DataFrame = {
    val rows = dim.limit(MaxRows + 1).collect()
    require(rows.length <= MaxRows,
      s"$source has more than $MaxRows rows — expected a dim-scale table; " +
        "is a series file pointed at it?")
    dim.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), dim.schema)
  }

  /** One string column of a local frame, in row order. */
  def column(dim: DataFrame, name: String): Seq[String] =
    dim.select(col(name)).collect().map(_.getString(0)).toSeq
}
