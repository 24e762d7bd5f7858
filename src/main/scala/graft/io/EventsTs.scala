package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** THE schema seam for the events table's time column.
  *
  * `events.parquet` has shipped with two physical encodings across testdata
  * generations:
  *   - parquet TIMESTAMP(NANOS) — Spark only reads it under
  *     `spark.sql.legacy.parquet.nanosAsLong`, as a nanos-epoch LONG;
  *   - plain `timestamp[us]` — Spark reads it as TIMESTAMP_NTZ.
  *
  * Every engine consumer normalizes through here to ONE canonical form — a
  * nanos-epoch long — so downstream integer time math (`ts div 1000`,
  * right-closed bucketing, gap windows) is encoding-independent. The DuckDB
  * oracle side needs no dial: `CAST(ts AS TIMESTAMP)` is valid for both
  * encodings there.
  *
  * Time-zone independence: the NTZ branch measures micros with
  * `timestampdiff(MICROSECOND, NTZ epoch, ts)` — pure NTZ arithmetic that never
  * consults `spark.sql.session.timeZone`, so the normalized epoch equals the
  * naive wall-clock epoch (what DuckDB's `CAST(ts AS TIMESTAMP)` yields) even on
  * a driver session that never pinned UTC. The LTZ branch uses `unix_micros`,
  * which is zone-independent by definition for an instant. The added projection
  * is a codegen'd map over the scan — column pruning still drops `ts` when
  * unused, and non-`ts` filter pushdown is unaffected, so the seam is free at
  * 100 TB.
  */
object EventsTs {

  /** Normalize `colName` to a nanos-epoch long, whatever the physical encoding.
    * No-op when the column is already a long (or absent). */
  def toNanosLong(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampNTZType) =>
        // Naive wall-clock -> micros since the naive epoch; no session-TZ read.
        df.withColumn(colName,
          expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', $colName)") * lit(1000L))
      case Some(_) =>
        // True instant (TIMESTAMP_LTZ): unix_micros is the stored epoch, exact
        // in every session zone.
        df.withColumn(colName,
          unix_micros(col(colName).cast("timestamp")) * lit(1000L))
    }

  /** Confs the events loaders need BEFORE touching the files: the legacy nanos
    * read (harmless for timestamp[us] data, required for TIMESTAMP(NANOS)) and a
    * pinned UTC session zone so every downstream timestamp/format function is
    * deterministic on driver sessions that preset nothing. Runtime-settable;
    * idempotent. */
  def prepareSession(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }
}
