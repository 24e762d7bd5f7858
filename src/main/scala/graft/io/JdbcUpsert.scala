package graft.io

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC upsert + dimension get-or-create sinks (SURVEY.md S11/S12).
  *
  * Plain `.write.jdbc` has no upsert mode, so the fact sink is a `foreachPartition`
  * writer: each partition opens one connection, executes batched upsert statements,
  * and commits — executor-side, no driver round-trips, so write throughput scales
  * with the number of partitions. Idempotent by construction: re-running a tick with
  * the same `(tms_id, time, fgt)` keys overwrites identical values
  * (ref semantics: outputs/extract_water_level.py:96-97, `insert_data(..., upsert=True)`).
  *
  * The URL picks the statement shape. A `jdbc:mysql:` or `jdbc:mariadb:` URL (the
  * reference's warehouse, ref: requirements.txt:6 PyMySQL) gets a single-statement
  * `INSERT ... ON DUPLICATE KEY UPDATE` batch. Every other URL gets UPDATE, then
  * INSERT when no row matched: any ANSI JDBC target takes it, Derby included
  * (Derby's MERGE cannot take a VALUES source). */
object JdbcUpsert {

  private def isMySql(url: String): Boolean =
    url.startsWith("jdbc:mysql:") || url.startsWith("jdbc:mariadb:")

  private def mysqlSql(table: String, cols: Seq[String], keyCols: Seq[String]) = {
    val updates = cols.filterNot(keyCols.contains)
      .map(c => s"$c = VALUES($c)").mkString(", ")
    s"""INSERT INTO $table (${cols.mkString(", ")})
       |VALUES (${cols.map(_ => "?").mkString(", ")})
       |ON DUPLICATE KEY UPDATE $updates""".stripMargin
  }

  private def updateSql(table: String, cols: Seq[String], keyCols: Seq[String]) = {
    val sets = cols.filterNot(keyCols.contains).map(c => s"$c = ?").mkString(", ")
    val where = keyCols.map(c => s"$c = ?").mkString(" AND ")
    s"UPDATE $table SET $sets WHERE $where"
  }

  private def insertSql(table: String, cols: Seq[String]) =
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"

  private def jdbcValue(v: Any): AnyRef = (v match {
    case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t)
    case t: java.time.Instant => java.sql.Timestamp.from(t)
    case other => other
  }).asInstanceOf[AnyRef]

  private def bind(ps: java.sql.PreparedStatement, row: Row,
                   fields: Seq[String], schema: Seq[String]): Unit =
    fields.zipWithIndex.foreach { case (f, i) =>
      ps.setObject(i + 1, jdbcValue(row.get(schema.indexOf(f))))
    }

  /** S11: batched fact upsert keyed `keyCols`. One connection per partition;
    * `batchSize` bounds buffered statements. Returns the number of rows written,
    * counted inside the writer via a LongAccumulator — the plan executes ONCE
    * (callers must not re-count with a second action; at 100× a re-run of the
    * CSV→unpivot→join pipeline doubles the job). */
  def upsert(df: DataFrame, url: String, table: String, keyCols: Seq[String],
             batchSize: Int = 1000): Long = {
    val cols = df.columns.toSeq
    val nonKeys = cols.filterNot(keyCols.contains)
    val written = df.sparkSession.sparkContext.longAccumulator("graft.upserted")
    if (isMySql(url)) {
      val sql = mysqlSql(table, cols, keyCols)
      df.foreachPartition { (rows: Iterator[Row]) =>
        if (rows.nonEmpty) {
          val conn = DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            val ps = conn.prepareStatement(sql)
            var n = 0
            rows.foreach { r =>
              bind(ps, r, cols, cols); ps.addBatch(); n += 1; written.add(1L)
              if (n % batchSize == 0) ps.executeBatch()
            }
            ps.executeBatch()
            conn.commit()
          } finally conn.close()
        }
      }
    } else {
      val uSql = updateSql(table, cols, keyCols)
      val iSql = insertSql(table, cols)
      df.foreachPartition { (rows: Iterator[Row]) =>
        if (rows.nonEmpty) {
          val conn = DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            val up = conn.prepareStatement(uSql)
            val ins = conn.prepareStatement(iSql)
            var n = 0
            rows.foreach { r =>
              bind(up, r, nonKeys ++ keyCols, cols)
              written.add(1L)
              if (up.executeUpdate() == 0) {
                bind(ins, r, cols, cols); ins.addBatch(); n += 1
                if (n % batchSize == 0) ins.executeBatch()
              }
            }
            ins.executeBatch()
            conn.commit()
          } finally conn.close()
        }
      }
    }
    written.value
  }

  /** S12: idempotent dimension get-or-create — insert the key-rows that do not yet
    * exist (left-anti join against the current dim), then return the full dim.
    * Ids are deterministic content hashes (TimeSeriesOps.seriesId), so concurrent
    * writers converge on identical rows without an id-allocator; the upsert makes
    * the race a benign overwrite-with-equal-values. */
  def getOrCreateDim(spark: SparkSession, candidates: DataFrame, url: String,
                     table: String, keyCols: Seq[String]): DataFrame = {
    val existing = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()
    val missing = candidates.join(existing.select(keyCols.map(col): _*),
      keyCols, "left_anti")
    upsert(missing, url, table, keyCols)
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
  }

  /** T5: run-dimension bookkeeping — the reference's `insert_run` /
    * `update_start_date` / `update_latest_fgt` triple
    * (ref: outputs/extract_water_level.py:90-97): a new series gets a run row with
    * `start_date = fgt` ONCE, at creation; every tick advances `latest_fgt` for all
    * series it touched. This is what lets the warehouse answer "latest forecast for
    * series X" without scanning facts.
    *
    * `runs` carries one row per tms_id plus whatever metadata columns the run table
    * holds (sim_tag, source_id, ...); it is dim-sized (thousands of rows at most),
    * so both passes are trivially cheap next to the fact upsert. */
  def maintainRuns(spark: SparkSession, runs: DataFrame, url: String, table: String,
                   fgt: String): Unit = {
    val fgtTs = lit(fgt).cast("timestamp_ntz")
    val existing = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load().select("tms_id")
    // insert_run + update_start_date: only for series not yet registered
    val missing = runs.join(existing, Seq("tms_id"), "left_anti")
      .withColumn("start_date", fgtTs)
      .withColumn("latest_fgt", fgtTs)
    upsert(missing, url, table, Seq("tms_id"))
    // update_latest_fgt: every tick, all touched series (start_date untouched —
    // the 2-column frame updates only latest_fgt)
    val tick = runs.select(col("tms_id")).withColumn("latest_fgt", fgtTs)
    upsert(tick, url, table, Seq("tms_id"))
  }
}
