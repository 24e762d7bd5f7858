package graft.io

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, Statement}

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
  * Dims and run rows are dim-sized: the same row writer (`writeRows`) writes them
  * on the driver over one connection, and a local candidate frame starts no Spark
  * job at all.
  *
  * The URL picks the statement shape. A `jdbc:mysql:` or `jdbc:mariadb:` URL (the
  * reference's warehouse, ref: requirements.txt:6 PyMySQL) gets a single-statement
  * `INSERT ... ON DUPLICATE KEY UPDATE` batch. Every other URL gets a batch of
  * UPDATEs, then a batch of INSERTs for the rows no UPDATE matched: any ANSI JDBC
  * target takes it, Derby included (Derby's MERGE cannot take a VALUES source). */
object JdbcUpsert {

  private val BatchSize = 1000

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

  private def bind(ps: PreparedStatement, row: Row, fields: Seq[String],
                   schema: Seq[String]): Unit =
    fields.zipWithIndex.foreach { case (f, i) =>
      ps.setObject(i + 1, jdbcValue(row.get(schema.indexOf(f))))
    }

  /** The one row writer, run inside each partition of `upsert` and on the
    * driver for dims and runs: upserts `rows` (values in `cols` order) keyed
    * `keyCols` over `conn`, `batchSize` statements per round trip, and returns
    * the number of rows written. The caller owns `conn` and commits. A MySQL URL
    * batches ON DUPLICATE KEY statements; every other URL batches the UPDATEs,
    * then batch-INSERTs the rows whose update count is 0. A driver that reports
    * SUCCESS_NO_INFO leaves that count unknown, so it fails rather than
    * guessing. */
  private def writeRows(conn: Connection, url: String, table: String, cols: Seq[String],
                        keyCols: Seq[String], rows: Iterator[Row], batchSize: Int): Long = {
    var n = 0L
    if (isMySql(url)) {
      val ps = conn.prepareStatement(mysqlSql(table, cols, keyCols))
      rows.grouped(batchSize).foreach { chunk =>
        chunk.foreach { r => bind(ps, r, cols, cols); ps.addBatch() }
        ps.executeBatch(); n += chunk.size
      }
    } else {
      val up = conn.prepareStatement(updateSql(table, cols, keyCols))
      val ins = conn.prepareStatement(insertSql(table, cols))
      val setThenKeys = cols.filterNot(keyCols.contains) ++ keyCols
      rows.grouped(batchSize).foreach { chunk =>
        chunk.foreach { r => bind(up, r, setThenKeys, cols); up.addBatch() }
        chunk.iterator.zip(up.executeBatch().iterator).foreach {
          case (_, Statement.SUCCESS_NO_INFO) => throw new SQLException(
            s"$table: the JDBC driver gave no update count for a batched UPDATE, " +
              "so the rows to INSERT are unknown")
          case (r, 0) => bind(ins, r, cols, cols); ins.addBatch()
          case _ =>
        }
        ins.executeBatch(); n += chunk.size
      }
    }
    n
  }

  /** One connection to `url` for `body`, committed when `body` returns. */
  private def withConnection[A](url: String)(body: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val a = body(conn)
      conn.commit()
      a
    } finally conn.close()
  }

  /** S11: batched fact upsert keyed `keyCols`. One connection per partition;
    * `batchSize` bounds buffered statements. Returns the number of rows written,
    * counted inside the writer via a LongAccumulator — the plan executes ONCE
    * (callers must not re-count with a second action; at 100× a re-run of the
    * CSV→unpivot→join pipeline doubles the job). */
  def upsert(df: DataFrame, url: String, table: String, keyCols: Seq[String],
             batchSize: Int = BatchSize): Long = {
    val cols = df.columns.toSeq
    val written = df.sparkSession.sparkContext.longAccumulator("graft.upserted")
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) written.add(withConnection(url)(
        writeRows(_, url, table, cols, keyCols, rows, batchSize)))
    }
    written.value
  }

  /** The key tuples `table` already holds, read over plain JDBC (dim-scale). */
  private def existingKeys(conn: Connection, table: String,
                           keyCols: Seq[String]): Set[Seq[AnyRef]] = {
    val rs = conn.createStatement()
      .executeQuery(s"SELECT ${keyCols.mkString(", ")} FROM $table")
    val keys = Set.newBuilder[Seq[AnyRef]]
    while (rs.next()) keys += keyCols.indices.map(i => rs.getObject(i + 1))
    keys.result()
  }

  /** Upserts the `rows` of `frame` whose key `table` lacks — on the driver, over
    * one connection: `frame` is dim-sized, and a local one (config constants,
    * a collected dim) collects without starting a Spark job. */
  private def insertMissing(conn: Connection, url: String, table: String,
                            frame: DataFrame, keyCols: Seq[String]): Unit = {
    val cols = frame.columns.toSeq
    val known = existingKeys(conn, table, keyCols)
    val missing = frame.collect().iterator.filterNot(r =>
      known(keyCols.map(k => jdbcValue(r.get(cols.indexOf(k))))))
    writeRows(conn, url, table, cols, keyCols, missing, BatchSize)
  }

  /** S12: idempotent dimension get-or-create — insert the key-rows that do not yet
    * exist, then return the full dim as a lazy JDBC frame. The candidates are
    * collected and written on the driver over plain JDBC (dims are small; no
    * Spark job beyond reading a non-local candidate frame). Ids are deterministic
    * content hashes (TimeSeriesOps.seriesId), so concurrent writers converge on
    * identical rows without an id-allocator; the upsert makes the race a benign
    * overwrite-with-equal-values. */
  def getOrCreateDim(spark: SparkSession, candidates: DataFrame, url: String,
                     table: String, keyCols: Seq[String]): DataFrame = {
    withConnection(url)(insertMissing(_, url, table, candidates, keyCols))
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
    * so both passes run on the driver over one JDBC connection. */
  def maintainRuns(runs: DataFrame, url: String, table: String, fgt: String): Unit = {
    val fgtTs = lit(fgt).cast("timestamp_ntz")
    // insert_run + update_start_date: only for series not yet registered
    val fresh = runs.withColumn("start_date", fgtTs).withColumn("latest_fgt", fgtTs)
    // update_latest_fgt: every tick, all touched series (start_date untouched —
    // the 2-column frame updates only latest_fgt)
    val tick = runs.select(col("tms_id")).withColumn("latest_fgt", fgtTs)
    withConnection(url) { conn =>
      insertMissing(conn, url, table, fresh, Seq("tms_id"))
      writeRows(conn, url, table, tick.columns.toSeq, Seq("tms_id"),
        tick.collect().iterator, BatchSize)
    }
  }
}
