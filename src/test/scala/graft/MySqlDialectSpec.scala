package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, PreparedStatement}

import scala.collection.mutable

import graft.io.JdbcUpsert

/** Executes the MySQL `INSERT ... ON DUPLICATE KEY UPDATE` upsert branch END
  * TO END — the one dialect no test engine here speaks (no MySQL, no H2;
  * Derby runs the update-insert path).
  *
  * The target is a minimal in-JVM JDBC driver (`MiniMysql`) for `jdbc:mysql:`
  * and `jdbc:mariadb:` URLs — the URLs that select the branch — whose prepared
  * statements PARSE the exact statement text the dialect emits and apply
  * MySQL's documented upsert semantics to a keyed in-memory table: insert
  * when the primary key is absent, otherwise apply each `col = VALUES(col)`
  * assignment from the incoming row. The parser is deliberately strict — a
  * statement shape it does not recognize throws instead of passing — so any
  * drift in the generated SQL fails the suite rather than hiding behind the
  * fake. What this cannot vouch for is MySQL's own parser quirks; the text
  * itself mirrors the reference's PyMySQL usage
  * (ref: outputs/extract_water_level.py:96-97). */
object MiniMysql {

  final class Table(val cols: Seq[String], val keyCols: Seq[String]) {
    val rows: mutable.LinkedHashMap[Seq[Any], mutable.ArrayBuffer[Any]] =
      mutable.LinkedHashMap.empty
  }

  private val dbs = mutable.Map.empty[String, mutable.Map[String, Table]]
  val preparedTexts: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def createTable(db: String, name: String, cols: Seq[String],
                  keyCols: Seq[String]): Unit = synchronized {
    dbs.getOrElseUpdate(db, mutable.Map.empty)
      .put(name, new Table(cols, keyCols))
  }

  def tableRows(db: String, name: String): Seq[Seq[Any]] = synchronized {
    dbs(db)(name).rows.values.map(_.toSeq).toSeq
  }

  private val UpsertShape =
    """(?s)INSERT INTO (\w+) \(([\w, ]+)\)\s*VALUES \(([?, ]+)\)\s*ON DUPLICATE KEY UPDATE (.+)""".r

  /** Parse-once executable form of one upsert statement. */
  private final class Upsert(db: String, sql: String) {
    val (table, insertCols, updateCols) = sql.trim match {
      case UpsertShape(tname, colsS, qs, updS) =>
        val cols = colsS.split(",").map(_.trim).toSeq
        require(qs.split(",").map(_.trim).toSeq == cols.map(_ => "?"),
          s"placeholder count must match columns: $sql")
        val ups = updS.split(",").map(_.trim).toSeq.map {
          case s if s.matches("(\\w+) = VALUES\\(\\1\\)") =>
            s.takeWhile(_ != ' ')
          case other => sys.error(s"unsupported assignment '$other' in: $sql")
        }
        (tname, cols, ups)
      case other => sys.error(s"not a MySQL upsert statement: $other")
    }
    private val t = MiniMysql.synchronized(dbs(db)(table))
    require(insertCols.sorted == t.cols.sorted,
      s"column set mismatch: $insertCols vs table ${t.cols}")
    require(updateCols.sorted ==
      t.cols.filterNot(t.keyCols.contains).sorted,
      s"update set must be exactly the non-key columns, got $updateCols")

    def apply(params: Array[Any]): Unit = t.synchronized {
      val byCol = insertCols.zip(params).toMap
      val key = t.keyCols.map(byCol)
      t.rows.get(key) match {
        case Some(existing) =>
          updateCols.foreach { c =>
            existing(t.cols.indexOf(c)) = byCol(c)
          }
        case None =>
          t.rows.put(key, mutable.ArrayBuffer(t.cols.map(byCol): _*))
      }
    }
  }

  private def ps(db: String, sql: String): PreparedStatement = {
    MiniMysql.synchronized(preparedTexts += sql)
    val upsert = new Upsert(db, sql)
    val params = mutable.Map.empty[Int, Any]
    val batch = mutable.ArrayBuffer.empty[Array[Any]]
    def currentParams: Array[Any] = {
      val n = if (params.isEmpty) 0 else params.keys.max
      Array.tabulate(n)(i => params.getOrElse(i + 1, null))
    }
    val h = new InvocationHandler {
      def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "setObject" =>
            params(args(0).asInstanceOf[Integer].intValue()) = args(1); null
          case "addBatch" => batch += currentParams; params.clear(); null
          case "executeBatch" =>
            val res = Array.fill(batch.size)(1)
            batch.foreach(upsert.apply); batch.clear(); res
          case "executeUpdate" => upsert.apply(currentParams); Integer.valueOf(1)
          case "close" | "clearBatch" | "clearParameters" => null
          case "isClosed" => java.lang.Boolean.FALSE
          case other => sys.error(s"MiniMysql PreparedStatement.$other unsupported")
        }
    }
    Proxy.newProxyInstance(classOf[PreparedStatement].getClassLoader,
      Array(classOf[PreparedStatement]), h).asInstanceOf[PreparedStatement]
  }

  private def connection(db: String): Connection = {
    val h = new InvocationHandler {
      def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "prepareStatement" => ps(db, args(0).asInstanceOf[String])
          case "setAutoCommit" | "commit" | "rollback" | "close" => null
          case "isClosed" => java.lang.Boolean.FALSE
          case "getAutoCommit" => java.lang.Boolean.FALSE
          case other => sys.error(s"MiniMysql Connection.$other unsupported")
        }
    }
    Proxy.newProxyInstance(classOf[Connection].getClassLoader,
      Array(classOf[Connection]), h).asInstanceOf[Connection]
  }

  private val Prefixes = Seq("jdbc:mysql:", "jdbc:mariadb:")

  /** The database is the URL's last path segment:
    * `jdbc:mysql://localhost/warehouse` → `warehouse`. */
  object MiniDriver extends Driver {
    override def connect(url: String, info: java.util.Properties): Connection =
      if (acceptsURL(url)) connection(url.substring(url.lastIndexOf('/') + 1))
      else null
    override def acceptsURL(url: String): Boolean =
      Prefixes.exists(url.startsWith)
    override def getPropertyInfo(url: String, info: java.util.Properties) =
      Array.empty[java.sql.DriverPropertyInfo]
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger: java.util.logging.Logger =
      throw new java.sql.SQLFeatureNotSupportedException()
  }

  @volatile private var registered = false
  def register(): Unit = synchronized {
    if (!registered) { DriverManager.registerDriver(MiniDriver); registered = true }
  }
}

/** A driver for `jdbc:noinfo:` URLs whose batches answer every statement with
  * `Statement.SUCCESS_NO_INFO`, as the JDBC spec lets a driver do: it takes any
  * statement text and stores nothing. */
object NoInfoDriver extends Driver {
  private def proxy[A](cls: Class[A])(f: (String, Array[AnyRef]) => AnyRef): A =
    Proxy.newProxyInstance(cls.getClassLoader, Array(cls), new InvocationHandler {
      def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = f(m.getName, args)
    }).asInstanceOf[A]

  private def statement(): PreparedStatement = {
    var batched = 0
    proxy(classOf[PreparedStatement]) {
      case ("addBatch", _) => batched += 1; null
      case ("executeBatch", _) =>
        val res = Array.fill(batched)(java.sql.Statement.SUCCESS_NO_INFO)
        batched = 0; res
      case ("setObject" | "clearParameters" | "close", _) => null
      case (other, _) => sys.error(s"NoInfoDriver PreparedStatement.$other unsupported")
    }
  }

  override def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else proxy(classOf[Connection]) {
      case ("prepareStatement", _) => statement()
      case ("setAutoCommit" | "commit" | "rollback" | "close", _) => null
      case (other, _) => sys.error(s"NoInfoDriver Connection.$other unsupported")
    }
  override def acceptsURL(url: String): Boolean = url.startsWith("jdbc:noinfo:")
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()

  @volatile private var registered = false
  def register(): Unit = synchronized {
    if (!registered) { DriverManager.registerDriver(this); registered = true }
  }
}

class MySqlDialectSpec extends SparkSpec {
  import spark.implicits._

  test("MySQL upsert dialect executes end to end: insert, conflict-update, " +
    "idempotent re-run — against MySQL ON DUPLICATE KEY semantics") {
    MiniMysql.register()
    val url = "jdbc:mysql://localhost/warehouse"
    MiniMysql.createTable("warehouse", "facts",
      cols = Seq("tms_id", "t", "v"), keyCols = Seq("tms_id", "t"))
    // 3 partitions: exercises one-connection-per-partition plus the empty
    // partition guard on a 2-row frame
    val df1 = Seq(("a", 1, 1.0), ("a", 2, 2.0)).toDF("tms_id", "t", "v")
      .repartition(3)
    assert(JdbcUpsert.upsert(df1, url, "facts", Seq("tms_id", "t")) == 2L)
    def state(): Set[(String, Int, Double)] =
      MiniMysql.tableRows("warehouse", "facts")
        .map(r => (r(0).asInstanceOf[String],
          r(1).asInstanceOf[Number].intValue(),
          r(2).asInstanceOf[Number].doubleValue())).toSet
    assert(state() === Set(("a", 1, 1.0), ("a", 2, 2.0)))
    // idempotent re-run: same keys, same values
    JdbcUpsert.upsert(df1, url, "facts", Seq("tms_id", "t"))
    assert(state() === Set(("a", 1, 1.0), ("a", 2, 2.0)))
    // conflict-update + fresh insert in one batch (the late-fgt overwrite)
    val df2 = Seq(("a", 2, 20.0), ("a", 3, 3.0)).toDF("tms_id", "t", "v")
    JdbcUpsert.upsert(df2, url, "facts", Seq("tms_id", "t"))
    assert(state() === Set(("a", 1, 1.0), ("a", 2, 20.0), ("a", 3, 3.0)))
    // the statement TEXT is the reference's PyMySQL upsert shape, pinned
    val prepared = MiniMysql.preparedTexts.distinct
    assert(prepared.size == 1, s"one statement shape expected: $prepared")
    assert(prepared.head ==
      """INSERT INTO facts (tms_id, t, v)
        |VALUES (?, ?, ?)
        |ON DUPLICATE KEY UPDATE v = VALUES(v)""".stripMargin)
  }

  test("MySQL upsert dialect batches: a frame larger than batchSize flushes " +
    "mid-stream and still lands every row") {
    MiniMysql.register()
    val url = "jdbc:mysql://localhost/warehouse"
    MiniMysql.createTable("warehouse", "big",
      cols = Seq("tms_id", "t", "v"), keyCols = Seq("tms_id", "t"))
    val n = 257
    val df = (0 until n).map(i => ("s", i, i * 1.5)).toDF("tms_id", "t", "v")
      .repartition(2)
    assert(JdbcUpsert.upsert(df, url, "big", Seq("tms_id", "t"),
      batchSize = 100) == n.toLong)
    assert(MiniMysql.tableRows("warehouse", "big").size == n)
  }

  test("the URL selects the dialect: a bare upsert to a jdbc:mysql: or " +
    "jdbc:mariadb: URL prepares the ON DUPLICATE KEY UPDATE statement") {
    MiniMysql.register()
    MiniMysql.createTable("curw", "runs", cols = Seq("tms_id", "latest_fgt"),
      keyCols = Seq("tms_id"))
    val df = Seq(("a", "2024-01-01"), ("b", "2024-01-01"))
      .toDF("tms_id", "latest_fgt")
    Seq("jdbc:mysql://localhost:3306/curw", "jdbc:mariadb://localhost/curw")
      .foreach { url =>
        val seen = MiniMysql.preparedTexts.size
        assert(JdbcUpsert.upsert(df, url, "runs", Seq("tms_id")) == 2L)
        val prepared = MiniMysql.preparedTexts.drop(seen).distinct
        assert(prepared == Seq(
          """INSERT INTO runs (tms_id, latest_fgt)
            |VALUES (?, ?)
            |ON DUPLICATE KEY UPDATE latest_fgt = VALUES(latest_fgt)"""
            .stripMargin), url)
      }
    assert(MiniMysql.tableRows("curw", "runs").map(_.head).toSet ==
      Set("a", "b"))
  }

  test("the UPDATE-then-INSERT path fails naming the table when the driver " +
    "gives no update counts") {
    NoInfoDriver.register()
    val df = Seq(("a", 1, 1.0)).toDF("tms_id", "t", "v").coalesce(1)
    val e = intercept[org.apache.spark.SparkException](
      JdbcUpsert.upsert(df, "jdbc:noinfo:warehouse", "facts", Seq("tms_id", "t")))
    assert(e.getMessage.contains("facts: the JDBC driver gave no update count"),
      e.getMessage)
  }
}
