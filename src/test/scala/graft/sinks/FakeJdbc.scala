package graft.sinks

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, SQLException, Statement}
import java.util.Properties

import scala.collection.mutable

/** An in-memory, recording JDBC driver for executing the
  * [[JdbcUpsert]] writer body without a database.
  *
  * Design: `JdbcUpsert.connect` goes through `Class.forName(driver)` +
  * `DriverManager.getConnection(url, …)`, so the natural seam is a real
  * `java.sql.Driver` registered for `jdbc:fake:<name>` URLs. Connections
  * and statements are `java.lang.reflect.Proxy` instances implementing
  * only the member calls the writer makes — any unexpected call throws,
  * which doubles as a contract check ("the writer touches nothing but
  * prepare/bind/addBatch/executeBatch/commit/rollback/close").
  *
  * Semantics modelled (the subset Postgres gives the reference's sink,
  * `DataStreamJob.java:237-272`):
  *  - `INSERT … ON CONFLICT (k) DO UPDATE SET c = EXCLUDED.c` upserts
  *    keyed rows; `DO NOTHING` skips conflicting keys.
  *  - transactional visibility: `executeBatch` stages rows on the
  *    connection; only `commit` publishes them to the shared store, and
  *    `rollback` discards the stage — so a retry after a mid-flight
  *    failure is observable as a rollback + full re-stage.
  *
  * Failure injection: `failConnects` / `failExecuteBatches` counters
  * make the next N connection attempts / batch executions throw
  * `SQLException`, driving the writer's reconnect-and-retry loop.
  *
  * Everything is JVM-global (`FakeDb.get`), which is exactly right for
  * `local[*]` executors sharing the test JVM.
  */
object FakeDb {

  /** Insertion-ordered keyed rows of one table. */
  final class TableState {
    val rows = mutable.LinkedHashMap[Vector[Any], mutable.LinkedHashMap[String, Any]]()
  }

  final class Db(val name: String) {
    val tables = mutable.Map[String, TableState]()
    /** Ordered op log: connect / prepare / setAutoCommit:b /
      * executeBatch:n / executeBatch:FAIL / commit / rollback / close /
      * ddl:<table>. */
    val events = mutable.ArrayBuffer[String]()
    /** Every `setNull(idx, sqlType)` the writer issued. */
    val nullBinds = mutable.ArrayBuffer[(Int, Int)]()
    var failConnects = 0
    var failExecuteBatches = 0
    var connectAttempts = 0

    def record(e: String): Unit = synchronized { events += e }
    def eventLog: Vector[String] = synchronized { events.toVector }
    def rowsOf(table: String): Vector[Map[String, Any]] = synchronized {
      tables.get(table).map(_.rows.values.map(_.toMap).toVector).getOrElse(Vector.empty)
    }
  }

  private val dbs = mutable.Map[String, Db]()
  def get(name: String): Db = dbs.synchronized(dbs.getOrElseUpdate(name, new Db(name)))
  /** Drop any prior state under `name` and return a clean db. */
  def fresh(name: String): Db = dbs.synchronized { dbs.remove(name); dbs.getOrElseUpdate(name, new Db(name)) }

  def url(name: String): String = s"jdbc:fake:$name"
  def cfg(name: String, batchSize: Int = 1000, maxRetries: Int = 5): JdbcUpsert.ConnConfig =
    JdbcUpsert.ConnConfig(url(name), "u", "p", driver = classOf[FakeDriver].getName,
      batchSize = batchSize, maxRetries = maxRetries)

  /** `Class.forName` alone does not run a Scala object's initializer, so
    * suites must call this once before using a fake URL. */
  def register(): Unit = FakeDriver.ensureRegistered()
}

object FakeDriver {
  private lazy val registered: Unit = DriverManager.registerDriver(new FakeDriver)
  def ensureRegistered(): Unit = registered
}

final class FakeDriver extends Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith("jdbc:fake:")

  override def connect(url: String, info: Properties): Connection = {
    if (!acceptsURL(url)) return null // JDBC contract: null for foreign URLs
    val db = FakeDb.get(url.stripPrefix("jdbc:fake:"))
    val refuse = db.synchronized {
      db.connectAttempts += 1
      if (db.failConnects > 0) { db.failConnects -= 1; true } else false
    }
    if (refuse) throw new SQLException("connection refused (injected)")
    db.record("connect")
    FakeConnection.make(db)
  }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] = Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

object FakeConnection {
  /** One `executeBatch`'s rows, keyed by `keyCols` (always non-empty:
    * the writer only emits `ON CONFLICT` upserts). */
  final case class Staged(table: String, columns: Vector[String],
      keyCols: Vector[String], doNothing: Boolean, rows: Vector[Vector[Any]])

  def make(db: FakeDb.Db): Connection = {
    val h = new Handler(db)
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]), h)
      .asInstanceOf[Connection]
  }

  final class Handler(db: FakeDb.Db) extends InvocationHandler {
    /** Rows staged by executeBatch; published to db.tables at commit. */
    private val staged = mutable.ArrayBuffer[Staged]()
    private var closed = false

    def stage(s: Staged): Unit = synchronized { staged += s }

    override def invoke(proxy: AnyRef, m: Method, rawArgs: Array[AnyRef]): AnyRef = {
      val args = if (rawArgs == null) Array.empty[AnyRef] else rawArgs
      m.getName match {
        case "prepareStatement" =>
          db.record("prepare")
          FakePrepared.make(db, this, args(0).asInstanceOf[String])
        case "createStatement" => FakeStatement.make(db)
        case "setAutoCommit"   => db.record(s"setAutoCommit:${args(0)}"); null
        case "getAutoCommit"   => java.lang.Boolean.FALSE
        case "commit"          => publish(); db.record("commit"); null
        case "rollback"        => synchronized(staged.clear()); db.record("rollback"); null
        case "close"           => closed = true; db.record("close"); null
        case "isClosed"        => java.lang.Boolean.valueOf(closed)
        case "isValid"         => java.lang.Boolean.TRUE
        case "toString"        => s"FakeConnection(${db.name})"
        case "hashCode"        => Integer.valueOf(System.identityHashCode(proxy))
        case "equals"          => java.lang.Boolean.valueOf(proxy eq args(0))
        case other =>
          throw new UnsupportedOperationException(s"FakeConnection.$other — writer made an unmodelled call")
      }
    }

    private def publish(): Unit = {
      val toApply = synchronized { val v = staged.toVector; staged.clear(); v }
      db.synchronized {
        toApply.foreach { s =>
          val ts = db.tables.getOrElseUpdate(s.table, new FakeDb.TableState)
          val keyIdx = s.keyCols.map(s.columns.indexOf)
          s.rows.foreach { r =>
            val key = keyIdx.map(r(_))
            ts.rows.get(key) match {
              case Some(existing) if !s.doNothing =>
                s.columns.zipWithIndex.foreach { case (c, i) =>
                  if (!s.keyCols.contains(c)) existing(c) = r(i)
                }
              case Some(_) => // DO NOTHING: conflicting key, keep existing
              case None =>
                val row = mutable.LinkedHashMap[String, Any]()
                s.columns.zipWithIndex.foreach { case (c, i) => row(c) = r(i) }
                ts.rows(key) = row
            }
          }
        }
      }
    }
  }
}

object FakePrepared {
  // Matches exactly what JdbcUpsert.upsertSql emits.
  private val InsertRe =
    """INSERT INTO (\S+) \(([^)]*)\) VALUES \([^)]*\) ON CONFLICT \(([^)]*)\) (DO NOTHING|DO UPDATE SET .+)""".r

  def make(db: FakeDb.Db, conn: FakeConnection.Handler, sql: String): PreparedStatement = {
    val (table, columns, keyCols, doNothing) = sql match {
      case InsertRe(t, cols, keys, action) =>
        (t, cols.split(",\\s*").toVector, keys.split(",\\s*").toVector, action == "DO NOTHING")
      case _ => throw new SQLException(s"unparseable upsert SQL: $sql")
    }
    val h = new Handler(db, conn, table, columns, keyCols, doNothing)
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]), h)
      .asInstanceOf[PreparedStatement]
  }

  final class Handler(db: FakeDb.Db, conn: FakeConnection.Handler, table: String,
      columns: Vector[String], keyCols: Vector[String], doNothing: Boolean)
      extends InvocationHandler {
    private val params = new Array[Any](columns.size)
    private val batch = mutable.ArrayBuffer[Vector[Any]]()

    override def invoke(proxy: AnyRef, m: Method, rawArgs: Array[AnyRef]): AnyRef = {
      val args = if (rawArgs == null) Array.empty[AnyRef] else rawArgs
      m.getName match {
        case "setNull" =>
          val idx = args(0).asInstanceOf[Integer].intValue
          val sqlType = args(1).asInstanceOf[Integer].intValue
          params(idx - 1) = null
          db.synchronized { db.nullBinds += ((idx, sqlType)) }
          null
        case set if set.startsWith("set") && args.length == 2 =>
          params(args(0).asInstanceOf[Integer].intValue - 1) = args(1)
          null
        case "addBatch" => batch += params.toVector; null
        case "clearBatch" => batch.clear(); null
        case "executeBatch" =>
          val fail = db.synchronized {
            if (db.failExecuteBatches > 0) { db.failExecuteBatches -= 1; true } else false
          }
          if (fail) { db.record("executeBatch:FAIL"); throw new SQLException("executeBatch failed (injected)") }
          conn.stage(FakeConnection.Staged(table, columns, keyCols, doNothing, batch.toVector))
          db.record(s"executeBatch:${batch.size}")
          val n = batch.size
          batch.clear()
          Array.fill(n)(1).asInstanceOf[AnyRef]
        case "close"    => null
        case "toString" => s"FakePrepared($table)"
        case "hashCode" => Integer.valueOf(System.identityHashCode(proxy))
        case "equals"   => java.lang.Boolean.valueOf(proxy eq args(0))
        case other =>
          throw new UnsupportedOperationException(s"FakePrepared.$other — writer made an unmodelled call")
      }
    }
  }
}

object FakeStatement {
  private val CreateRe = """CREATE TABLE IF NOT EXISTS (\w+).*""".r

  def make(db: FakeDb.Db): Statement = {
    val h = new InvocationHandler {
      override def invoke(proxy: AnyRef, m: Method, rawArgs: Array[AnyRef]): AnyRef = {
        val args = if (rawArgs == null) Array.empty[AnyRef] else rawArgs
        m.getName match {
          case "execute" =>
            val sql = args(0).asInstanceOf[String]
            val label = sql match {
              case CreateRe(t) => t
              case _           => sql.take(32)
            }
            db.record(s"ddl:$label")
            java.lang.Boolean.FALSE
          case "close"    => null
          case "toString" => "FakeStatement"
          case "hashCode" => Integer.valueOf(System.identityHashCode(proxy))
          case "equals"   => java.lang.Boolean.valueOf(proxy eq args(0))
          case other =>
            throw new UnsupportedOperationException(s"FakeStatement.$other")
        }
      }
    }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Statement]), h)
      .asInstanceOf[Statement]
  }
}
