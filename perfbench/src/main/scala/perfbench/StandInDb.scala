package perfbench

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, SQLException, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** Stand-in JDBC driver for `jdbc:perfbench:` URLs: the database the
  * benchmark's `JdbcUpsert` writes into.
  *
  * It implements only the calls `JdbcUpsert` makes, with Postgres
  * `INSERT … ON CONFLICT (k) DO UPDATE SET … / DO NOTHING` semantics and
  * transactional visibility (rows staged by `executeBatch` publish on
  * `commit`, `rollback` drops them). Any other call throws.
  *
  * To keep its own memory and GC out of the measurement, the agg tables are
  * kept whole but the raw `transactions` table is kept as a multiset of
  * numeric transaction ids (a count per id): the checks need ids, not rows.
  *
  * It counts connections, `executeBatch` calls and rows, commits and
  * rollbacks, and times each connection from open to close; with tracing on
  * it records a span per connection and per call inside it.
  */
object StandInDb {
  val Prefix = "jdbc:perfbench:"
  val RawTable = "transactions"
  val RawKey = "transaction_id"

  /** One keyed table: full key → the row's values, in `columns` order. */
  final class Table(val columns: Vector[String], val keyCols: Vector[String]) {
    val rows = new java.util.HashMap[Vector[Any], Array[Any]]()
  }

  final class Db {
    /** Agg tables, by name. */
    val tables = mutable.Map[String, Table]()
    /** Raw ids: commits per numeric id; `badIds` counts ids of another form. */
    var rawCounts: Array[Int] = new Array[Int](0)
    var badIds = 0L

    def countRaw(id: Long): Unit =
      if (id < 0 || id > Int.MaxValue - 8) badIds += 1
      else {
        if (id >= rawCounts.length)
          rawCounts = java.util.Arrays.copyOf(rawCounts,
            math.max(id.toInt + 1, math.min(Int.MaxValue - 8L, rawCounts.length * 2L).toInt))
        rawCounts(id.toInt) += 1
      }
  }

  @volatile private var db = new Db

  /** Forget every table; counters are reset separately with [[Counters.reset]]. */
  def reset(): Unit = db = new Db
  def current: Db = db

  /** Calls made into the stand-in, summed over every connection. */
  object Counters {
    val connections, executeBatches, rows, commits, rollbacks = new AtomicLong
    private val connMs = mutable.ArrayBuffer[Double]()
    def addConnMs(ms: Double): Unit = connMs.synchronized { connMs += ms }
    def connDurationsMs: Vector[Double] = connMs.synchronized(connMs.toVector)
    def reset(): Unit = {
      Seq(connections, executeBatches, rows, commits, rollbacks).foreach(_.set(0))
      connMs.synchronized(connMs.clear())
    }
  }

  def url(name: String): String = Prefix + name

  def config: graft.sinks.JdbcUpsert.ConnConfig =
    graft.sinks.JdbcUpsert.ConnConfig(url("bench"), "bench", "bench",
      driver = classOf[StandInDriver].getName)

  private lazy val registered: Unit = DriverManager.registerDriver(new StandInDriver)
  def register(): Unit = registered

  /** Parse the upsert text `JdbcUpsert.upsertSql` emits. */
  private val UpsertRe =
    """INSERT INTO (\S+) \(([^)]*)\) VALUES \([^)]*\) ON CONFLICT \(([^)]*)\) (DO NOTHING|DO UPDATE SET .+)""".r

  /** A parsed upsert: target table, its columns, conflict key, action. */
  final case class Upsert(table: String, columns: Vector[String],
      keyCols: Vector[String], doNothing: Boolean)

  def parse(sql: String): Upsert = sql match {
    case UpsertRe(t, cols, keys, action) =>
      Upsert(t, cols.split(",\\s*").toVector, keys.split(",\\s*").toVector,
        action == "DO NOTHING")
    case _ => throw new SQLException(s"stand-in database cannot run: $sql")
  }

  /** Publish committed rows: upsert into agg tables, count raw ids. */
  private[perfbench] def publish(st: Upsert, batch: Seq[Array[Any]]): Unit = {
    val d = db
    d.synchronized {
      if (st.table == RawTable && st.keyCols == Vector(RawKey)) {
        val k = st.columns.indexOf(RawKey)
        batch.foreach(r => d.countRaw(Gen.idNumber(r(k).asInstanceOf[String])))
      } else {
        val t = d.tables.getOrElseUpdate(st.table, new Table(st.columns, st.keyCols))
        val keyIdx = st.keyCols.map(st.columns.indexOf)
        batch.foreach { r =>
          val key = keyIdx.map(r(_))
          val existing = t.rows.get(key)
          if (existing == null || !st.doNothing) t.rows.put(key, r)
        }
      }
    }
  }
}

final class StandInDriver extends Driver {
  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(StandInDb.Prefix)
  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null else StandInConnection.open()
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] = Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

object StandInConnection {
  import StandInDb.Counters

  def open(): Connection = {
    Counters.connections.incrementAndGet()
    // opened inside a Spark task: a child of that task's stage
    val stage = Option(org.apache.spark.TaskContext.get())
      .map(tc => Trace.keyedId(Trace.stageKey(tc.stageId, tc.stageAttemptNumber)))
      .getOrElse(Trace.NoCause)
    val h = new Handler(System.nanoTime(), Trace.start("sinks.connection", stage))
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]), h)
      .asInstanceOf[Connection]
  }

  private def unsupported(what: String) =
    new UnsupportedOperationException(s"$what is not modelled by the stand-in database")

  final class Handler(openedNs: Long, span: Long) extends InvocationHandler {
    private val staged = mutable.ArrayBuffer[(StandInDb.Upsert, Vector[Array[Any]])]()
    private var closed = false

    def stage(st: StandInDb.Upsert, rows: Vector[Array[Any]]): Unit = staged += ((st, rows))

    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "prepareStatement" =>
        StandInStatement.prepared(this, span, StandInDb.parse(args(0).asInstanceOf[String]))
      case "createStatement" => StandInStatement.ddl()
      case "setAutoCommit" => null
      case "getAutoCommit" => java.lang.Boolean.FALSE
      case "commit" =>
        val s = Trace.start("sinks.commit", span)
        staged.foreach { case (st, rows) => StandInDb.publish(st, rows) }
        staged.clear()
        Counters.commits.incrementAndGet()
        Trace.end(s)
        null
      case "rollback" =>
        val s = Trace.start("sinks.rollback", span)
        staged.clear()
        Counters.rollbacks.incrementAndGet()
        Trace.end(s)
        null
      case "close" =>
        if (!closed) {
          closed = true
          Counters.addConnMs((System.nanoTime() - openedNs) / 1e6)
          Trace.end(span)
        }
        null
      case "isClosed" => java.lang.Boolean.valueOf(closed)
      case "toString" => "StandInConnection"
      case "hashCode" => Integer.valueOf(System.identityHashCode(proxy))
      case "equals" => java.lang.Boolean.valueOf(proxy eq args(0))
      case other => throw unsupported(s"Connection.$other")
    }
  }
}

object StandInStatement {
  import StandInDb.Counters

  private val CreateRe = """CREATE TABLE IF NOT EXISTS (\w+).*""".r

  def prepared(conn: StandInConnection.Handler, connSpan: Long,
      st: StandInDb.Upsert): PreparedStatement = {
    val h = new InvocationHandler {
      private val params = new Array[Any](st.columns.size)
      private val batch = mutable.ArrayBuffer[Array[Any]]()
      override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "setNull" =>
          params(args(0).asInstanceOf[Integer].intValue - 1) = null; null
        case set if set.startsWith("set") && args.length == 2 =>
          params(args(0).asInstanceOf[Integer].intValue - 1) = args(1); null
        case "addBatch" => batch += params.clone(); null
        case "clearBatch" => batch.clear(); null
        case "executeBatch" =>
          val s = Trace.start("sinks.executeBatch", connSpan)
          val n = batch.size
          conn.stage(st, batch.toVector)
          batch.clear()
          Counters.executeBatches.incrementAndGet()
          Counters.rows.addAndGet(n)
          Trace.end(s)
          Array.fill(n)(1)
        case "close" => null
        case "toString" => s"StandInPrepared(${st.table})"
        case "hashCode" => Integer.valueOf(System.identityHashCode(proxy))
        case "equals" => java.lang.Boolean.valueOf(proxy eq args(0))
        case other => throw new UnsupportedOperationException(
          s"PreparedStatement.$other is not modelled by the stand-in database")
      }
    }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]), h)
      .asInstanceOf[PreparedStatement]
  }

  def ddl(): Statement = {
    val h = new InvocationHandler {
      override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "execute" =>
          val sql = args(0).asInstanceOf[String]
          if (!CreateRe.matches(sql)) throw new SQLException(s"stand-in database cannot run: $sql")
          java.lang.Boolean.FALSE
        case "close" => null
        case "toString" => "StandInStatement"
        case "hashCode" => Integer.valueOf(System.identityHashCode(proxy))
        case "equals" => java.lang.Boolean.valueOf(proxy eq args(0))
        case other => throw new UnsupportedOperationException(
          s"Statement.$other is not modelled by the stand-in database")
      }
    }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Statement]), h)
      .asInstanceOf[Statement]
  }
}
