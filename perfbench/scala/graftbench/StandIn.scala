package graftbench

import java.sql.{Array => SqlArray, _}
import java.util.concurrent.{ConcurrentHashMap, Executor}
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}
import java.util.{Calendar, Properties}

import scala.collection.mutable.ArrayBuffer

/** In-process Postgres stand-in for [[graft.sinks.JdbcUpsertSink]].
  *
  * No database server runs next to the benchmark, so the sink writes into
  * this thread-safe in-memory table instead. It understands exactly the
  * statement the sink emits — `INSERT INTO t AS t (cols) VALUES (...), ...
  * ON CONFLICT (pk) DO UPDATE SET ... WHERE excluded.ord >= t.ord` — and
  * applies it with the same latest-wins guard, at commit. It is a concrete
  * class, not a reflective proxy, so the per-cell `setX` calls cost what a
  * JDBC client's parameter store costs. `bootstrap` therefore measures graft's
  * client-side sink cost, not Postgres; the time spent in here is reported
  * as `sinks.standin_ms` so it can be subtracted.
  */
object StandIn {
  final class Table(val name: String, val columns: IndexedSeq[String], val pk: IndexedSeq[Int], val ord: Int) {
    val rows = new ConcurrentHashMap[Any, Array[AnyRef]]()

    def key(r: Array[AnyRef]): Any = if (pk.size == 1) r(pk(0)) else pk.map(r(_)).toList

    def upsert(r: Array[AnyRef], doNothing: Boolean): Unit = {
      rows.compute(key(r), (_, old) =>
        if (old == null) r
        else if (doNothing) old
        else if (geq(r(ord), old(ord))) r
        else old)
      ()
    }

    private def geq(a: AnyRef, b: AnyRef): Boolean = (a, b) match {
      case (null, _) | (_, null) => false // Postgres: a NULL comparison is not true
      case (x: Comparable[_], y) => x.asInstanceOf[Comparable[AnyRef]].compareTo(y) >= 0
      case _ => false
    }
  }

  final case class Parsed(table: String, columns: IndexedSeq[String], pk: IndexedSeq[String], ord: Option[String])

  private val tables = new ConcurrentHashMap[String, Table]()
  private val parsed = new ConcurrentHashMap[String, Parsed]()

  val nanos = new LongAdder
  val statements = new LongAdder
  val rowsBound = new LongAdder
  private val open = new AtomicInteger(0)
  val maxOpen = new AtomicInteger(0)

  def resetStats(): Unit = {
    nanos.reset(); statements.reset(); rowsBound.reset(); maxOpen.set(open.get)
  }

  def drop(table: String): Unit = tables.remove(table)

  def table(name: String): Option[Table] = Option(tables.get(name))

  def connect(): Connection = new StandInConnection

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.startsWith("\"") && t.endsWith("\"")) t.substring(1, t.length - 1).replace("\"\"", "\"") else t
  }

  private def identList(s: String): IndexedSeq[String] = s.split(",").map(unquote).toIndexedSeq

  /** Parse the sink's upsert statement (header and conflict clause only —
    * the VALUES list is implied by the bound parameters).
    */
  def parse(sql: String): Parsed = {
    val cached = parsed.get(sql)
    if (cached != null) return cached
    require(sql.startsWith("INSERT INTO "), s"stand-in accepts only the sink's upsert: ${sql.take(80)}")
    val asT = sql.indexOf(" AS t (")
    val table = sql.substring("INSERT INTO ".length, asT).split("\\.").map(unquote).mkString(".")
    val colsEnd = sql.indexOf(") VALUES ", asT)
    val cols = identList(sql.substring(asT + " AS t (".length, colsEnd))
    val conflict = sql.indexOf(" ON CONFLICT (", colsEnd)
    val pkEnd = sql.indexOf(")", conflict + 14)
    val pk = identList(sql.substring(conflict + " ON CONFLICT (".length, pkEnd))
    val where = sql.indexOf(" WHERE excluded.", pkEnd)
    val ord =
      if (sql.indexOf("DO NOTHING", pkEnd) >= 0) None
      else Some(unquote(sql.substring(where + " WHERE excluded.".length, sql.indexOf(" >= ", where))))
    val p = Parsed(table, cols, pk, ord)
    parsed.put(sql, p)
    p
  }

  private[graftbench] def tableFor(p: Parsed): Table =
    tables.computeIfAbsent(p.table, _ =>
      new Table(p.table, p.columns, p.pk.map(p.columns.indexOf(_)),
        p.ord.map(p.columns.indexOf(_)).getOrElse(-1)))

  private[graftbench] def opened(): Unit = {
    val n = open.incrementAndGet()
    maxOpen.accumulateAndGet(n, (a, b) => math.max(a, b))
  }

  private[graftbench] def closed(): Unit = open.decrementAndGet()

  @inline private[graftbench] def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally nanos.add(System.nanoTime() - t0)
  }
}

/** A transaction buffers statements and applies them at commit. */
final class StandInConnection extends Connection {
  import StandIn._
  private var autoCommit = true
  private var closedFlag = false
  private val pending = ArrayBuffer.empty[(Table, Array[Array[AnyRef]], Boolean)]
  opened()

  private[graftbench] def submit(t: Table, rows: Array[Array[AnyRef]], doNothing: Boolean): Unit = {
    pending += ((t, rows, doNothing))
    if (autoCommit) commit()
  }

  override def prepareStatement(sql: String): PreparedStatement =
    timed(new StandInStatement(this, parse(sql)))

  override def commit(): Unit = timed {
    pending.foreach { case (t, rows, dn) => rows.foreach(t.upsert(_, dn)) }
    pending.clear()
  }

  override def rollback(): Unit = pending.clear()
  override def setAutoCommit(b: Boolean): Unit = autoCommit = b
  override def getAutoCommit: Boolean = autoCommit
  override def close(): Unit = if (!closedFlag) { closedFlag = true; pending.clear(); closed() }
  override def isClosed: Boolean = closedFlag
  override def isValid(timeout: Int): Boolean = !closedFlag

  private def no(what: String) = throw new SQLFeatureNotSupportedException(s"stand-in: $what")

  override def createStatement(): Statement = no("createStatement")
  override def prepareCall(sql: String): CallableStatement = no("prepareCall")
  override def nativeSQL(sql: String): String = sql
  override def getMetaData: DatabaseMetaData = no("getMetaData")
  override def setReadOnly(readOnly: Boolean): Unit = ()
  override def isReadOnly: Boolean = false
  override def setCatalog(catalog: String): Unit = ()
  override def getCatalog: String = null
  override def setTransactionIsolation(level: Int): Unit = ()
  override def getTransactionIsolation: Int = Connection.TRANSACTION_READ_COMMITTED
  override def getWarnings: SQLWarning = null
  override def clearWarnings(): Unit = ()
  override def createStatement(a: Int, b: Int): Statement = no("createStatement")
  override def prepareStatement(sql: String, a: Int, b: Int): PreparedStatement = prepareStatement(sql)
  override def prepareCall(sql: String, a: Int, b: Int): CallableStatement = no("prepareCall")
  override def getTypeMap: java.util.Map[String, Class[_]] = java.util.Collections.emptyMap()
  override def setTypeMap(map: java.util.Map[String, Class[_]]): Unit = ()
  override def setHoldability(holdability: Int): Unit = ()
  override def getHoldability: Int = java.sql.ResultSet.CLOSE_CURSORS_AT_COMMIT
  override def setSavepoint(): Savepoint = no("savepoint")
  override def setSavepoint(name: String): Savepoint = no("savepoint")
  override def rollback(savepoint: Savepoint): Unit = no("savepoint")
  override def releaseSavepoint(savepoint: Savepoint): Unit = no("savepoint")
  override def createStatement(a: Int, b: Int, c: Int): Statement = no("createStatement")
  override def prepareStatement(sql: String, a: Int, b: Int, c: Int): PreparedStatement = prepareStatement(sql)
  override def prepareCall(sql: String, a: Int, b: Int, c: Int): CallableStatement = no("prepareCall")
  override def prepareStatement(sql: String, autoGeneratedKeys: Int): PreparedStatement = prepareStatement(sql)
  override def prepareStatement(sql: String, columnIndexes: Array[Int]): PreparedStatement = prepareStatement(sql)
  override def prepareStatement(sql: String, columnNames: Array[String]): PreparedStatement = prepareStatement(sql)
  override def createClob(): Clob = no("clob")
  override def createBlob(): Blob = no("blob")
  override def createNClob(): NClob = no("nclob")
  override def createSQLXML(): SQLXML = no("sqlxml")
  override def setClientInfo(name: String, value: String): Unit = ()
  override def setClientInfo(properties: Properties): Unit = ()
  override def getClientInfo(name: String): String = null
  override def getClientInfo: Properties = new Properties
  override def createArrayOf(typeName: String, elements: Array[AnyRef]): SqlArray = no("array")
  override def createStruct(typeName: String, attributes: Array[AnyRef]): Struct = no("struct")
  override def setSchema(schema: String): Unit = ()
  override def getSchema: String = null
  override def abort(executor: Executor): Unit = close()
  override def setNetworkTimeout(executor: Executor, milliseconds: Int): Unit = ()
  override def getNetworkTimeout: Int = 0
  override def unwrap[T](iface: Class[T]): T = no("unwrap")
  override def isWrapperFor(iface: Class[_]): Boolean = false
}

/** Stores bound parameters in one flat array; `executeUpdate` slices it
  * into rows of the statement's column count.
  */
final class StandInStatement(conn: StandInConnection, p: StandIn.Parsed) extends PreparedStatement {
  import StandIn._
  private val width = p.columns.size
  private var params = new Array[AnyRef](width * 64)
  private var maxIndex = 0

  @inline private def put(i: Int, v: AnyRef): Unit = {
    if (i > params.length) params = java.util.Arrays.copyOf(params, math.max(i, params.length * 2))
    params(i - 1) = v
    if (i > maxIndex) maxIndex = i
  }

  override def executeUpdate(): Int = timed {
    require(maxIndex % width == 0, s"bound $maxIndex parameters for $width columns")
    val n = maxIndex / width
    val rows = new Array[Array[AnyRef]](n)
    var r = 0
    while (r < n) {
      val row = new Array[AnyRef](width)
      System.arraycopy(params, r * width, row, 0, width)
      rows(r) = row
      r += 1
    }
    conn.submit(tableFor(p), rows, p.ord.isEmpty)
    statements.increment()
    rowsBound.add(n)
    n
  }

  override def setNull(i: Int, sqlType: Int): Unit = put(i, null)
  override def setBoolean(i: Int, x: Boolean): Unit = put(i, java.lang.Boolean.valueOf(x))
  override def setByte(i: Int, x: Byte): Unit = put(i, java.lang.Byte.valueOf(x))
  override def setShort(i: Int, x: Short): Unit = put(i, java.lang.Short.valueOf(x))
  override def setInt(i: Int, x: Int): Unit = put(i, java.lang.Integer.valueOf(x))
  override def setLong(i: Int, x: Long): Unit = put(i, java.lang.Long.valueOf(x))
  override def setFloat(i: Int, x: Float): Unit = put(i, java.lang.Float.valueOf(x))
  override def setDouble(i: Int, x: Double): Unit = put(i, java.lang.Double.valueOf(x))
  override def setBigDecimal(i: Int, x: java.math.BigDecimal): Unit = put(i, x)
  override def setString(i: Int, x: String): Unit = put(i, x)
  override def setBytes(i: Int, x: Array[Byte]): Unit = put(i, x)
  override def setDate(i: Int, x: Date): Unit = put(i, x)
  override def setTime(i: Int, x: Time): Unit = put(i, x)
  override def setTimestamp(i: Int, x: Timestamp): Unit = put(i, x)
  override def setObject(i: Int, x: Any, targetSqlType: Int): Unit = put(i, x.asInstanceOf[AnyRef])
  override def setObject(i: Int, x: Any): Unit = put(i, x.asInstanceOf[AnyRef])
  override def clearParameters(): Unit = { java.util.Arrays.fill(params, null); maxIndex = 0 }
  override def close(): Unit = ()
  override def isClosed: Boolean = false

  private def no(what: String) = throw new SQLFeatureNotSupportedException(s"stand-in: $what")

  override def executeQuery(): ResultSet = no("executeQuery")
  override def execute(): Boolean = { executeUpdate(); false }
  override def addBatch(): Unit = no("addBatch")
  override def setAsciiStream(i: Int, x: java.io.InputStream, length: Int): Unit = no("streams")
  override def setUnicodeStream(i: Int, x: java.io.InputStream, length: Int): Unit = no("streams")
  override def setBinaryStream(i: Int, x: java.io.InputStream, length: Int): Unit = no("streams")
  override def setCharacterStream(i: Int, reader: java.io.Reader, length: Int): Unit = no("streams")
  override def setRef(i: Int, x: Ref): Unit = no("ref")
  override def setBlob(i: Int, x: Blob): Unit = no("blob")
  override def setClob(i: Int, x: Clob): Unit = no("clob")
  override def setArray(i: Int, x: SqlArray): Unit = put(i, x)
  override def getMetaData: ResultSetMetaData = null
  override def setDate(i: Int, x: Date, cal: Calendar): Unit = put(i, x)
  override def setTime(i: Int, x: Time, cal: Calendar): Unit = put(i, x)
  override def setTimestamp(i: Int, x: Timestamp, cal: Calendar): Unit = put(i, x)
  override def setNull(i: Int, sqlType: Int, typeName: String): Unit = put(i, null)
  override def setURL(i: Int, x: java.net.URL): Unit = put(i, x)
  override def getParameterMetaData: ParameterMetaData = no("parameter metadata")
  override def setRowId(i: Int, x: RowId): Unit = no("rowid")
  override def setNString(i: Int, value: String): Unit = put(i, value)
  override def setNCharacterStream(i: Int, value: java.io.Reader, length: Long): Unit = no("streams")
  override def setNClob(i: Int, value: NClob): Unit = no("nclob")
  override def setClob(i: Int, reader: java.io.Reader, length: Long): Unit = no("clob")
  override def setBlob(i: Int, inputStream: java.io.InputStream, length: Long): Unit = no("blob")
  override def setNClob(i: Int, reader: java.io.Reader, length: Long): Unit = no("nclob")
  override def setSQLXML(i: Int, xmlObject: SQLXML): Unit = no("sqlxml")
  override def setObject(i: Int, x: Any, targetSqlType: Int, scaleOrLength: Int): Unit = put(i, x.asInstanceOf[AnyRef])
  override def setAsciiStream(i: Int, x: java.io.InputStream, length: Long): Unit = no("streams")
  override def setBinaryStream(i: Int, x: java.io.InputStream, length: Long): Unit = no("streams")
  override def setCharacterStream(i: Int, reader: java.io.Reader, length: Long): Unit = no("streams")
  override def setAsciiStream(i: Int, x: java.io.InputStream): Unit = no("streams")
  override def setBinaryStream(i: Int, x: java.io.InputStream): Unit = no("streams")
  override def setCharacterStream(i: Int, reader: java.io.Reader): Unit = no("streams")
  override def setNCharacterStream(i: Int, value: java.io.Reader): Unit = no("streams")
  override def setClob(i: Int, reader: java.io.Reader): Unit = no("clob")
  override def setBlob(i: Int, inputStream: java.io.InputStream): Unit = no("blob")
  override def setNClob(i: Int, reader: java.io.Reader): Unit = no("nclob")

  override def executeQuery(sql: String): ResultSet = no("executeQuery")
  override def executeUpdate(sql: String): Int = no("executeUpdate(sql)")
  override def getMaxFieldSize: Int = 0
  override def setMaxFieldSize(max: Int): Unit = ()
  override def getMaxRows: Int = 0
  override def setMaxRows(max: Int): Unit = ()
  override def setEscapeProcessing(enable: Boolean): Unit = ()
  override def getQueryTimeout: Int = 0
  override def setQueryTimeout(seconds: Int): Unit = ()
  override def cancel(): Unit = ()
  override def getWarnings: SQLWarning = null
  override def clearWarnings(): Unit = ()
  override def setCursorName(name: String): Unit = ()
  override def execute(sql: String): Boolean = no("execute(sql)")
  override def getResultSet: ResultSet = null
  override def getUpdateCount: Int = -1
  override def getMoreResults: Boolean = false
  override def setFetchDirection(direction: Int): Unit = ()
  override def getFetchDirection: Int = ResultSet.FETCH_FORWARD
  override def setFetchSize(rows: Int): Unit = ()
  override def getFetchSize: Int = 0
  override def getResultSetConcurrency: Int = ResultSet.CONCUR_READ_ONLY
  override def getResultSetType: Int = ResultSet.TYPE_FORWARD_ONLY
  override def addBatch(sql: String): Unit = no("addBatch")
  override def clearBatch(): Unit = ()
  override def executeBatch(): Array[Int] = no("executeBatch")
  override def getConnection: Connection = conn
  override def getMoreResults(current: Int): Boolean = false
  override def getGeneratedKeys: ResultSet = no("generated keys")
  override def executeUpdate(sql: String, autoGeneratedKeys: Int): Int = no("executeUpdate(sql)")
  override def executeUpdate(sql: String, columnIndexes: Array[Int]): Int = no("executeUpdate(sql)")
  override def executeUpdate(sql: String, columnNames: Array[String]): Int = no("executeUpdate(sql)")
  override def execute(sql: String, autoGeneratedKeys: Int): Boolean = no("execute(sql)")
  override def execute(sql: String, columnIndexes: Array[Int]): Boolean = no("execute(sql)")
  override def execute(sql: String, columnNames: Array[String]): Boolean = no("execute(sql)")
  override def getResultSetHoldability: Int = ResultSet.CLOSE_CURSORS_AT_COMMIT
  override def setPoolable(poolable: Boolean): Unit = ()
  override def isPoolable: Boolean = false
  override def closeOnCompletion(): Unit = ()
  override def isCloseOnCompletion: Boolean = false
  override def unwrap[T](iface: Class[T]): T = no("unwrap")
  override def isWrapperFor(iface: Class[_]): Boolean = false
}
