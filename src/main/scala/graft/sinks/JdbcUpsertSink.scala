package graft.sinks

import java.sql.{Connection, PreparedStatement, SQLException, SQLRecoverableException, SQLTransientException}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Postgres-dialect upsert sink with the reference's merge semantics.
  *
  * The reference emits `INSERT ... ON CONFLICT (pk) DO UPDATE SET ... WHERE
  * excluded.updated_at >= tbl.updated_at` per row group (db.py:884-893).
  * Spark's built-in JDBC writer only supports append/overwrite, so upsert is
  * done with `foreachPartition`: each executor partition opens one
  * connection and runs multi-row batched upserts — N partitions upsert in
  * parallel, exactly the reference's row-group thread pool but distributed.
  *
  * No live Postgres exists in this container; `upsertSql` +
  * `bindAndExecute` are unit-tested against a connection test double, and
  * the merge *semantics* are cross-checked by `q01_latest_wins`'s oracle.
  */
object JdbcUpsertSink {

  /** Build the multi-row upsert statement for `n` rows.
    *
    * The target is aliased `AS t` so the conflict guard works for
    * schema-qualified names too (Postgres forbids `schema.table.col` inside
    * ON CONFLICT's WHERE). When every column is part of the primary key
    * there is nothing to update, so the statement degrades to DO NOTHING —
    * a bare `DO UPDATE SET` would be invalid SQL.
    */
  def upsertSql(
      table: String,
      columns: Seq[String],
      pkColumns: Seq[String],
      orderingCol: String,
      n: Int): String = {
    require(n > 0 && columns.nonEmpty && pkColumns.nonEmpty)
    val colList = columns.map(quoteIdent).mkString(", ")
    val rowPlaceholder = columns.map(_ => "?").mkString("(", ", ", ")")
    val values = Seq.fill(n)(rowPlaceholder).mkString(", ")
    val conflict = pkColumns.map(quoteIdent).mkString(", ")
    val updates = columns
      .filterNot(pkColumns.contains)
      .map(c => s"${quoteIdent(c)} = excluded.${quoteIdent(c)}")
      .mkString(", ")
    val action =
      if (updates.isEmpty) "DO NOTHING"
      else s"DO UPDATE SET $updates " +
        s"WHERE excluded.${quoteIdent(orderingCol)} >= t.${quoteIdent(orderingCol)}"
    s"INSERT INTO ${quoteQualified(table)} AS t ($colList) VALUES $values " +
      s"ON CONFLICT ($conflict) $action"
  }

  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  /** Spark type → Postgres column type, the mapping the reference's schema
    * files hand-write per table (`schema/NNN_*.sql`: bigint/text/bytea/
    * timestamp/jsonb/bigint[]...). Nested structs and maps land as jsonb —
    * the reference stores exactly those columns as jsonb too.
    */
  def pgType(dt: DataType): String = dt match {
    case LongType             => "bigint"
    case IntegerType          => "integer"
    case ShortType | ByteType => "smallint"
    case DoubleType           => "double precision"
    case FloatType            => "real"
    case BooleanType          => "boolean"
    case StringType           => "text"
    case TimestampType        => "timestamp without time zone"
    case DateType             => "date"
    case BinaryType           => "bytea"
    case d: DecimalType       => s"numeric(${d.precision},${d.scale})"
    case ArrayType(e, _) => e match {
      case _: StructType | _: MapType | _: ArrayType => "jsonb" // nested: no clean PG array
      case _ => s"${pgType(e)}[]"
    }
    case _                    => "jsonb"
  }

  /** Target-table bootstrap DDL from the DataFrame schema — the reference
    * ships hand-written `CREATE TABLE IF NOT EXISTS` files per table
    * (`schema/001_*.sql` etc., applied by `init_db`); a Spark-first sink
    * derives the same thing from the schema it is about to write.
    * Idempotent (`IF NOT EXISTS`), NOT NULL from field nullability (pk
    * columns are always NOT NULL), plus an index on the ordering column —
    * the `WHERE excluded.ord >= t.ord` guard reads it on every conflict.
    */
  def createTableSql(
      table: String,
      schema: StructType,
      pkColumns: Seq[String],
      orderingCol: String): Seq[String] = {
    require(pkColumns.nonEmpty && pkColumns.forall(schema.fieldNames.contains))
    val cols = schema.fields.map { f =>
      val notNull = if (!f.nullable || pkColumns.contains(f.name)) " NOT NULL" else ""
      s"    ${quoteIdent(f.name)} ${pgType(f.dataType)}$notNull"
    }
    val pk = s"    PRIMARY KEY (${pkColumns.map(quoteIdent).mkString(", ")})"
    val baseName = table.split('.').last
    Seq(
      s"CREATE TABLE IF NOT EXISTS ${quoteQualified(table)} (\n" +
        (cols :+ pk).mkString(",\n") + "\n)",
      s"CREATE INDEX IF NOT EXISTS ${quoteIdent(s"idx_${baseName}_$orderingCol")} " +
        s"ON ${quoteQualified(table)} (${quoteIdent(orderingCol)})")
  }

  /** The reference's `parquet_import_tracking` bookkeeping table
    * (`schema/000_00_all_parquet_import_tracking.sql`): same columns and
    * indexes, collapsed to the post-migration shape (the reference's DO $$
    * blocks only retrofit these onto pre-existing deployments).
    */
  def trackingTableSql(schemaName: String): Seq[String] = {
    val t = s"$schemaName.parquet_import_tracking"
    Seq(
      s"CREATE TABLE IF NOT EXISTS ${quoteQualified(t)} (\n" +
        """    "id" bigint GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY,
          |    "table_name" text NOT NULL,
          |    "file_name" text UNIQUE,
          |    "file_type" text NOT NULL,
          |    "file_version" text NOT NULL,
          |    "file_duration_s" integer NOT NULL,
          |    "is_empty" boolean,
          |    "end_timestamp" timestamp without time zone,
          |    "last_row_group_imported" integer,
          |    "total_row_groups" integer NOT NULL,
          |    "completed" boolean DEFAULT FALSE,
          |    "backfill" boolean DEFAULT FALSE
          |)""".stripMargin,
      s"""CREATE INDEX IF NOT EXISTS "idx_parquet_import_tracking_table_name" ON ${quoteQualified(t)} ("table_name")""",
      s"""CREATE INDEX IF NOT EXISTS "idx_parquet_import_tracking_table_name_and_version" ON ${quoteQualified(t)} ("table_name", "file_version", "file_duration_s")""",
      s"""CREATE INDEX IF NOT EXISTS "idx_parquet_import_tracking_file_type" ON ${quoteQualified(t)} ("file_type")""",
      s"""CREATE INDEX IF NOT EXISTS "idx_parquet_import_tracking_end_timestamp" ON ${quoteQualified(t)} ("end_timestamp")""")
  }

  /** Quote a possibly schema-qualified name part-by-part (`s.t` → `"s"."t"`). */
  def quoteQualified(name: String): String =
    name.split('.').map(quoteIdent).mkString(".")

  /** Postgres raises "ON CONFLICT DO UPDATE command cannot affect row a
    * second time" when one statement carries two rows with the same key —
    * the reference dedupes each batch before binding
    * (db.py profile_with_addresses path). Keep, per key, the row with the
    * greatest ordering value; on ties the later row in batch order wins,
    * matching the reference's keep-last and the `>=` conflict guard.
    */
  def dedupBatch(batch: Seq[Row], pkIdx: Seq[Int], ordIdx: Int): Seq[Row] = {
    if (batch.size <= 1) return batch
    def ord(r: Row): Any = if (r.isNullAt(ordIdx)) null else r.get(ordIdx)
    def geq(a: Any, b: Any): Boolean = (a, b) match {
      case (null, _) => b == null
      case (_, null) => true
      case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y) >= 0
      case _ => true
    }
    val keep = new java.util.LinkedHashMap[Seq[Any], Row]()
    batch.foreach { r =>
      val key = pkIdx.map(i => if (r.isNullAt(i)) null else r.get(i))
      val prev = keep.get(key)
      if (prev == null || geq(ord(r), ord(prev))) keep.put(key, r)
    }
    if (keep.size == batch.size) batch
    else {
      import scala.jdk.CollectionConverters._
      keep.values.asScala.toSeq
    }
  }

  /** Bind a batch of rows into a prepared multi-row statement and execute. */
  def bindAndExecute(stmt: PreparedStatement, schema: StructType, rows: Seq[Row]): Int = {
    var p = 1
    rows.foreach { row =>
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (row.isNullAt(i)) stmt.setObject(p, null)
        else f.dataType match {
          case LongType    => stmt.setLong(p, row.getLong(i))
          case IntegerType => stmt.setInt(p, row.getInt(i))
          case DoubleType  => stmt.setDouble(p, row.getDouble(i))
          case StringType  => stmt.setString(p, row.getString(i))
          case BooleanType => stmt.setBoolean(p, row.getBoolean(i))
          case TimestampType => stmt.setTimestamp(p, row.getTimestamp(i))
          case BinaryType  => stmt.setBytes(p, row.getAs[Array[Byte]](i))
          case _           => stmt.setObject(p, row.get(i))
        }
        p += 1
      }
    }
    stmt.executeUpdate()
  }

  /** Postgres rejects statements with more than 65535 bind parameters; the
    * reference carries this as a TODO (db.py:797) — here the batch size is
    * clamped so rows × columns always fits.
    */
  def maxRowsPerStatement(numColumns: Int): Int =
    math.max(1, 65535 / math.max(1, numColumns))

  /** Transient-failure classification, mirroring the reference's retry
    * policy (db.py:665-702: tenacity around every statement). SQLSTATE
    * class 40 (serialization failure / deadlock — Postgres 40001, 40P01),
    * class 08 (connection exceptions), class 53 (insufficient resources),
    * 57P03 (cannot_connect_now), plus JDBC's own transient/recoverable
    * exception hierarchy. Everything else (constraint violations, syntax,
    * datatype) fails the task immediately — retrying those wastes the
    * whole backoff budget on a deterministic error.
    */
  def isTransient(e: SQLException): Boolean = {
    val st = Option(e.getSQLState).getOrElse("")
    e.isInstanceOf[SQLTransientException] ||
      e.isInstanceOf[SQLRecoverableException] ||
      st.startsWith("40") || st.startsWith("08") || st.startsWith("53") ||
      st == "57P03"
  }

  /** The connection itself is suspect — replace it rather than reuse. */
  def isConnectionFailure(e: SQLException): Boolean = {
    val st = Option(e.getSQLState).getOrElse("")
    e.isInstanceOf[SQLRecoverableException] || st.startsWith("08")
  }

  /** Exponential backoff with jitter, the reference's tenacity shape
    * (`wait_exponential_jitter(initial=0.4, max=10)`): 0.4s, 0.8s, 1.6s,
    * … capped at 10s, plus up to 1s uniform jitter so a deadlock storm's
    * retries don't re-collide in lockstep.
    */
  def backoffMs(attempt: Int, initialMs: Long = 400, maxMs: Long = 10000): Long = {
    val expo = math.min(maxMs, initialMs << math.min(attempt - 1, 20))
    expo + java.util.concurrent.ThreadLocalRandom.current().nextLong(1000)
  }

  /** Default attempt budget — the reference's `stop_after_attempt(5)`. */
  val DefaultMaxAttempts = 5

  /** Adaptive batch sizing — the reference's performance-manager feedback
    * loop (`database/unified_performance.py:180-198` adjust_batch_size):
    * when the trailing `window` batches average slower than `slowMs`,
    * shrink 20% (the reference's exact factor), floored at `min`. The
    * reference only ever shrinks; here the recovery direction exists too
    * (grow 25% toward `max` when the trailing average is comfortably fast)
    * because a Spark import is long-lived — a transient slow spell
    * (deadlock storm, checkpoint stall) must not leave every later
    * statement dribble-sized. Observations reset after each adjustment so
    * the next decision is made from times measured at the NEW size.
    */
  final class AdaptiveBatchSizer(
      initial: Int,
      min: Int,
      max: Int,
      slowMs: Double = 3000.0,
      fastMs: Double = 500.0,
      window: Int = 5) extends Serializable {
    require(min >= 1 && initial >= min && initial <= max, s"bad bounds: $min <= $initial <= $max")
    private var current = initial
    private var n = 0
    private var sumMs = 0.0

    def size: Int = current

    /** Record one batch's wall time; returns the (possibly adjusted) size. */
    def record(batchMs: Double): Int = {
      n += 1
      sumMs += batchMs
      if (n >= window) {
        val avg = sumMs / n
        if (avg > slowMs) current = math.max(min, (current * 0.8).toInt)
        else if (avg < fastMs) current = math.min(max, math.max(current + 1, (current * 1.25).toInt))
        n = 0
        sumMs = 0.0
      }
      current
    }
  }

  /** Distributed upsert: every partition opens its own connection (supplied
    * by `connect`, so tests can inject a double) and writes in batches of
    * `batchSize` rows.
    */
  def write(
      df: DataFrame,
      table: String,
      pkColumns: Seq[String],
      orderingCol: String,
      batchSize: Int,
      connect: () => Connection,
      maxAttempts: Int = DefaultMaxAttempts,
      sleepMs: Long => Unit = Thread.sleep,
      adaptive: Boolean = false,
      nanoTime: () => Long = () => System.nanoTime()): Unit = {
    val schema = df.schema
    val columns = schema.fieldNames.toSeq
    val effBatch = math.min(batchSize, maxRowsPerStatement(columns.size))
    val pkIdx = pkColumns.map(schema.fieldIndex)
    val ordIdx = schema.fieldIndex(orderingCol)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        // per-partition sizer: each connection observes its own backend
        val sizer =
          if (adaptive) new AdaptiveBatchSizer(effBatch, math.max(1, effBatch / 8), effBatch)
          else null
        var conn = connect()
        try {
          conn.setAutoCommit(false)
          val buf = new scala.collection.mutable.ArrayBuffer[Row](effBatch)
          while (rows.hasNext) {
            val want = if (sizer == null) effBatch else sizer.size
            buf.clear()
            while (rows.hasNext && buf.size < want) buf += rows.next()
            val raw = buf.toSeq
            val t0 = if (sizer == null) 0L else nanoTime()
            val batch = dedupBatch(raw, pkIdx, ordIdx)
            val sql = upsertSql(table, columns, pkColumns, orderingCol, batch.size)
            // each statement is retried with backoff on *transient* failures
            // (the reference rides out deadlock storms the same way); the
            // upsert is idempotent under the >= ordering guard, so replaying
            // a batch whose commit outcome is unknown is safe.
            var attempt = 1
            var done = false
            while (!done) {
              try {
                val stmt = conn.prepareStatement(sql)
                try bindAndExecute(stmt, schema, batch)
                finally stmt.close()
                conn.commit()
                done = true
              } catch {
                case e: SQLException if attempt < maxAttempts && isTransient(e) =>
                  val rolledBack =
                    try { conn.rollback(); true } catch { case _: SQLException => false }
                  if (!rolledBack || isConnectionFailure(e)) {
                    try conn.close() catch { case _: SQLException => () }
                    conn = connect()
                    conn.setAutoCommit(false)
                  }
                  sleepMs(backoffMs(attempt))
                  attempt += 1
              }
            }
            if (sizer != null) sizer.record((nanoTime() - t0) / 1e6)
          }
        } finally conn.close()
      }
    }
  }
}
