package graft.streaming

import java.sql.{Connection, DriverManager, PreparedStatement, Types}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/**
 * Placeholder dialect for the INSERT statement. The reference relies on
 * PostgreSQL server-side enum casts in its prepared statement
 * (`?::JOURNEY_TYPE`, `?::EVENT_TYPE`, `?::TRANSPORT_MODE`,
 * `?::LOCATION_QUALITY_METHOD` — QueueWriter.java:45-46); a plain target
 * (Derby, generic JDBC) binds bare `?`.
 */
trait SqlDialect extends Serializable {
  def placeholder(column: String): String
  /** Quoted identifier — `long` and `start` are reserved words
    * (SURVEY §7.4), so every column is quoted. */
  def quote(column: String): String = "\"" + column + "\""
}

object GenericDialect extends SqlDialect {
  override def placeholder(column: String): String = "?"
}

/** PostgreSQL/TimescaleDB parity: enum-typed columns cast server-side,
  * exactly the reference's statement shape (QueueWriter.java:36-48). */
object PostgresHfpDialect extends SqlDialect {
  private val enumCasts = Map(
    "journey_type" -> "JOURNEY_TYPE",
    "event_type" -> "EVENT_TYPE",
    "mode" -> "TRANSPORT_MODE",
    "loc" -> "LOCATION_QUALITY_METHOD")
  override def placeholder(column: String): String =
    enumCasts.get(column).map(t => s"?::$t").getOrElse("?")
}

/**
 * Transactional JDBC batch sink (reference O10, QueueWriter.java:50-165):
 * per partition, one connection with autocommit off, `addBatch` per row,
 * one `executeBatch` + `commit`; any error rolls the partition back and
 * rethrows, failing the micro-batch so the checkpoint does not advance
 * (at-least-once redelivery, O11).
 *
 * Atomicity scope: the reference commits ONE transaction per dump of up
 * to 250k rows (QueueWriter.java:31,141). Spark parallelizes the write,
 * so the native unit is one transaction PER PARTITION;
 * `singleTransaction = true` coalesces to one partition for strict parity
 * (fine at the reference's scale, a deliberate bottleneck at 100 TB —
 * leave it off and accept partition-level atomicity there).
 *
 * `idempotent = true` upgrades at-least-once to EFFECTIVELY-ONCE: each
 * partition records (table, batchId, partitionId) in a commit-ledger
 * table inside the SAME transaction as its rows, and a replayed
 * partition that finds its ledger row skips silently. This closes the
 * duplicate window the reference shares (crash between DB commit and
 * Pulsar ack redelivers the batch — MessageProcessor.java:90-95,131-143;
 * SURVEY §2.1 O11 note). For the ledger key to be meaningful the
 * partition CONTENTS must be reproducible on replay, so idempotent mode
 * hash-repartitions the batch to a FIXED partition count on a stable key
 * column (`idempotentKey`) — Spark's murmur3 hash partitioning of the
 * same rows with the same count assigns identically on any cluster,
 * where the scan's own splits shift with cores/`maxPartitionBytes`.
 * The ledger read-and-insert races only with the same (batch, partition)
 * replaying concurrently, which Structured Streaming's task re-attempt
 * rules already serialize through the rollback path. The ledger table
 * itself is created once per sink instance, on the driver, before the
 * first write.
 *
 * The two flags COMPOSE: with `singleTransaction && idempotent` the batch
 * coalesces to one partition (stable partition id 0, trivially
 * reproducible contents) and the ledger check/insert still runs inside
 * that single transaction — strict-parity atomicity AND effectively-once
 * together. The `idempotentKey` repartition is only needed when the write
 * is parallel, so the branches below order singleTransaction first.
 */
final class JdbcVehiclesSink(
    url: String, table: String,
    dialect: SqlDialect = GenericDialect,
    singleTransaction: Boolean = false,
    idempotent: Boolean = false,
    idempotentKey: String = "unique_vehicle_id",
    idempotentPartitions: Int = 8,
    connectionProps: Map[String, String] = Map.empty)
    extends BatchSink {

  @volatile private var ledgerReady = false

  override def write(batch: DataFrame, batchId: Long): Unit = {
    if (idempotent && !ledgerReady) {
      val conn = JdbcVehiclesSink.connect(url, connectionProps)
      try JdbcVehiclesSink.ensureLedger(conn, table) finally conn.close()
      ledgerReady = true
    }
    val df =
      if (singleTransaction) batch.coalesce(1)
      else if (idempotent)
        batch.repartition(idempotentPartitions,
          org.apache.spark.sql.functions.col(idempotentKey))
      else batch
    val schema = df.schema
    val sql = JdbcVehiclesSink.insertSql(table, schema, dialect)
    val (u, props, tbl, idem) = (url, connectionProps, table, idempotent)
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        val conn = JdbcVehiclesSink.connect(u, props)
        val ledger =
          if (idem) Some(JdbcVehiclesSink.LedgerKey(
            tbl, batchId, org.apache.spark.TaskContext.getPartitionId()))
          else None
        JdbcVehiclesSink.writePartition(conn, sql, schema, rows, ledger)
      }
    }
  }
}

object JdbcVehiclesSink {

  /** A connection to `url` with `props` as its JDBC properties. */
  def connect(url: String, props: Map[String, String]): Connection = {
    val p = new Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    DriverManager.getConnection(url, p)
  }

  /** INSERT statement with dialect placeholders, every identifier quoted. */
  def insertSql(table: String, schema: StructType, dialect: SqlDialect): String = {
    val cols = schema.fieldNames.map(dialect.quote).mkString(", ")
    val phs = schema.fieldNames.map(dialect.placeholder).mkString(", ")
    s"""INSERT INTO $table ($cols) VALUES ($phs)"""
  }

  /** Identity of one (sink table, micro-batch, partition) commit. */
  final case class LedgerKey(table: String, batchId: Long, partitionId: Int)

  /** Commit-ledger table name for a sink table. */
  def ledgerTable(table: String): String = s"${table}_commits"

  /** Create the ledger if absent (DDL is portable ANSI; the
    * already-exists error a restarted query or a concurrent creator
    * meets is swallowed). */
  def ensureLedger(conn: Connection, table: String): Unit = {
    val stmt = conn.createStatement()
    try stmt.executeUpdate(
      s"""CREATE TABLE ${ledgerTable(table)} (
         |  sink_table VARCHAR(128) NOT NULL,
         |  batch_id BIGINT NOT NULL,
         |  partition_id INT NOT NULL,
         |  PRIMARY KEY (sink_table, batch_id, partition_id))""".stripMargin)
    catch { case _: java.sql.SQLException => /* exists */ }
    finally stmt.close()
  }

  private def ledgerHas(conn: Connection, key: LedgerKey): Boolean = {
    val q = conn.prepareStatement(
      s"SELECT 1 FROM ${ledgerTable(key.table)} WHERE sink_table = ? AND batch_id = ? AND partition_id = ?")
    try {
      q.setString(1, key.table); q.setLong(2, key.batchId); q.setInt(3, key.partitionId)
      val rs = q.executeQuery()
      try rs.next() finally rs.close()
    } finally q.close()
  }

  private def ledgerInsert(conn: Connection, key: LedgerKey): Unit = {
    val ins = conn.prepareStatement(
      s"INSERT INTO ${ledgerTable(key.table)} (sink_table, batch_id, partition_id) VALUES (?, ?, ?)")
    try {
      ins.setString(1, key.table); ins.setLong(2, key.batchId); ins.setInt(3, key.partitionId)
      ins.executeUpdate(); ()
    } finally ins.close()
  }

  /** One transaction for one partition's rows; rollback + rethrow on
    * error. With a ledger key: skip if this (batch, partition) already
    * committed, else commit the ledger row atomically with the data.
    * The ledger table must exist ([[ensureLedger]]). */
  def writePartition(conn: Connection, sql: String, schema: StructType,
      rows: Iterator[Row], ledger: Option[LedgerKey] = None): Unit = {
    try {
      conn.setAutoCommit(false)
      val alreadyCommitted = ledger.exists(k => ledgerHas(conn, k))
      if (alreadyCommitted) {
        conn.rollback() // end the read-only ledger-check transaction
      } else {
        val stmt = conn.prepareStatement(sql)
        try {
          rows.foreach { row =>
            bindRow(stmt, schema, row)
            stmt.addBatch()
          }
          stmt.executeBatch()
          ledger.foreach(k => ledgerInsert(conn, k))
          conn.commit()
        } finally stmt.close()
      }
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case _: Throwable => }
        throw e
    } finally conn.close()
  }

  /** Typed bind with explicit setNull — the Spark restatement of the
    * reference's 7-case JDBC type dispatch (QueueWriter.java:174-214). */
  def bindRow(stmt: PreparedStatement, schema: StructType, row: Row): Unit =
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val idx = i + 1
      if (row.isNullAt(i)) stmt.setNull(idx, jdbcType(f.dataType))
      else f.dataType match {
        case StringType => stmt.setString(idx, row.getString(i))
        case IntegerType => stmt.setInt(idx, row.getInt(i))
        case LongType => stmt.setLong(idx, row.getLong(i))
        case ShortType => stmt.setShort(idx, row.getShort(i))
        case DoubleType => stmt.setDouble(idx, row.getDouble(i))
        case BooleanType => stmt.setBoolean(idx, row.getBoolean(i))
        case TimestampType => stmt.setTimestamp(idx, row.getTimestamp(i))
        case DateType => stmt.setDate(idx, row.getDate(i))
        case t => throw new IllegalArgumentException(s"unsupported sink type $t for ${f.name}")
      }
    }

  def jdbcType(t: DataType): Int = t match {
    case StringType => Types.VARCHAR
    case IntegerType => Types.INTEGER
    case LongType => Types.BIGINT
    case ShortType => Types.SMALLINT
    case DoubleType => Types.DOUBLE
    case BooleanType => Types.BOOLEAN
    case TimestampType => Types.TIMESTAMP
    case DateType => Types.DATE
    case other => throw new IllegalArgumentException(s"unsupported sink type $other")
  }
}
