package graft.etl

import java.sql.{Connection, DriverManager, PreparedStatement, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** Key-idempotent JDBC upsert sink (SURVEY.md §2.1 A5, I9).
  *
  * Spark's own JDBC writer is append/overwrite only, so the upsert is a
  * `foreachPartition` writer: executors open their own connections (the
  * driver never funnels rows), rows are written in chunked statement
  * batches inside a transaction per chunk, and the statement shape comes
  * from a [[UpsertDialect]]:
  *
  *   - [[DerbyDialect]] (and the H2-style default): portable
  *     UPDATE-then-INSERT — batch UPDATEs, then INSERT the keys whose
  *     update count was 0;
  *   - [[PostgresDialect]]: single-statement `INSERT .. ON CONFLICT (key)
  *     DO UPDATE` (shipped but unexercisable here: no pg driver in the
  *     zero-egress image — SURVEY.md §7 risk 4).
  *
  * Idempotency (effectively-once, I9): the key set is the primary key, so
  * replaying the same micro-batches any number of times converges to the
  * same table state. Within one batch the frame is deduped on the key;
  * the dedup's final aggregate already clusters each key into one
  * partition, so no two concurrent tasks race on one key.
  */
object JdbcUpsert {

  /** Quote an identifier: Derby/Postgres fold unquoted names (to upper/lower
    * case respectively), which breaks exact-case read-back into Spark.
    */
  private def q(id: String): String = "\"" + id + "\""

  sealed trait Statements
  /** All columns bound once per row. */
  final case class SingleStatement(sql: String) extends Statements
  /** UPDATE binds non-key cols then key cols; INSERT binds all cols. */
  final case class UpdateThenInsert(update: String, insert: String) extends Statements

  trait UpsertDialect extends Serializable {
    def ddlType(dt: DataType): String = dt match {
      case LongType      => "BIGINT"
      case IntegerType   => "INT"
      case DoubleType    => "DOUBLE"
      case BooleanType   => "BOOLEAN"
      case TimestampType => "TIMESTAMP"
      case StringType    => "VARCHAR(1024)"
      case other         => sys.error(s"no JDBC DDL mapping for $other")
    }
    def statements(table: String, cols: Seq[String], keys: Seq[String]): Statements
  }

  object DerbyDialect extends UpsertDialect {
    override def statements(table: String, cols: Seq[String], keys: Seq[String]): Statements = {
      val nonKey = cols.filterNot(keys.contains)
      UpdateThenInsert(
        update = s"UPDATE $table SET ${nonKey.map(c => s"${q(c)} = ?").mkString(", ")} " +
          s"WHERE ${keys.map(k => s"${q(k)} = ?").mkString(" AND ")}",
        insert = s"INSERT INTO $table (${cols.map(q).mkString(", ")}) " +
          s"VALUES (${cols.map(_ => "?").mkString(", ")})")
    }
  }

  object PostgresDialect extends UpsertDialect {
    override def ddlType(dt: DataType): String = dt match {
      case DoubleType => "DOUBLE PRECISION"
      case StringType => "TEXT"
      case other      => super.ddlType(other)
    }
    override def statements(table: String, cols: Seq[String], keys: Seq[String]): Statements = {
      val nonKey = cols.filterNot(keys.contains)
      SingleStatement(
        s"INSERT INTO $table (${cols.map(q).mkString(", ")}) " +
          s"VALUES (${cols.map(_ => "?").mkString(", ")}) " +
          s"ON CONFLICT (${keys.map(q).mkString(", ")}) DO UPDATE SET " +
          nonKey.map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", "))
    }
  }

  def dialectFor(url: String): UpsertDialect =
    if (url.startsWith("jdbc:postgresql")) PostgresDialect else DerbyDialect

  /** CREATE TABLE with a primary key on the upsert keys; no-op if present. */
  def ensureTable(url: String, table: String, schema: StructType, keys: Seq[String]): Unit = {
    val dialect = dialectFor(url)
    val conn = DriverManager.getConnection(url)
    try {
      val colsDdl = schema.fields
        .map(f => s"${q(f.name)} ${dialect.ddlType(f.dataType)} " +
          (if (keys.contains(f.name)) "NOT NULL" else "")).mkString(", ")
      val ddl = s"CREATE TABLE $table ($colsDdl, PRIMARY KEY (${keys.map(q).mkString(", ")}))"
      val st = conn.createStatement()
      try st.executeUpdate(ddl)
      catch {
        case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () // Derby: exists
      } finally st.close()
    } finally conn.close()
  }

  private def bind(ps: PreparedStatement, pos: Int, row: Row, fieldIdx: Int,
      dt: DataType): Unit = {
    if (row.isNullAt(fieldIdx)) {
      val sqlType = dt match {
        case LongType => java.sql.Types.BIGINT
        case IntegerType => java.sql.Types.INTEGER
        case DoubleType => java.sql.Types.DOUBLE
        case BooleanType => java.sql.Types.BOOLEAN
        case TimestampType => java.sql.Types.TIMESTAMP
        case _ => java.sql.Types.VARCHAR
      }
      ps.setNull(pos, sqlType)
    } else dt match {
      case LongType      => ps.setLong(pos, row.getLong(fieldIdx))
      case IntegerType   => ps.setInt(pos, row.getInt(fieldIdx))
      case DoubleType    => ps.setDouble(pos, row.getDouble(fieldIdx))
      case BooleanType   => ps.setBoolean(pos, row.getBoolean(fieldIdx))
      case TimestampType => ps.setTimestamp(pos, row.getAs[Timestamp](fieldIdx))
      case _             => ps.setString(pos, row.getString(fieldIdx))
    }
  }

  /** Upsert a batch DataFrame. Dedupes on the key within the batch; the
    * dedup clusters by key (one shuffle, none for single-partition input),
    * so each key is written by exactly one task.
    */
  def upsertBatch(df: DataFrame, url: String, table: String, keys: Seq[String],
      chunkSize: Int = 500): Unit = {
    val schema = df.schema
    val cols = schema.fieldNames.toSeq
    val keyIdx = keys.map(schema.fieldIndex)
    val nonKey = cols.filterNot(keys.contains)
    val nonKeyIdx = nonKey.map(schema.fieldIndex)
    val dialect = dialectFor(url)
    val stmts = dialect.statements(table, cols, keys)

    df.dropDuplicates(keys)
      .foreachPartition { rows: Iterator[Row] =>
        if (rows.nonEmpty) {
          val conn = DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            rows.grouped(chunkSize).foreach { chunk =>
              writeChunk(conn, stmts, chunk, schema, keyIdx, nonKeyIdx)
              conn.commit()
            }
          } finally conn.close()
        }
      }
  }

  private def writeChunk(conn: Connection, stmts: Statements, chunk: Seq[Row],
      schema: StructType, keyIdx: Seq[Int], nonKeyIdx: Seq[Int]): Unit = {
    // one batched statement over `rows`, binding the fields `idx` in order
    def batch(sql: String, rows: Seq[Row], idx: Seq[Int]): Array[Int] = {
      val ps = conn.prepareStatement(sql)
      try {
        rows.foreach { row =>
          idx.zipWithIndex.foreach { case (i, p) =>
            bind(ps, p + 1, row, i, schema.fields(i).dataType)
          }
          ps.addBatch()
        }
        ps.executeBatch()
      } finally ps.close()
    }
    stmts match {
      case SingleStatement(sql) => batch(sql, chunk, schema.indices)
      case UpdateThenInsert(updateSql, insertSql) =>
        val missed = batch(updateSql, chunk, nonKeyIdx ++ keyIdx)
          .zip(chunk).collect { case (0, row) => row }.toSeq
        if (missed.nonEmpty) batch(insertSql, missed, schema.indices)
    }
  }

  /** Streaming sink: checkpointed micro-batches + key-idempotent upsert =
    * effectively-once delivery (I9). Usage:
    * `sink(stream, url, table, keys, cp).start().awaitTermination()`.
    */
  def sink(stream: DataFrame, url: String, table: String, keys: Seq[String],
      checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, url, table, keys)
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
}
