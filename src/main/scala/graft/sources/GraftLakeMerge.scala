package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Predicate}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.LakeSnapshot
import graft.etl.LakeSnapshot.LakeState

/** SQL `MERGE INTO` (and row-level `UPDATE`) over the lake — the
  * DSv2 row-level-operation surface (VERDICT r13 #2):
  *
  * {{{
  *   MERGE INTO graft.events t USING updates s ON t.event_id = s.event_id
  *   WHEN MATCHED AND s.op = 'd' THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * The operation is DELTA-BASED ([[SupportsDelta]], the Iceberg
  * merge-on-read shape): Spark joins the target scan with the source and
  * hands each output row to a [[DeltaWriter]] as an INSERT / UPDATE /
  * DELETE — it never rewrites untouched rows, so the write cost is
  * O(merge output), not O(touched partitions). Each writer task streams
  * its rows into per-day delta parquet files under the generation
  * [[LakeSnapshot.stageExternalDelta]] claimed (upserts as `__op = "u"`
  * full rows, deletes as `__op = "d"` key markers — exactly the files
  * `mergeDelta`/`deleteKeysDelta` stage), and the driver publishes ONE
  * manifest row via [[LakeSnapshot.commitExternalDelta]]: a whole
  * MATCHED-UPDATE/MATCHED-DELETE/NOT-MATCHED-INSERT mix lands as one
  * atomic MoR delta commit, never a rewrite, with row-delta concurrency
  * (no overlap abort). Writers write task-private dot-temp files and
  * rename on task commit, so a retried task never leaks half a file
  * into the committed generation.
  *
  * Row identity: `rowId = (key, ts)` — key is the lake's merge key; ts
  * rides along so a DELETE (which only receives the row ID) can derive
  * the day its marker files under, the same (key, ts) → day contract as
  * [[LakeSnapshot.deleteKeysDelta]]. An UPDATE that MOVES the row's day
  * (`SET ts` across a date boundary) also emits a delete marker in the
  * old day — a move, never a duplication. `UPDATE SET * / INSERT *`
  * star syntax expands over every target column including the derived
  * `day`, so the source must carry a `day` column to use it; the writer
  * re-derives day from ts regardless of the supplied value. The 100 TB
  * shape: the target scan is the day-pruned DSv2 relation, the join is
  * Catalyst's to plan, and the write moves only the merge output — no
  * driver collect anywhere.
  */
private[sources] class LakeRowLevelOperation(
    tableSchema: StructType, props: Map[String, String],
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  private val key = props.getOrElse("key", sys.error(
    "graft-lake: MERGE/UPDATE needs the table's merge key — CREATE the " +
      "table through the graft catalog (TBLPROPERTIES 'key') or write " +
      "to it once so the key is recorded"))
  private val ts = props.getOrElse("ts", "ts")
  require(tableSchema.fieldNames.contains(ts),
    s"graft-lake: event-time column '$ts' is not in the table schema " +
      s"${tableSchema.fieldNames.toSeq} — row-level ops derive each " +
      "row's day from it")

  override def command: RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-lake $cmd rowId=($key, $ts)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(tableSchema, props)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new LakeDeltaWrite(props, key, ts, info)
    }

  /** (key…, ts): the key — every part of a composite `'a,b'` key — IS
    * row identity in an upsert lake; ts rides along so deletes can
    * place their day marker (see class doc).
    */
  override def rowId(): Array[NamedReference] =
    (LakeSnapshot.keyParts(key).map(Expressions.column) :+
      Expressions.column(ts)).toArray
}

/** Task-level commit: the (day, published file) pairs this task wrote —
  * file paths so a driver-side mover (the streaming sink) relocates
  * EXACTLY the committed attempt's files, never a failed attempt's
  * leftovers.
  */
private[sources] final case class LakeMergeTaskCommit(
    files: Seq[(String, String)])
  extends WriterCommitMessage {
  def days: Seq[String] = files.map(_._1).distinct
}

private[sources] class LakeDeltaWrite(
    props: Map[String, String], key: String, ts: String,
    info: LogicalWriteInfo)
  extends DeltaWrite with DeltaBatchWrite {

  private val dir = GraftLakeSource.dirOf(props)

  // ONE claim, driver-side, shared by factory/commit/abort — the
  // staging snapshot also fixes the column mapping the writers bind
  // physical names against (same state the generation was claimed under)
  private lazy val staged: (Int, Int, LakeState) =
    LakeSnapshot.stageExternalDelta(SparkSession.active, dir, key)

  override def toBatch: DeltaBatchWrite = this

  override def description(): String = s"graft-lake delta write $dir"

  override def createBatchWriterFactory(
      pi: PhysicalWriteInfo): DeltaWriterFactory = {
    val (gen, _, state) = staged
    val dataSchema = info.schema()
    // a DELETE-only row-level plan (e.g. DELETE WHERE id IN (subquery),
    // r17 wave 6) carries NO data columns — rows arrive as rowId-only
    // deletes and the day derives from the rowId ts; only data-carrying
    // plans need the event-time column in the write schema
    require(dataSchema.isEmpty || dataSchema.fieldNames.contains(ts),
      s"graft-lake: merge row schema ${dataSchema.fieldNames.toSeq} is " +
        s"missing the event-time column '$ts'")
    LakeDeltaWriterFactory(SparkSession.active, dir,
      s"${LakeSnapshot.LakePaths(dir).delta}/gen=$gen", state, key, ts,
      dataSchema,
      info.rowIdSchema().orElseGet(() => sys.error(
        "graft-lake: delta write without a row ID schema")))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (gen, base, _) = staged
    val days = messages.toSeq
      .collect { case m: LakeMergeTaskCommit => m.days }.flatten.distinct
    // an empty merge output commits nothing — the claimed gen is
    // unreferenced and vacuum reclaims it
    if (days.nonEmpty)
      LakeSnapshot.commitExternalDelta(
        SparkSession.active, dir, gen, base, days, key)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val (gen, _, _) = staged
    val p = new Path(s"${LakeSnapshot.LakePaths(dir).delta}/gen=$gen")
    val fs = p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }
}

/** The delta writers' factory for both SQL MERGE (a [[DeltaWriterFactory]]
  * writing under the claimed generation `root`) and the streaming sink (a
  * [[StreamingDataWriterFactory]] writing under `root/<epochId>`, the
  * epoch's staging area). Built by [[LakeDeltaWriterFactory.apply]].
  */
private[sources] class LakeDeltaWriterFactory(
    val dir: String, root: String,
    val dataSchema: StructType, val dataOut: Array[Int], val tsIdxData: Int,
    val keyIdxId: Array[Int], val keyOut: Array[Int], val tsIdxId: Int,
    val fileSchema: StructType, val writeConf: Map[String, String],
    // CHECK constraints (r17 wave 3): (name, condition SQL, expression
    // bound against dataSchema, null-tolerant) — evaluated per upsert
    // row as it streams (deletes carry no data row, exempt)
    val checks: Seq[(String, String, Expression)])
  extends DeltaWriterFactory with StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new LakeDeltaTaskWriter(this, root, partitionId, taskId)

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new LakeDeltaTaskWriter(this, s"$root/$epochId", partitionId, taskId)
}

private[sources] object LakeDeltaWriterFactory {

  /** Driver-side setup shared by SQL MERGE and the streaming sink. Binds
    * every data column of `dataSchema` to its physical name under `state`
    * (`day` is derived from ts, never stored), binds the CHECK constraints,
    * and builds the parquet write conf ONCE for the physical file schema:
    * the bound data columns, the key parts a delete-only plan lacks (read
    * from `rowIdSchema`), nullable since a delete marker leaves the data
    * columns null, then the required `__op` — the fields a Spark write job
    * stores for `mergeDelta`'s nullable batch — with MICROS timestamps
    * like every lake write and the session's codec.
    */
  def apply(
      spark: SparkSession, dir: String, root: String, state: LakeState,
      key: String, ts: String, dataSchema: StructType,
      rowIdSchema: StructType): LakeDeltaWriterFactory = {
    val physical = dataSchema.fields.map { f =>
      if (f.name == "day") null
      else state.physicalFor(f.name).getOrElse(sys.error(
        s"graft-lake: column '${f.name}' has no physical binding at $dir " +
          "— not a live column, or a name retired by a rename/drop that " +
          "needs a fresh allocation: evolve the schema through the Scala " +
          "API first"))
    }
    LakeSnapshot.requireNoGenColumn(physical.toSeq.filter(_ != null), dir)
    val parts = LakeSnapshot.keyParts(key)
    val keyIdxId = parts.map(rowIdSchema.fieldIndex).toArray
    val keyPhysical = parts.map(k => state.physicalFor(k).getOrElse(k))
    val bound = dataSchema.fields.zip(physical)
      .collect { case (f, p) if p != null => StructField(p, f.dataType) }
    val keyOnly = keyPhysical.zip(keyIdxId).collect {
      case (p, i) if !physical.contains(p) =>
        StructField(p, rowIdSchema.fields(i).dataType)
    }
    val fileSchema =
      StructType(bound ++ keyOnly).add("__op", StringType, nullable = false)
    val dataOut = physical.map(p => if (p == null) -1 else fileSchema.fieldIndex(p))
    val conf = GraftBridge.parquetWriteConf(
      spark, fileSchema, spark.sparkContext.hadoopConfiguration)
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // CHECK constraints bind against the write schema driver-side and ship
    // to the writers as serialized bound expressions (deletes carry no
    // data row — exempt by construction)
    val checks =
      if (dataSchema.isEmpty) Nil
      else graft.etl.LakeChecks.checksOf(spark, dir).map { case (n, c) =>
        (n, c, graft.etl.LakeChecks.boundCheck(spark, dataSchema, n, c))
      }
    new LakeDeltaWriterFactory(dir, root, dataSchema, dataOut,
      if (dataSchema.fieldNames.contains(ts)) dataSchema.fieldIndex(ts) else -1,
      keyIdxId, keyPhysical.map(fileSchema.fieldIndex).toArray,
      rowIdSchema.fieldIndex(ts), fileSchema,
      conf.asScala.map(e => e.getKey -> e.getValue).toMap, checks)
  }
}

/** One task's delta writer: streams rows into per-day parquet files
  * (`__op`-tagged, physical column names) under `root/day=D/`, dot-temp
  * until task commit. `root` is the claimed generation directory on the
  * batch MERGE path, or the streaming sink's per-epoch staging area (the
  * driver moves files into the generation at batch commit). Each file is
  * written by Spark's own `ParquetWriteSupport` under the factory's write
  * conf, so its footer is the one a Spark write job stores; one reused
  * row in file-schema order carries each record. Memory is O(open day
  * writers), not O(rows).
  */
private[sources] class LakeDeltaTaskWriter(
    factory: LakeDeltaWriterFactory, root: String,
    partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {
  import factory._

  private val conf = LakeParquetRead.confOf(writeConf)

  private lazy val checkPreds = checks.map { case (name, cond, e) =>
    val p = Predicate.create(e)
    p.initialize(partitionId)
    (name, cond, p)
  }

  private val out = new GenericInternalRow(fileSchema.length)
  private val opIdx = fileSchema.length - 1
  private val fileTypes = fileSchema.fields.map(_.dataType)
  private val dataIdx = dataSchema.indices.toArray
  private val Upsert = UTF8String.fromString("u")
  private val Delete = UTF8String.fromString("d")

  private final case class DayOut(
    writer: ParquetWriter[InternalRow], tmp: Path, fin: Path)
  private val open = mutable.LinkedHashMap.empty[String, DayOut]
  private var done = false

  private def outFor(day: String): DayOut = open.getOrElseUpdate(day, {
    val dayDir = s"$root/day=$day"
    // dot-temp: invisible to every reader (Spark and the DSv2 listings
    // both skip dot-files); renamed to part-* only on task commit, so a
    // failed/straggler attempt never leaks rows into the generation
    val tmp = new Path(dayDir, s".inprog-$partitionId-$taskId.parquet")
    val fin = new Path(dayDir, f"part-$partitionId%05d-$taskId-merge.parquet")
    DayOut(graft.ModelParquet.rowWriter(tmp, conf), tmp, fin)
  })

  private def dayOf(micros: Long): String =
    java.time.LocalDate.ofEpochDay(
      Math.floorDiv(micros, 86400000000L)).toString

  /** Fill the reused row from `src` (ordinal `idx(j)` → file ordinal
    * `to(j)`), tag it and write it to `day`'s file.
    */
  private def emit(src: InternalRow, idx: Array[Int], to: Array[Int],
      op: UTF8String, day: String): Unit = {
    var j = 0
    while (j < opIdx) { out.setNullAt(j); j += 1 }
    j = 0
    while (j < idx.length) {
      if (to(j) >= 0 && !src.isNullAt(idx(j)))
        out.update(to(j), src.get(idx(j), fileTypes(to(j))))
      j += 1
    }
    out.update(opIdx, op)
    outFor(day).writer.write(out)
  }

  /** The full upsert image of `row` as a `__op = "u"` delta row. */
  private def upsert(row: InternalRow): Unit = {
    require(tsIdxData >= 0,
      "graft-lake: a delete-only delta write received a DATA row — " +
        "the plan carried no event-time column to derive its day")
    require(!row.isNullAt(tsIdxData),
      s"graft-lake MERGE: NULL event-time — every written row needs " +
        s"'${dataSchema.fields(tsIdxData).name}' to derive its day")
    checkPreds.foreach { case (name, cond, p) =>
      if (!p.eval(row)) throw new IllegalArgumentException(
        s"graft-lake: CHECK constraint '$name' ($cond) violated by a " +
          "written row — the whole operation aborts, nothing commits")
    }
    emit(row, dataIdx, dataOut, Upsert,
      dayOf(row.getLong(tsIdxData)))
  }

  override def insert(row: InternalRow): Unit = upsert(row)

  override def reinsert(meta: InternalRow, row: InternalRow): Unit =
    upsert(row)

  override def update(
      meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    // the new image supersedes the old row by key at fold time — the
    // same one-row semantics as mergeDelta's upsert. When the update
    // MOVES the row's day (SET ts = ... across a date boundary), the
    // fold is per-day and the new-day image alone cannot kill the
    // old-day base row — emit a delete marker in the OLD day too, so a
    // day-moving update is a move, never a duplication (the one place
    // the DSv2 surface is STRICTER than mergeDelta, which documents
    // day-stable upserts)
    if (!id.isNullAt(tsIdxId) && !row.isNullAt(tsIdxData) &&
        dayOf(id.getLong(tsIdxId)) != dayOf(row.getLong(tsIdxData)))
      deleteMarker(id)
    upsert(row)
  }

  // id = (key…, ts) of the EXISTING row: the marker lands in that row's
  // day, the deleteKeysDelta contract — every part of a composite key
  // writes, so the fold's tuple key collides exactly
  private def deleteMarker(id: InternalRow): Unit =
    emit(id, keyIdxId, keyOut, Delete, dayOf(id.getLong(tsIdxId)))

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    deleteMarker(id)

  override def write(row: InternalRow): Unit = upsert(row)

  override def commit(): WriterCommitMessage = {
    done = true
    val fs = new Path(dir).getFileSystem(conf)
    open.values.foreach { o =>
      o.writer.close()
      if (fs.exists(o.fin)) fs.delete(o.fin, false) // retried task's prior
      require(fs.rename(o.tmp, o.fin),
        s"graft-lake MERGE: publish rename ${o.tmp} -> ${o.fin} failed")
    }
    LakeMergeTaskCommit(
      open.toSeq.map { case (day, o) => day -> o.fin.toString })
  }

  override def abort(): Unit = {
    done = true
    val fs = new Path(dir).getFileSystem(conf)
    open.values.foreach { o =>
      try o.writer.close() catch { case _: Throwable => () }
      if (fs.exists(o.tmp)) fs.delete(o.tmp, false)
    }
  }

  override def close(): Unit =
    // lifecycle: commit() or abort() already ran; close leftover writers
    // defensively if neither did (driver-side kill)
    if (!done) abort()
}
