package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.LakeSnapshot

/** DataSource V2 STREAMING source over the snapshot lake's change feed
  * (VERDICT r12 #2): `spark.readStream.format("graft-cdc")
  * .option("path", lakeDir).option("startingEpoch", e)` replaces s22's
  * driver-side poll loop with a first-class `MicroBatchStream` whose
  * OFFSETS ARE MANIFEST EPOCHS — so the whole Structured Streaming
  * surface (watermarks, stateful ops, joins, checkpoint restart,
  * AvailableNow) composes over the feed.
  *
  * Shape, end to end:
  *   - `latestOffset` is one manifest listing (metadata-sized);
  *   - a micro-batch (fromEpoch, toEpoch] plans ONE InputPartition PER
  *     CHANGE-SIDECAR FILE ([[LakeSnapshot.readChangesCdf]]'s write-time
  *     files — no snapshot diffing on the consume path), so read
  *     parallelism scales with the data, not the commit count;
  *   - each partition is read ON THE EXECUTOR by a standalone
  *     parquet-example reader ([[CdcPartitionReader]]) — no driver
  *     collect anywhere; `_commit_epoch` is stamped from partition
  *     metadata;
  *   - [[SupportsAdmissionControl]] honors `maxEpochsPerBatch`, and
  *     [[SupportsTriggerAvailableNow]] pins the end target so
  *     AvailableNow drains in bounded batches and a checkpoint restart
  *     resumes from the committed epoch offset mid-stream
  *     (GraftCdcSourceSpec).
  *
  * Loud-failure contract inherited from [[LakeSnapshot.cdfGens]]: a
  * window containing a sidecar-less (cdf=false) mutation fails the
  * batch rather than silently skipping its changes.
  *
  * The schema is inferred from the existing sidecars (one footer per
  * generation, merged) + `_commit_epoch INT`; the sidecar writer pins
  * TIMESTAMP_MICROS so the standalone reader never meets INT96.
  */
class GraftCdcSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdc"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftCdcSource.feedSchema(
      SparkSession.active,
      Option(options.get("path")).getOrElse(
        sys.error("graft-cdc: the 'path' option (lake directory) is required")))

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcTable(schema, properties.asScala.toMap)
}

object GraftCdcSource {
  /** Driver-side schema inference: union of every sidecar generation's
    * footer (so schema evolution inside the retained feed surfaces), plus
    * the commit-epoch stamp.
    */
  def feedSchema(spark: SparkSession, dir: String): StructType = {
    val fields = sidecarFields(spark, s"$dir/cdf")
    require(fields.nonEmpty,
      s"graft-cdc: no change sidecars at $dir/cdf — create the lake and " +
        "commit at least one cdf=true mutation before starting the stream")
    StructType(fields :+ StructField("_commit_epoch", IntegerType))
  }

  /** Sidecar schema inference from one footer per `gen=G` directory,
    * read on the driver ([[LakeSnapshot.footerSchema]]) — never through
    * partition discovery, so the `gen` directory key can't leak into the
    * feed schema as a spurious always-null data column, and a real table
    * column named `gen` can't collide with it (ADVICE r15). Evolved
    * footers union across generations, and sidecars written before and
    * after a TYPE WIDENING commit resolve to the wider type (r17).
    */
  private[sources] def sidecarFields(
      spark: SparkSession, cdfRoot: String): Seq[StructField] = {
    val p = new Path(cdfRoot)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return Nil
    // numeric suffixes only: a stray `gen=3.tmp` (crashed-writer
    // artifact) must not throw NumberFormatException and kill schema
    // inference (ADVICE r16)
    val genDirs = f.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.matches("gen=\\d+"))
      .sortBy(_.getPath.getName.stripPrefix("gen=").toInt)
      .map(_.getPath.toString).toSeq
    val merged =
      scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    genDirs.flatMap(d => LakeSnapshot.footerSchema(spark, Seq(d)))
      .foreach(_.fields.foreach { f =>
        merged(f.name) = merged.get(f.name).fold(f)(prev => prev.copy(
          dataType = LakeSnapshot.widerType(f.name, prev.dataType, f.dataType)))
      })
    merged.values.toSeq
  }
}

private[sources] class CdcTable(
    tableSchema: StructType, props: Map[String, String])
  extends Table with SupportsRead {

  override def name(): String = s"graft-cdc:${props.getOrElse("path", "?")}"

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CdcScan(tableSchema, props)
    }
}

private[sources] class CdcScan(
    tableSchema: StructType, props: Map[String, String]) extends Scan {

  override def readSchema(): StructType = tableSchema

  override def description(): String = s"graft-cdc ${props.getOrElse("path", "")}"

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(tableSchema, props)
}

/** Epoch offset: the manifest commit epoch the consumer has fully
  * processed (exclusive start of the next window).
  */
final case class CdcOffset(epoch: Int) extends Offset {
  override def json(): String = epoch.toString
}

private[sources] class CdcMicroBatchStream(
    tableSchema: StructType, props: Map[String, String])
  extends MicroBatchStream
  with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val dir = props.getOrElse("path",
    sys.error("graft-cdc: the 'path' option (lake directory) is required"))
  // startingTimestamp (r18): same resolution as the full-table stream —
  // T → youngest epoch committed strictly BEFORE T, so the tail emits
  // every commit at or after T (users think in time, not epoch numbers)
  private val startingEpoch: Option[Int] = {
    val byEpoch = props.get("startingEpoch").map(_.toInt)
    val byTs = props.get("startingTimestamp").map { raw =>
      require(byEpoch.isEmpty,
        "graft-cdc: give option 'startingEpoch' OR 'startingTimestamp', " +
          "not both")
      val tMs = GraftLakeSource.parseInstantMs(raw)
      LakeSnapshot.epochAtOrBefore(SparkSession.active, dir, tMs - 1)
        .getOrElse(-1)
    }
    byEpoch.orElse(byTs)
  }
  private val maxEpochsPerBatch =
    props.get("maxEpochsPerBatch").map(_.toInt).getOrElse(Int.MaxValue)
  require(maxEpochsPerBatch > 0, "maxEpochsPerBatch must be positive")

  private def spark = SparkSession.active

  // AvailableNow target: pinned once at prepare time so the run drains a
  // FIXED range in bounded batches and terminates
  @volatile private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(LakeSnapshot.currentEpoch(spark, dir))

  override def initialOffset(): Offset =
    CdcOffset(startingEpoch.getOrElse(LakeSnapshot.currentEpoch(spark, dir)))

  override def deserializeOffset(json: String): Offset =
    CdcOffset(json.trim.toInt)

  override def getDefaultReadLimit: ReadLimit =
    if (maxEpochsPerBatch == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxEpochsPerBatch.toLong)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[CdcOffset].epoch
    val current = availableNowTarget
      .getOrElse(LakeSnapshot.currentEpoch(spark, dir))
    val capped = math.min(current.toLong, from.toLong + maxEpochsPerBatch)
    CdcOffset(math.max(from.toLong, capped).toInt)
  }

  override def reportLatestOffset(): Offset =
    CdcOffset(LakeSnapshot.currentEpoch(spark, dir))

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[CdcOffset].epoch
    val to = end.asInstanceOf[CdcOffset].epoch
    if (to <= from) return Array.empty
    val p = new Path(s"$dir/cdf")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // metadata-sized driver work: the committed (epoch, gen) pairs in the
    // window, then one listing per sidecar generation
    LakeSnapshot.cdfGens(spark, dir, from, to).flatMap { case (e, g) =>
      val genDir = new Path(p, s"gen=$g")
      if (!f.exists(genDir)) sys.error(
        s"graft-cdc: epoch $e's change sidecar $genDir is missing — " +
          "vacuumed past the consumer's offset? (raise the retention)")
      f.listStatus(genDir)
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(st => CdcFilePartition(st.getPath.toString, e): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(tableSchema,
      spark.sparkContext.hadoopConfiguration.asScala
        .map(e => e.getKey -> e.getValue).toMap)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** One change-sidecar parquet file + the commit epoch it belongs to. */
final case class CdcFilePartition(path: String, epoch: Int)
  extends InputPartition

private[sources] class CdcReaderFactory(
    schema: StructType, hadoopConf: Map[String, String])
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new CdcPartitionReader(p.asInstanceOf[CdcFilePartition], schema, hadoopConf)
}

/** Executor-side standalone parquet reader: parquet-example Group
  * records converted straight to InternalRow for the supported scalar
  * types (the sidecar writer controls the footer — TIMESTAMP_MICROS
  * pinned, no INT96, no nesting). Missing columns (schema evolution
  * across generations) read as NULL; unsupported types fail loudly.
  */
private[sources] class CdcPartitionReader(
    part: CdcFilePartition, schema: StructType,
    hadoopConf: Map[String, String])
  extends PartitionReader[InternalRow] {

  private val conf = {
    val c = new Configuration(false)
    hadoopConf.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private val reader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(part.path), conf))
  private val fileSchema = reader.getFooter.getFileMetaData.getSchema
  // fail with the real story instead of a ClassCastException mid-record:
  // the sidecar writer pins TIMESTAMP_MICROS, so INT96 here means the
  // file was written outside LakeSnapshot's cdf path
  require(!fileSchema.getColumns.asScala.exists(
    _.getPrimitiveType.getPrimitiveTypeName ==
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96),
    s"graft-cdc reader: ${part.path} carries INT96 timestamps — change " +
      "sidecars must be written through LakeSnapshot (TIMESTAMP_MICROS)")
  // LOUD on mid-stream schema evolution (r15): a sidecar column the
  // stream's (start-time) schema doesn't know would otherwise be
  // SILENTLY DROPPED from every change image — a consumer folding the
  // feed would hold a wrong table. `day` rides sidecars but is derived,
  // not part of the feed schema on every surface.
  locally {
    val known = schema.fieldNames.toSet + "day"
    val unknown = fileSchema.getFields.asScala.map(_.getName)
      .filterNot(known)
    require(unknown.isEmpty,
      s"graft-cdc reader: ${part.path} carries column(s) " +
        s"${unknown.mkString(", ")} the stream's schema does not — the " +
        "table evolved after the stream started; restart the stream to " +
        "pick up the new columns")
  }
  private val io = new ColumnIOFactory().getColumnIO(fileSchema)
  // per-field physical primitive names, computed once per file (the
  // widening upcast below checks them per value)
  private val physNames: Map[String, PrimitiveType.PrimitiveTypeName] =
    fileSchema.getFields.asScala.filter(_.isPrimitive)
      .map(f => f.getName -> f.asPrimitiveType().getPrimitiveTypeName).toMap
  private def phys(name: String): PrimitiveType.PrimitiveTypeName =
    physNames.getOrElse(name, null)
  private var recordReader: org.apache.parquet.io.RecordReader[Group] = _
  private var remaining = 0L
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (remaining == 0L) {
      val pages = reader.readNextRowGroup()
      if (pages == null) return false
      recordReader = io.getRecordReader(pages, new GroupRecordConverter(fileSchema))
      remaining = pages.getRowCount
    }
    val g = recordReader.read()
    remaining -= 1
    current = convert(g)
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = reader.close()

  private def convert(g: Group): InternalRow = {
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      vals(i) =
        if (f.name == "_commit_epoch") part.epoch
        else if (!fileSchema.containsField(f.name)) null
        else if (g.getFieldRepetitionCount(f.name) == 0) null
        else f.dataType match {
          // TYPE WIDENING (r17): sidecars written before a widen commit
          // carry the narrow physical type — upcast; the narrowing
          // direction means the table widened after the stream bound its
          // schema: fail with the real story (restart picks up the type)
          case LongType =>
            if (phys(f.name) == PrimitiveType.PrimitiveTypeName.INT32)
              g.getInteger(f.name, 0).toLong
            else g.getLong(f.name, 0)
          case TimestampType => g.getLong(f.name, 0)
          case IntegerType | DateType =>
            require(phys(f.name) != PrimitiveType.PrimitiveTypeName.INT64,
              s"graft-cdc reader: column '${f.name}' in ${part.path} was " +
                "WIDENED to BIGINT after the stream started — restart " +
                "the stream to pick up the widened type")
            g.getInteger(f.name, 0)
          case DoubleType =>
            if (phys(f.name) == PrimitiveType.PrimitiveTypeName.FLOAT)
              g.getFloat(f.name, 0).toDouble
            else g.getDouble(f.name, 0)
          case FloatType =>
            require(phys(f.name) != PrimitiveType.PrimitiveTypeName.DOUBLE,
              s"graft-cdc reader: column '${f.name}' in ${part.path} was " +
                "WIDENED to DOUBLE after the stream started — restart " +
                "the stream to pick up the widened type")
            g.getFloat(f.name, 0)
          case BooleanType => g.getBoolean(f.name, 0)
          case StringType => UTF8String.fromString(g.getString(f.name, 0))
          // COMPLEX columns (r17 wave 6): decimal/binary/array/map/
          // struct change images decode through the SAME Group bridge
          // the batch reader uses — a table with typed columns streams
          // its change feed instead of refusing
          case _: DecimalType | BinaryType | _: ArrayType | _: MapType |
               _: StructType =>
            LakeGroupRead.internalValue(g, fileSchema, f.name, f.dataType)
          case other => throw new UnsupportedOperationException(
            s"graft-cdc reader: unsupported column type $other for " +
              s"'${f.name}' in ${part.path}")
        }
      i += 1
    }
    new GenericInternalRow(vals)
  }
}
