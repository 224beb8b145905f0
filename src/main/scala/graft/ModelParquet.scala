package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType

/** DRIVER-side parquet writer and reader for MODEL-sized frames
  * (OPTIMIZATION r20 — VERDICT r19 #6).
  *
  * Every index-epoch commit rewrote its centroid/codebook frames through a
  * `coalesce(1).write` Spark job — a full scheduler round-trip (job, stage,
  * task, commit protocol) to move a few hundred model rows that are
  * ALREADY driver-resident in most flows (the trainers collect the model;
  * the append paths collect it for the assignment kernels). At sf0.1 that
  * was 4+ such jobs per lifecycle entry (~0.1 s each); at cluster scale it
  * is a pointless job per epoch on the maintenance path. Reading a stored
  * model back cost a job too: a scan plus a collect, or a broadcast.
  *
  * Three primitives, all zero-job:
  *
  *   - [[overwrite]]/[[overwriteFrom]]: write the rows as ONE parquet file
  *     through Spark's own `ParquetWriteSupport` — the exact row codec,
  *     logical types, and footer schema metadata a Spark write job
  *     produces, so every `spark.read.parquet` consumer sees an identical
  *     surface. (A `collect()` of a driver-local frame — `Seq.toDF` —
  *     plans a LocalTableScan and launches NO job.)
  *   - [[read]]: the twin of [[overwrite]] — the rows and schema
  *     `spark.read.parquet(dir).collect()` returns, decoded on the driver
  *     by the lake's one record reader (Spark's row converter).
  *   - [[copyDir]]: byte-for-byte FS copy of a committed model directory
  *     into a new epoch directory — for the append/compact/retrain paths
  *     that re-publish an UNCHANGED model under the new epoch. Exactness
  *     is trivial: the bytes are the bytes.
  *
  * Strictly for model-sized data (nLists ≈ √N rows, nSub × nCodes
  * codebook entries — the spark.ml "driver holds the model" shape); data
  * frames keep their distributed writes and reads.
  */
object ModelParquet {

  private class RowsBuilder(path: Path, ws: ParquetWriteSupport)
      extends ParquetWriter.Builder[InternalRow, RowsBuilder](path) {
    override def self(): RowsBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] = ws
  }

  /** Replace `dir` with one parquet file holding `rows` (schema-exact,
    * Spark-codec-exact), entirely on the driver — zero Spark jobs.
    */
  def overwrite(
      spark: SparkSession, schema: StructType, rows: Seq[Row],
      dir: String): Unit = {
    val base = spark.sparkContext.hadoopConfiguration
    // the exact write-side conf a Spark write job carries (schema, logical
    // types, rebase modes, field ids) — populated by Spark's own
    // ParquetUtils.prepareWrite, never by hand-listed keys; `base` is
    // copied, not mutated
    val conf = org.apache.spark.sql.graftbridge.GraftBridge
      .parquetWriteConf(spark, schema, base)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(base)
    fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    val file = new Path(dirPath,
      s"part-00000-${java.util.UUID.randomUUID()}.parquet")
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val writer = rowWriter(file, conf)
    try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
    finally writer.close()
  }

  /** A writer of `InternalRow`s into one parquet file through Spark's own
    * `ParquetWriteSupport`, under a write conf from
    * `GraftBridge.parquetWriteConf` (its schema is the rows' schema). An
    * existing file at `file` is replaced. Also the lake's delta writer.
    */
  private[graft] def rowWriter(
      file: Path, conf: Configuration): ParquetWriter[InternalRow] =
    new RowsBuilder(file, new ParquetWriteSupport)
      .withConf(conf)
      // the codec Spark's ParquetOptions mapped the session's codec name to
      // (`none` → UNCOMPRESSED, `lz4_raw` → LZ4_RAW, ...), as a write job does
      .withCompressionCodec(
        CompressionCodecName.valueOf(conf.get(ParquetOutputFormat.COMPRESSION)))
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()

  /** [[overwrite]] of a DataFrame's rows: job-free for driver-local frames
    * (LocalTableScan collects without a job), one small collect job for a
    * frame that scans files. Model-sized inputs only.
    */
  def overwriteFrom(df: DataFrame, dir: String): Unit =
    overwrite(df.sparkSession, df.schema, df.collect().toSeq, dir)

  /** The rows and schema `spark.read.parquet(dir).collect()` returns for
    * a model-sized directory, read on the driver with no Spark job. The
    * schema is the first data file's footer schema, as schema inference
    * takes it; the data files decode in name order through
    * [[graft.sources.LakeParquetRead.RowIterator]] under that schema.
    */
  def read(spark: SparkSession, dir: String): (StructType, Seq[Row]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(spark, dir).filter(_.getLen > 0)
    require(files.nonEmpty, s"no model data file under $dir")
    val schema = org.apache.spark.sql.graftbridge.GraftBridge
      .parquetFileSchema(spark, files.head, conf)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val rows = files.flatMap { st =>
      val it = new graft.sources.LakeParquetRead.RowIterator(
        st.getPath.toString, conf, _ => schema)
      // the converter reuses its row; the external copy does not
      try it.map(r => toRow(r).asInstanceOf[Row]).toVector finally it.close()
    }
    (schema, rows)
  }

  /** Byte-for-byte copy of a committed (model-sized) parquet directory's
    * data files into `dst` (replacing it) — the zero-job, trivially exact
    * way to re-publish an unchanged model under a new epoch.
    */
  def copyDir(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dstPath = new Path(dst)
    val fs = new Path(src).getFileSystem(conf)
    fs.delete(dstPath, true)
    fs.mkdirs(dstPath)
    dataFiles(spark, src).foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, st.getPath, fs, new Path(dstPath, st.getPath.getName),
        false, conf)
    }
  }

  /** The files of `dir` a Spark scan reads (no `_`/`.` names: job
    * markers and checksums), in name order.
    */
  private def dataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
  }
}
