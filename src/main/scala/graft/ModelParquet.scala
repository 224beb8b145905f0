package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType

/** DRIVER-side parquet writer for MODEL-sized frames (OPTIMIZATION r20 —
  * VERDICT r19 #6).
  *
  * Every index-epoch commit rewrote its centroid/codebook frames through a
  * `coalesce(1).write` Spark job — a full scheduler round-trip (job, stage,
  * task, commit protocol) to move a few hundred model rows that are
  * ALREADY driver-resident in most flows (the trainers collect the model;
  * the append paths collect it for the assignment kernels). At sf0.1 that
  * was 4+ such jobs per lifecycle entry (~0.1 s each); at cluster scale it
  * is a pointless job per epoch on the maintenance path.
  *
  * Two primitives, both zero-job:
  *
  *   - [[overwrite]]/[[overwriteFrom]]: write the rows as ONE parquet file
  *     through Spark's own `ParquetWriteSupport` — the exact row codec,
  *     logical types, and footer schema metadata a Spark write job
  *     produces, so every `spark.read.parquet` consumer sees an identical
  *     surface. (A `collect()` of a driver-local frame — `Seq.toDF` —
  *     plans a LocalTableScan and launches NO job; read-back frames cost
  *     one small collect job, still cheaper than the write job they
  *     replace.)
  *   - [[copyDir]]: byte-for-byte FS copy of a committed model directory
  *     into a new epoch directory — for the append/compact/retrain paths
  *     that re-publish an UNCHANGED model under the new epoch. Exactness
  *     is trivial: the bytes are the bytes.
  *
  * Strictly for model-sized data (nLists ≈ √N rows, nSub × nCodes
  * codebook entries — the spark.ml "driver holds the model" shape); data
  * frames keep their distributed writes.
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
    * (LocalTableScan collects without a job), one small collect job for
    * read-back frames. Model-sized inputs only.
    */
  def overwriteFrom(df: DataFrame, dir: String): Unit =
    overwrite(df.sparkSession, df.schema, df.collect().toSeq, dir)

  /** Byte-for-byte copy of a committed (model-sized) parquet directory's
    * visible files into `dst` (replacing it) — the zero-job, trivially
    * exact way to re-publish an unchanged model under a new epoch.
    */
  def copyDir(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcPath = new Path(src)
    val dstPath = new Path(dst)
    val fs = srcPath.getFileSystem(conf)
    fs.delete(dstPath, true)
    fs.mkdirs(dstPath)
    fs.listStatus(srcPath).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(
          fs, st.getPath, fs, new Path(dstPath, st.getPath.getName),
          false, conf)
      }
  }
}
