package graft

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestJobs
import org.scalatest.funsuite.AnyFunSuite

/** The r20 driver-side model parquet writer replaces `coalesce(1).write`
  * Spark jobs on index-epoch model surfaces (centroids/codebooks). The
  * oracle gates the VALUES downstream; this spec pins the writer's two
  * claims directly: (1) a `spark.read.parquet` consumer sees exactly the
  * frame a Spark write job would have produced — rows AND schema, nested
  * arrays included; (2) the write launches zero Spark jobs.
  */
class ModelParquetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(name: String): String = {
    val p = Paths.get(s"target/modelparquet_spec/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    p.toString
  }

  /** A model-shaped frame: the codebooks surface (int, int, array<bigint>)
    * plus a nullable column — the exact shapes the epoch writers publish.
    */
  private def modelDf = Seq(
    (0, 0, Seq(1L, -2L, 3L), Option("a")),
    (0, 1, Seq(4L, 5L, 6L), None),
    (1, 0, Seq.empty[Long], Option("c"))
  ).toDF("m", "code", "qsub", "tag")

  private def centroidsDf = Seq(
    (0, Seq(0.5, -1.25)), (1, Seq(Double.MinPositiveValue, 2.0))
  ).toDF("list_id", "centroid")

  private def readBack(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toString).toSeq.sorted

  test("overwriteFrom read-back == coalesce(1) Spark-write read-back " +
    "(rows and schema, nested types)") {
    for (df <- Seq(modelDf, centroidsDf)) {
      val sparkDir = freshDir("spark_write")
      val driverDir = freshDir("driver_write")
      df.coalesce(1).write.mode("overwrite").parquet(sparkDir)
      ModelParquet.overwriteFrom(df, driverDir)
      assert(spark.read.parquet(driverDir).schema ===
        spark.read.parquet(sparkDir).schema)
      assert(readBack(driverDir) === readBack(sparkDir))
    }
  }

  test("overwrite launches ZERO Spark jobs for a driver-local frame") {
    val dir = freshDir("zero_jobs")
    val df = centroidsDf // Seq.toDF: LocalTableScan, collects without a job
    df.count() // force plan/codegen warm-up outside the measured window
    assert(TestJobs.launched(spark)(ModelParquet.overwriteFrom(df, dir)).jobs === 0,
      "driver-side model write must launch no job")
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("copyDir re-publishes a committed model dir byte-for-byte") {
    val src = freshDir("copy_src")
    val dst = freshDir("copy_dst")
    modelDf.coalesce(1).write.mode("overwrite").parquet(src)
    ModelParquet.copyDir(spark, src, dst)
    assert(readBack(dst) === readBack(src))
    val srcFile = new java.io.File(src).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val dstFile = new java.io.File(dst).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    assert(java.util.Arrays.equals(
      Files.readAllBytes(srcFile.toPath), Files.readAllBytes(dstFile.toPath)),
      "copyDir must copy the data file bytes unchanged")
  }

  test("overwrite compresses with the codec a Spark write job picks") {
    def codecOf(dir: String) = {
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath),
        spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.name
      finally reader.close()
    }
    val key = "spark.sql.parquet.compression.codec"
    val prior = spark.conf.getOption(key)
    try {
      for ((name, codec) <- Seq("snappy" -> "SNAPPY", "none" -> "UNCOMPRESSED",
             "uncompressed" -> "UNCOMPRESSED", "lz4_raw" -> "LZ4_RAW",
             "gzip" -> "GZIP")) {
        spark.conf.set(key, name)
        val sparkDir = freshDir("codec_spark")
        val driverDir = freshDir("codec_driver")
        centroidsDf.coalesce(1).write.mode("overwrite").parquet(sparkDir)
        ModelParquet.overwriteFrom(centroidsDf, driverDir)
        assert(codecOf(sparkDir) === codec, name)
        assert(codecOf(driverDir) === codec, name)
      }
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("overwrite replaces prior contents (overwrite semantics)") {
    val dir = freshDir("replace")
    ModelParquet.overwriteFrom(modelDf, dir)
    ModelParquet.overwriteFrom(centroidsDf, dir)
    assert(spark.read.parquet(dir).columns.toSeq ===
      Seq("list_id", "centroid"))
    assert(spark.read.parquet(dir).count() === 2)
  }
}
