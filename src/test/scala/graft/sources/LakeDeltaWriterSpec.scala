package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.etl.LakeSnapshot
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The lake's delta files, whoever writes them: the `graft-lake`
  * streaming sink, SQL `MERGE` and `mergeDelta` store the same parquet
  * footer (fields, MICROS timestamps, Spark's row metadata, the session
  * codec), and a key written twice in one delta generation folds to the
  * row written last on every read surface.
  */
class LakeDeltaWriterSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val root = {
    val p = Paths.get("target/lake_delta_writer_spec")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    Files.createDirectories(p)
    p.toString
  }
  private val wh = s"$root/wh"
  spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.graft.warehouse", wh)

  private def ts(day: Int, h: Int = 10): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")

  private val schema = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, value DOUBLE, note STRING, " +
      "amount DECIMAL(10,2), tags ARRAY<STRING>")
  private val seedRow = Row(100L, ts(1, 9), 0.0, "seed",
    new java.math.BigDecimal("0.00"), Seq("s"))
  private val rows = Seq(
    Row(1L, ts(1), 1.0, "a", new java.math.BigDecimal("1.25"), Seq("x", "y")),
    Row(2L, ts(2), 2.0, null, new java.math.BigDecimal("2.50"), Seq.empty))
  private def frame(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)

  /** Drains the parquet input `in` into the `graft-lake` sink at `lake`,
    * one input file per micro-batch.
    */
  private def sink(in: String, lake: String, ckpt: String): Unit =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(in)
      .writeStream.format("graft-lake")
      .option("path", lake).option("key", "event_id")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** The delta files of the lake's newest generation. */
  private def newestDeltaFiles(lake: String): Seq[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val delta = new Path(s"$lake/delta")
    val fs = delta.getFileSystem(conf)
    val gens = fs.listStatus(delta).map(_.getPath)
      .filter(_.getName.startsWith("gen="))
    val newest = gens.maxBy(_.getName.stripPrefix("gen=").toInt)
    val out = Seq.newBuilder[Path]
    val it = fs.listFiles(newest, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith("part-")) out += p
    }
    out.result()
  }

  private def footer(p: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** Writes `rows` over a one-row base three ways and returns each way's
    * newest delta files: the sink, SQL MERGE and `mergeDelta`.
    */
  private def writeThreeWays(tag: String): Map[String, Seq[Path]] = {
    val sinkLake = s"$root/$tag/sink"
    LakeSnapshot.merge(spark, sinkLake, frame(Seq(seedRow)), "event_id", "ts")
    frame(rows).write.parquet(s"$root/$tag/in/b1")
    sink(s"$root/$tag/in/*", sinkLake, s"$root/$tag/ckpt")

    val table = s"f_$tag"
    spark.sql(s"CREATE TABLE graft.$table (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE, note STRING, amount DECIMAL(10,2), tags ARRAY<STRING>) " +
      "TBLPROPERTIES ('key' = 'event_id')")
    frame(Seq(seedRow)).createOrReplaceTempView("footer_seed")
    spark.sql(s"INSERT INTO graft.$table SELECT * FROM footer_seed")
    frame(rows).createOrReplaceTempView("footer_src")
    spark.sql(
      s"""MERGE INTO graft.$table t USING footer_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET value = s.value
         |WHEN NOT MATCHED THEN INSERT (event_id, ts, value, note, amount,
         |  tags) VALUES (s.event_id, s.ts, s.value, s.note, s.amount, s.tags)
         |""".stripMargin)

    val apiLake = s"$root/$tag/api"
    LakeSnapshot.merge(spark, apiLake, frame(Seq(seedRow)), "event_id", "ts")
    LakeSnapshot.mergeDelta(spark, apiLake, frame(rows), "event_id", "ts")

    Map("sink" -> sinkLake, "merge" -> s"$wh/$table", "mergeDelta" -> apiLake)
      .map { case (way, lake) =>
        val files = newestDeltaFiles(lake)
        assert(files.nonEmpty, s"$way wrote no delta file")
        way -> files
      }
  }

  private def fieldSet(m: ParquetMetadata): Set[String] =
    m.getFileMetaData.getSchema.getFields.asScala.map(_.toString).toSet

  test("the sink, SQL MERGE and mergeDelta store one delta footer: the " +
    "same fields, MICROS timestamps and Spark's row metadata") {
    val byWay = writeThreeWays("footer")
    val footers = byWay.map { case (w, fs) => w -> fs.map(footer) }
    val fields = footers.map { case (w, ms) => w -> ms.map(fieldSet).toSet }
    fields.foreach { case (w, sets) =>
      assert(sets.size === 1, s"$w files disagree on their fields: $sets")
    }
    assert(fields("sink") === fields("mergeDelta"))
    assert(fields("merge") === fields("mergeDelta"))
    footers.foreach { case (w, ms) => ms.foreach { m =>
      val s = m.getFileMetaData.getSchema
      // data columns are nullable (a delete marker leaves them null);
      // every row carries its op, so `__op` is required, as the write job
      // behind mergeDelta stores its literal
      assert(s.getFields.asScala.forall(f => f.getRepetition ==
        (if (f.getName == "__op") Type.Repetition.REQUIRED
         else Type.Repetition.OPTIONAL)), s"$w: $s")
      val tsField = s.getType(s.getFieldIndex("ts")).asPrimitiveType()
      assert(tsField.getPrimitiveTypeName ===
        PrimitiveType.PrimitiveTypeName.INT64, s"$w: $tsField")
      assert(tsField.getLogicalTypeAnnotation ===
        LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS), s"$w: $tsField")
      assert(m.getFileMetaData.getKeyValueMetaData.containsKey(
        "org.apache.spark.sql.parquet.row.metadata"),
        s"$w: ${m.getFileMetaData.getKeyValueMetaData.keySet}")
    } }
  }

  test("delta files of all three writers take the session's parquet codec") {
    val key = "spark.sql.parquet.compression.codec"
    spark.conf.set(key, "zstd")
    try {
      writeThreeWays("zstd").foreach { case (w, files) =>
        files.foreach { f =>
          val codecs = footer(f).getBlocks.asScala
            .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
          assert(codecs === Set(CompressionCodecName.ZSTD), s"$w $f: $codecs")
        }
      }
    } finally spark.conf.unset(key)
  }

  private def surfaces(lake: String): Map[String, Set[(Long, String)]] = {
    def kv(df: DataFrame): Seq[(Long, String)] =
      df.select("event_id", "note").as[(Long, String)].collect().toSeq
    def once(name: String, got: Seq[(Long, String)]): (String, Set[(Long, String)]) = {
      assert(got.map(_._1).distinct.size === got.size,
        s"$name: one row per key, got $got")
      name -> got.toSet
    }
    Map(once("LakeSnapshot.read", kv(LakeSnapshot.read(spark, lake))),
      once("DSv2 read",
        kv(spark.read.format("graft-lake").option("path", lake).load())))
  }

  private def assertFolds(lake: String, want: Set[(Long, String)]): Unit = {
    surfaces(lake).foreach { case (s, got) => assert(got === want, s) }
    LakeSnapshot.compactDays(spark, lake)
    surfaces(lake).foreach { case (s, got) =>
      assert(got === want, s"after compactDays: $s")
    }
  }

  private def row(k: Long, note: String): Row =
    Row(k, ts(1), 0.0, note, new java.math.BigDecimal("1.00"), Seq.empty)

  test("a sink micro-batch carrying a key twice folds to the row " +
    "written last on every surface and through compaction") {
    val lake = s"$root/tie_sink/lake"
    frame(Seq(row(1L, "a"), row(1L, "b"), row(2L, "z"), row(2L, "y")))
      .write.parquet(s"$root/tie_sink/in/b1")
    sink(s"$root/tie_sink/in/*", lake, s"$root/tie_sink/ckpt")
    assertFolds(lake, Set((1L, "b"), (2L, "y")))
  }

  test("a MERGE whose source repeats a NOT MATCHED key folds to the row " +
    "written last on every surface and through compaction") {
    spark.sql("CREATE TABLE graft.tie_merge (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE, note STRING, amount DECIMAL(10,2), tags ARRAY<STRING>) " +
      "TBLPROPERTIES ('key' = 'event_id')")
    frame(Seq(row(100L, "seed"))).createOrReplaceTempView("tie_seed")
    spark.sql("INSERT INTO graft.tie_merge SELECT * FROM tie_seed")
    frame(Seq(row(1L, "a"), row(1L, "b")))
      .withColumn("day", org.apache.spark.sql.functions.to_date($"ts"))
      .createOrReplaceTempView("tie_src")
    spark.sql(
      """MERGE INTO graft.tie_merge t USING tie_src s
        |ON t.event_id = s.event_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    assertFolds(s"$wh/tie_merge", Set((1L, "b"), (100L, "seed")))
  }
}
