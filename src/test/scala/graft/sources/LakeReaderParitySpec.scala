package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}

import graft.TestSpark
import graft.etl.LakeSnapshot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Reader parity: every lake surface decodes the same bytes the same
  * way. For each fixture lake the DSv2 `graft-lake` read must return
  * exactly the rows of [[LakeSnapshot.read]] (Spark's own parquet scan),
  * and where the commits staged change sidecars, the `graft-cdc` stream
  * must return exactly the change images of
  * [[LakeSnapshot.readChangesCdf]] over the same window.
  *
  * Fixtures cover the footer shapes a lake can hold: INT96 and MILLIS
  * timestamps from adopted sources, the three type widenings, nested
  * struct / array<struct> / map<string,struct> columns (also under a
  * struct IS NOT NULL filter), a legacy 2-level list, a deletion-vector
  * day, and a delta generation that repeats a key.
  */
class LakeReaderParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(name: String): String = {
    val p = Paths.get(s"target/lake_parity_spec/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    p.toString
  }

  private def ts(day: Int, h: Int = 10): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")

  /** Write `df` as a `day=`-partitioned parquet source under `conf`
    * (footer shape), then adopt it as a lake keyed on event_id.
    */
  private def adopted(root: String, df: DataFrame,
      conf: (String, String)*): String = {
    val src = s"$root/src"
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.withColumn("day", to_date(col("ts"))).coalesce(1)
      .write.partitionBy("day").parquet(src)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val dir = s"$root/lake"
    LakeSnapshot.adoptParquet(spark, dir, src, "event_id", "ts")
    dir
  }

  /** A fixture lake: its directory, the epoch after which every commit
    * staged a change sidecar (None: no CDC comparison), and an optional
    * row filter applied to both batch surfaces.
    */
  private final case class Fixture(
      dir: String, cdfFrom: Option[Int], filter: Option[Column] = None)

  private def int96Base(root: String): Fixture = {
    val dir = adopted(root,
      Seq((1L, ts(1), 1.0), (2L, ts(1, 11), 2.0), (3L, ts(2), 3.0))
        .toDF("event_id", "ts", "value"),
      "spark.sql.parquet.outputTimestampType" -> "INT96")
    val e = LakeSnapshot.currentEpoch(spark, dir)
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((2L, ts(1, 12), 20.0), (4L, ts(2, 13), 4.0))
        .toDF("event_id", "ts", "value"),
      "event_id", "ts", cdf = true)
    Fixture(dir, Some(e))
  }

  private def millisSource(root: String): String = adopted(root,
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00.123"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00.456"), 2.0))
      .toDF("event_id", "ts", "value"),
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MILLIS")

  private def widened(root: String): Fixture = {
    val dir = s"$root/lake"
    val narrow = Seq((1L, ts(1), 7, 0.5f, "12.34"), (2L, ts(2), 8, 1.5f, "99.99"))
      .toDF("event_id", "ts", "qty", "ratio", "amt")
      .withColumn("amt", col("amt").cast("decimal(10,2)"))
    LakeSnapshot.merge(spark, dir, narrow, "event_id", "ts", cdf = true)
    LakeSnapshot.widenColumn(spark, dir, "qty",
      org.apache.spark.sql.types.LongType)
    LakeSnapshot.widenColumn(spark, dir, "ratio",
      org.apache.spark.sql.types.DoubleType)
    LakeSnapshot.widenColumn(spark, dir, "amt",
      org.apache.spark.sql.types.DecimalType(16, 2))
    val wide = Seq((2L, ts(2), Long.MaxValue, 1.23456789012, "12345678901234.56"),
      (3L, ts(3), 9L, 2.5, "3.21"))
      .toDF("event_id", "ts", "qty", "ratio", "amt")
      .withColumn("amt", col("amt").cast("decimal(16,2)"))
    LakeSnapshot.merge(spark, dir, wide.filter(col("event_id") === 3L),
      "event_id", "ts", cdf = true)
    LakeSnapshot.mergeDelta(spark, dir, wide.filter(col("event_id") === 2L),
      "event_id", "ts", cdf = true)
    Fixture(dir, Some(-1))
  }

  private def nested(root: String): Fixture = {
    val dir = s"$root/lake"
    def batch(ids: Seq[Long], w: Int) = ids.toDF("event_id")
      .withColumn("ts", lit(ts(1)))
      .withColumn("media", struct(lit("img").as("kind"),
        (lit(w) + col("event_id")).cast("int").as("width")))
      .withColumn("frames", array(
        struct(lit("a/b").as("mime"), lit(Array[Byte](1, 2)).as("payload")),
        struct(lit("c/d").as("mime"), lit(null).cast("binary").as("payload"))))
      .withColumn("attrs", map(lit("k"),
        struct(col("event_id").as("a"), (col("event_id") * 0.5).as("b"))))
    LakeSnapshot.merge(spark, dir, batch(Seq(1L, 2L, 3L), 100),
      "event_id", "ts", cdf = true)
    LakeSnapshot.mergeDelta(spark, dir, batch(Seq(2L, 4L), 200),
      "event_id", "ts", cdf = true)
    Fixture(dir, Some(-1))
  }

  private def legacyList(root: String): Fixture = {
    // writeLegacyFormat: a non-null-element array lands as the 2-level
    // `repeated int32 array` list, decimals as fixed-length binary
    val dir = adopted(root,
      Seq((1L, ts(1), "1.50"), (2L, ts(2), "2.25")).toDF("event_id", "ts", "amt")
        .withColumn("amt", col("amt").cast("decimal(10,2)"))
        .withColumn("arr", array(lit(1), col("event_id").cast("int"))),
      "spark.sql.parquet.writeLegacyFormat" -> "true")
    val e = LakeSnapshot.currentEpoch(spark, dir)
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((2L, ts(2), "9.75")).toDF("event_id", "ts", "amt")
        .withColumn("amt", col("amt").cast("decimal(10,2)"))
        .withColumn("arr", array(lit(7), lit(8))),
      "event_id", "ts", cdf = true)
    Fixture(dir, Some(e))
  }

  private def dvDay(root: String): Fixture = {
    val dir = s"$root/lake"
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 1.0), (2L, ts(1), 2.0), (3L, ts(1), 3.0),
        (4L, ts(2), 4.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    LakeSnapshot.deleteKeysPositional(spark, dir,
      Seq((2L, ts(1))).toDF("event_id", "ts"), "event_id", "ts")
    Fixture(dir, None)
  }

  private def repeatedKey(root: String): Fixture = {
    val dir = s"$root/lake"
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 1.0, "a"), (2L, ts(1), 2.0, "b"))
        .toDF("event_id", "ts", "value", "tag"),
      "event_id", "ts", cdf = true)
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((1L, ts(1), 10.0, "x"), (3L, ts(1), 3.0, "y"), (1L, ts(1), 11.0, "z"))
        .toDF("event_id", "ts", "value", "tag").coalesce(1),
      "event_id", "ts", cdf = true)
    Fixture(dir, Some(-1))
  }

  private val millisCut = col("ts") >= lit("2024-01-01 10:30:00").cast("timestamp")

  private val fixtures: Seq[(String, String => Fixture)] = Seq(
    "INT96 base + MICROS delta" -> int96Base,
    "adopted MILLIS source" -> (r => Fixture(millisSource(r), None)),
    "adopted MILLIS source, ts-filtered" ->
      (r => Fixture(millisSource(r), None, Some(millisCut))),
    "int->long, float->double, decimal precision widenings" -> widened,
    "struct, array<struct>, map<string,struct> columns" -> nested,
    "struct column, IS NOT NULL-filtered" ->
      (r => nested(r).copy(cdfFrom = None, filter = Some(col("media").isNotNull))),
    "legacy 2-level list (writeLegacyFormat)" -> legacyList,
    "a deletion-vector day" -> dvDay,
    "a delta generation repeating a key" -> repeatedKey)

  /** Every row as JSON over the columns in name order, sorted — complex
    * values compare structurally, duplicates count.
    */
  private def image(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).toJSON.collect().toSeq.sorted
  }

  fixtures.zipWithIndex.foreach { case ((name, build), i) =>
    test(s"reader parity: $name") {
      val fx = build(freshDir(s"f$i"))
      def filtered(df: DataFrame) = fx.filter.fold(df)(df.filter)
      val expected = image(filtered(LakeSnapshot.read(spark, fx.dir)))
      assert(expected.nonEmpty, "the fixture must hold rows")
      val v2 = spark.read.format("graft-lake").option("path", fx.dir).load()
      assert(image(filtered(v2)) === expected,
        "the DSv2 scan must return LakeSnapshot.read's rows")
      fx.cdfFrom.foreach { from =>
        val to = LakeSnapshot.currentEpoch(spark, fx.dir)
        val sink = s"parity_cdc_$i"
        val q = spark.readStream.format("graft-cdc")
          .option("path", fx.dir).option("startingEpoch", from.toString)
          .load()
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", freshDir(s"f${i}_cp"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val batch = LakeSnapshot.readChangesCdf(spark, fx.dir, from, to)
        assert(image(spark.table(sink)) === image(batch),
          "the CDC stream must return readChangesCdf's change images")
      }
    }
  }
}
