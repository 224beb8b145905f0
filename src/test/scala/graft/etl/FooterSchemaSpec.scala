package graft.etl

import java.nio.file.{Files, Path => JPath, Paths}

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestJobs
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** Library reads that take a directory's schema from one footer read on
  * the driver ([[LakeSnapshot.inferredSchema]]) instead of the Spark job
  * `spark.read.parquet(dir)` runs to infer it. Each site is locked at its
  * job count, and each schema equals the inferred one.
  */
class FooterSchemaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(day: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")

  private def freshDir(name: String): String = {
    val p = Paths.get(s"target/footer_schema_spec/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    p.toString
  }

  private def rows = Seq((1L, ts(1), 1.0, Seq(1, 2)), (2L, ts(2), 2.0, Nil))
    .toDF("event_id", "ts", "value", "tags")

  private def jobs(body: => Any): Int = TestJobs.launched(spark)(body).jobs

  test("inferredSchema equals schema inference on flat and day-partitioned " +
    "directories, with no job") {
    val flat = freshDir("flat")
    rows.repartition(2).write.parquet(flat)
    val days = freshDir("days")
    rows.withColumn("day", to_date(col("ts"))).write.partitionBy("day")
      .parquet(days)
    val dayInFiles = freshDir("day_in_files")
    rows.withColumn("day", to_date(col("ts"))).write.parquet(s"$dayInFiles/day=2024-01-01")
    for (d <- Seq(flat, days, dayInFiles)) {
      val got = TestJobs.launched(spark)(LakeSnapshot.inferredSchema(spark, d))
      assert(got.jobs === 0, d)
      assert(got.result === spark.read.parquet(d).schema, d)
    }
    assert(jobs(LakeSnapshot.readFlat(spark, flat)) === 0)
  }

  test("adoptParquet validates against the source's footer schema, with " +
    "no schema-inference job") {
    val root = freshDir("adopt")
    val src = s"$root/plain"
    rows.withColumn("day", to_date(col("ts"))).write.partitionBy("day")
      .parquet(src)
    assert(LakeSnapshot.inferredSchema(spark, src) ===
      spark.read.parquet(src).schema)
    assert(jobs(LakeSnapshot.adoptParquet(
      spark, s"$root/tbl", src, "event_id", "ts")) === 3)
  }

  test("change feeds plan from footers: readChangesCdf and an empty " +
    "readChanges window launch no job") {
    val dir = freshDir("cdf")
    LakeSnapshot.merge(spark, dir, rows, "event_id", "ts", cdf = true)
    val e0 = LakeSnapshot.currentEpoch(spark, dir)
    LakeSnapshot.merge(spark, dir,
      Seq((3L, ts(3), 3.0, Seq(3))).toDF("event_id", "ts", "value", "tags"),
      "event_id", "ts", cdf = true)
    val e1 = LakeSnapshot.currentEpoch(spark, dir)
    val sidecars = new java.io.File(s"$dir/cdf").listFiles()
      .filter(_.getName.startsWith("gen=")).map(_.getPath).toSeq
    assert(sidecars.nonEmpty)
    sidecars.foreach(d => assert(LakeSnapshot.inferredSchema(spark, d) ===
      spark.read.parquet(d).schema, d))
    val feed = TestJobs.launched(spark)(
      LakeSnapshot.readChangesCdf(spark, dir, e0, e1))
    assert(feed.jobs === 0)
    assert(feed.result.filter(col("_change_type") === "insert")
      .select("event_id").as[Long].collect().toSeq === Seq(3L))
    // an empty window's feed schema comes from any sidecar on disk
    val empty = TestJobs.launched(spark)(
      LakeSnapshot.readChangesCdf(spark, dir, e1, e1))
    assert(empty.jobs === 0)
    assert(empty.result.isEmpty)
    // a fully erased lake: both endpoint views are empty, so the schema
    // comes from a generation leaf still on disk
    LakeSnapshot.deleteKeys(spark, dir,
      Seq((1L, ts(1)), (2L, ts(2)), (3L, ts(3))).toDF("event_id", "ts"),
      "event_id", "ts")
    val e2 = LakeSnapshot.currentEpoch(spark, dir)
    val leaf = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles().filter(_.isDirectory))
      .head.getPath
    assert(LakeSnapshot.withDayColumn(LakeSnapshot.inferredSchema(spark, leaf)
      .add("gen", IntegerType)) ===
      spark.read.option("basePath", s"$dir/data").parquet(leaf).schema)
    val erased = TestJobs.launched(spark)(
      LakeSnapshot.readChanges(spark, dir, e2, e2, "event_id"))
    assert(erased.jobs === 0)
    assert(erased.result.columns.toSeq ===
      Seq("event_id", "ts", "value", "tags", "day", "_change_type"))
    assert(erased.result.isEmpty)
  }

  test("BloomStats.stage reads its generation's schema from a footer") {
    val dir = freshDir("bloom")
    val c = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(c, "false")
    try rows.repartition(2).write.format("graft-lake")
      .option("path", dir).option("key", "event_id")
      .option("bloom", "event_id").option("writeMode", "cow")
      .mode("append").save()
    finally spark.conf.set(c, "true")
    val gen = s"$dir/data/gen=0"
    assert(LakeSnapshot.inferredSchema(spark, gen) ===
      spark.read.parquet(gen).schema)
    assert(jobs(BloomStats.stage(spark, dir, 0)) === 3)
    assert(BloomStats.read(spark, gen, "2024-01-01").isDefined)
  }

  test("a parquet event stream takes its schema from a footer") {
    val dir = freshDir("stream")
    rows.repartition(2).write.parquet(dir)
    val in = TestJobs.launched(spark)(
      graft.streaming.StreamInput.readEventsStream(spark, dir))
    assert(in.jobs === 0)
    assert(in.result.schema === spark.read.parquet(dir).schema)
  }
}
