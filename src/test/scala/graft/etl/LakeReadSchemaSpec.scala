package graft.etl

import java.nio.file.{Files, Path => JPath, Paths}

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestJobs
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The lake read path takes its schema from one parquet footer per
  * generation, on the driver, and folds deltas without a broadcast join.
  * This spec pins what that must not change and what it must deliver:
  *
  *  - `read`, `readAt` and `readDaysAt` surface the same column names,
  *    order, types and nullability as the `mergeSchema` reader did, on a
  *    plain lake, one with row deltas (a delta-only day included, where
  *    `day` leads), one with deletion vectors, one with a column added
  *    mid-history and a widened one, and past `gen=9`, where sorted file
  *    paths and leaf order disagree (the expected strings were taken from
  *    that reader);
  *  - building any of those frames launches no Spark job, and a query
  *    over a delta-carrying lake plans no BroadcastExchange;
  *  - footers that disagree on a column's type without a widen binding
  *    still fail loudly, and `adoptParquet` refuses a source whose files
  *    carry different schemas, leaving it in place.
  */
class LakeReadSchemaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(day: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")

  private def day(d: Int): String = f"2024-01-$d%02d"

  private def freshDir(name: String): String = {
    val p = Paths.get(s"target/lake_read_schema_spec/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    p.toString
  }

  private def merge(dir: String, df: DataFrame): Unit =
    LakeSnapshot.merge(spark, dir, df, "event_id", "ts")

  private def epoch(dir: String): Int = LakeSnapshot.currentEpoch(spark, dir)

  /** Each frame's schema as DDL, built with no Spark job launched. */
  private def schemas(frames: (String, () => DataFrame)*): Seq[String] =
    frames.map { case (name, build) =>
      val built = TestJobs.launched(spark)(build())
      assert(built.jobs === 0, s"building $name launched ${built.jobs} job(s)")
      s"$name: ${built.result.schema.toDDL}"
    }

  private def assertSchemas(actual: Seq[String], expected: Seq[String]): Unit =
    assert(actual === expected, "\nactual:\n" + actual.mkString("\n"))

  private def plainLake(dir: String): Int = {
    merge(dir, Seq((1L, ts(1), 1.0, "a"), (2L, ts(2), 2.0, "b"))
      .toDF("event_id", "ts", "value", "tag"))
    val first = epoch(dir)
    merge(dir, Seq((2L, ts(2), 20.0, "b2"), (3L, ts(3), 3.0, "c"))
      .toDF("event_id", "ts", "value", "tag"))
    first
  }

  private val plainDdl =
    "event_id BIGINT,ts TIMESTAMP,value DOUBLE,tag STRING,day DATE"

  test("plain lake: read, readAt and readDaysAt keep their schemas") {
    val dir = freshDir("plain")
    val first = plainLake(dir)
    assertSchemas(schemas(
      "read" -> (() => LakeSnapshot.read(spark, dir)),
      "readAt" -> (() => LakeSnapshot.readAt(spark, dir, first)),
      "readDaysAt" -> (() =>
        LakeSnapshot.readDaysAt(spark, dir, epoch(dir), Set(day(2))))),
      Seq(s"read: $plainDdl", s"readAt: $plainDdl", s"readDaysAt: $plainDdl"))
  }

  test("delta lake: schemas hold, a delta-only day leads with `day`, and " +
    "the fold plans no BroadcastExchange") {
    val dir = freshDir("deltas")
    val first = plainLake(dir)
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((1L, ts(1), 10.0, "a2"), (4L, ts(4), 4.0, "d"))
        .toDF("event_id", "ts", "value", "tag"), "event_id", "ts")
    LakeSnapshot.deleteKeysDelta(spark, dir,
      Seq((3L, ts(3))).toDF("event_id", "ts"), "event_id", "ts")
    val e = epoch(dir)
    assertSchemas(schemas(
      "read" -> (() => LakeSnapshot.read(spark, dir)),
      "readAt" -> (() => LakeSnapshot.readAt(spark, dir, first)),
      "readDaysAt" -> (() =>
        LakeSnapshot.readDaysAt(spark, dir, e, Set(day(1), day(2)))),
      "foldedDays" -> (() =>
        LakeSnapshot.readDaysAt(spark, dir, e, Set(day(3), day(4)))),
      "deltaOnly" -> (() =>
        LakeSnapshot.readDaysAt(spark, dir, e, Set(day(4)))),
      "baseAndDeltaOnly" -> (() =>
        LakeSnapshot.readDaysAt(spark, dir, e, Set(day(2), day(4))))),
      Seq(s"read: $plainDdl", s"readAt: $plainDdl",
        s"readDaysAt: $plainDdl", s"foldedDays: $plainDdl",
        "deltaOnly: day DATE,event_id BIGINT,ts TIMESTAMP,value DOUBLE," +
          "tag STRING",
        s"baseAndDeltaOnly: $plainDdl"))
    val q = LakeSnapshot.read(spark, dir).groupBy("day").count()
    assert(q.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet ===
      Set((day(1), 1L), (day(2), 1L), (day(4), 1L)))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan)
    assert(LakeSnapshot.read(spark, dir).select("event_id", "value")
      .as[(Long, Double)].collect().toSet ===
      Set((1L, 10.0), (2L, 20.0), (4L, 4.0)))
  }

  test("DV lake: read, readAt and readDaysAt keep their schemas") {
    val dir = freshDir("dvs")
    val first = plainLake(dir)
    LakeSnapshot.deleteKeysPositional(spark, dir,
      Seq((2L, ts(2))).toDF("event_id", "ts"), "event_id", "ts")
    assertSchemas(schemas(
      "read" -> (() => LakeSnapshot.read(spark, dir)),
      "readAt" -> (() => LakeSnapshot.readAt(spark, dir, first)),
      "readDaysAt" -> (() =>
        LakeSnapshot.readDaysAt(spark, dir, epoch(dir), Set(day(2), day(3))))),
      Seq(s"read: $plainDdl", s"readAt: $plainDdl", s"readDaysAt: $plainDdl"))
    assert(LakeSnapshot.read(spark, dir).select("event_id").as[Long]
      .collect().toSet === Set(1L, 3L))
  }

  test("a column added mid-history surfaces where the union put it") {
    val dir = freshDir("addcol")
    merge(dir, Seq((1L, ts(1), 1.0), (2L, ts(2), 2.0))
      .toDF("event_id", "ts", "value"))
    val first = epoch(dir)
    merge(dir, Seq((2L, ts(2), 20.0, "x"), (3L, ts(3), 3.0, "y"))
      .toDF("event_id", "ts", "value", "extra"))
    val second = epoch(dir)
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((1L, ts(1), 10.0, 7)).toDF("event_id", "ts", "value", "note"),
      "event_id", "ts")
    val e = epoch(dir)
    assertSchemas(schemas(
      "read" -> (() => LakeSnapshot.read(spark, dir)),
      "readAt" -> (() => LakeSnapshot.readAt(spark, dir, first)),
      "readAt2" -> (() => LakeSnapshot.readAt(spark, dir, second)),
      "readDaysAt" -> (() =>
        LakeSnapshot.readDaysAt(spark, dir, e, Set(day(1)))),
      "readDaysAt2" -> (() =>
        LakeSnapshot.readDaysAt(spark, dir, e, Set(day(1), day(3))))),
      Seq(
        "read: event_id BIGINT,ts TIMESTAMP,value DOUBLE,extra STRING," +
          "day DATE,note INT",
        "readAt: event_id BIGINT,ts TIMESTAMP,value DOUBLE,day DATE",
        "readAt2: event_id BIGINT,ts TIMESTAMP,value DOUBLE,extra STRING," +
          "day DATE",
        "readDaysAt: event_id BIGINT,ts TIMESTAMP,value DOUBLE,day DATE," +
          "note INT",
        "readDaysAt2: event_id BIGINT,ts TIMESTAMP,value DOUBLE," +
          "extra STRING,day DATE,note INT"))
  }

  test("widened lake: read, readAt and readDaysAt keep their schemas") {
    val dir = freshDir("widened")
    merge(dir, Seq((1L, ts(1), 7, 0.5f), (2L, ts(2), 8, 1.5f))
      .toDF("event_id", "ts", "qty", "ratio"))
    val pre = epoch(dir)
    LakeSnapshot.widenColumn(spark, dir, "qty", LongType)
    merge(dir, Seq((3L, ts(3), Long.MaxValue, 2.5f))
      .toDF("event_id", "ts", "qty", "ratio"))
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((1L, ts(1), 9L, 3.5f)).toDF("event_id", "ts", "qty", "ratio"),
      "event_id", "ts")
    val e = epoch(dir)
    assertSchemas(schemas(
      "read" -> (() => LakeSnapshot.read(spark, dir)),
      "readAt" -> (() => LakeSnapshot.readAt(spark, dir, pre)),
      "readDaysAt" -> (() =>
        LakeSnapshot.readDaysAt(spark, dir, e, Set(day(1), day(3))))),
      Seq("read: event_id BIGINT,ts TIMESTAMP,qty BIGINT,ratio FLOAT,day DATE",
        "readAt: event_id BIGINT,ts TIMESTAMP,qty INT,ratio FLOAT,day DATE",
        "readDaysAt: event_id BIGINT,ts TIMESTAMP,qty BIGINT,ratio FLOAT," +
          "day DATE"))
    assert(LakeSnapshot.read(spark, dir).select("event_id", "qty")
      .as[(Long, Long)].collect().toSet ===
      Set((1L, 9L), (2L, 8L), (3L, Long.MaxValue)))
  }

  test("past gen=9, generations merge in the order the old readers met " +
    "them: sorted file paths unwidened, leaf order widened") {
    def build(dir: String, widen: Boolean): Unit = {
      merge(dir, Seq((3L, ts(3), 0)).toDF("event_id", "ts", "v"))
      if (widen) LakeSnapshot.widenColumn(spark, dir, "v", LongType)
      (1 to 8).foreach(i =>
        merge(dir, Seq((3L, ts(3), i)).toDF("event_id", "ts", "v")))
      merge(dir, Seq((1L, ts(1), 1, "x")).toDF("event_id", "ts", "v", "x"))
      merge(dir, Seq((2L, ts(2), 2, "y")).toDF("event_id", "ts", "v", "y"))
    }
    val plain = freshDir("order_plain")
    val widened = freshDir("order_widened")
    build(plain, widen = false)
    build(widened, widen = true)
    assert(LakeSnapshot.tableState(spark, plain).days.values.map(_.base)
      .exists(_ >= 10), "the spec needs a two-digit generation")
    assertSchemas(schemas(
      "plain" -> (() => LakeSnapshot.read(spark, plain)),
      "widened" -> (() => LakeSnapshot.read(spark, widened))),
      Seq("plain: event_id BIGINT,ts TIMESTAMP,v INT,y STRING,x STRING,day DATE",
        "widened: event_id BIGINT,ts TIMESTAMP,v BIGINT,x STRING,y STRING," +
          "day DATE"))
  }

  test("footers that disagree on a type with no widen binding fail loudly") {
    val dir = freshDir("conflict")
    merge(dir, Seq((1L, ts(1), 7)).toDF("event_id", "ts", "qty"))
    merge(dir, Seq((2L, ts(2), 8L)).toDF("event_id", "ts", "qty"))
    val kinds = Seq(
      () => LakeSnapshot.readDaysAt(spark, dir, epoch(dir), Set(day(1))),
      () => LakeSnapshot.readDaysAt(spark, dir, epoch(dir), Set(day(2))))
      .map(_().schema("qty").dataType)
    assert(kinds === Seq(IntegerType, LongType))
    intercept[Exception] { LakeSnapshot.read(spark, dir).collect() }
  }

  test("adoptParquet refuses a source whose files carry different schemas") {
    val dir = freshDir("adopt_lake")
    val src = freshDir("adopt_src")
    Seq((1L, ts(1))).toDF("event_id", "ts").coalesce(1)
      .write.parquet(s"$src/day=${day(1)}")
    Seq((2L, ts(2), "x")).toDF("event_id", "ts", "extra").coalesce(1)
      .write.parquet(s"$src/day=${day(2)}")
    val ex = intercept[IllegalArgumentException] {
      LakeSnapshot.adoptParquet(spark, dir, src, "event_id", "ts",
        validate = false)
    }
    assert(ex.getMessage.contains("mixes file schemas"), ex.getMessage)
    assert(Files.exists(Paths.get(src, s"day=${day(2)}")),
      "a refused source must stay where it was")
    assert(LakeSnapshot.currentEpoch(spark, dir) < 0)
  }
}
