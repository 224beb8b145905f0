package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}

import graft.TestSpark
import graft.etl.LakeSnapshot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ALTER TABLE ... ALTER COLUMN ... TYPE — type WIDENING (r17, VERDICT
  * r16 #3): int→bigint, float→double, decimal(p,s)→decimal(p+k,s) as a
  * manifest-only `widen` binding commit. Old files keep their narrow
  * physical type and upcast at read; new writes carry the wide type;
  * time travel to a pre-widen epoch reads the OLD type (column metadata
  * is part of the pinned view, same contract as rename/drop).
  */
class LakeWidenSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = {
    val p = Paths.get("target/lake_widen_spec/wh")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    Files.createDirectories(p)
    p.toString
  }
  spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.graft.warehouse", wh)

  private def ts(day: Int): String = f"2024-01-$day%02d 10:00:00"

  test("SQL widen int->bigint, float->double, decimal growth: old rows " +
    "upcast, MERGE writes values only the wide type can hold, time " +
    "travel pre-widen reads the old type, checkpoint carries the " +
    "binding, OPTIMIZE absorbs") {
    spark.sql("CREATE TABLE graft.w1 (event_id BIGINT, ts TIMESTAMP, " +
      "qty INT, ratio FLOAT, amount DECIMAL(10,2)) " +
      "TBLPROPERTIES ('key' = 'event_id')")
    spark.sql("INSERT INTO graft.w1 VALUES " +
      s"(1, TIMESTAMP '${ts(1)}', 7, CAST(0.5 AS FLOAT), 12.34), " +
      s"(2, TIMESTAMP '${ts(2)}', 8, CAST(1.5 AS FLOAT), 99.99)")
    val preWiden = LakeSnapshot.currentEpoch(spark, s"$wh/w1")

    spark.sql("ALTER TABLE graft.w1 ALTER COLUMN qty TYPE BIGINT")
    spark.sql("ALTER TABLE graft.w1 ALTER COLUMN ratio TYPE DOUBLE")
    spark.sql("ALTER TABLE graft.w1 ALTER COLUMN amount TYPE DECIMAL(16,2)")

    // surfaced schema is wide; old (narrow-file) rows upcast at read
    val sch = spark.table("graft.w1").schema
    assert(sch("qty").dataType === org.apache.spark.sql.types.LongType)
    assert(sch("ratio").dataType === org.apache.spark.sql.types.DoubleType)
    assert(sch("amount").dataType ===
      org.apache.spark.sql.types.DecimalType(16, 2))
    assert(spark.sql("SELECT event_id, qty, ratio FROM graft.w1 ORDER BY 1")
      .as[(Long, Long, Double)].collect().toSeq ===
      Seq((1L, 7L, 0.5), (2L, 8L, 1.5)))

    // MERGE values only the WIDE types can hold (> Int.MaxValue,
    // > float precision, > decimal(10,2) range)
    spark.sql(
      s"""MERGE INTO graft.w1 t
         |USING (SELECT 1L AS event_id, TIMESTAMP '${ts(1)}' AS ts,
         |  ${Long.MaxValue}L AS qty, 1.23456789012D AS ratio,
         |  CAST('12345678901234.56' AS DECIMAL(16,2)) AS amount
         |  UNION ALL SELECT 3L, TIMESTAMP '${ts(3)}', 9L, 2.5D,
         |  CAST('3.21' AS DECIMAL(16,2))) s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET qty = s.qty, ratio = s.ratio,
         |  amount = s.amount
         |WHEN NOT MATCHED THEN INSERT (event_id, ts, qty, ratio, amount)
         |  VALUES (s.event_id, s.ts, s.qty, s.ratio, s.amount)
         |""".stripMargin)
    assert(spark.sql(
      "SELECT event_id, qty, ratio, CAST(amount * 100 AS BIGINT) " +
        "FROM graft.w1 ORDER BY 1")
      .as[(Long, Long, Double, Long)].collect().toSeq === Seq(
      (1L, Long.MaxValue, 1.23456789012, 1234567890123456L),
      (2L, 8L, 1.5, 9999L),
      (3L, 9L, 2.5, 321L)),
      "mixed narrow/wide generations fold under the wide type")

    // time travel PRE-widen: the old types, the old values
    val pre = spark.sql(
      s"SELECT event_id, qty, ratio, amount FROM graft.w1 " +
        s"VERSION AS OF $preWiden ORDER BY 1")
    assert(pre.schema("qty").dataType ===
      org.apache.spark.sql.types.IntegerType, "pre-widen view: INT")
    assert(pre.schema("ratio").dataType ===
      org.apache.spark.sql.types.FloatType)
    assert(pre.schema("amount").dataType ===
      org.apache.spark.sql.types.DecimalType(10, 2))
    assert(pre.select("event_id", "qty").as[(Long, Int)].collect().toSeq ===
      Seq((1L, 7), (2L, 8)))

    // checkpoint folds the widen binding (snapshotwiden) — reads after
    // a checkpoint must still upcast the old files
    LakeSnapshot.checkpointManifest(spark, s"$wh/w1")
    assert(spark.sql("SELECT qty FROM graft.w1 WHERE event_id = 1")
      .as[Long].head() === Long.MaxValue)
    assert(spark.table("graft.w1").schema("qty").dataType ===
      org.apache.spark.sql.types.LongType)

    // OPTIMIZE rewrites everything at the wide type, content-identical
    LakeSnapshot.compactDays(spark, s"$wh/w1")
    assert(spark.sql("SELECT event_id, qty FROM graft.w1 ORDER BY 1")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, Long.MaxValue), (2L, 8L), (3L, 9L)))
  }

  test("negatives: narrowing, non-widening, key and unknown columns all " +
    "refuse loudly; widen of a never-written table validates against " +
    "the declaration") {
    spark.sql("CREATE TABLE graft.w2 (event_id BIGINT, ts TIMESTAMP, " +
      "qty INT, note STRING) TBLPROPERTIES ('key' = 'event_id')")
    spark.sql(s"INSERT INTO graft.w2 VALUES (1, TIMESTAMP '${ts(1)}', " +
      "5, 'a')")
    def refuses(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def msgs(t: Throwable): String =
        if (t == null) "" else t.getMessage + " " + msgs(t.getCause)
      assert(msgs(e).contains(frag), s"wanted '$frag' in: ${msgs(e)}")
    }
    // int->double IS a Spark upcast (the analyzer lets it through), but
    // graft's widening set is narrower — it must refuse in the catalog
    refuses("ALTER TABLE graft.w2 ALTER COLUMN qty TYPE DOUBLE",
      "not a supported widening")
    // genuine narrowing is refused by Spark's own analyzer gate before
    // the catalog ever sees it
    refuses("ALTER TABLE graft.w2 ALTER COLUMN qty TYPE SMALLINT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    refuses("ALTER TABLE graft.w2 ALTER COLUMN event_id TYPE DECIMAL(20,0)",
      "key")
    // a widened-then-narrowed round trip is refused too
    spark.sql("ALTER TABLE graft.w2 ALTER COLUMN qty TYPE BIGINT")
    refuses("ALTER TABLE graft.w2 ALTER COLUMN qty TYPE INT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    // never-written table: declaration-only validation, first write
    // simply carries the wide type
    spark.sql("CREATE TABLE graft.w3 (event_id BIGINT, ts TIMESTAMP, " +
      "qty INT) TBLPROPERTIES ('key' = 'event_id')")
    spark.sql("ALTER TABLE graft.w3 ALTER COLUMN qty TYPE BIGINT")
    refuses("ALTER TABLE graft.w3 ALTER COLUMN qty TYPE INT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    assert(spark.table("graft.w3").schema("qty").dataType ===
      org.apache.spark.sql.types.LongType)
    spark.sql(s"INSERT INTO graft.w3 VALUES (1, TIMESTAMP '${ts(1)}', " +
      s"${Long.MaxValue})")
    assert(spark.sql("SELECT qty FROM graft.w3").as[Long].head() ===
      Long.MaxValue)
  }

  test("Scala API: widenColumn over a plain lake (no catalog), the CDC " +
    "feed schema unions pre/post-widen sidecars at the wide type, and " +
    "the full-table stream reads a widened pinned snapshot") {
    val dir = s"$wh/plain"
    LakeSnapshot.merge(spark, dir,
      Seq((1L, java.sql.Timestamp.valueOf(ts(1)), 5),
        (2L, java.sql.Timestamp.valueOf(ts(2)), 6))
        .toDF("event_id", "ts", "qty"),
      "event_id", "ts", cdf = true)
    LakeSnapshot.widenColumn(spark, dir, "qty",
      org.apache.spark.sql.types.LongType)
    // post-widen mutation writes the wide type into delta + sidecar
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((2L, java.sql.Timestamp.valueOf(ts(2)), Long.MaxValue))
        .toDF("event_id", "ts", "qty"),
      "event_id", "ts", cdf = true)
    assert(LakeSnapshot.read(spark, dir).schema("qty").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(LakeSnapshot.read(spark, dir)
      .select("event_id", "qty").as[(Long, Long)].collect().toSet ===
      Set((1L, 5L), (2L, Long.MaxValue)))
    // feed schema: width-tolerant sidecar union (int32 + int64 footers)
    val feed = GraftCdcSource.feedSchema(spark, dir)
    assert(feed("qty").dataType === org.apache.spark.sql.types.LongType,
      s"sidecar union must widen, got ${feed("qty").dataType}")
    // the DSv2 full-table stream reads the widened snapshot (upcasting
    // the pre-widen base files through the Group readers)
    val accDir = s"$wh/plain_acc"
    val q = spark.readStream.format("graft-lake")
      .option("path", dir).option("changes", "true").load()
      .writeStream.format("parquet").option("path", accDir)
      .option("checkpointLocation", s"$wh/plain_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val folded = spark.read.parquet(accDir)
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .groupBy("event_id").agg(max(struct(col("_commit_epoch"),
        col("qty"))).as("w"))
      .select(col("event_id"), col("w.qty"))
      .as[(Long, Long)].collect().toSet
    assert(folded === Set((1L, 5L), (2L, Long.MaxValue)))
  }

  test("a reader bound before a widen refuses the wide generation loudly, " +
    "once per file, with the restart instruction") {
    val dir = s"$wh/pinned"
    LakeSnapshot.merge(spark, dir,
      Seq((1L, java.sql.Timestamp.valueOf(ts(1)), 5, 0.5f))
        .toDF("event_id", "ts", "qty", "ratio"),
      "event_id", "ts")
    // the consumer binds its schema BEFORE the widen
    val pinned = spark.read.format("graft-lake").option("path", dir).load()
      .schema
    assert(pinned("qty").dataType === org.apache.spark.sql.types.IntegerType)
    LakeSnapshot.widenColumn(spark, dir, "qty",
      org.apache.spark.sql.types.LongType)
    LakeSnapshot.widenColumn(spark, dir, "ratio",
      org.apache.spark.sql.types.DoubleType)
    // a wide generation: a COW merge rewrites day 1 at the wide types
    LakeSnapshot.merge(spark, dir,
      Seq((2L, java.sql.Timestamp.valueOf(ts(1)), Long.MaxValue, 2.5))
        .toDF("event_id", "ts", "qty", "ratio"),
      "event_id", "ts")
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " " + msgs(t.getCause)
    def refused(cols: String*): String = msgs(intercept[Exception](
      spark.read.format("graft-lake").schema(pinned).option("path", dir)
        .load().select(cols.map(col): _*).collect()))
    val qty = refused("event_id", "qty")
    assert(qty.contains("'qty' was WIDENED to BIGINT") &&
      qty.contains("restart the stream/query"), qty)
    val ratio = refused("event_id", "ratio")
    assert(ratio.contains("'ratio' was WIDENED to DOUBLE") &&
      ratio.contains("restart the stream/query"), ratio)
    // a re-bound reader reads the wide generation whole
    assert(spark.read.format("graft-lake").option("path", dir).load()
      .select("event_id", "qty").as[(Long, Long)].collect().toSet ===
      Set((1L, 5L), (2L, Long.MaxValue)))
  }
}
