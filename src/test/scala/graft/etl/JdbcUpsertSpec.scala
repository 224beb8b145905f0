package graft.etl

import java.sql.DriverManager

import graft.TestSpark
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestJobs
import org.scalatest.funsuite.AnyFunSuite

/** P3/P4 on embedded Derby (SURVEY.md §2.2): upsert idempotency,
  * last-write-wins updates, and the Postgres dialect's statement shape.
  */
class JdbcUpsertSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshUrl(name: String): String = {
    val dir = s"target/derby/test_$name"
    try DriverManager.getConnection(s"jdbc:derby:$dir;shutdown=true")
    catch { case _: java.sql.SQLException => () }
    graft.streaming.StreamInput.deleteRecursively(java.nio.file.Paths.get(dir))
    s"jdbc:derby:$dir;create=true"
  }

  private def readBack(url: String, table: String) =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()

  test("upsert is idempotent: replaying the same batch leaves counts unchanged") {
    val url = freshUrl("idem")
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "v")
    JdbcUpsert.ensureTable(url, "t", df.schema, Seq("id"))
    JdbcUpsert.upsertBatch(df, url, "t", Seq("id"))
    JdbcUpsert.upsertBatch(df, url, "t", Seq("id"))
    assert(readBack(url, "t").count() == 3)
  }

  test("upsert is last-write-wins on conflicting keys") {
    val url = freshUrl("lww")
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v")
    val v2 = Seq((2L, "b2", 20.0), (3L, "c", 3.0)).toDF("id", "name", "v")
    JdbcUpsert.ensureTable(url, "t", v1.schema, Seq("id"))
    JdbcUpsert.upsertBatch(v1, url, "t", Seq("id"))
    JdbcUpsert.upsertBatch(v2, url, "t", Seq("id"))
    val rows = readBack(url, "t").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(1).getAs[String]("name") == "b2")
    assert(rows(1).getAs[Double]("v") == 20.0)
  }

  test("a batch containing duplicate keys writes exactly one row per key") {
    val url = freshUrl("dup")
    val df = Seq((1L, "x", 1.0), (1L, "x", 1.0), (2L, "y", 2.0))
      .toDF("id", "name", "v")
    JdbcUpsert.ensureTable(url, "t", df.schema, Seq("id"))
    JdbcUpsert.upsertBatch(df, url, "t", Seq("id")) // would PK-violate if not deduped
    assert(readBack(url, "t").count() == 2)
  }

  test("NULL values round-trip") {
    val url = freshUrl("nulls")
    val df = Seq((1L, Some("a"), Some(1.0)), (2L, None, None))
      .toDF("id", "name", "v")
    JdbcUpsert.ensureTable(url, "t", df.schema, Seq("id"))
    JdbcUpsert.upsertBatch(df, url, "t", Seq("id"))
    val r = readBack(url, "t").filter(col("id") === 2).head()
    assert(r.isNullAt(r.fieldIndex("name")) && r.isNullAt(r.fieldIndex("v")))
  }

  /** Shuffle exchanges in the plans `upsertBatch` executed. */
  private def upsertShuffles(df: org.apache.spark.sql.DataFrame, url: String): Int = {
    val plans = TestJobs.launched(spark)(
      JdbcUpsert.upsertBatch(df, url, "t", Seq("id"))).plans
    assert(plans.nonEmpty, "the upsert must run a query")
    plans.map(p => new AdaptiveSparkPlanHelper {}
      .collect(p) { case e: ShuffleExchangeExec => e }.size).sum
  }

  test("a key present in two input partitions writes one row, through at " +
    "most one shuffle (none for single-partition input)") {
    val url = freshUrl("split")
    val df = spark.sparkContext
      .parallelize(Seq((1L, "a", 1.0), (1L, "a", 1.0), (2L, "b", 2.0)), 2)
      .toDF("id", "name", "v")
    assert(df.filter(col("id") === 1L).select(spark_partition_id())
      .distinct().count() == 2, "key 1 must start in two partitions")
    JdbcUpsert.ensureTable(url, "t", df.schema, Seq("id"))
    assert(upsertShuffles(df, url) <= 1)
    assert(upsertShuffles(df.coalesce(1), url) == 0)
    assert(readBack(url, "t").orderBy("id").as[(Long, String, Double)]
      .collect().toSeq == Seq((1L, "a", 1.0), (2L, "b", 2.0)))
  }

  test("Postgres dialect emits INSERT .. ON CONFLICT DO UPDATE") {
    JdbcUpsert.PostgresDialect.statements("t", Seq("id", "a", "b"), Seq("id")) match {
      case JdbcUpsert.SingleStatement(sql) =>
        assert(sql == """INSERT INTO t ("id", "a", "b") VALUES (?, ?, ?) """ +
          """ON CONFLICT ("id") DO UPDATE SET "a" = EXCLUDED."a", "b" = EXCLUDED."b"""")
      case other => fail(s"unexpected $other")
    }
  }

  test("dialect selection switches on the JDBC url") {
    assert(JdbcUpsert.dialectFor("jdbc:postgresql://h/db") == JdbcUpsert.PostgresDialect)
    assert(JdbcUpsert.dialectFor("jdbc:derby:x") == JdbcUpsert.DerbyDialect)
  }
}
