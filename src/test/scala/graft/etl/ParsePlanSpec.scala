package graft.etl

import graft.TestSpark
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, StringSplit}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Plan lock for the feed parsers: each line is split (Snowplow) or parsed
  * (Adjust) once per operator, however many fields the checks read.
  * Catalyst pushes the good/bad filter below the projection that defines
  * the split array or parsed struct and inlines it at every reference; the
  * parsers bind it once in a lambda so the count cannot grow with the field
  * list. Plans come from file sources: a local relation constant-folds the
  * parse away. A repeated dead-letter pass reuses its compiled classes.
  */
class ParsePlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Largest number of `pick` nodes in any one optimized-plan operator. */
  private def maxPerOperator(df: DataFrame)(pick: PartialFunction[Expression, Unit]): Int =
    df.queryExecution.optimizedPlan
      .collect { case op => op.expressions.map(_.collect(pick).size).sum }.max

  private val splits: PartialFunction[Expression, Unit] = { case _: StringSplit => () }
  private val jsonParses: PartialFunction[Expression, Unit] = { case _: JsonToStructs => () }

  test("Snowplow good and bad plans split each line once per operator") {
    val res = SnowplowParser.read(spark, EtlFixtures.snowplowTsv())
    for ((arm, df) <- Seq("good" -> res.good, "bad" -> res.bad)) {
      val n = maxPerOperator(df)(splits)
      assert(n == 1, s"$arm: $n StringSplit in one operator")
    }
    assert(res.good.count() == 5 && res.bad.count() == 3)
  }

  test("a repeated dead-letter pass compiles no new class and keeps one " +
    "instant per pass") {
    def bad = SnowplowParser.read(spark, EtlFixtures.snowplowTsv()).bad
    def instants() = bad.select(col("failure_tstamp")).distinct().collect()
    instants()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(instants().length == 1)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
    assert(bad.schema("failure_tstamp") ===
      StructField("failure_tstamp", TimestampType, nullable = false))
  }

  test("Adjust good and bad plans parse each line's JSON once per operator") {
    val res = AdjustParser.read(spark, EtlFixtures.adjustJsonl())
    for ((arm, df) <- Seq("good" -> res.good, "bad" -> res.bad)) {
      val n = maxPerOperator(df)(jsonParses)
      assert(n == 1, s"$arm: $n JsonToStructs in one operator")
    }
    assert(res.good.count() == 3 && res.bad.count() == 3)
  }
}
