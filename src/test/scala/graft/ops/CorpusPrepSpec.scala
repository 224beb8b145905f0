package graft.ops

import graft.TestSpark
import graft.functions.SortedIntersectSize
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestJobs
import org.scalatest.funsuite.AnyFunSuite

/** Stage-behavior gates for the composed corpus-prep pipeline (k20's
  * cross-engine oracle checks the composition end-to-end; this spec pins
  * each drop rule on a hand-built fixture and the single-scan discipline).
  */
class CorpusPrepSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val longDoc = "the quick brown fox jumps over the lazy dog " +
    "while spark plans another shuffle stage tonight"

  // doc_id % 50 == 0 rows are the benchmark set
  private val benchDoc = "evaluation benchmark suite holds these exact " +
    "question answers nobody may train on them"
  private def fixture = Seq(
    (0L, "en", benchDoc),                                 // benchmark member
    (1L, "en", longDoc),                                  // survives everything
    (2L, "en", longDoc),                                  // exact dup of 1 -> dropped
    (3L, "en", longDoc + " again"),                       // near dup of 1 -> dropped
    (4L, "en", "short"),                                  // quality: < 5 words
    (5L, "en", "extraordinarily incomprehensible pseudointellectual " +
      "overqualification grandiloquently"),               // mean_wlen > 12
    (6L, "en", "mail me at alice@example.org or 415-555-0199 thanks a lot friend"),
    (7L, "en", benchDoc + " verbatim"),                   // contaminated vs bench
    (8L, "en", "dup dup dup dup dup dup dup dup dup dup"),// repetition filter
    (9L, "de", "der hund läuft schnell durch den großen wald heute")
  ).toDF("doc_id", "lang", "text")

  test("each stage drops exactly its targets; PII is redacted in the output") {
    val cleaned = CorpusPrep.prepare(fixture)
      .select("doc_id", "txt").as[(Long, String)].collect().toMap
    assert(cleaned.keySet == Set(1L, 6L, 9L))
    assert(cleaned(6L) == "mail me at <EMAIL> or <PHONE> thanks a lot friend")
    val stats = CorpusPrep.stats(CorpusPrep.prepare(fixture))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(stats.map(_._1) == Seq("de", "en")) // ordered by lang
    assert(stats.find(_._1 == "en").get._2 == 2L)
  }

  test("pipeline runs over ONE scan: the final plan holds no file scan") {
    val docs = graft.Tables.load(spark, TestSpark.sf, "documents")
    val out = CorpusPrep.stats(CorpusPrep.prepare(docs))
    // prepare() eagerly checkpointed the single scan; everything downstream
    // replays those blocks, so no FileScan/parquet source may remain
    val plan = out.queryExecution.sparkPlan.toString
    assert(!plan.contains("FileScan"),
      s"expected zero file scans after the checkpointed base:\n$plan")
    assert(out.count() > 0)
  }

  test("the cleaned frame replays the checkpointed near-dedup stage") {
    val cleaned = CorpusPrep.prepare(fixture)
    val plans = TestJobs.launched(spark)(cleaned.collect()).plans
    assert(CorpusPrepSpec.wholeStages(plans) <= 10)
    assert(!CorpusPrepSpec.verifiesPairs(plans),
      "the near-dedup pairs must sit behind a checkpoint")
  }
}

object CorpusPrepSpec {
  private val aqe = new AdaptiveSparkPlanHelper {}

  /** Whole-stage codegen stages of executed plans, through adaptive query
    * stages; a reused exchange's stage is not counted again.
    */
  def wholeStages(plans: Seq[SparkPlan]): Int =
    plans.map(p => aqe.collect(p) { case w: WholeStageCodegenExec => w }.size).sum

  /** Whether any operator of the plans computes a Jaccard intersection. */
  def verifiesPairs(plans: Seq[SparkPlan]): Boolean =
    plans.exists(p => aqe.find(p)(_.expressions.exists(
      _.exists(_.isInstanceOf[SortedIntersectSize]))).isDefined)
}
