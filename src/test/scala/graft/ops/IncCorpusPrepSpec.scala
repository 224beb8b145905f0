package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestJobs
import org.scalatest.funsuite.AnyFunSuite

/** Gates for incremental corpus prep (k26): (1) one batch through
  * [[CorpusPrep.prepareBatch]] equals the one-shot [[CorpusPrep.prepare]]
  * on hist ∪ batch restricted to batch ids — with a planted instance of
  * every drop stage proving WHERE each doc fell; (2) the ordering
  * contract fails loudly; (3) a two-batch sequence through
  * [[CorpusPrep.appendBatchToState]] still equals the one-shot chain,
  * locking the cross-micro-batch exact AND near drops that only exist
  * because the first batch was folded into the state; (4) the batch
  * frame replays a materialized probe instead of re-planning it, and the
  * jobs of one batch are locked.
  */
class IncCorpusPrepSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(name: String): String = {
    val p = Paths.get(s"target/inc_prep/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    p.toString
  }

  // every text passes quality (>= 5 words, mean word length in [2,12],
  // stopword ratio <= 0.5) unless the case is the quality drop itself
  private val base = "alpha beta gamma delta epsilon zeta eta theta"
  private val histBench =
    "guarded benchmark evaluation suite questions secret holdout items"
  private val batchBench =
    "novel benchmark holdout questions arriving with this batch shipment"
  private val fresh =
    "fresh clean batch document altogether new content here"

  // hist ids avoid % 50 == 0 except the deliberate benchmark doc (50)
  private def histDf: DataFrame = Seq(
    (1L, "en", base),
    (2L, "en", "totally different historical content about engines planning"),
    (3L, "en", base + " iota"), // near-dup of 1: stays in the post-exact index
    (50L, "en", histBench)      // held-out benchmark doc
  ).toDF("doc_id", "lang", "text")

  private def dropLastWord(s: String): String =
    s.split("\\s+").dropRight(1).mkString(" ")

  private def b1Df: DataFrame = Seq(
    (101L, "en", base),               // exact dup of hist 1  -> exact stage
    (102L, "en", dropLastWord(base)), // J = 5/6 vs hist 1    -> probe stage
    (103L, "en", histBench),          // copy of hist BENCH   -> decon (state)
    (104L, "en", fresh),              // survives everything
    (105L, "en", "spam spam spam spam spam spam"), // -> repetition stage
    (106L, "en", batchBench),         // copy of 150's text   -> decon (batch)
    (107L, "en", "tiny doc"),         // < 5 words            -> quality stage
    (150L, "en", batchBench)          // batch benchmark doc (150 % 50 == 0)
  ).toDF("doc_id", "lang", "text")

  // no % 50 == 0 ids here: a LATER batch adding benchmark docs would
  // legitimately change an EARLIER batch's decon verdicts, so the
  // sequential-vs-one-shot identity below only holds bench-free
  private def b2Df: DataFrame = Seq(
    (201L, "en", fresh),               // exact dup of b1 104 -> cross-batch exact
    (202L, "en", dropLastWord(fresh)), // near-dup of b1 104  -> cross-batch probe
    (203L, "en", "yet another completely unrelated second batch document")
  ).toDF("doc_id", "lang", "text")

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  private def rows(df: DataFrame): Set[(Long, String, String)] =
    df.select("doc_id", "lang", "txt").as[(Long, String, String)]
      .collect().toSet

  test("one batch == one-shot chain on hist ∪ batch restricted to batch ids") {
    val state = freshDir("one_batch")
    CorpusPrep.buildPrepState(histDf, state)
    val cleaned = CorpusPrep.prepareBatch(spark, state, b1Df)

    val oneShot = CorpusPrep.prepare(histDf.unionAll(b1Df))
      .filter(col("doc_id") >= 100L)
    assert(rows(cleaned) == rows(oneShot))

    // each planted case fell at its intended stage
    val got = ids(cleaned)
    assert(got.contains(104L), "clean doc must survive")
    assert(!got.contains(101L), "exact dup of a hist text must drop (index membership)")
    assert(!got.contains(102L), "near-dup of a hist text must drop (index probe)")
    assert(!got.contains(103L), "copy of a HIST benchmark doc must drop at decon (persisted bench state)")
    assert(!got.contains(106L), "copy of a BATCH benchmark doc must drop at decon (batch bench hashes)")
    assert(!got.contains(105L), "repetition-heavy doc must drop")
    assert(!got.contains(107L), "sub-quality doc must drop")
    assert(!got.contains(150L), "benchmark docs never enter the corpus flow")
  }

  test("batch ids at or below the indexed high-water mark fail loudly") {
    val state = freshDir("ordering")
    CorpusPrep.buildPrepState(histDf, state)
    // hwm = max INDEXED id (3 here) — bench ids never join precedence
    // rules, so only ids at/below the indexed population must fail
    val stale = Seq((2L, "en", fresh)).toDF("doc_id", "lang", "text")
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.prepareBatch(spark, state, stale)
    }
    assert(e.getMessage.contains("high-water"))
  }

  test("two-batch sequence with append == one-shot chain (cross-batch drops live)") {
    val state = freshDir("two_batch")
    CorpusPrep.buildPrepState(histDf, state)
    val c1 = CorpusPrep.prepareBatch(spark, state, b1Df)
    CorpusPrep.appendBatchToState(spark, state, b1Df)
    val c2 = CorpusPrep.prepareBatch(spark, state, b2Df)

    val oneShot = CorpusPrep.prepare(histDf.unionAll(b1Df).unionAll(b2Df))
      .filter(col("doc_id") >= 100L)
    assert(rows(c1) ++ rows(c2) == rows(oneShot))

    // the b2 drops exist ONLY because b1 was folded into the state
    val got2 = ids(c2)
    assert(got2.contains(203L), "clean b2 doc must survive")
    assert(!got2.contains(201L), "exact dup of a b1 doc must drop (appended members)")
    assert(!got2.contains(202L), "near-dup of a b1 doc must drop (appended index epoch)")
  }

  test("s16 micro-batch body: redelivery no-op + cross-micro-batch drops + one-shot equality") {
    val state = freshDir("s16_body")
    val cleanedDir = freshDir("s16_cleaned")
    CorpusPrep.buildPrepState(histDf, state)
    // benchmark docs are registered out-of-band BEFORE the stream flows
    CorpusPrep.appendBenchToState(spark, state, b1Df.unionAll(b2Df))
    val b1Flow = b1Df.filter(col("doc_id") % 50 =!= 0)

    graft.streaming.StreamQueries.prepMicroBatch(state, cleanedDir)(b1Flow, 0L)
    def cleanedRows() = spark.read.parquet(cleanedDir)
      .select("doc_id", "lang", "txt").as[(Long, String, String)]
      .collect().toSeq.sorted
    val members1 = spark.read.parquet(s"$state/index/members").count()
    val first = cleanedRows()

    // the crash window: the same micro-batch is delivered again
    graft.streaming.StreamQueries.prepMicroBatch(state, cleanedDir)(b1Flow, 0L)
    assert(spark.read.parquet(s"$state/index/members").count() == members1,
      "redelivered append must not fold members in twice")
    assert(cleanedRows() == first,
      "redelivered micro-batch must reproduce its first-delivery output")

    // a later micro-batch drops against batch 0's docs THROUGH the state
    graft.streaming.StreamQueries.prepMicroBatch(state, cleanedDir)(b2Df, 1L)
    val got = cleanedRows().map(_._1).toSet
    assert(got.contains(203L) && !got.contains(201L) && !got.contains(202L),
      "cross-micro-batch exact and near drops must fire exactly as batch mode")
    val oneShot = CorpusPrep.prepare(histDf.unionAll(b1Df).unionAll(b2Df))
      .filter(col("doc_id") >= 100L)
    assert(cleanedRows().toSet == rows(oneShot))
  }

  test("appendBatchToState with a tag is a redelivery no-op on the index") {
    val state = freshDir("tagged")
    CorpusPrep.buildPrepState(histDf, state)
    CorpusPrep.appendBatchToState(spark, state, b1Df, tag = "b1")
    val once = CorpusPrep.prepareBatch(spark, state, b2Df)
    CorpusPrep.appendBatchToState(spark, state, b1Df, tag = "b1")
    val twice = CorpusPrep.prepareBatch(spark, state, b2Df)
    // duplicate bench-hash rows are also harmless (read-side distinct)
    assert(rows(once) == rows(twice))
  }

  test("the batch frame replays the checkpointed probe; one batch's jobs are locked") {
    val state = freshDir("plan_lock")
    CorpusPrep.buildPrepState(histDf, state)
    CorpusPrep.appendBatchToState(spark, state, b1Df, tag = "b1")
    val frame = CorpusPrep.prepareBatch(spark, state, b2Df, excludeTag = "b2")
    val plans = TestJobs.launched(spark)(
      frame.write.mode("overwrite").parquet(freshDir("plan_lock_out"))).plans
    assert(CorpusPrepSpec.wholeStages(plans) <= 10)
    assert(!CorpusPrepSpec.verifiesPairs(plans),
      "the near-dedup probe must sit behind a checkpoint")

    val jobs = TestJobs.launched(spark) {
      CorpusPrep.prepareBatch(spark, state, b2Df, excludeTag = "b2")
        .write.mode("overwrite").parquet(freshDir("plan_lock_out"))
      CorpusPrep.appendBatchToState(spark, state, b2Df, tag = "b2")
    }.jobs
    assert(jobs == 41, "prepareBatch write + appendBatchToState")
  }
}
