package graft.ops

import java.nio.file.{Files, Path => JPath, Paths}

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestJobs
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-IVF consumers read their models on the driver
  * ([[graft.ModelParquet.read]]) and rank probe lists there:
  *   - the driver ranking equals the Spark ranking it replaces
  *     (`crossJoin` + `orderBy(csim.desc, list_id)`), NULL, NaN, ±0.0
  *     and ties included;
  *   - a probe of a driver-local query launches only its top-k job, and
  *     the semantic-dedup probe and the append launch no model-read job;
  *   - a claimed but uncommitted epoch's model is never read.
  */
class IvfDriverModelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(name: String): String = {
    val p = Paths.get(s"target/ivf_driver_model_spec/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    p.toString
  }

  private def jobs(body: => Any): Int = TestJobs.launched(spark)(body).jobs

  private def vec(i: Int, eps: Float = 0f): Seq[Float] =
    (0 until 16).map(j =>
      if (j == i % 16) 1.0f else if (j == (i + 1) % 16) eps else 0.0f)
  private val corpus = (1 to 12).map(i => (i.toLong, vec(i % 4))).toDF("id", "v")
  private val centroids = (0 until 4)
    .map(i => (i, vec(i).map(_.toDouble))).toDF("list_id", "centroid")
  private val query = Seq(Tuple1(vec(2, 0.02f))).toDF("qvec")

  private def build(dir: String): Unit =
    Similarity.saveIvfIndex(
      Similarity.ivfBuildFixed(corpus, "id", "v", centroids), dir)

  /** The ranking the probes ran in Spark before it moved to the driver. */
  private def sparkRanking(cents: DataFrame, q: DataFrame, n: Int): Seq[Int] =
    q.crossJoin(broadcast(cents))
      .select(col("list_id"),
        graft.functions.GraftFunctions.cosine_sim(
          col("centroid"), col("qvec").cast("array<double>")).as("csim"))
      .orderBy(col("csim").desc, col("list_id"))
      .limit(n).select("list_id")
      .collect().map(_.getInt(0)).toSeq

  test("the driver list ranking equals Spark's: ties, a zero-norm " +
    "centroid (NULL), a NaN component and ±0.0") {
    val dir = freshDir("ranking")
    val fixture = Seq(
      (0, Seq(1.0, 0.0)), (1, Seq(2.0, 0.0)), // tied at 1.0
      (2, Seq(0.0, 0.0)),                     // zero norm: NULL
      (3, Seq(Double.NaN, 1.0)),              // NaN
      (4, Seq(0.0, 1.0)), (5, Seq(-0.0, 1.0)), // tied at 0.0
      (6, Seq(-1.0, 0.0)), (7, Seq(3.0, -0.0))) // 1.0 again, after 1
      .toDF("list_id", "centroid")
    val assigned = Seq((1L, Seq(1.0, 0.0), 0)).toDF("id", "v", "list_id")
    Similarity.saveIvfIndex(Similarity.IvfIndex(assigned, fixture), dir)
    for (q <- Seq(Seq(1.0f, 0.0f), Seq(1.0f, -0.0f), Seq(0.0f, 0.0f))) {
      val qdf = Seq(Tuple1(q)).toDF("qvec")
      for (n <- Seq(1, 3, 8)) {
        val (driver, _) = Similarity.rankLists(spark, dir, 0, qdf, n)
        assert(driver === sparkRanking(fixture, qdf, n), s"q=$q n=$n")
      }
    }
    assert(Similarity.rankLists(spark, dir, 0,
      Seq(Tuple1(Seq(1.0f, 0.0f))).toDF("qvec"), 8)._1 ===
      Seq(3, 0, 1, 7, 4, 5, 6, 2))
    // the comparator alone: NaN greatest, -0.0 == 0.0, NULL last
    val order = Seq[(Int, Any)]((1, null), (2, -0.0), (3, Double.NaN),
      (4, 0.0), (5, 1.0), (0, -0.0)).sorted(Similarity.byCsimDesc)
    assert(order.map(_._1) === Seq(3, 5, 0, 2, 4, 1))
  }

  test("a persisted-IVF probe of a driver-local query launches one job") {
    val dir = freshDir("probe")
    build(dir)
    val expected = Similarity.ivfProbePersisted(spark, dir, query, k = 5, nProbe = 2)
      .collect().toSeq
    val got = TestJobs.launched(spark)(
      Similarity.ivfProbePersisted(spark, dir, query, k = 5, nProbe = 2).collect().toSeq)
    assert(got.jobs === 1)
    assert(got.result === expected)
  }

  test("semantic-dedup probes and appends read the centroids with no job") {
    val dir = freshDir("semdedup")
    build(dir)
    val batch = Seq((101L, vec(2, 0.01f)), (102L, vec(3, 0.5f))).toDF("id", "v")
    assert(jobs(Similarity.incrementalSemanticDedup(
      spark, dir, batch, "id", "v", threshold = 0.9).collect()) === 5)
    assert(jobs(Similarity.appendToIvfIndex(batch, "id", "v", dir, tag = "b1")) === 2)
  }

  test("a claimed epoch's uncommitted model is never read") {
    val dir = freshDir("uncommitted")
    build(dir)
    val batch = Seq((101L, vec(2, 0.01f))).toDF("id", "v")
    def probe = Similarity.ivfProbePersisted(spark, dir, query, k = 5, nProbe = 1)
      .collect().toSeq
    def dedup = Similarity.incrementalSemanticDedup(
      spark, dir, batch, "id", "v", threshold = 0.9).collect().toSet
    val (p0, d0) = (probe, dedup)
    // a writer claimed epoch 1 and landed different centroids, then died
    // before its manifest row
    IncrementalDedup.Manifest.claimEpoch(spark, s"$dir/params", 1)
    graft.ModelParquet.overwrite(spark, centroids.schema,
      (0 until 4).map(i => org.apache.spark.sql.Row(i, vec(3 - i).map(_.toDouble))),
      s"$dir/centroids/epoch=1")
    assert(probe === p0)
    assert(dedup === d0)
    val e = Similarity.appendToIvfIndex(batch, "id", "v", dir, tag = "b1")
    assert(e === 2)
    // the append assigned with epoch 0's centroids: vec(2) lands in list 2
    assert(Similarity.ivfVectorsAt(spark, dir).filter(col("id") === 101L)
      .select("list_id").as[Int].collect().toSeq === Seq(2))
  }
}
