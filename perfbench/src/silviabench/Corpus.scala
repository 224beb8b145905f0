package silviabench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.{CorpusPrep, IncrementalDedup, Similarity}

/** The LLM-pipeline arm, driven through the public `graft.ops` APIs: each
  * doc batch runs the incremental corpus-prep chain against a persisted
  * prep state and the incremental semantic dedup against a persisted IVF
  * index, then folds itself into both. One instance owns one system root.
  */
final class Corpus(spark: SparkSession, root: String) {
  import Corpus._

  val state = s"$root/prep"
  val ivf = s"$root/ivf"
  val kept = s"$root/kept"
  val dropped = s"$root/semdrop"

  def read(paths: String*): DataFrame = spark.read.schema(Schema).json(paths: _*)

  /** History build: the prep state over history, the benchmark docs of the
    * whole window registered ahead of the stream (reference data arrives
    * out of band), and the IVF index with a fixed quantizer seeded from the
    * first history vectors.
    */
  def setup(hist: String, batchFiles: Seq[String]): Unit = {
    val h = read(hist)
    CorpusPrep.buildPrepState(h, state)
    CorpusPrep.appendBenchToState(spark, state, read(batchFiles: _*))
    val centroids = h.orderBy("doc_id").limit(Lists)
      .select(row_number().over(org.apache.spark.sql.expressions.Window.orderBy("doc_id"))
        .cast("int").as("list_id"), col("emb").as("centroid"))
    Similarity.saveIvfIndex(
      Similarity.ivfBuildFixed(h.select(col("doc_id"), col("emb")), "doc_id", "emb", centroids), ivf)
  }

  /** One doc batch. Redelivery-safe per `id`: both appends are tagged and
    * both probes exclude the batch's own tag.
    */
  def batch(raw: DataFrame, id: Long): Unit = {
    val docs = raw.persist(StorageLevel.MEMORY_ONLY)
    val tag = s"b$id"
    try {
      Trace.span(spark, "ops.prep") {
        CorpusPrep.prepareBatch(spark, state, docs, excludeTag = tag)
          .write.mode("overwrite").parquet(s"$kept/batch=$id")
        CorpusPrep.appendBatchToState(spark, state, docs, tag = tag)
      }
      Trace.span(spark, "ops.semdedup") {
        val vecs = docs.select(col("doc_id"), col("emb"))
        Similarity.incrementalSemanticDedup(spark, ivf, vecs, "doc_id", "emb", Threshold,
          excludeTag = tag)
          .filter(col("drop")).select("id")
          .write.mode("overwrite").parquet(s"$dropped/batch=$id")
        Similarity.appendToIvfIndex(vecs, "doc_id", "emb", ivf, tag = tag)
      }
    } finally docs.unpersist()
  }

  /** Index maintenance: fold epochs, then reclaim the absorbed ones. */
  def maintain(): Unit = Trace.span(spark, "ops.index") {
    IncrementalDedup.compactIndex(spark, s"$state/index")
    IncrementalDedup.vacuumIndex(spark, s"$state/index")
    Similarity.compactIvfIndex(spark, ivf)
    Similarity.vacuumIvfIndex(spark, ivf)
  }

  /** The fixed read set: top-10 probes of the persisted IVF index. */
  def reads(queries: Seq[Array[Double]]): Unit = Trace.span(spark, "ops.probe") {
    import spark.implicits._
    queries.foreach { q =>
      val res = Similarity.ivfProbePersisted(spark, ivf, Seq(q.toSeq).toDF("qvec"), k = 10).collect()
      require(res.nonEmpty, "IVF probe returned no neighbours")
    }
  }

  def storedDirs: Seq[String] = Seq(state, ivf)

  private def fp(df: DataFrame) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("doc_id"), col("txt")).cast("decimal(38,0)")), lit(0))
        .cast("string")).head()
    (r.getLong(0), r.getString(1))
  }

  /** Survivors equal the one-shot chain on history ∪ batches, restricted
    * to batch ids.
    */
  def check(hist: String, batchFiles: Seq[String]): Seq[(String, Boolean)] = {
    val histMax = read(hist).agg(max("doc_id")).head().getLong(0)
    val oneShot = fp(CorpusPrep.prepare(read(hist +: batchFiles: _*))
      .filter(col("doc_id") > histMax))
    Seq("survivors = one-shot CorpusPrep chain" -> (fp(spark.read.parquet(kept).drop("batch")) == oneShot))
  }

  /** Share of planted semantic copies the incremental dedup dropped. */
  def plantedRecall(planted: Set[Long]): Double = {
    val got = spark.read.parquet(dropped).select("id").collect().map(_.getLong(0)).toSet
    if (planted.isEmpty) 1.0 else planted.count(got).toDouble / planted.size
  }
}

object Corpus {
  val Lists = 16
  val Threshold = 0.95
  val Schema: StructType = StructType.fromDDL(
    "doc_id BIGINT, lang STRING, text STRING, emb ARRAY<DOUBLE>")
}
