package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestJobs
import org.scalatest.funsuite.AnyFunSuite

/** The epoch-index lifecycle, checked once over every persisted index
  * kind: text MinHash, span hash, cosine sign-LSH, IVF and IVFPQ. Each
  * kind is one row of [[kinds]]; every test runs over all rows.
  *
  *   - Spark jobs per lifecycle step are locked per kind (build, tagged
  *     append, redelivered append, compact, vacuum, one probe), and a
  *     committed surface reads with no job, in the schema and rows that
  *     schema inference gives.
  *   - A claimed epoch whose data landed but whose manifest row did not
  *     is invisible to probes.
  *   - Compaction raises `base` and leaves probe output unchanged.
  *   - A vacuum inside the retention window deletes nothing; one past it
  *     deletes the absorbed surface epochs and claim markers and keeps
  *     every `.properties` row.
  *   - Vacuum of a directory with no committed manifest fails loudly.
  */
class EpochIndexSpec extends AnyFunSuite {
  import EpochIndexSpec.Kind
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(name: String): String = {
    val p = Paths.get(s"target/epoch_index_spec/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    p.toString
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  // --- fixtures --------------------------------------------------------------

  private val fox = "the quick brown fox jumps over the lazy dog tonight"
  private val spark1 = "completely different words about spark query planning engines and more"
  private val corpusText = Seq(
    (1L, fox), (2L, spark1),
    (3L, "a third document talking about vector search and approximate neighbors"))
    .toDF("doc_id", "text")
  private def textBatch(n: Int): DataFrame = n match {
    case 1 => Seq((101L, fox + " again")).toDF("doc_id", "text")
    case _ => Seq((201L, spark1 + " today")).toDF("doc_id", "text")
  }
  private val textProbe = Seq(
    (301L, fox + " again maybe"), (302L, spark1 + " today too"))
    .toDF("doc_id", "text")

  private def vec(i: Int, eps: Float = 0f): Seq[Float] =
    (0 until 64).map(j =>
      if (j == i % 64) 1.0f else if (j == (i + 1) % 64) eps else 0.0f)
  private val corpusVec = (1 to 8).map(i => (i.toLong, vec(i))).toDF("id", "v")
  private def vecBatch(n: Int): DataFrame = n match {
    case 1 => Seq((101L, vec(2, 0.01f))).toDF("id", "v")
    case _ => Seq((201L, vec(3, 0.01f))).toDF("id", "v")
  }
  private val vecProbe =
    Seq((301L, vec(2, 0.02f)), (302L, vec(3, 0.02f))).toDF("id", "v")
  private val query = Seq(Tuple1(vec(2, 0.02f))).toDF("qvec")
  private val centroids = Seq(
    (0, vec(1).map(_.toDouble)), (1, vec(5).map(_.toDouble)))
    .toDF("list_id", "centroid")

  // --- the kinds -------------------------------------------------------------

  private val kinds = Seq(
    Kind("text", Seq("banded", "shingles", "members"),
      dir => IncrementalDedup.buildIndex(corpusText, "doc_id", "text", dir),
      (dir, n) => IncrementalDedup.appendToIndex(
        textBatch(n), "doc_id", "text", dir, tag = s"b$n"),
      dir => IncrementalDedup.compactIndex(spark, dir),
      (dir, r) => IncrementalDedup.vacuumIndex(spark, dir, r),
      dir => rows(IncrementalDedup.incrementalPairs(
        spark, dir, textProbe, "doc_id", "text", threshold = 0.5)),
      Seq(6, 7, 0, 4, 0, 14)),
    Kind("span", Seq("spans"),
      dir => SpanIndex.buildSpanIndex(corpusText, "doc_id", "text", dir),
      (dir, n) => { SpanIndex.appendToSpanIndex(
        textBatch(n), "doc_id", "text", dir, tag = s"b$n"); () },
      dir => SpanIndex.compactSpanIndex(spark, dir),
      (dir, r) => SpanIndex.vacuumSpanIndex(spark, dir, r),
      dir => rows(SpanIndex.probeSpanStats(
        spark, dir, textProbe, "doc_id", "text")),
      Seq(2, 2, 0, 2, 0, 7)),
    Kind("cosine", Seq("vectors"),
      dir => Similarity.buildCosineIndex(corpusVec, "id", "v", dir),
      (dir, n) => Similarity.appendToCosineIndex(
        vecBatch(n), "id", "v", dir, tag = s"b$n"),
      dir => Similarity.compactCosineIndex(spark, dir),
      (dir, r) => Similarity.vacuumCosineIndex(spark, dir, r),
      dir => rows(Similarity.incrementalCosinePairs(
        spark, dir, vecProbe, "id", "v", threshold = 0.9)),
      Seq(2, 2, 0, 2, 0, 7)),
    Kind("ivf", Seq("assigned", "centroids"),
      dir => Similarity.saveIvfIndex(
        Similarity.ivfBuildFixed(corpusVec, "id", "v", centroids), dir),
      (dir, n) => { Similarity.appendToIvfIndex(
        vecBatch(n), "id", "v", dir, tag = s"b$n"); () },
      dir => Similarity.compactIvfIndex(spark, dir),
      (dir, r) => Similarity.vacuumIvfIndex(spark, dir, r),
      dir => rows(Similarity.ivfProbePersisted(
        spark, dir, query, k = 20, nProbe = 2)),
      Seq(2, 4, 0, 2, 0, 5)),
    Kind("ivfpq", Seq("assigned", "centroids", "codes", "codebooks"),
      dir => Similarity.saveIvfPqIndex(
        Similarity.ivfBuildFixed(corpusVec, "id", "v", centroids),
        Similarity.pqBuild(corpusVec, "id", "v",
          centroids.select(col("list_id").as("code"), col("centroid")),
          nSub = 8, dim = 64),
        dir),
      (dir, n) => Similarity.appendToIvfPqIndex(
        vecBatch(n), "id", "v", dir, tag = s"b$n"),
      dir => Similarity.compactIvfIndex(spark, dir),
      (dir, r) => Similarity.vacuumIvfIndex(spark, dir, r),
      dir => rows(Similarity.ivfPqTopKPersisted(
        spark, dir, query, k = 20, nProbe = 2, rerank = 50)),
      Seq(4, 8, 0, 4, 0, 12)))

  private val partOf = Map("text" -> "pb", "span" -> "pb", "cosine" -> "pb",
    "ivf" -> "list_id", "ivfpq" -> "list_id")

  private def params(dir: String): Seq[String] =
    Option(new java.io.File(s"$dir/params").list()).toSeq.flatten.sorted

  private def allFiles(dir: String): Set[String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.toString).toSet

  private def epochDirs(dir: String, surface: String): Seq[Int] = {
    val Name = "epoch=(\\d+)".r
    Option(new java.io.File(s"$dir/$surface").list()).toSeq.flatten
      .collect { case Name(e) => e.toInt }
  }

  private def manifestRows(dir: String): Seq[(Int, Map[String, String])] =
    IncrementalDedup.Manifest.read(spark, s"$dir/params")

  for (k <- kinds) {
    test(s"${k.name}: Spark jobs per lifecycle step are locked") {
      val dir = freshDir(s"jobs_${k.name}")
      def jobs(body: => Unit): Int = TestJobs.launched(spark)(body).jobs
      val build = jobs(k.build(dir))
      val append = jobs(k.append(dir, 1))
      val redelivered = jobs(k.append(dir, 1))
      val probe = jobs(k.probe(dir))
      val compact = jobs(k.compact(dir))
      val vacuum = jobs(k.vacuum(dir, 0L))
      assert(Seq(build, append, redelivered, compact, vacuum, probe) === k.jobs,
        "(build, append, redelivered, compact, vacuum, probe)")
    }

    test(s"${k.name}: a claimed epoch without its manifest row is invisible") {
      val dir = freshDir(s"orphan_${k.name}")
      k.build(dir)
      val before = k.probe(dir)
      k.append(dir, 1)
      assert(k.probe(dir) != before, "the fixture's append must reach the probe")
      val e = manifestRows(dir).map(_._1).max
      assert(Files.exists(Paths.get(s"$dir/params/epoch-$e.claim")))
      Files.delete(Paths.get(s"$dir/params/epoch-$e.properties"))
      assert(k.surfaces.exists(s => epochDirs(dir, s).contains(e)),
        "the orphan epoch's data must still be on disk")
      assert(k.probe(dir) === before)
    }

    test(s"${k.name}: compaction raises base; vacuum honours retention, " +
      "deletes absorbed surfaces and claims, keeps every manifest row") {
      val dir = freshDir(s"compact_${k.name}")
      k.build(dir)
      k.append(dir, 1)
      k.append(dir, 2)
      val probed = k.probe(dir)
      k.compact(dir)
      val (top, kv) = manifestRows(dir).last
      val base = kv.getOrElse("base", "0").toInt
      assert(base == top && base > 0, s"compaction commits base = its epoch: $kv")
      assert(k.probe(dir) === probed)

      val files = allFiles(dir)
      k.vacuum(dir, 3600L * 1000L)
      assert(allFiles(dir) === files, "a retained vacuum deletes nothing")

      val props = params(dir).filter(_.endsWith(".properties"))
      k.vacuum(dir, 0L)
      for (s <- k.surfaces)
        assert(epochDirs(dir, s).sorted === Seq(base), s"$s after vacuum")
      val claims = params(dir).filter(_.endsWith(".claim"))
        .map(_.stripPrefix("epoch-").stripSuffix(".claim").toInt)
      assert(claims.nonEmpty && claims.forall(_ >= base), s"claims $claims")
      assert(params(dir).filter(_.endsWith(".properties")) === props)
      assert(k.probe(dir) === probed)
    }

    test(s"${k.name}: a committed surface reads with no Spark job, as inferred") {
      val dir = freshDir(s"committed_${k.name}")
      k.build(dir)
      k.append(dir, 1)
      val idx = EpochIndex(dir, Nil, k.surfaces, partOf(k.name))
      for (s <- k.surfaces.filterNot(Set("centroids", "codebooks"))) {
        val read = TestJobs.launched(spark)(idx.committed(spark, s, Seq(0, 1)))
        assert(read.jobs === 0, s)
        val inferred = spark.read.parquet(s"$dir/$s")
        assert(read.result.schema === inferred.schema, s)
        assert(rows(read.result) === rows(inferred), s)
      }
    }

    test(s"${k.name}: vacuum without a committed manifest fails loudly") {
      val dir = freshDir(s"nomanifest_${k.name}")
      Files.createDirectories(Paths.get(s"$dir/params"))
      val ex = intercept[IllegalArgumentException](k.vacuum(dir, 0L))
      assert(ex.getMessage.contains("no committed manifest"), ex.getMessage)
    }
  }

  test("text: knownTextHashes and maxMemberId refuse an absorbed excludeTag") {
    val dir = freshDir("absorbed_text")
    kinds.head.build(dir)
    kinds.head.append(dir, 1)
    assert(IncrementalDedup.maxMemberId(spark, dir, excludeTag = "b1") == 3L)
    IncrementalDedup.compactIndex(spark, dir)
    val known = intercept[IllegalArgumentException](
      IncrementalDedup.knownTextHashes(spark, dir, excludeTag = "b1"))
    assert(known.getMessage.contains("absorbed"), known.getMessage)
    val maxId = intercept[IllegalArgumentException](
      IncrementalDedup.maxMemberId(spark, dir, excludeTag = "b1"))
    assert(maxId.getMessage.contains("absorbed"), maxId.getMessage)
    // without the tag both still answer from the compacted epoch
    assert(IncrementalDedup.maxMemberId(spark, dir) == 101L)
  }
}

object EpochIndexSpec {
  final case class Kind(
      name: String,
      surfaces: Seq[String],
      build: String => Unit,
      append: (String, Int) => Unit, // batch n, tagged s"b$n"
      compact: String => Unit,
      vacuum: (String, Long) => Unit,
      probe: String => Set[String],
      // jobs: build, append, redelivered append, compact, vacuum, probe
      jobs: Seq[Int])
}
