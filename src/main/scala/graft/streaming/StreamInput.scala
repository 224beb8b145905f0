package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Deterministic streaming replay inputs (FIXTURES.md §B3), generated FROM
  * the read-only testdata into `target/stream/` at first use.
  *
  * The events table is re-written as 4 parquet files so
  * `maxFilesPerTrigger=1` yields ≥4 micro-batches (I1), and a second copy
  * carries ~5% seeded duplicate rows for the dedup suite (S5/P3). Re-written
  * files carry µs timestamps, so streaming reads skip the nanosAsLong
  * special-casing in [[Tables.loadEvents]].
  */
object StreamInput {

  private val root = "target/stream"

  private def key(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9.]+", "_").dropWhile(_ == '_')

  private def ensure(dir: String)(write: String => Unit): String = {
    val marker = Paths.get(dir, "_SUCCESS")
    if (!Files.exists(marker)) {
      deleteRecursively(Paths.get(dir))
      write(dir)
      staggerModTimes(dir)
    }
    dir
  }

  /** FileStreamSource orders files by modification time; the four range
    * partitions are written concurrently, so stamp strictly increasing
    * mtimes in part-file order to pin batch order = time order.
    */
  private def staggerModTimes(dir: String): Unit = {
    val parts = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
    val base = System.currentTimeMillis() - parts.length * 1000L
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(
        p, java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
  }

  /** events re-written as 4 time-ordered files (µs timestamps).
    *
    * Range-partitioned by `ts` so micro-batches replay in event-time order —
    * a replay whose files each span the whole time range would push the
    * watermark to (global max − delay) after the first batch and every later
    * batch would be dropped as late (the failure mode S5 guards against).
    */
  def eventsDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/events") { dir =>
      Tables.load(spark, sfDir, "events")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("ts"))
        .write.mode("overwrite").parquet(dir)
    }

  /** events plus a seeded ~5% duplicate sample (same rows repeated).
    * Duplicates carry identical `ts`, so range partitioning keeps each
    * duplicate in the same file (same micro-batch) as its original —
    * within any watermark's dedup horizon.
    */
  def eventsDupDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/events_dup") { dir =>
      val ev = Tables.load(spark, sfDir, "events")
      ev.union(ev.sample(withReplacement = false, 0.05, seed = 42))
        .repartitionByRange(4, org.apache.spark.sql.functions.col("ts"))
        .write.mode("overwrite").parquet(dir)
    }

  /** events re-written as 4 files range-partitioned by DAY — every file
    * carries whole days only (a range partitioner maps equal keys to one
    * partition), so a micro-batch never splits a day across batches. This
    * is the input-alignment contract S11's per-batch dynamic partition
    * overwrite needs to be exactly-once: re-delivering a batch rewrites
    * exactly the partitions it owns.
    */
  def eventsByDayAlignedDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/events_day_aligned") { dir =>
      Tables.load(spark, sfDir, "events")
        .repartitionByRange(4, org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("ts")))
        .write.mode("overwrite").parquet(dir)
    }

  /** events re-written as 6 arrival-order shards, each carrying rows from
    * EVERY day — the realistic ingest arrival shape (a micro-batch is an
    * arrival-time slice, not an event-time one), so an append-mode lake
    * load lands one file per day per batch. This is the input that makes
    * S12's small-files problem real: 6 batches × N days → 6 small files in
    * every day partition before compaction.
    */
  def eventsShardedDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/events_sharded") { dir =>
      Tables.load(spark, sfDir, "events")
        .repartition(6)
        .write.mode("overwrite").parquet(dir)
    }

  /** The k19 incremental-dedup BATCH re-written as 4 arrival files
    * (range-partitioned by doc_id, staggered mtimes) so
    * `maxFilesPerTrigger=1` replays it as 4 ordered micro-batches — the
    * s14 streaming probe+append loop's input. Built from
    * [[graft.ops.KQueries.incDedupFixture]] so s14's streamed docs are
    * EXACTLY k19's batch and the two entries share one oracle.
    */
  def docsBatchDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/docs_batch") { dir =>
      graft.ops.KQueries.incDedupFixture(spark, sfDir)._2
        .repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id"))
        .write.mode("overwrite").parquet(dir)
    }

  /** The k21 vector batch as 4 range-partitioned files (s15's stream). */
  def vecsBatchDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/vecs_batch") { dir =>
      graft.ops.KQueries.vecDedupFixture(spark, sfDir)._2
        .repartitionByRange(4, org.apache.spark.sql.functions.col("vec_id"))
        .write.mode("overwrite").parquet(dir)
    }

  /** The k26 batch's CORPUS-FLOW docs (benchmark docs are registered
    * out-of-band before the stream — see
    * [[graft.ops.CorpusPrep.appendBenchToState]]) as 4 id-range files:
    * with `ensure`'s staggered mtimes, arrival order IS id order — the
    * ordering the prep chain's smaller-id precedence rules require
    * (s16's stream; [[graft.ops.CorpusPrep.prepareBatch]] fails loudly
    * if it is ever violated).
    */
  def prepBatchDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/prep_batch") { dir =>
      graft.ops.KQueries.incPrepFixture(spark, sfDir)._2
        .filter(org.apache.spark.sql.functions.col("doc_id") % 50 =!= 0)
        .repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id"))
        .write.mode("overwrite").parquet(dir)
    }

  /** The s17 IVF-ingest stream: the ODD half of the embedding corpus plus
    * the planted query copy (id 999999, arriving last under id-range
    * order), as 4 arrival files. The EVEN half seeds the index before the
    * stream starts, so the final state is exactly k3d's population and the
    * audit shares `k3IvfSql` verbatim.
    */
  def ivfBatchDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/ivf_batch") { dir =>
      import org.apache.spark.sql.functions.{col, lit}
      val (q, corpus, _) = graft.ops.KQueries.ivfFixture(spark, sfDir)
      corpus.filter(col("vec_id") % 2 =!= 0)
        .unionByName(q.select(lit(999999L).as("vec_id"),
          col("qvec").as("embedding")))
        .repartitionByRange(4, col("vec_id"))
        .write.mode("overwrite").parquet(dir)
    }

  /** The k34 span-index CORPUS as 4 id-ranged files — s18 streams the
    * corpus INTO the span index one micro-batch at a time (the ingest
    * side of the loop; the probe side is the closing one-shot audit).
    */
  def spanCorpusDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/span_corpus") { dir =>
      import org.apache.spark.sql.functions.col
      val (corpus, _) = graft.ops.KQueries.spanFixture(spark, sfDir)
      corpus.repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(dir)
    }

  /** The p13 upsert batch as 4 id-ranged files — s19 streams row-level
    * corrections/inserts INTO the lake one micro-batch at a time via
    * [[graft.etl.LakeUpsert.merge]].
    */
  def mergeBatchDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/merge_batch") { dir =>
      import org.apache.spark.sql.functions.col
      val ev = graft.Tables.load(spark, sfDir, "events")
      ev.filter(col("event_id") % 7 === 0)
        .withColumn("value", col("value") + 1)
        .unionByName(ev.filter(col("event_id") % 97 === 0)
          .withColumn("event_id", col("event_id") + 10000000L))
        .repartitionByRange(4, col("event_id"))
        .write.mode("overwrite").parquet(dir)
    }

  /** The p15 erasure key set as 4 id-ranged files — s20 streams deletion
    * requests INTO the lake one micro-batch at a time via
    * [[graft.etl.LakeUpsert.deleteKeys]].
    */
  def deleteKeysDir(spark: SparkSession, sfDir: String): String =
    ensure(s"$root/${key(sfDir)}/delete_keys") { dir =>
      import org.apache.spark.sql.functions.col
      graft.Tables.load(spark, sfDir, "events")
        .filter(col("event_id") % 13 === 0)
        .select("event_id", "ts")
        .repartitionByRange(4, col("event_id"))
        .write.mode("overwrite").parquet(dir)
    }

  /** A fresh (pre-deleted) checkpoint dir for a named stream run. */
  def freshCheckpoint(name: String, sfDir: String): String = {
    val dir = Paths.get(s"$root/cp/${key(sfDir)}/$name")
    deleteRecursively(dir)
    dir.toString
  }

  /** A fresh (pre-deleted) output dir for a named streaming sink run —
    * per-run determinism for sinks that land files (S11's lake).
    */
  def lakeDir(name: String, sfDir: String): String = {
    val dir = Paths.get(lakePath(name, sfDir))
    deleteRecursively(dir)
    dir.toString
  }

  /** Non-deleting accessor for a lake sink's location, so specs can find a
    * landed lake without re-deriving `root`/`key` inline (ADVICE r7 — the
    * PipelineQueries.p6OutDir precedent from ADVICE r3).
    */
  def lakePath(name: String, sfDir: String): String =
    s"$root/out/${key(sfDir)}/$name"

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    }

  /** Streaming reader over a prepared dir, one file per micro-batch. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.etl.LakeSnapshot.inferredSchema(spark, dir)
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }
}
