package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

import graft.etl.LakeSnapshot

/** `df.writeStream.format("graft-lake")` — the lake as a FIRST-CLASS
  * Structured Streaming sink (VERDICT r13 #3), replacing the documented
  * `foreachBatch` + `mergeDelta` idiom with a native DSv2
  * [[StreamingWrite]]. Each micro-batch upserts by key, landing as ONE
  * merge-on-read delta commit — O(batch) write cost, no conflict abort,
  * concurrent writers (other streams, batch jobs, the Scala API) all
  * compose through the one manifest. Unlike [[LakeSnapshot.mergeDelta]],
  * which collapses a batch's repeated key to its greatest row before
  * writing, the sink writes every row; a key written twice in one batch
  * folds at read to the row written last (files in path order, rows in
  * file order).
  *
  * Exactly-once across restarts: every batch commit carries an
  * idempotence TAG (`sw-<queryId>-<epochId>` — queryId is stable in the
  * checkpoint, epochId is the replayed batch id), and
  * [[LakeSnapshot.commitExternalDelta]] no-ops when the tag is already
  * committed — the s14-style tagged-redelivery contract, now on the
  * lake itself.
  *
  * The distributed shape (100 TB): executors stream rows through the
  * [[LakeDeltaTaskWriter]] SQL MERGE uses straight into per-day parquet
  * files under a per-(query, epoch) STAGING area
  * (`delta/.sw/<queryId>/<epochId>/day=D/` — dot-prefixed, invisible to
  * every reader), dot-temp → rename at task commit; the DRIVER then
  * claims a generation, moves exactly the files the commit messages
  * name (per-file metadata renames, no data movement, no driver
  * collect), and publishes the tagged manifest row. A crash anywhere
  * leaves either an invisible staging dir or an unreferenced
  * generation — vacuum reclaims both; the replayed batch re-stages from
  * scratch and the tag makes the re-commit a no-op if the manifest row
  * already landed.
  */
private[sources] class LakeStreamingWrite(
    props: Map[String, String], info: LogicalWriteInfo)
  extends StreamingWrite {

  private val dir = GraftLakeSource.dirOf(props)
  private val queryId = info.queryId()

  private def stagingRoot(epochId: Long): String =
    s"${LakeSnapshot.LakePaths(dir).delta}/.sw/$queryId/$epochId"

  // resolved ONCE at query start (same resolution ladder as the batch
  // bridge): explicit option > recorded table key > catalog CREATE
  private lazy val (key, ts) = {
    val spark = SparkSession.active
    lazy val created = GraftCatalog.readCreateProps(spark, dir)
    val k = props.get("key")
      .orElse(LakeSnapshot.tableState(spark, dir).key)
      .orElse(created.get("key"))
      .getOrElse(sys.error(
        "graft-lake: option 'key' is required on the first write " +
          "(no recorded table key yet)"))
    (k, props.get("ts").orElse(created.get("ts")).getOrElse("ts"))
  }

  override def createStreamingWriterFactory(
      pi: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val schema = info.schema()
    require(LakeSnapshot.keyParts(key).forall(schema.fieldNames.contains) &&
      schema.fieldNames.contains(ts),
      s"graft-lake streaming sink: the batch schema " +
        s"${schema.fieldNames.toSeq} must carry the merge key '$key' " +
        s"and event-time '$ts'")
    // physical names bind per batch; renames mid-stream are safe
    // (physical names never change — only their logical mapping does),
    // brand-new columns bind identity like a first write. Every row is an
    // upsert here, so the batch schema is also the row-ID schema.
    LakeDeltaWriterFactory(spark, dir,
      s"${LakeSnapshot.LakePaths(dir).delta}/.sw/$queryId",
      LakeSnapshot.tableState(spark, dir), key, ts, schema, schema)
  }

  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val tag = s"sw-$queryId-$epochId"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(stagingRoot(epochId))
    val files = messages.toSeq
      .collect { case m: LakeMergeTaskCommit => m.files }.flatten
    try {
      if (files.isEmpty) return
      // redelivery: the tag already committed → this replay is a no-op
      // (commitExternalDelta would catch it too; checking first skips
      // the pointless claim + moves). The check is checkpoint-bounded
      // (ADVICE r14): O(rows since _last_checkpoint), never the full
      // manifest per micro-batch on a years-lived table.
      val p = LakeSnapshot.LakePaths(dir)
      val already = LakeSnapshot.tagEpoch(spark, dir, tag).isDefined
      if (already) return
      val (gen, base, _) = LakeSnapshot.stageExternalDelta(spark, dir, key)
      // move EXACTLY the files the committed attempts named — per-file
      // metadata renames; a failed attempt's leftovers die with staging
      files.foreach { case (day, f) =>
        val dst = new Path(s"${p.delta}/gen=$gen/day=$day")
        fs.mkdirs(dst)
        val src = new Path(f)
        require(fs.rename(src, new Path(dst, src.getName)),
          s"graft-lake streaming sink: publish rename $src -> $dst failed")
      }
      LakeSnapshot.commitExternalDelta(
        spark, dir, gen, base, files.map(_._1).distinct, key, tag)
      ()
    } finally {
      cleanStaging(fs, staging)
    }
  }

  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    cleanStaging(fs, new Path(stagingRoot(epochId)))
  }

  /** Delete the epoch staging dir AND its now-empty `.sw/<queryId>`
    * parent (ADVICE r14: empty parents persisting after every commit
    * were what vacuum tripped over) — the `.sw` root itself stays for
    * concurrent queries; vacuum sweeps it when fully empty.
    */
  private def cleanStaging(
      fs: org.apache.hadoop.fs.FileSystem, staging: Path): Unit = {
    if (fs.exists(staging)) fs.delete(staging, true)
    val parent = staging.getParent // .sw/<queryId>
    if (fs.exists(parent) && fs.listStatus(parent).isEmpty)
      fs.delete(parent, true)
    ()
  }
}
