package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

import graft.etl.LakeSnapshot

/** `df.writeStream.format("graft-lake")` — the lake as a FIRST-CLASS
  * Structured Streaming sink (VERDICT r13 #3), replacing the documented
  * `foreachBatch` + `mergeDelta` idiom with a native DSv2
  * [[StreamingWrite]]. Semantics per micro-batch are exactly
  * [[LakeSnapshot.mergeDelta]]: upsert-by-key, landing as ONE
  * merge-on-read delta commit — O(batch) write cost, no conflict abort,
  * concurrent writers (other streams, batch jobs, the Scala API) all
  * compose through the one manifest.
  *
  * Exactly-once across restarts: every batch commit carries an
  * idempotence TAG (`sw-<queryId>-<epochId>` — queryId is stable in the
  * checkpoint, epochId is the replayed batch id), and
  * [[LakeSnapshot.commitExternalDelta]] no-ops when the tag is already
  * committed — the s14-style tagged-redelivery contract, now on the
  * lake itself.
  *
  * The distributed shape (100 TB): executors stream rows straight into
  * per-day parquet files under a per-(query, epoch) STAGING area
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
    val parts = LakeSnapshot.keyParts(key)
    require(parts.forall(schema.fieldNames.contains) &&
      schema.fieldNames.contains(ts),
      s"graft-lake streaming sink: the batch schema " +
        s"${schema.fieldNames.toSeq} must carry the merge key '$key' " +
        s"and event-time '$ts'")
    // physical names bind at query start; renames mid-stream are safe
    // (physical names never change — only their logical mapping does),
    // brand-new columns bind identity like a first write
    val state = LakeSnapshot.tableState(spark, dir)
    val physical = schema.fields.map { f =>
      if (f.name == "day") null // derived from ts, never stored
      else state.physicalFor(f.name).getOrElse(sys.error(
        s"graft-lake streaming sink: column '${f.name}' needs a fresh " +
          s"physical allocation at $dir (name retired by a rename/drop) " +
          "— evolve the schema through the Scala API first"))
    }
    LakeSnapshot.requireNoGenColumn(physical.toSeq.filter(_ != null), dir)
    // CHECK constraints ride the stream too: bound once at query start,
    // evaluated per row in the shared delta writer (r17 wave 3)
    val checks = graft.etl.LakeChecks.checksOf(spark, dir).map {
      case (n, c) =>
        (n, c, graft.etl.LakeChecks.boundCheck(spark, schema, n, c))
    }
    new LakeStreamingWriterFactory(
      dir, stagingPrefix = s"${LakeSnapshot.LakePaths(dir).delta}/.sw/$queryId",
      schema, physical, schema.fieldIndex(ts), key,
      spark.sparkContext.hadoopConfiguration.asScala
        .map(e => e.getKey -> e.getValue).toMap, checks)
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

/** Per-epoch writer factory: each task writes under the epoch's staging
  * area via the same [[LakeDeltaTaskWriter]] the MERGE path uses (all
  * rows are upserts here — `write(row)`).
  */
private[sources] class LakeStreamingWriterFactory(
    dir: String, stagingPrefix: String,
    schema: org.apache.spark.sql.types.StructType,
    physical: Array[String], tsIdx: Int, key: String,
    hadoopConf: Map[String, String],
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
  extends StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LakeDeltaTaskWriter(
      dir, s"$stagingPrefix/$epochId", schema, physical, tsIdx,
      // rowId projection is unused on the streaming path (no deletes
      // arrive through a sink); the key binds identity for the marker
      // schema anyway
      schema, LakeSnapshot.keyParts(key).map(schema.fieldIndex).toArray,
      tsIdx,
      LakeSnapshot.keyParts(key)
        .map(k => physical(schema.fieldIndex(k))).toArray,
      hadoopConf, partitionId, taskId, checks)
}
