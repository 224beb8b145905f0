package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.LakeSnapshot

/** SQL `CALL` MAINTENANCE for the lake (Spark 4 ProcedureCatalog —
  * the last external-tool surface that still needed Scala):
  *
  * {{{
  *   CALL graft.system.optimize(`table` => 'events')
  *   CALL graft.system.zorder(`table` => 'events',
  *                            columns => 'user_id,ts', files => 16)
  *   CALL graft.system.vacuum(`table` => 'events', retain_ms => 86400000)
  *   CALL graft.system.checkpoint(`table` => 'events')
  * }}}
  *
  * Each procedure is a thin SQL binding over the one Scala
  * implementation (`compactDays` / `optimizeZOrderN` / `vacuum` /
  * `checkpointManifest`) — the OCC, fold, and retention semantics are
  * exactly the library's, and the returned row reports what happened
  * (days touched / committed epoch) so operators can script against
  * the result.
  */
private[sources] object GraftProcedures {

  /** The warehouse-relative default transaction-catalog directory the
    * SQL txn verbs (and vacuum's pin protection) share. Dot-prefixed:
    * invisible to listTables/exists by the catalog's own rule, so the
    * txn catalog can never surface as a table.
    */
  val DefaultTxn = ".graft_txn"

  /** One-row driver-side result (maintenance output is a summary row,
    * never data-sized) — Spark's procedure exec requires the dedicated
    * [[org.apache.spark.sql.connector.read.LocalScan]] shape.
    */
  private class ResultScan(schema: StructType, rowVals: Seq[Seq[Any]])
    extends org.apache.spark.sql.connector.read.LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] =
      rowVals.map(vs => new GenericInternalRow(vs.map {
        case s: String => UTF8String.fromString(s)
        case v => v
      }.toArray): InternalRow).toArray
  }

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def inDefault(
      name: String, dt: DataType, sql: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(sql).build()

  /** A procedure bound to a catalog whose `dirOf` resolves table names. */
  abstract class LakeProcedure(
      val name: String, dirOf: String => String,
      params: Seq[ProcedureParameter],
      resultSchema: StructType)
    extends UnboundProcedure with BoundProcedure {
    override def description(): String = s"graft lake maintenance: $name"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    protected def run(
        spark: SparkSession, dir: String, args: InternalRow): Seq[Seq[Any]]
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val spark = SparkSession.active
      val table = input.getUTF8String(0).toString
      val rows = run(spark, dirOf(table), input)
      (Iterator(new ResultScan(resultSchema, rows): Scan)).asJava
    }
  }

  /** `dirOf` resolves EXISTING tables (loud on a missing one);
    * `dirOfNew` resolves a name to its would-be directory without the
    * existence gate — only `convert_parquet` (which births the table)
    * uses it.
    */
  def all(dirOf: String => String,
      dirOfNew: String => String,
      warehouse: () => String): Map[String, UnboundProcedure] = Map(
    // `min_layers => N` (r19 continuation) makes the verb TARGETED: only
    // days carrying >= N merge-on-read layers (row deltas + DVs — the
    // days actually paying the fold tax) are rewritten, selected from
    // the manifest alone. At 100 TB "OPTIMIZE everything" rewrites the
    // table; "OPTIMIZE the fragmented set" rewrites what reads slowly.
    // Composes with an explicit `days` list (intersection).
    "optimize" -> new LakeProcedure("optimize", dirOf,
      Seq(in("table", StringType),
        inDefault("days", StringType, "''"),
        inDefault("min_layers", IntegerType, "NULL"),
        inDefault("min_files", IntegerType, "NULL")),
      StructType(Seq(StructField("operation", StringType),
        StructField("n_days_compacted", IntegerType),
        StructField("days", StringType)))) {
      override protected def run(
          spark: SparkSession, dir: String,
          args: InternalRow): Seq[Seq[Any]] = {
        val days =
          if (args.isNullAt(1)) Nil
          else args.getUTF8String(1).toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val targeted = !args.isNullAt(2) || !args.isNullAt(3)
        val selected =
          if (!targeted) days
          else {
            // union of the two fragmentation axes: fold-tax days
            // (min_layers over deltas+DVs, manifest-only) and file-open-
            // tax days (min_files over the base gen's sidecar census)
            val frag =
              (if (args.isNullAt(2)) Nil
               else LakeSnapshot.fragmentedDays(
                 spark, dir, args.getInt(2))) ++
                (if (args.isNullAt(3)) Nil
                 else LakeSnapshot.smallFileDays(
                   spark, dir, args.getInt(3)))
            val set = frag.distinct.sorted
            if (days.isEmpty) set else days.filter(set.toSet)
          }
        // a targeted call with an empty fragmentation set must be a
        // NO-OP, not the "empty days = compact everything" default
        val touched =
          if (targeted && selected.isEmpty) Nil
          else LakeSnapshot.compactDays(spark, dir, selected)
        Seq(Seq("optimize", touched.size, touched.mkString(",")))
      }
    },
    "zorder" -> new LakeProcedure("zorder", dirOf,
      Seq(in("table", StringType),
        in("columns", StringType),
        inDefault("files", IntegerType, "8"),
        inDefault("days", StringType, "''")),
      StructType(Seq(StructField("operation", StringType),
        StructField("n_days_compacted", IntegerType),
        StructField("days", StringType)))) {
      override protected def run(
          spark: SparkSession, dir: String,
          args: InternalRow): Seq[Seq[Any]] = {
        import org.apache.spark.sql.functions.col
        val cols = args.getUTF8String(1).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.size >= 2,
          "zorder needs at least 2 columns (comma-separated)")
        val files = if (args.isNullAt(2)) 8 else args.getInt(2)
        val days =
          if (args.isNullAt(3)) Nil
          else args.getUTF8String(3).toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val touched = LakeSnapshot.optimizeZOrderN(
          spark, dir, cols.map(col), files, days)
        Seq(Seq("zorder", touched.size, touched.mkString(",")))
      }
    },
    "vacuum" -> new LakeProcedure("vacuum", dirOf,
      Seq(in("table", StringType),
        inDefault("retain_ms", LongType, "NULL"),
        inDefault("force", BooleanType, "false")),
      StructType(Seq(StructField("operation", StringType),
        StructField("table", StringType)))) {
      override protected def run(
          spark: SparkSession, dir: String,
          args: InternalRow): Seq[Seq[Any]] = {
        val force = !args.isNullAt(2) && args.getBoolean(2)
        // SQL-committed txn pins (r19 continuation) protect here the
        // way LakeTxn.pinsFor always protected the Scala vacuum: every
        // generation the pinned epoch's view reaches survives whatever
        // the retention says. Pins are keyed by the exact name
        // txn_commit recorded; the default txn dir is the warehouse's
        // `_graft_txn`.
        val pins = graft.etl.LakeTxn.pinsFor(spark,
          s"${warehouse()}/${GraftProcedures.DefaultTxn}",
          args.getUTF8String(0).toString)
        // VERDICT r14: the no-arg CALL must NOT mean "destroy time
        // travel now" (retain 0) while the library's own default is 7
        // days — an unset retain_ms takes the RetentionPolicy defaults
        // (7 d history/CDF, 24 h orphans), the Delta "VACUUM refuses
        // tiny retention unless told" posture. An EXPLICIT retain_ms
        // (including 0, the caller promising no reader) still binds all
        // three surfaces, exactly as before.
        if (args.isNullAt(1))
          LakeSnapshot.vacuumPolicy(spark, dir,
            LakeSnapshot.RetentionPolicy(), pins = pins, force = force)
        else
          LakeSnapshot.vacuumPolicy(spark, dir,
            LakeSnapshot.RetentionPolicy(
              historyMs = args.getLong(1), cdfMs = args.getLong(1),
              orphanMs = args.getLong(1)),
            pins = pins, force = force)
        Seq(Seq("vacuum", dir))
      }
    },
    // SQL MULTI-TABLE snapshot transactions (r19 continuation — the
    // LakeTxn catalog surface): `txn_commit` atomically publishes ONE
    // pin row binding each listed table to its CURRENT epoch; a
    // cross-table consumer then reads every table `VERSION AS OF` its
    // pinned epoch for a mutually-consistent view, however many
    // mutations land in between. `txn_pins` lists the live pin set.
    // Pins also protect vacuum (above) — a pinned epoch's generations
    // survive any retention, the Iceberg "refs protect snapshots" rule.
    "txn_commit" -> new LakeProcedure("txn_commit", dirOfNew,
      Seq(in("tables", StringType),
        inDefault("txn", StringType, s"'${GraftProcedures.DefaultTxn}'")),
      StructType(Seq(StructField("table", StringType),
        StructField("pinned_epoch", IntegerType),
        StructField("txn_epoch", IntegerType)))) {
      override protected def run(
          spark: SparkSession, unused: String,
          args: InternalRow): Seq[Seq[Any]] = {
        // param 0 is `tables` (csv) — the LakeProcedure contract of
        // "arg 0 resolves via dirOf" is satisfied by dirOfNew (no
        // existence gate); each listed table must exist and resolves
        // through the same warehouse mapping
        val names = args.getUTF8String(0).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(names.nonEmpty, "txn_commit needs tables => 'a,b,...'")
        // the txn name is a WAREHOUSE-RELATIVE path (dot-prefixed by
        // default = invisible), never a table identifier
        val txnDir = s"${warehouse()}/" + (
          if (args.isNullAt(1)) GraftProcedures.DefaultTxn
          else args.getUTF8String(1).toString)
        val pins = names.map { n =>
          val d = dirOfNew(n)
          val e = LakeSnapshot.currentEpoch(spark, d)
          require(e >= 0, s"table '$n' has no committed epoch to pin")
          n -> e
        }
        val txnEpoch =
          graft.etl.LakeTxn.commit(spark, txnDir, pins.toMap)
        pins.map { case (n, e) => Seq(n, e, txnEpoch) }
      }
    },
    "txn_pins" -> new LakeProcedure("txn_pins", dirOfNew,
      Seq(inDefault("txn", StringType,
        s"'${GraftProcedures.DefaultTxn}'")),
      StructType(Seq(StructField("table", StringType),
        StructField("pinned_epoch", IntegerType)))) {
      override protected def run(
          spark: SparkSession, unused: String,
          args: InternalRow): Seq[Seq[Any]] = {
        val txnDir = s"${warehouse()}/" + (
          if (args.isNullAt(0)) GraftProcedures.DefaultTxn
          else args.getUTF8String(0).toString)
        graft.etl.LakeTxn.currentPins(spark, txnDir)
          .toSeq.sortBy(_._1).map { case (t, e) => Seq(t, e) }
      }
    },
    "checkpoint" -> new LakeProcedure("checkpoint", dirOf,
      Seq(in("table", StringType)),
      StructType(Seq(StructField("operation", StringType),
        StructField("epoch", IntegerType)))) {
      override protected def run(
          spark: SparkSession, dir: String,
          args: InternalRow): Seq[Seq[Any]] = {
        val e = LakeSnapshot.checkpointManifest(spark, dir)
        Seq(Seq("checkpoint", e))
      }
    },
    // DESCRIBE RETENTION as a CALL (r15): what the NEXT vacuum with this
    // retention would keep and take, per surface — the identical plan
    // the vacuum itself applies, so an operator can audit BEFORE typing
    // the destructive verb. Defaults mirror the vacuum procedure's
    // (RetentionPolicy when retain_ms is unset).
    "retention" -> new LakeProcedure("retention", dirOf,
      Seq(in("table", StringType),
        inDefault("retain_ms", LongType, "NULL")),
      StructType(Seq(StructField("surface", StringType),
        StructField("retain_ms", LongType),
        StructField("objects", LongType),
        StructField("reclaimable", LongType),
        StructField("pin_protected", LongType)))) {
      override protected def run(
          spark: SparkSession, dir: String,
          args: InternalRow): Seq[Seq[Any]] = {
        val policy =
          if (args.isNullAt(1)) LakeSnapshot.RetentionPolicy()
          else LakeSnapshot.RetentionPolicy(
            historyMs = args.getLong(1), cdfMs = args.getLong(1),
            orphanMs = args.getLong(1))
        LakeSnapshot.describeRetention(spark, dir, policy)
          .collect().toSeq.map(r =>
            Seq(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
              r.getLong(4)))
      }
    },
    // Snapshot export for interop (r19, VERDICT r18 #7): materialize the
    // folded view — base generations + deltas + DVs + column mapping, at
    // the current or a pinned epoch — as PLAIN day-partitioned parquet
    // (TIMESTAMP_MICROS, no manifest, no sidecars) that any engine reads
    // directly; MANIFEST-SPEC.md documents both the internal layout and
    // this export contract. The destination must not exist (an export is
    // a new artifact, never an overwrite), and the write is day-
    // partitioned so downstream day pruning survives the handoff.
    // With `since_epoch` (r19 continuation) the export is INCREMENTAL at
    // day grain: only days whose folded state changed in (since, epoch]
    // are materialized — derived entirely from the manifest (a day whose
    // storage state is identical at both epochs is byte-identical by
    // generation immutability, provably skippable without reading it) —
    // and days REMOVED from the view land in `_removed_days.txt` so a
    // consumer can compose: prior full export, minus removed days, with
    // changed day dirs replaced. The p58 oracle hash-gates exactly that
    // composition against the live view.
    "export_snapshot" -> new LakeProcedure("export_snapshot", dirOf,
      Seq(in("table", StringType),
        in("dest", StringType),
        inDefault("epoch", IntegerType, "NULL"),
        inDefault("since_epoch", IntegerType, "NULL")),
      StructType(Seq(StructField("operation", StringType),
        StructField("epoch", IntegerType),
        StructField("n_days", IntegerType),
        StructField("n_removed", IntegerType),
        StructField("dest", StringType)))) {
      override protected def run(
          spark: SparkSession, dir: String,
          args: InternalRow): Seq[Seq[Any]] = {
        val dest = args.getUTF8String(1).toString
        val epoch =
          if (args.isNullAt(2)) LakeSnapshot.currentEpoch(spark, dir)
          else args.getInt(2)
        val since = if (args.isNullAt(3)) None else Some(args.getInt(3))
        val p = new org.apache.hadoop.fs.Path(dest)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(!fs.exists(p),
          s"export destination $dest already exists — exports never " +
            "overwrite; choose a fresh path or delete it first")
        val removed: Seq[String] = since match {
          case None =>
            val view = LakeSnapshot.readAt(spark, dir, epoch)
            LakeSnapshot.microsWrite(view)(
              _.write.partitionBy("day").parquet(dest))
            Nil
          case Some(s) =>
            val (changed, gone) =
              LakeSnapshot.changedDays(spark, dir, s, epoch)
            if (changed.nonEmpty)
              LakeSnapshot.microsWrite(LakeSnapshot.readDaysAt(
                spark, dir, epoch, changed.toSet))(
                _.write.partitionBy("day").parquet(dest))
            else fs.mkdirs(p) // an empty window still yields an artifact
            // a changed day that folded to ZERO rows (every key
            // delta-deleted, day still in the view) writes no day dir —
            // the consumer must still drop its stale copy, so it joins
            // the removed list rather than silently surviving
            val shipped =
              fs.listStatus(p).filter(st => st.isDirectory &&
                st.getPath.getName.startsWith("day="))
                .map(_.getPath.getName.stripPrefix("day=")).toSet
            val allGone = (gone ++ changed.filterNot(shipped)).sorted
            val out = fs.create(
              new org.apache.hadoop.fs.Path(p, "_removed_days.txt"), false)
            try out.write(allGone.mkString("", "\n", "\n").getBytes("UTF-8"))
            finally out.close()
            allGone
        }
        val nDays = fs.listStatus(p)
          .count(st => st.isDirectory && st.getPath.getName.startsWith("day="))
        Seq(Seq("export_snapshot", epoch, nDays, removed.size, dest))
      }
    },
    // RESTORE to a committed epoch (r19 continuation — the Delta
    // `RESTORE TABLE` verb): one metadata-only manifest row rolls the
    // live view back; full contract in [[LakeSnapshot.restoreTo]]. The
    // result row reports the target epoch, the NEW epoch the rollback
    // committed as, and the restored view's day count so an operator can
    // sanity-check the rollback landed on the state they meant.
    "restore" -> new LakeProcedure("restore", dirOf,
      Seq(in("table", StringType),
        inDefault("epoch", IntegerType, "NULL"),
        inDefault("timestamp", StringType, "NULL")),
      StructType(Seq(StructField("operation", StringType),
        StructField("restored_epoch", IntegerType),
        StructField("committed_epoch", IntegerType),
        StructField("n_days", IntegerType)))) {
      override protected def run(
          spark: SparkSession, dir: String,
          args: InternalRow): Seq[Seq[Any]] = {
        val byEpoch = if (args.isNullAt(1)) None else Some(args.getInt(1))
        val byTs =
          if (args.isNullAt(2)) None
          else Some(args.getUTF8String(2).toString)
        require(byEpoch.isDefined != byTs.isDefined,
          "restore takes exactly one of epoch => E / timestamp => '...'")
        val target = byEpoch.getOrElse {
          // same instant resolution as TIMESTAMP AS OF reads (session-
          // zoned local-datetime forms, ISO instants)
          val tMs = GraftLakeSource.parseInstantMs(byTs.get)
          LakeSnapshot.epochAtOrBefore(spark, dir, tMs).getOrElse(sys.error(
            s"timestamp '${byTs.get}' predates every commit at $dir"))
        }
        val e = LakeSnapshot.restoreTo(spark, dir, target)
        val nDays = LakeSnapshot.tableState(spark, dir).days.size
        Seq(Seq("restore", target, e, nDays))
      }
    },
    // CONVERT plain day-partitioned parquet into a lake table in place
    // (r19 continuation — the Delta `CONVERT TO DELTA` shape): one
    // filesystem rename adopts the files as generation 0, zero data
    // rewrite; full contract in [[LakeSnapshot.adoptParquet]]. The
    // procedure also writes the catalog declaration (key/ts/schema) so
    // the adopted table immediately serves SQL (SELECT/MERGE INTO/
    // time travel) like any CREATEd one, and — when the validation scan
    // confirmed day == to_date(ts) under this session's zone — records
    // `ts.zone` so ts→day pruning derivation works on adopted data.
    "convert_parquet" -> new LakeProcedure("convert_parquet", dirOfNew,
      Seq(in("table", StringType),
        in("source", StringType),
        in("key", StringType),
        inDefault("ts", StringType, "'ts'"),
        inDefault("validate", BooleanType, "true"),
        // declare bloom columns AT adoption: the sidecars stage over
        // the adopted generation immediately (one column-pruned read),
        // so point lookups skip on day one — same posture as the stats
        // sidecar, first-class from the first epoch
        inDefault("bloom", StringType, "NULL")),
      StructType(Seq(StructField("operation", StringType),
        StructField("epoch", IntegerType),
        StructField("n_days", IntegerType),
        StructField("location", StringType)))) {
      override protected def run(
          spark: SparkSession, dir: String,
          args: InternalRow): Seq[Seq[Any]] = {
        val src = args.getUTF8String(1).toString
        val key = args.getUTF8String(2).toString
        val ts =
          if (args.isNullAt(3)) "ts" else args.getUTF8String(3).toString
        val validate = args.isNullAt(4) || args.getBoolean(4)
        require(GraftCatalog.readCreateProps(spark, dir).isEmpty,
          s"table at $dir already exists (has a declaration) — " +
            "convert_parquet only births tables")
        // declaration-grade checks BEFORE anything moves: the source
        // schema (minus the day partition col) must be lake-bridgeable
        // and must contain the declared key/ts columns
        val full = LakeSnapshot.inferredSchema(spark, src)
        val dataSchema = StructType(full.fields.filterNot(_.name == "day"))
        LakeSnapshot.keyParts(key).foreach(k =>
          require(dataSchema.fieldNames.contains(k),
            s"declared key part '$k' is not a column of " +
              s"${dataSchema.fieldNames.toSeq}"))
        require(dataSchema.fieldNames.contains(ts),
          s"event-time column '$ts' is not a column of " +
            s"${dataSchema.fieldNames.toSeq}")
        dataSchema.fields.foreach(f =>
          GraftCatalog.validateLakeType(f.name, f.dataType))
        val (e, days) = LakeSnapshot.adoptParquet(
          spark, dir, src, key, ts, validate = validate)
        val zoneClaim =
          if (validate)
            // the validation scan PROVED day == to_date(ts) under this
            // session's zone, which is exactly the claim ts.zone records
            Map("ts.zone" ->
              spark.sessionState.conf.sessionLocalTimeZone)
          else Map.empty[String, String]
        val bloomDecl =
          if (args.isNullAt(5)) Map.empty[String, String]
          else {
            val cols = args.getUTF8String(5).toString
              .split(",").map(_.trim).filter(_.nonEmpty)
            cols.foreach(c => require(dataSchema.fieldNames.contains(c),
              s"bloom column '$c' is not a column of " +
                s"${dataSchema.fieldNames.toSeq}"))
            Map("bloom" -> cols.mkString(","))
          }
        GraftCatalog.writeMergedProps(spark, dir,
          Map("key" -> key, "ts" -> ts,
            "schema" -> dataSchema.toDDL) ++ zoneClaim ++ bloomDecl)
        if (bloomDecl.nonEmpty) {
          // all adopted days share the one claimed generation
          val gen = LakeSnapshot.tableState(spark, dir)
            .days.values.map(_.base).max
          graft.etl.BloomStats.stage(spark, dir, gen)
        }
        Seq(Seq("convert_parquet", e, days.size, dir))
      }
    },
    // Crashed-CTAS reclamation (r17 wave 3): a CTAS/RTAS whose driver
    // died between staging and publish leaves a dot-hidden
    // `.stage-<name>-<uuid>` (or `.replaced-*` trash) dir that belongs
    // to NO table — per-table vacuum can never reach it. This sweeps a
    // namespace DIRECTORY, age-gated (default 72 h, same posture as
    // vacuum's orphan window: a staging younger than the gate may be a
    // LIVE in-flight CTAS and must survive).
    "clean_staging" -> new StagingCleanProcedure)
}

private[sources] class StagingCleanProcedure
  extends UnboundProcedure with BoundProcedure {
  override def name(): String = "clean_staging"
  override def description(): String =
    "reclaim crashed-CTAS staging/trash dirs under a namespace directory"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("path", StringType).build(),
    ProcedureParameter.in("older_than_ms", LongType)
      .defaultValue((72L * 3600 * 1000).toString).build())

  override def call(input: InternalRow): util.Iterator[Scan] = {
    val spark = SparkSession.active
    val root = new org.apache.hadoop.fs.Path(
      input.getUTF8String(0).toString)
    val olderThan =
      if (input.isNullAt(1)) 72L * 3600 * 1000 else input.getLong(1)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - olderThan
    // Age by the NEWEST mtime anywhere in the candidate tree, not the
    // root dir's (ADVICE r17): most filesystems bump a directory's
    // mtime only when a DIRECT child appears, so a live CTAS whose
    // SELECT outlives older_than_ms — its writes landing deep under
    // data/gen=0/day=… — looked idle at the root and got deleted
    // mid-flight, failing the job at publish. Staging trees are small
    // (one table's worth), so the recursive walk is bounded.
    def newestMtime(p: org.apache.hadoop.fs.Path): Long = {
      val st = fs.getFileStatus(p)
      val kids =
        if (st.isDirectory) fs.listStatus(p).toSeq else Nil
      (st.getModificationTime +: kids.map { k =>
        if (k.isDirectory) newestMtime(k.getPath) else k.getModificationTime
      }).max
    }
    val victims =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isDirectory &&
          (n.startsWith(".stage-") || n.startsWith(".replaced-")) &&
          newestMtime(st.getPath) < cutoff
      }
    victims.foreach(st => fs.delete(st.getPath, true))
    val schema = StructType(Seq(
      StructField("operation", StringType),
      StructField("n_reclaimed", IntegerType),
      StructField("dirs", StringType)))
    val row = Seq(Seq[Any]("clean_staging", victims.size,
      victims.map(_.getPath.getName).sorted.mkString(",")))
    val scan: Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] =
          row.map(vs => new GenericInternalRow(vs.map {
            case s: String => UTF8String.fromString(s)
            case v => v
          }.toArray): InternalRow).toArray
      }
    Iterator(scan).asJava
  }
}
