package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{ClaimStore, FsClaimStore, IncrementalDedup}
import org.apache.spark.sql.graftbridge.GraftBridge

/** Snapshot-atomic event lake (VERDICT r11 #1): MERGE / DELETE whose
  * touched-day set commits as ONE atomic unit, closing the crash window
  * [[LakeUpsert]] documents (dynamic partition overwrite is atomic per
  * day directory but not across the set — a reader between two partition
  * commits of one merge saw a half-applied batch).
  *
  * The fix is the manifest-last protocol the four persisted indexes
  * already proved, applied to the lake with day GENERATIONS:
  *
  *   - data lives at `data/gen=G/day=D/` — copy-on-write: a mutation
  *     never touches an existing file, it writes NEW generation
  *     directories for exactly the touched days (one partitioned append,
  *     O(touched days), untouched days' files never opened). The layout
  *     is GEN-FIRST deliberately: each stager's write job roots at its
  *     own claimed `gen=G` directory, so concurrent stagers share
  *     neither data directories NOR the FileOutputCommitter's
  *     `_temporary` staging dir — a day-first layout made two concurrent
  *     merges corrupt each other's in-flight task files under the common
  *     root (caught by LakeSnapshotSpec's two-writer race);
  *   - the generation id is claimed through the [[ClaimStore]] seam
  *     (`manifest/gen-G.claim`), so generation numbers are single-owner;
  *   - the commit is ONE manifest row (`manifest/epoch-E.properties`:
  *     `gen`, `days`, `dropped`) published via
  *     [[IncrementalDedup.Manifest.writeIfAbsent]] — the Delta-style
  *     "write version E or lose the race" conditional create. Readers
  *     fold committed rows in epoch order into the live `day → gen` view
  *     and read exactly those directories, so a crash ANYWHERE before the
  *     flip leaves them on the intact pre-mutation snapshot, and the flip
  *     exposes every touched day at once (LakeSnapshotSpec "crash"
  *     cases);
  *   - commits are OPTIMISTIC (the Delta OCC shape): a mutation records
  *     the max committed epoch it staged against, and the commit loop
  *     aborts with [[ConcurrentLakeMutationException]] if any epoch
  *     committed since touches an overlapping day (the staged generations
  *     become orphans for [[vacuum]]). Losing the conditional create to a
  *     NON-overlapping commit just re-checks and retries with the next
  *     epoch number — disjoint-day writers serialize without conflict.
  *     Because the conflict check re-runs under every epoch-number
  *     attempt and the publish itself is fails-if-exists, two overlapping
  *     mutations can never both commit: whichever loses the epoch race
  *     sees the winner's row and aborts.
  *
  * Recovery contract: an aborted or crashed mutation left NOTHING visible
  * — re-run it. Vacuum removes superseded and orphaned generations under
  * the same retention gate as the index vacuums (the caller promises no
  * reader outlives `retainMs`; `retainMs <= 0` forces).
  *
  * Schema evolution (VERDICT r11 #4): merge unions stored rows and the
  * batch by name with null-fill in BOTH directions, so a batch may ADD
  * columns; old rows surface them as NULL, and [[read]] merges one
  * footer per generation, on the driver, so mixed-schema days coexist.
  *
  * MERGE-ON-READ row deltas (VERDICT r12 #1): [[mergeDelta]] /
  * [[deleteKeysDelta]] commit the batch itself as a row-delta generation
  * (`delta/gen=G/day=D`, rows tagged `__op` u/d) layered onto the day's
  * base; readers fold base + deltas per key in commit order (youngest
  * wins), and [[compactDays]] absorbs deltas back into one-file bases.
  * Delta commits never conflict — with each other OR with rewrites — so
  * two key-disjoint (or even key-overlapping) same-day writers both
  * commit with no abort and no whole-day re-stage; a rewrite that must
  * not lose concurrent rows keeps the day-granular OCC abort exactly as
  * before. Write cost O(batch); read cost one window shuffle over
  * delta-carrying days only, until OPTIMIZE restores the fast path.
  *
  * CHANGE-DATA sidecars (Delta CDF shape): `merge`/`deleteKeys` with
  * `cdf = true` also stage the commit's row-level change images under
  * `cdf/gen=G`; [[readChangesCdf]] and the streaming CDC source read
  * them as plain files — no snapshot diffing on the consume path.
  *
  * At 100 TB: a mutation costs O(touched partitions) in data I/O plus one
  * metadata fold over the manifest (driver-side, a few integers per
  * commit; [[checkpointManifest]] bounds the fold). This is deliberately
  * the smallest correct subset of a lake table format the zero-egress
  * image can carry.
  *
  * STATED LIMITATIONS (what a real table format adds that this does
  * not): the conditional manifest create inherits
  * [[IncrementalDedup.Manifest.writeIfAbsent]]'s storage contract (HDFS /
  * file:// in-image; S3-class stores plug a conditional put into the
  * [[ClaimStore]] seam); and a
  * `cdf = true` row delta gives up never-abort — its preimages pin the
  * staging snapshot, so an overlapping non-maintenance commit aborts it
  * ([[commitDelta]]). Column RENAME/DROP are manifest-only commits
  * ([[renameColumn]]/[[dropColumn]] via the column mapping), and
  * multi-table transactions pin per-table epochs through
  * [[LakeTxn]].
  */
object LakeSnapshot {

  final case class LakePaths(dir: String) {
    val data = s"$dir/data"
    val delta = s"$dir/delta"
    val dv = s"$dir/dv"
    val cdf = s"$dir/cdf"
    val manifest = s"$dir/manifest"
  }

  /** One day's storage state under merge-on-read: the BASE generation
    * (whole-day copy-on-write image; -1 = no base, the day exists only as
    * deltas), the ordered row-DELTA generations layered on top (commit
    * order — folded at read, youngest wins per key), and the DELETION
    * VECTOR generations (`dvs` — Iceberg-style positional delete files
    * that tombstone base rows by (file, position); order-free among
    * themselves because they always bind to THIS base's immutable
    * layout, and below every delta because a DV only commits against a
    * delta-free day). A rewrite commit (merge/delete/OPTIMIZE/ZORDER)
    * resets the day to `DayState(g, Nil, Nil)`; a delta commit appends
    * to `deltas`; a DV commit appends to `dvs`.
    */
  final case class DayState(
      base: Int, deltas: List[Int], dvs: List[Int] = Nil) {
    def gens: List[Int] =
      (if (base >= 0) List(base) else Nil) ++ deltas ++ dvs
  }

  /** The folded table state: per-day storage, the table's row key
    * (recorded by the first delta commit — folding needs it), and the
    * COLUMN MAPPING `colmap`: physical parquet name → Some(logical name)
    * (renamed) | None (dropped). Physical names bind in the files once
    * and never change; RENAME and DROP are manifest-only commits that
    * move the mapping (VERDICT r12 #3 — the Iceberg field-id idea with
    * the physical name as the id). A physical name absent from the map
    * is identity (logical == physical). A logical name re-added after a
    * drop gets a FRESH physical name (`name__2`, ...) so old files'
    * dropped values can never bleed into the new column.
    */
  final case class LakeState(
      days: Map[String, DayState], key: Option[String],
      colmap: Map[String, Option[String]] = Map.empty,
      // idempotence-tag high-waters (Delta's `txn` action shape): tag
      // `app-N` folds to app → max N, a bare tag to tag → 0. Carried by
      // checkpoint rows so the redelivery check stays O(since-checkpoint)
      // instead of re-reading the full manifest per micro-batch
      // (ADVICE/VERDICT r14 #7). `txnsComplete` is false only when the
      // fold crossed a PRE-r15 checkpoint row (no `txns` key) — the tag
      // check then falls back to the full-history scan, so an old
      // checkpoint can still never erase protection.
      txns: Map[String, Long] = Map.empty,
      txnsComplete: Boolean = true,
      // TYPE WIDENING (r17, VERDICT r16 #3): physical parquet name →
      // widened type DDL. A widen is a MANIFEST-ONLY commit — files
      // written before it keep their narrow physical type and readers
      // upcast (int32→long, float→double, decimal precision growth);
      // files written after carry the widened type natively. Keyed by
      // PHYSICAL name so renames after a widen keep the binding.
      widened: Map[String, String] = Map.empty) {
    def nonEmpty: Boolean = days.nonEmpty

    /** The logical name a stored physical column surfaces as — None when
      * dropped. */
    def logicalFor(p: String): Option[String] = colmap.get(p) match {
      case Some(mapped) => mapped // renamed (Some) or dropped (None)
      case None => Some(p)       // identity
    }

    /** The physical name a logical column writes to — None when the name
      * needs a fresh physical allocation (taken by a rename/drop). */
    def physicalFor(l: String): Option[String] =
      colmap.collectFirst { case (p, Some(x)) if x == l => p }
        .orElse(if (colmap.contains(l)) None else Some(l))

    def logicalColumns: Set[String] =
      colmap.values.flatten.toSet // renamed targets; identities are implicit
  }
  private val EmptyState = LakeState(Map.empty, None)

  /** A staged-but-uncommitted mutation: `gen` holds the new day
    * directories on disk, invisible until [[commit]] publishes them.
    */
  final case class Staged(
      gen: Int,
      baseEpoch: Int,
      days: Seq[String],     // days whose new generation is `gen`
      dropped: Seq[String],  // days the mutation empties entirely
      cdf: Boolean = false,  // a change-data sidecar was staged for `gen`
      maint: Boolean = false, // content-identical maintenance (CDC-silent)
      dv: Boolean = false,   // `gen` is a deletion-vector generation
      addcols: Seq[(String, String)] = Nil, // fresh (physical, logical) binds
      key: Option[String] = None, // the mutation's row key (recorded)
      extra: Seq[(String, String)] = Nil) // informational row fields (e.g.
      // `convert=1`) — ignored by the fold, surfaced by `.history`

  final class ConcurrentLakeMutationException(msg: String)
    extends RuntimeException(msg)

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A COMPOSITE merge key declares as `'a,b'` (r15, VERDICT r14 #5):
    * one string through every manifest row, catalog property, and API
    * parameter — split into parts wherever columns bind. A single-key
    * table is the one-part case, bit-identical to before.
    */
  private[graft] def keyParts(keyCol: String): Seq[String] =
    keyCol.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Canonical rendering for UNORDERABLE columns (maps): to_json is
    * entry-order-sensitive, so two semantically equal maps built in
    * different orders rendered unequal — spurious CDC update rows and
    * nondeterministic dedup winners (ADVICE r15). Sort the entries
    * before rendering whenever the entry struct is orderable; a map
    * whose value type is itself unorderable (map-in-struct nests) keeps
    * the raw rendering — those types can't promise a canonical order.
    */
  private[etl] def canonicalRender(
      c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    import org.apache.spark.sql.types._
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case ArrayType(et, _) => hasMap(et)
      case st: StructType => st.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    dt match {
      case MapType(kt, vt, _)
          if RowOrdering.isOrderable(kt) && RowOrdering.isOrderable(vt) =>
        to_json(map_from_entries(array_sort(map_entries(c))))
      // NESTED-map values (r17 wave 3 — maps-in-maps/arrays-in-maps):
      // entries sort by KEY alone (keys are unique orderable scalars, a
      // total order on entries) and each value canonicalizes
      // recursively. Rendering-only — feeds CDC change detection and
      // batch-dedup ranking, never persisted.
      case MapType(_, vt, _) =>
        val sorted = array_sort(map_entries(c), (l, r) =>
          when(l("key") < r("key"), lit(-1))
            .when(l("key") > r("key"), lit(1)).otherwise(lit(0)))
        to_json(transform(sorted, e =>
          struct(e("key").as("key"),
            canonicalRender(e("value"), vt).as("value"))))
      case ArrayType(et, _) if hasMap(et) =>
        to_json(transform(c, x => canonicalRender(x, et)))
      case st: StructType if st.fields.exists(f => hasMap(f.dataType)) =>
        to_json(struct(st.fields.map { f =>
          (if (hasMap(f.dataType))
            canonicalRender(c.getField(f.name), f.dataType)
          else c.getField(f.name)).as(f.name)
        }.toIndexedSeq: _*))
      case _ => to_json(c)
    }
  }

  private def csv(days: Seq[String]): String = days.sorted.mkString(",")
  private def uncsv(s: String): Seq[String] =
    if (s == null || s.isEmpty) Nil else s.split(",").toSeq

  // a day renders as `d:b+d1+d2` (base generation + ordered delta
  // generations) with deletion-vector generations as `~g` elements;
  // the legacy `d:g` form parses as a delta-free base
  private def renderDay(s: DayState): String =
    (s.base.toString +: (s.deltas.map(_.toString) ++
      s.dvs.map(g => s"~$g"))).mkString("+")
  private def parseDay(s: String): DayState = {
    val parts = s.split("\\+").toList
    val (dv, deltas) = parts.tail.partition(_.startsWith("~"))
    DayState(parts.head.toInt, deltas.map(_.toInt),
      dv.map(_.stripPrefix("~").toInt))
  }
  private def renderSnapshot(st: LakeState): String =
    st.days.toSeq.sortBy(_._1)
      .map { case (d, ds) => s"$d:${renderDay(ds)}" }.mkString(",")
  private def parseSnapshot(s: String): Map[String, DayState] =
    uncsv(s).map { e =>
      val i = e.lastIndexOf(':'); e.take(i) -> parseDay(e.drop(i + 1))
    }.toMap

  /** Apply one committed row to the folded [[LakeState]]. A CHECKPOINT
    * row (`snapshot=...`) REPLACES the day map wholesale; a REWRITE row
    * (`gen`/`days`/`dropped`) resets its days' states (clearing any
    * deltas — the rewrite read them); a DELTA row (`deltagen`/`days`)
    * layers a row-delta generation onto its days.
    */
  // widen rendering: `p>ddl` entries ';'-joined (the DDL itself may
  // contain commas — decimal(12,2) — so the colmap CSV shape can't carry
  // it; ';' and '>' are both rejected in column names by the catalog)
  private def renderWiden(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (p, t) => s"$p>$t" }.mkString(";")
  private[etl] def parseWiden(s: String): Map[String, String] =
    if (s == null || s.isEmpty) Map.empty
    else s.split(';').map { e =>
      val i = e.indexOf('>')
      e.take(i) -> e.drop(i + 1)
    }.toMap

  // colmap rendering: `p>l` renamed, `p>-` dropped
  private def renderColmap(m: Map[String, Option[String]]): String =
    m.toSeq.sortBy(_._1)
      .map { case (p, l) => s"$p>${l.getOrElse("-")}" }.mkString(",")
  private def parseColmap(s: String): Map[String, Option[String]] =
    uncsv(s).map { e =>
      val i = e.indexOf('>')
      e.take(i) -> (if (e.drop(i + 1) == "-") None else Some(e.drop(i + 1)))
    }.toMap

  /** An idempotence tag as (app, version): `sw-<queryId>-7` → ("sw-
    * <queryId>", 7), a bare non-numeric tag → (tag, 0). Per-app versions
    * must be MONOTONE (they are: micro-batch epochIds) — the Delta `txn`
    * appId/version contract, which is what lets a checkpoint fold a
    * tag history into one high-water per app.
    */
  private val NumTag = "(.*)-(\\d+)".r
  private def splitTag(tag: String): (String, Long) = tag match {
    case NumTag(app, v) => (app, v.toLong)
    case _ => (tag, 0L)
  }
  private def foldTag(txns: Map[String, Long], tag: String): Map[String, Long] = {
    val (app, v) = splitTag(tag)
    txns.updated(app, math.max(v, txns.getOrElse(app, Long.MinValue)))
  }
  private def renderTxns(m: Map[String, Long]): String =
    m.toSeq.sorted.map { case (a, v) => s"$a:$v" }.mkString(",")
  private def parseTxns(s: String): Map[String, Long] =
    uncsv(s).map { e =>
      val i = e.lastIndexOf(':')
      e.take(i) -> e.drop(i + 1).toLong
    }.toMap

  private def applyRow(st: LakeState, kv: Map[String, String]): LakeState = {
    val withKey = kv.get("key").filter(_.nonEmpty) match {
      case Some(k) => st.copy(key = Some(k))
      case None => st
    }
    val withCols0 = kv.get("snapshotcolmap") match {
      case Some(s) => withKey.copy(colmap = parseColmap(s))
      case None => withKey
    }
    // addcol: fresh physical allocations riding a mutation commit
    val withAdds = kv.get("addcol") match {
      case Some(s) => withCols0.copy(colmap = withCols0.colmap ++ parseColmap(s))
      case None => withCols0
    }
    // rename: move the logical name off whatever physical carries it
    val withRename = kv.get("rename") match {
      case Some(rn) =>
        val i = rn.indexOf('>')
        val (from, to) = (rn.take(i), rn.drop(i + 1))
        withAdds.physicalFor(from) match {
          case Some(p) =>
            withAdds.copy(colmap = withAdds.colmap.updated(p, Some(to)))
          case None => withAdds // renaming a non-live name: no-op fold
        }
      case None => withAdds
    }
    val withDrops = kv.get("dropcol") match {
      case Some(name) =>
        withRename.physicalFor(name) match {
          case Some(p) =>
            withRename.copy(colmap = withRename.colmap.updated(p, None))
          case None => withRename
        }
      case None => withRename
    }
    // widen: a later widen of the same physical column replaces (decimal
    // precision can grow repeatedly); entries merge across commits
    val withWiden = kv.get("widen") match {
      case Some(w) => withDrops.copy(widened = withDrops.widened ++ parseWiden(w))
      case None => withDrops
    }
    val withTag = kv.get("tag").filter(_.nonEmpty) match {
      // A pre-r15 tag was never validated against the fold separators: a
      // ','/'=' inside one would render a txns CSV that parseTxns
      // mis-splits, silently corrupting high-waters (ADVICE r15). Such a
      // legacy tag poisons txnsComplete instead — the checkpoint then
      // omits `txns` and readers keep the full-scan fallback (correct,
      // just unfolded). New commits reject these characters up front.
      case Some(t) if t.contains(",") || t.contains("=") || t.contains("\n") =>
        withWiden.copy(txnsComplete = false)
      case Some(t) => withWiden.copy(txns = foldTag(withWiden.txns, t))
      case None => withWiden
    }
    val base0 = kv.get("snapshot") match {
      case Some(s) =>
        val days = withTag.copy(days = parseSnapshot(s),
          // the checkpoint subsumes widen history like colmap: its own
          // snapshotwiden is authoritative (absent = none at checkpoint)
          widened = kv.get("snapshotwiden").map(parseWiden)
            .getOrElse(Map.empty))
        kv.get("txns") match {
          // the checkpoint subsumes all prior rows: its txns REPLACE the
          // fold (always present on r15+ checkpoints, even when empty)
          case Some(t) => days.copy(txns = parseTxns(t))
          case None => days.copy(txnsComplete = false) // pre-r15 checkpoint
        }
      case None => withTag
    }
    if (kv.contains("deltagen")) {
      val g = kv("deltagen").toInt
      val days2 = uncsv(kv.getOrElse("days", "")).foldLeft(base0.days) {
        (m, d) =>
          val s = m.getOrElse(d, DayState(-1, Nil))
          m.updated(d, s.copy(deltas = s.deltas :+ g))
      }
      base0.copy(days = days2)
    } else if (kv.contains("dvgen")) {
      val g = kv("dvgen").toInt
      val days2 = uncsv(kv.getOrElse("days", "")).foldLeft(base0.days) {
        (m, d) =>
          val s = m.getOrElse(d, DayState(-1, Nil))
          m.updated(d, s.copy(dvs = s.dvs :+ g))
      }
      base0.copy(days = days2)
    } else {
      val g = kv.getOrElse("gen", "-1").toInt
      val withDays = uncsv(kv.getOrElse("days", ""))
        .foldLeft(base0.days)((m, d) => m.updated(d, DayState(g, Nil)))
      base0.copy(days =
        uncsv(kv.getOrElse("dropped", "")).foldLeft(withDays)(_ - _))
    }
  }

  /** The last durably-pointed checkpoint epoch (Delta's `_last_checkpoint`
    * idea): readers fold from here instead of the whole commit history.
    * The pointer is advisory — stale (crash between checkpoint commit and
    * pointer write) just means folding from an older checkpoint, never
    * wrong results.
    */
  private def checkpointEpoch(spark: SparkSession, dir: String): Int = {
    val p = new Path(s"${LakePaths(dir).manifest}/_last_checkpoint")
    val f = fsOf(spark, dir)
    if (!f.exists(p)) return 0
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  /** Committed rows from the last checkpoint onward — what every current-
    * view reader folds. O(rows since checkpoint) reads, one listing.
    */
  private[etl] def committedRows(
      spark: SparkSession, dir: String): Seq[(Int, Map[String, String])] =
    IncrementalDedup.Manifest.readFrom(
      spark, LakePaths(dir).manifest, checkpointEpoch(spark, dir))

  /** Fold committed manifest rows (epoch order) into the live
    * [[LakeState]]. Driver-side metadata: a few strings per commit.
    */
  private[etl] def liveView(
      spark: SparkSession, dir: String): LakeState =
    committedRows(spark, dir)
      .foldLeft(EmptyState) { case (m, (_, kv)) => applyRow(m, kv) }

  /** The view as of `asOf` (time travel): fold the FULL history up to the
    * epoch, ignoring any later checkpoint. Reaches only generations that
    * still exist — a reader older than the vacuum retention fails loudly
    * on missing files, the same contract as Delta time travel vs VACUUM.
    */
  private[etl] def viewAt(
      spark: SparkSession, dir: String, asOf: Int): LakeState =
    IncrementalDedup.Manifest.read(spark, LakePaths(dir).manifest)
      .filter(_._1 <= asOf)
      .foldLeft(EmptyState) { case (m, (_, kv)) => applyRow(m, kv) }

  private def maxEpoch(spark: SparkSession, dir: String): Int =
    committedRows(spark, dir).map(_._1).maxOption.getOrElse(-1)

  /** ONE manifest listing → (max committed epoch, live view) — the staging
    * snapshot every mutation derives its base from. Deriving BOTH from the
    * same listing closes a TOCTOU (ADVICE r12): reading the live view and
    * the max epoch through separate listings left a window where a commit
    * landing between the two reads was counted into the base epoch but
    * missing from the staged view — [[commit]]'s overlap check (epochs >
    * base) then never saw it, and the stale whole-day rewrite silently
    * reverted the winner's rows.
    */
  private[etl] def stagingSnapshot(
      spark: SparkSession, dir: String): (Int, LakeState) = {
    val rows = committedRows(spark, dir)
    (rows.map(_._1).maxOption.getOrElse(-1),
      rows.foldLeft(EmptyState) { case (m, (_, kv)) => applyRow(m, kv) })
  }

  /** The current committed epoch — what [[readAt]] takes to pin a
    * snapshot, and what monitoring graphs.
    */
  def currentEpoch(spark: SparkSession, dir: String): Int =
    maxEpoch(spark, dir)

  /** The youngest epoch whose commit wall-clock is at or before `tMs` —
    * the TIMESTAMP AS OF resolution, shared by the SQL catalog and the
    * path-based `option("timestampAsOf", ...)` read (r17 wave 3). None
    * when the instant predates every commit. One manifest listing +
    * one commit-time read per epoch (driver-side metadata).
    */
  def epochAtOrBefore(
      spark: SparkSession, dir: String, tMs: Long): Option[Int] = {
    val manifest = s"$dir/manifest"
    val epochs = graft.ops.IncrementalDedup.Manifest.read(spark, manifest)
      .map(_._1)
    val at = epochs.filter(e =>
      graft.ops.IncrementalDedup.Manifest
        .commitTimeMs(spark, manifest, e) <= tMs)
    if (at.isEmpty) None else Some(at.max)
  }

  /** The folded table state external planners read — the DSv2 batch
    * relation ([[graft.sources.GraftLakeSource]]) derives its file
    * partitions, key column, and column mapping from exactly the view a
    * Scala-API reader would fold, so the two surfaces can never disagree
    * on what is committed. Driver-side metadata only.
    */
  def tableState(
      spark: SparkSession, dir: String, asOf: Option[Int] = None): LakeState =
    asOf.map(viewAt(spark, dir, _)).getOrElse(liveView(spark, dir))

  /** Advisory next-generation high-water mark (`manifest/_next_gen-<N>`,
    * hint-named write-once files; the max name wins): a
    * winner of [[claimGen]] records G+1 here so (a) the skip-scan starts
    * past every generation ever claimed instead of walking claim files,
    * and (b) [[vacuum]] may DELETE claim files for reclaimed generations
    * without risking number reuse — a re-used generation number would let
    * a new writer's data satisfy an old historical view silently (ADVICE
    * r12 asked for exactly this hint-or-cleanup pair). The hint is only
    * ever advanced; a stale hint (crash before the write) is safe because
    * the claim file it would have covered still exists and the scan skips
    * it.
    */
  private[etl] def genHint(spark: SparkSession, dir: String): Int = {
    val m = new Path(LakePaths(dir).manifest)
    val f = fsOf(spark, dir)
    // hint-NAMED files (`_next_gen-<N>`): the file name IS the value, so
    // a reader takes the max over listings and never opens a hint file
    // — no delete→rename visibility gap (the ADVICE r13 number-reuse
    // hazard) and no CRC pairing window (the VERDICT r13 p23
    // ChecksumException abort), both impossible by construction.
    // A listing is not atomic: one that races a bump can pass the new
    // hint's slot before its create and reach the retired hint's slot
    // after its delete, missing both. A bump retires lower hints only
    // once a listing has shown its new one, so a SECOND listing, begun
    // after the first ended, sees the new hint (unless a further bump
    // retired it meanwhile, leaving a higher one).
    val named =
      if (!f.exists(m)) 0 else math.max(listedHint(f, m), listedHint(f, m))
    // legacy single-file hint (pre-r14 lakes): value-bearing, so reading
    // it can race a legacy writer's swap — ANY IO failure (not just FNF:
    // ChecksumException is an IOException too) reads as 0; the claim
    // files still on disk backstop the scan either way
    val legacy = try {
      val p = new Path(m, "_next_gen")
      if (!f.exists(p)) 0
      else {
        val in = f.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      }
    } catch {
      case _: java.io.IOException => 0
      case _: NumberFormatException => 0
    }
    math.max(named, legacy)
  }

  /** The highest `_next_gen-<N>` in one listing of the manifest
    * directory. A listing that throws (a hint retired between the
    * listing's read of names and its stat of them can fail it) is retried,
    * never read as 0; one that keeps throwing fails loudly.
    */
  private def listedHint(f: FileSystem, m: Path): Int = {
    def list(attempt: Int): Array[org.apache.hadoop.fs.FileStatus] =
      try f.listStatus(m)
      catch { case _: java.io.IOException if attempt < 8 => list(attempt + 1) }
    list(1).iterator.map(_.getPath.getName)
      .filter(_.startsWith("_next_gen-"))
      .flatMap(n => scala.util.Try(n.stripPrefix("_next_gen-").toInt).toOption)
      .foldLeft(0)(math.max)
  }

  private[etl] def bumpGenHint(
      spark: SparkSession, dir: String, next: Int): Unit = {
    val m = LakePaths(dir).manifest
    val f = fsOf(spark, dir)
    if (genHint(spark, dir) >= next) return
    // one atomic create publishes the new high-water mark; a concurrent
    // peer creating the same name is the same value (collision harmless)
    try { f.create(new Path(m, s"_next_gen-$next"), false).close() }
    catch { case _: java.io.IOException => () }
    // retire lower-valued hints (and any legacy file — provably < next,
    // genHint folds it into the max) only once a listing has shown the new
    // hint, so every listing begun after the retirement sees a value >=
    // the pre-bump max
    try {
      val listed = f.listStatus(new Path(m))
      if (listed.exists(_.getPath.getName == s"_next_gen-$next"))
        listed.foreach { st =>
          val n = st.getPath.getName
          val stale =
            if (n == "_next_gen") true
            else if (n.startsWith("_next_gen-"))
              scala.util.Try(n.stripPrefix("_next_gen-").toInt)
                .toOption.exists(_ < next)
            else false
          if (stale) f.delete(st.getPath, false)
        }
    } catch { case _: java.io.IOException => () }
  }

  /** Claim a fresh generation id through the [[ClaimStore]] seam —
    * `gen-G.claim`, a namespace separate from the commit epochs so a
    * staged generation and an unrelated commit never share a number.
    * Starts at the [[genHint]] high-water mark so vacuumed claim files
    * are never re-contended (and never re-issued).
    */
  private def claimGen(
      spark: SparkSession, dir: String, start: Int, store: ClaimStore): Int = {
    val p = LakePaths(dir)
    val f = fsOf(spark, p.manifest)
    f.mkdirs(new Path(p.manifest))
    val from = math.max(math.max(0, start), genHint(spark, dir))
    var g = from
    while (g < from + 10000) {
      val claim = new Path(p.manifest, s"gen-$g.claim")
      val won =
        if (store.exists(f, claim)) false
        else store.createIfAbsent(f, claim)
      if (won) { bumpGenHint(spark, dir, g + 1); return g }
      g += 1
    }
    sys.error(s"could not claim a generation in [$from, ${from + 10000}) " +
      s"at ${p.manifest}")
  }

  /** The committed live view as one DataFrame. Generations written
    * before and after a schema evolution coexist; added columns surface
    * as NULL on pre-evolution rows. Building it launches no Spark job.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    readView(spark, dir, liveView(spark, dir))

  /** TIME TRAVEL: the committed view as of epoch `asOf` (inclusive) —
    * generations are immutable, so any historical snapshot inside the
    * vacuum retention window reads exactly as it committed.
    */
  def readAt(spark: SparkSession, dir: String, asOf: Int): DataFrame =
    readView(spark, dir, viewAt(spark, dir, asOf))

  /** A DAY-SUBSET of the epoch-pinned view (incremental export's read
    * path): exactly [[readAt]] restricted to `days` — same fold, same
    * column mapping, O(selected days) data cost.
    */
  def readDaysAt(
      spark: SparkSession, dir: String, asOf: Int,
      days: Set[String]): DataFrame = {
    readDaysRaw(spark, dir, viewAt(spark, dir, asOf), days, "date")
  }

  /** The day-grain diff between two epoch-pinned views — what an
    * incremental export must ship: `changed` days whose storage state
    * (base/delta/DV layering) differs at `to` vs `from` (including
    * newborn days), and `removed` days present at `from` but gone at
    * `to`. Derived ENTIRELY from the manifest fold (driver-side
    * metadata) — a day whose DayState is identical at both epochs is
    * byte-identical on disk (generations are immutable), so it is
    * provably skippable without reading a single data file.
    */
  def changedDays(
      spark: SparkSession, dir: String, from: Int,
      to: Int): (Seq[String], Seq[String]) = {
    require(from <= to, s"changedDays: from $from > to $to")
    val av = viewAt(spark, dir, from)
    val bv = viewAt(spark, dir, to)
    // a column op (rename/drop/widen) is manifest-only — every day's
    // STORAGE state is unchanged but its LOGICAL surface is not, so an
    // incremental consumer needs every day re-shipped
    val surfaceChanged = av.colmap != bv.colmap || av.widened != bv.widened
    val changed =
      (if (surfaceChanged) bv.days.keys
       else bv.days.collect {
         case (d, st) if !av.days.get(d).contains(st) => d
       }).toSeq.sorted
    val removed = (av.days.keySet -- bv.days.keySet).toSeq.sorted
    (changed, removed)
  }

  private def readView(
      spark: SparkSession, dir: String, view: LakeState): DataFrame = {
    require(view.nonEmpty, s"no committed snapshot at $dir")
    readDaysRaw(spark, dir, view, view.days.keySet, "date")
  }

  /** The schema of the first data file, in path order, in the first of
    * `dirs` that holds one: the footer schema inference reads for a
    * directory without mergeSchema, read on the driver with no Spark job.
    */
  private[graft] def footerSchema(
      spark: SparkSession, dirs: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    dirs.iterator.flatMap { d =>
      fsOf(spark, d).listStatus(new Path(d)).filter { st =>
        val n = st.getPath.getName
        st.isFile && st.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
      }.minByOption(_.getPath.toString)
    }.nextOption().map(GraftBridge.parquetFileSchema(
      spark, _, spark.sparkContext.hadoopConfiguration))

  /** The schema `spark.read.parquet(dir)` infers for a directory of data
    * files, or of `day=YYYY-MM-DD` leaves, from one footer read on the
    * driver ([[footerSchema]]) instead of an inference job.
    */
  private[graft] def inferredSchema(
      spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType = {
    val days = fsOf(spark, dir).listStatus(new Path(dir)).toSeq
      .filter(st => st.isDirectory && DayLeaf.matches(st.getPath.getName))
      .map(_.getPath.toString).sorted
    val data = footerSchema(spark, if (days.isEmpty) Seq(dir) else days)
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet data file under $dir to take a schema from"))
    if (days.isEmpty) data else withDayColumn(data)
  }

  private val DayLeaf = "day=\\d{4}-\\d{2}-\\d{2}".r

  /** `data` with the `day` partition column as schema inference types a
    * `day=YYYY-MM-DD` value: DATE, in place when the files carry the
    * column, else after the file columns.
    */
  private[graft] def withDayColumn(
      data: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DateType, StructField, StructType}
    if (data.fieldNames.contains("day"))
      StructType(data.map(f => if (f.name == "day") f.copy(dataType = DateType) else f))
    else data.add(StructField("day", DateType))
  }

  /** `spark.read.parquet(dir)` of a flat directory with its schema from
    * one footer ([[inferredSchema]]): planning launches no Spark job.
    */
  private[graft] def readFlat(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(inferredSchema(spark, dir)).parquet(dir)

  /** The file columns behind `groups` of generation leaf directories
    * (`<root>/gen=G/day=D`), each tagged with the group that first
    * surfaces it, from ONE footer per generation — each generation is one
    * write job's output ([[adoptParquet]] refuses a mixed source) —
    * merged group by group, each in path order, as schema inference
    * would. A widened column surfaces at its WIDENED type (the parquet
    * reader upcasts narrow files); other type conflicts fail loudly.
    */
  private def genSchema(
      spark: SparkSession, groups: Seq[Seq[String]],
      widened: Map[String, String])
      : Seq[(Int, org.apache.spark.sql.types.StructField)] = {
    import org.apache.spark.sql.types._
    val merged = scala.collection.mutable.LinkedHashMap
      .empty[String, (Int, StructField)]
    val seen = scala.collection.mutable.Set.empty[String]
    def genDir(leaf: String) = leaf.substring(0, leaf.lastIndexOf('/'))
    groups.zipWithIndex.foreach { case (leaves, gi) =>
      val byGen = leaves.filterNot(l => seen(genDir(l))).groupBy(genDir)
      seen ++= byGen.keys
      // unwidened reads met footers in sorted file-path order ("gen=1/"
      // before "gen=10/"), widened ones in leaf order: keep both orders
      val order =
        if (widened.isEmpty) byGen.keys.toSeq.sortBy(_ + "/")
        else leaves.map(genDir).distinct.filter(byGen.contains)
      order.flatMap(g => footerSchema(spark, byGen(g)))
        .foreach(_.fields.foreach { f =>
          merged(f.name) = merged.get(f.name) match {
            case None => (gi, f)
            case Some((g0, prev)) => (g0,
              if (widened.contains(f.name)) prev
              else prev.copy(dataType =
                widerType(f.name, prev.dataType, f.dataType, widen = false)))
          }
        })
    }
    merged.values.toSeq.map { case (gi, f) => (gi,
      widened.get(f.name).fold(f)(t => f.copy(dataType = DataType.fromDDL(t))))
    }
  }

  /** Resolve two file types observed for the SAME column. Evolved struct
    * columns union by field name and collections merge element-wise
    * (mergeSchema's rules). With `widen`, the wider of two numeric types
    * wins — footers legitimately disagree that way only across a widening
    * commit (narrow files predate it), so the wide type reads both.
    * Anything else is a genuine conflict and fails loudly.
    */
  private[graft] def widerType(
      name: String,
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType,
      widen: Boolean = true)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def wider(n: String, x: DataType, y: DataType) = widerType(n, x, y, widen)
    (a, b) match {
      case _ if a == b => a
      case (x: StructType, y: StructType) =>
        val extra = y.fields.filterNot(f => x.fieldNames.contains(f.name))
        StructType(x.fields.map(f =>
          y.fields.find(_.name == f.name)
            .map(g => f.copy(dataType = wider(s"$name.${f.name}",
              f.dataType, g.dataType)))
            .getOrElse(f)) ++ extra)
      case (ArrayType(x, xn), ArrayType(y, yn)) =>
        ArrayType(wider(s"$name.element", x, y), xn || yn)
      case (MapType(xk, xv, xn), MapType(yk, yv, yn)) =>
        MapType(wider(s"$name.key", xk, yk),
          wider(s"$name.value", xv, yv), xn || yn)
      case (IntegerType, LongType) | (LongType, IntegerType) if widen =>
        LongType
      case (FloatType, DoubleType) | (DoubleType, FloatType) if widen =>
        DoubleType
      case (f: DecimalType, t: DecimalType) if widen && f.scale == t.scale =>
        DecimalType(math.max(f.precision, t.precision), f.scale)
      case _ => sys.error(
        s"graft-lake: column '$name' has conflicting file types " +
          s"${a.simpleString} vs ${b.simpleString} that no widening " +
          "resolves")
    }
  }

  /** The folded image of `days` under `view`, `day` typed `dayType` — the
    * ONE read path every consumer (current read, time travel, CDC
    * endpoints, COW staging, OPTIMIZE) shares. Days without deltas stream
    * straight off their base generation — no shuffle; days with deltas
    * fold base + deltas with a single window over (day, key): youngest
    * commit wins per key, delete markers drop rows. Plan cost is
    * O(requested days) on either path — only listed generation
    * directories are ever opened — and building the frame launches no
    * Spark job: scans carry the [[genSchema]] schema and delta rows look
    * their fold position up in a literal map. Columns surface as a
    * by-name union of the sides would: the first side's, then `day`
    * (first of all when only deltas are read), then later sides' extras.
    */
  private[etl] def readDaysRaw(
      spark: SparkSession, dir: String, view: LakeState,
      days: Set[String], dayType: String = "string"): DataFrame = {
    val p = LakePaths(dir)
    val sel = view.days.filter { case (d, _) => days(d) }
    require(sel.nonEmpty, s"no requested day is present at $dir")
    val (fast, fold) = sel.toSeq.sortBy(_._1).partition(_._2.deltas.isEmpty)
    // base sides: plain days first, then DV-carrying ones
    def split(states: Seq[(String, DayState)]) = {
      val (dv, plain) = states.filter(_._2.base >= 0).partition(_._2.dvs.nonEmpty)
      (plain, dv)
    }
    def baseLeaves(states: Seq[(String, DayState)]) =
      states.map { case (d, s) => s"${p.data}/gen=${s.base}/day=$d" }
    val (fastPlain, fastDv) = split(fast)
    val (foldPlain, foldDv) = split(fold)
    val deltaLeaves = fold.flatMap { case (d, s) =>
      s.deltas.map(g => s"${p.delta}/gen=$g/day=$d") }
    val groups = Seq(fastPlain, fastDv, foldPlain, foldDv).map(baseLeaves) :+
      deltaLeaves
    // the scan's partition columns own `gen` and `day`: a data column
    // stored under either name never surfaces (the partition value
    // shadows it), so writes store a logical `gen` under a fresh name
    val fields = genSchema(spark, groups, view.widened)
      .filterNot { case (_, f) => f.name == "gen" || f.name == "day" }
    val first = groups.indexWhere(_.nonEmpty)
    val (head, tail) = fields.map { case (gi, f) => (gi, f.name) }
      .filterNot(_._2 == "__op")
      .span { case (gi, _) => gi <= first && first < groups.size - 1 }
    val outCols = head.map(_._2) ++ ("day" +: tail.map(_._2))
    val schema = org.apache.spark.sql.types.StructType(fields.map(_._2))
      .add("gen", "int").add("day", "date")
    def scan(root: String, leaves: Seq[String]): DataFrame =
      spark.read.option("basePath", root).schema(schema).parquet(leaves: _*)
    val out = outCols.map(c =>
      if (c == "day") col("day").cast(dayType).as("day") else col(c))
    // the base image of `plain` + `dv` days projected to `out ++ extra`;
    // DV-carrying days subtract their positional tombstones with ONE
    // anti-join — no key shuffle, no window, wide rows never move (the DV
    // selling point vs row markers)
    def baseSide(
        plain: Seq[(String, DayState)], dv: Seq[(String, DayState)],
        extra: Seq[org.apache.spark.sql.Column]): Option[DataFrame] = {
      val plainDf =
        if (plain.isEmpty) None
        else Some(scan(p.data, baseLeaves(plain)).select(out ++ extra: _*))
      val dvDf =
        if (dv.isEmpty) None
        else {
          val base = scan(p.data, baseLeaves(dv))
            .select(out ++ extra ++ Seq(col("_metadata.file_path").as("__file"),
              col("_metadata.row_index").as("__pos")): _*)
          Some(dropTombstoned(spark, p, base, dv.flatMap { case (d, s) =>
            s.dvs.map(g => s"${p.dv}/gen=$g/day=$d") })
            .drop("__file", "__pos"))
        }
      (plainDf ++ dvDf).reduceOption(_ union _)
    }
    val fastDf = baseSide(fastPlain, fastDv, Nil)
    val foldDf =
      if (fold.isEmpty) None
      else {
        val keyCol = view.key.getOrElse(sys.error(
          s"delta generations exist at $dir but no table key is recorded"))
        // per-(day, gen) fold position: base = 0, deltas 1.. in COMMIT
        // order (delta generation numbers are claim-ordered, not
        // commit-ordered — a stager that claimed earlier can commit
        // later, so position comes from the manifest fold, never from
        // the generation number)
        val seq = typedLit(fold.flatMap { case (d, s) =>
          s.deltas.zipWithIndex.map { case (g, i) => s"$d/$g" -> (i + 1L) }
        }.toMap)
        val deltas = scan(p.delta, deltaLeaves).select(out ++ Seq(
          element_at(seq, concat_ws("/", col("day").cast("string"),
            col("gen").cast("string"))).as("__seq"),
          col("_metadata.file_name").as("__dfile"),
          col("_metadata.row_index").as("__drow"), col("__op")): _*)
        // DVs fold below the key fold
        val all = (baseSide(foldPlain, foldDv,
          Seq(lit(0L).as("__seq"), lit("").as("__dfile"), lit(0L).as("__drow"),
            lit("u").as("__op"))) ++ Some(deltas))
          .reduce(_ union _)
        // youngest generation wins; within one, the row written last
        // (files in name order — one directory per (gen, day) — rows in
        // file order), as the DSv2 fold
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("day") +: keyParts(keyCol).map(col): _*)
          .orderBy(col("__seq").desc, col("__dfile").desc, col("__drow").desc)
        Some(all.select(col("*"), row_number().over(w).as("__rn"))
          .filter(col("__rn") === 1 && col("__op") =!= "d")
          .select(outCols.map(col): _*))
      }
    toLogical((fastDf ++ foldDf).reduce(_ union _), view)
  }

  /** Surface a raw (physical-named) frame through `view`'s column
    * mapping: dropped physicals vanish, renamed ones alias to their
    * logical names. Internal (`__*`) and the partition `day` column pass
    * through untouched.
    */
  private def toLogical(df: DataFrame, view: LakeState): DataFrame = {
    if (view.colmap.isEmpty) return df
    val cols = df.columns.toSeq.flatMap { c =>
      if (c == "day" || c.startsWith("__")) Some(col(c))
      else view.logicalFor(c) match {
        case Some(l) if l == c => Some(col(c))
        case Some(l) => Some(col(c).as(l))
        case None => None // dropped: masked out of every read
      }
    }
    df.select(cols: _*)
  }

  /** Bind a logical-named frame back to PHYSICAL names for a generation
    * write (names in the files never change — that is what makes rename
    * a metadata-only commit). Every logical column must already have a
    * physical home; fresh allocations happen in the staging paths via
    * [[allocatePhysicals]] before this runs.
    */
  private def toPhysical(df: DataFrame, view: LakeState): DataFrame = {
    if (view.colmap.isEmpty) return df
    val cols = df.columns.toSeq.map { c =>
      if (c == "day" || c.startsWith("__")) col(c)
      else view.physicalFor(c) match {
        case Some(p) if p == c => col(c)
        case Some(p) => col(c).as(p)
        case None => sys.error(
          s"logical column '$c' has no physical binding — staging must " +
            "allocate before writing")
      }
    }
    df.select(cols: _*)
  }

  /** Fresh physical names for batch logical columns whose natural names
    * are TAKEN by the mapping (a name re-added after a drop, or shadowed
    * by a rename) or shadowed on read (`gen`): `name__2`, `name__3`, ...
    * Returns the view extended with the allocations (so [[toPhysical]]
    * binds) plus the physical→logical pairs the commit row must record.
    */
  private def allocatePhysicals(
      b: DataFrame, view: LakeState): (LakeState, Seq[(String, String)]) = {
    val needs = b.columns.toSeq.filter(c =>
      c != "day" && !c.startsWith("__") && view.physicalFor(c).forall(shadowed))
    if (needs.isEmpty) return (view, Nil)
    val taken = scala.collection.mutable.Set.empty[String]
    taken ++= view.colmap.keys
    taken ++= b.columns
    val allocs = needs.map { l =>
      val p = Iterator.from(2).map(k => s"${l}__$k").find(!taken(_)).get
      taken += p
      (p, l)
    }
    (view.copy(colmap =
      view.colmap ++ allocs.map { case (p, l) => p -> Some(l) }), allocs)
  }

  /** Collapse the commit history into ONE checkpoint row (full day → gen
    * snapshot) and advance the `_last_checkpoint` pointer, so current-view
    * readers fold O(rows since checkpoint) instead of O(all commits) —
    * the table-format checkpoint, committed through the same conditional
    * create as every mutation (a lost epoch race just re-reads and
    * retries; a checkpoint can never conflict semantically because it
    * changes nothing about the view). Time travel before the checkpoint
    * keeps working: historical rows are never deleted.
    */
  def checkpointManifest(spark: SparkSession, dir: String): Int = {
    val p = LakePaths(dir)
    val f = fsOf(spark, dir)
    while (true) {
      val rows = committedRows(spark, dir)
      require(rows.nonEmpty, s"nothing to checkpoint at $dir")
      val live = rows.foldLeft(EmptyState) {
        case (m, (_, kv)) => applyRow(m, kv)
      }
      val e = rows.map(_._1).max + 1
      if (IncrementalDedup.Manifest.writeIfAbsent(spark, p.manifest, e,
        Seq("snapshot" -> renderSnapshot(live)) ++
          // present (even empty) iff the fold is tag-complete — marks
          // this checkpoint as trustworthy for the redelivery check; a
          // fold across a pre-r15 checkpoint must NOT claim completeness
          (if (live.txnsComplete)
            Seq("txns" -> renderTxns(live.txns)) else Nil) ++
          live.key.map("key" -> _).toSeq ++
          (if (live.colmap.nonEmpty)
            Seq("snapshotcolmap" -> renderColmap(live.colmap)) else Nil) ++
          (if (live.widened.nonEmpty)
            Seq("snapshotwiden" -> renderWiden(live.widened)) else Nil))) {
        // advance the pointer: temp + rename, overwrite-safe; a crash
        // here leaves a stale (still-correct) pointer
        val tmp = new Path(p.manifest, s".tmp-last-checkpoint-$e")
        val out = f.create(tmp, true)
        try out.write(e.toString.getBytes("UTF-8")) finally out.close()
        val dst = new Path(p.manifest, "_last_checkpoint")
        f.delete(dst, false)
        require(f.rename(tmp, dst), s"checkpoint pointer rename failed: $dst")
        return e
      }
    }
    -1 // unreachable
  }

  /** Whether a physical column name is shadowed on read: `gen` names the
    * generation directories (`data/gen=G/`), and the partition value wins
    * over a stored column of that name on every read and compaction.
    */
  private def shadowed(physical: String): Boolean = physical.equalsIgnoreCase("gen")

  /** Refuse, before anything is staged, a write whose stored columns
    * include a shadowed name. Merges and [[addColumnBinding]] never need
    * this: they store a logical `gen` under a fresh physical name.
    */
  private[graft] def requireNoGenColumn(physical: Seq[String], dir: String): Unit =
    require(!physical.exists(shadowed),
      s"a data column stored as 'gen' at $dir would be shadowed by the " +
        "gen=G generation directories and read back as the generation " +
        "number — merge it or bind it with addColumnBinding first, which " +
        "store it under a fresh physical name")

  /** Stage a MERGE: write the post-merge generation for every touched day
    * (one partitioned append; nothing visible until [[commit]]). Touched
    * days are read through the FOLDED image ([[readDaysRaw]]), so a COW
    * merge layered over pending row deltas absorbs them into its new
    * base. With `cdf = true` a change-data sidecar (`cdf/gen=G`, Delta
    * CDF's write-time shape) is staged alongside — the row-level
    * insert/update images this merge causes, readable after commit via
    * [[readChangesCdf]] and the streaming CDC source without any
    * snapshot diffing.
    */
  private[etl] def stageMerge(
      spark: SparkSession, dir: String, batch: DataFrame,
      keyCol: String, tsCol: String,
      store: ClaimStore = FsClaimStore,
      cdf: Boolean = false): Staged = {
    val p = LakePaths(dir)
    // record the event-time column once (first write wins) so the
    // read side derives ts->day pruning only from an EXPLICIT
    // declaration, never the bare default guess (ADVICE r17)
    graft.sources.GraftCatalog.recordDeclaredTs(spark, dir, tsCol)
    val b = LakeUpsert.dedupBatch(batch, keyCol)
      .withColumn("day", to_date(col(tsCol)).cast("string"))
    val days = b.select("day").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val (base, live) = stagingSnapshot(spark, dir)
    require(live.key.forall(_ == keyCol),
      s"merge key '$keyCol' does not match the table's recorded key " +
        s"'${live.key.getOrElse("")}' at $dir")
    val gen = claimGen(spark, dir, base + 1, store)
    val storedDays = days.filter(live.days.contains).toSet
    val stored =
      if (storedDays.isEmpty) None
      else Some(readDaysRaw(spark, dir, live, storedDays))
    val merged = stored match {
      case None => b
      case Some(s) =>
        s.join(b.select(keyParts(keyCol).map(col): _*),
            keyParts(keyCol), "left_anti")
          // null-fill BOTH ways: the batch may carry brand-new columns
          // (schema evolution), the store may carry columns the batch
          // doesn't know about
          .unionByName(b, allowMissingColumns = true)
    }
    // logical → physical for the write; brand-new logical names whose
    // natural physical is taken (re-add after drop/rename) get fresh
    // physical ids, recorded in the commit row
    val (viewX, addcols) = allocatePhysicals(b, live)
    writeBase(spark, p, gen, toPhysical(merged, viewX))
    if (cdf) stageCdfMerge(spark, p, gen, stored, b, keyCol)
    Staged(gen, base, days, Nil, cdf = cdf, addcols = addcols,
      key = Some(keyCol))
  }

  /** Write `rows` (physical names, partitioned by `day`) as base
    * generation `gen` and stage its file-stats and bloom sidecars.
    */
  private def writeBase(
      spark: SparkSession, p: LakePaths, gen: Int, rows: DataFrame): Unit = {
    microsWrite(rows)(_
      .write.options(BloomStats.writeOptions(spark, p.dir))
      .mode("append").partitionBy("day").parquet(s"${p.data}/gen=$gen"))
    FileStats.stage(spark, s"${p.data}/gen=$gen")
    BloomStats.stage(spark, p.dir, gen)
  }

  /** The days base generation `gen` holds, for FREE from the written
    * layout: the partitioned write creates a day directory iff that day
    * kept ≥ 1 row, so one listing of the (invisible, single-owner) staged
    * gen replaces a second pass over the survivors — an earlier cut
    * localCheckpoint'ed the whole survivor set (data-sized executor
    * storage) just to count its days.
    */
  private def writtenDays(
      spark: SparkSession, p: LakePaths, gen: Int): Set[String] = {
    val f = fsOf(spark, p.dir)
    val genPath = new Path(s"${p.data}/gen=$gen")
    if (!f.exists(genPath)) Set.empty
    else f.listStatus(genPath).filter(_.isDirectory)
      .map(_.getPath.getName.stripPrefix("day=")).toSet
  }

  /** Stage the write-time change rows of a merge: updates where any
    * column moved (pre + post image), inserts for brand-new keys; an
    * identical re-write of a row emits NOTHING (same suppression rule as
    * [[readChanges]]). One extra pass over the touched days — the price
    * of making CDC a file read instead of a two-snapshot join, paid only
    * by `cdf = true` tables (Delta's enableChangeDataFeed trade).
    */
  private def stageCdfMerge(
      spark: SparkSession, p: LakePaths, gen: Int,
      stored: Option[DataFrame], b: DataFrame, keyCol: String): Unit = {
    val parts = keyParts(keyCol)
    val changes = stored match {
      case None => b.withColumn("_change_type", lit("insert"))
      case Some(s) =>
        val cols = (s.columns ++ b.columns).distinct
          .filterNot(parts.contains).toSeq
        def norm(df: DataFrame): DataFrame = {
          val have = df.columns.toSet
          df.select(parts.map(col) ++ cols.map(c =>
            if (have(c)) col(c) else lit(null).as(c)): _*)
        }
        val old = norm(s).select(parts.map(col) ++
          cols.map(c => col(c).as(s"__o_$c")) :+ lit(true).as("__o_in"): _*)
        val joined = norm(b).join(old, parts, "left_outer")
        // maps (r15) are not equality-comparable in Spark — compare the
        // canonical JSON rendering instead (same change-detection rule,
        // rendered form; entry-order-normalized, ADVICE r15)
        def cmp(c: org.apache.spark.sql.Column,
            dt: org.apache.spark.sql.types.DataType) =
          if (org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(dt)) c else canonicalRender(c, dt)
        val types = (s.schema ++ b.schema).map(f => f.name -> f.dataType).toMap
        val changed = cols.map(c =>
          !(cmp(col(c), types(c)) <=> cmp(col(s"__o_$c"), types(c))))
          .reduce(_ || _)
        val upd = joined.filter(col("__o_in").isNotNull && changed)
        val pre = upd
          .select(parts.map(col) ++ cols.map(c => col(s"__o_$c").as(c)): _*)
          .withColumn("_change_type", lit("update_preimage"))
        val post = upd.select(parts.map(col) ++ cols.map(col): _*)
          .withColumn("_change_type", lit("update_postimage"))
        val ins = joined.filter(col("__o_in").isNull)
          .select(parts.map(col) ++ cols.map(col): _*)
          .withColumn("_change_type", lit("insert"))
        pre.unionByName(post).unionByName(ins)
    }
    writeCdf(spark, p, gen, changes)
  }

  private def writeCdf(
      spark: SparkSession, p: LakePaths, gen: Int,
      changes: DataFrame): Unit = {
    // micros keep the sidecar readable by the streaming CDC source's
    // standalone record reader (INT96 is a legacy shape it refuses).
    // The conf must be set on the frame's OWN session — under
    // foreachBatch the micro-batch frame is bound to a cloned session
    // with isolated conf, and setting the outer session's conf silently
    // leaves the write on INT96 (found by s24).
    microsWrite(changes)(
      _.write.mode("append").parquet(s"${p.cdf}/gen=$gen"))
  }

  /** Run a generation write with the frame's session pinned to
    * TIMESTAMP_MICROS (r17, extended from the cdf sidecars to EVERY
    * lake write): Spark's default is still legacy INT96, whose footer
    * stats are unusable — micros timestamps make `ts` range predicates
    * file- and row-group-skippable and min/max(ts) metadata-answerable,
    * the most common pruning dimension a 100 TB event table has. Old
    * INT96 generations keep reading (the readers handle both; the
    * mixed-generation spec locks it). Since r19 the pin lives on a
    * per-writer CLONE of the frame's own session (which under
    * foreachBatch is already the micro-batch's isolated session — found
    * by s24), with `body` receiving the re-bound frame; `extraConf`
    * rides the same clone for write-scoped conf like dynamic partition
    * overwrite.
    */
  private[graft] def microsWrite[T](df: DataFrame,
      extraConf: (String, String)*)(body: DataFrame => T): T = {
    // r19 (VERDICT r18 #8): the old mutate-restore window on the SHARED
    // session conf raced concurrent same-session writers — writer B's
    // restore mid-flight of writer A's action let a generation stage
    // with INT96 footers, silently defeating the every-lake-write-pins-
    // micros invariant. Pin on a per-writer CLONED session instead: the
    // clone carries the full SessionState (runtime conf incl. session
    // timezone, temp views, registered functions), so plan semantics are
    // unchanged and nothing is ever restored on the shared conf.
    val bridge = org.apache.spark.sql.graftbridge.GraftBridge
    val cloned = bridge.cloneSession(df.sparkSession)
    cloned.conf.set(
      "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    extraConf.foreach { case (k, v) => cloned.conf.set(k, v) }
    body(bridge.ofRows(cloned, bridge.analyzed(df)))
  }

  /** Stage a DELETE: write the survivors' generation for every touched
    * day; a day losing its every row lands in `dropped` (no data dir —
    * the commit row alone removes it from the view).
    */
  private[etl] def stageDelete(
      spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, tsCol: String,
      store: ClaimStore = FsClaimStore,
      cdf: Boolean = false): Staged = {
    val p = LakePaths(dir)
    // record the event-time column once (first write wins) so the
    // read side derives ts->day pruning only from an EXPLICIT
    // declaration, never the bare default guess (ADVICE r17)
    graft.sources.GraftCatalog.recordDeclaredTs(spark, dir, tsCol)
    val b = keys.select(keyParts(keyCol).map(col) :+
      to_date(col(tsCol)).cast("string").as("day"): _*)
    val (base, live) = stagingSnapshot(spark, dir)
    val days = b.select("day").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
      .filter(live.days.contains) // deleting from an absent day is a no-op
    if (days.isEmpty) return Staged(-1, base, Nil, Nil)
    val gen = claimGen(spark, dir, base + 1, store)
    val stored = readDaysRaw(spark, dir, live, days.toSet)
    val delKeys = b.select(keyParts(keyCol).map(col): _*).distinct()
    writeBase(spark, p, gen, toPhysical(
      stored.join(delKeys, keyParts(keyCol), "left_anti"), live))
    if (cdf)
      writeCdf(spark, p, gen,
        stored.join(delKeys, keyParts(keyCol), "left_semi")
          .withColumn("_change_type", lit("delete")))
    val surviving = writtenDays(spark, p, gen)
    Staged(gen, base,
      days.filter(surviving), days.filterNot(surviving), cdf = cdf,
      key = Some(keyCol))
  }

  /** Stage a row-DELTA merge: ONE partitioned append of the (deduped)
    * batch itself under `delta/gen=G` — the base is never read, so the
    * staging cost is O(batch) regardless of how large the touched days
    * are. Rows carry `__op = "u"`; [[readDaysRaw]] folds them over the
    * base at read time (youngest epoch wins per key — identical row
    * semantics to the COW [[merge]], proven by the shared oracles).
    */
  private[etl] def stageMergeDelta(
      spark: SparkSession, dir: String, batch: DataFrame,
      keyCol: String, tsCol: String,
      store: ClaimStore = FsClaimStore,
      cdf: Boolean = false): Staged = {
    val p = LakePaths(dir)
    // record the event-time column once (first write wins) so the
    // read side derives ts->day pruning only from an EXPLICIT
    // declaration, never the bare default guess (ADVICE r17)
    graft.sources.GraftCatalog.recordDeclaredTs(spark, dir, tsCol)
    val b = LakeUpsert.dedupBatch(batch, keyCol)
      .withColumn("day", to_date(col(tsCol)).cast("string"))
      .withColumn("__op", lit("u"))
    val days = b.select("day").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val (base, live) = stagingSnapshot(spark, dir)
    require(live.key.forall(_ == keyCol),
      s"delta key '$keyCol' does not match the table's recorded key " +
        s"'${live.key.get}' at $dir")
    val gen = claimGen(spark, dir, base + 1, store)
    val (viewX, addcols) = allocatePhysicals(b, live)
    val physB = toPhysical(b, viewX)
    microsWrite(physB)(_
      .write.mode("append").partitionBy("day").parquet(s"${p.delta}/gen=$gen"))
    // write-time CDF for a delta commit needs PREIMAGES — one folded
    // read of the touched STORED days (the O(touched days) price a
    // cdf=false delta never pays), and [[commitDelta]] must then abort
    // on an overlapping commit (the images pin the predecessor state)
    if (cdf) {
      val storedDays = days.filter(live.days.contains).toSet
      val stored =
        if (storedDays.isEmpty) None
        else Some(readDaysRaw(spark, dir, live, storedDays))
      stageCdfMerge(spark, p, gen, stored, b.drop("__op"), keyCol)
    }
    Staged(gen, base, days, Nil, cdf = cdf, addcols = addcols)
  }

  /** Stage a row-DELTA delete: the (key, day) markers themselves, `__op =
    * "d"` — O(keys) staging, folded out at read time. A marker for an
    * absent key or day folds to nothing (safe no-op), and deliberately
    * does NOT consult the current view: a marker must also cancel rows
    * whose delta commit lands between this staging and its commit.
    */
  private[etl] def stageDeleteDelta(
      spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, tsCol: String,
      store: ClaimStore = FsClaimStore,
      cdf: Boolean = false): Staged = {
    val p = LakePaths(dir)
    // record the event-time column once (first write wins) so the
    // read side derives ts->day pruning only from an EXPLICIT
    // declaration, never the bare default guess (ADVICE r17)
    graft.sources.GraftCatalog.recordDeclaredTs(spark, dir, tsCol)
    val b = keys
      .select(keyParts(keyCol).map(col) :+
        to_date(col(tsCol)).cast("string").as("day"): _*)
      .distinct()
      .withColumn("__op", lit("d"))
    val days = b.select("day").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val (base, live) = stagingSnapshot(spark, dir)
    require(live.key.forall(_ == keyCol),
      s"delta key '$keyCol' does not match the table's recorded key " +
        s"'${live.key.get}' at $dir")
    val gen = claimGen(spark, dir, base + 1, store)
    microsWrite(b)(_.write.mode("append").partitionBy("day")
      .parquet(s"${p.delta}/gen=$gen"))
    // delete preimages: the folded rows the markers will kill — markers
    // for absent keys/days emit nothing (same suppression as the fold)
    if (cdf) {
      val storedDays = days.filter(live.days.contains).toSet
      if (storedDays.nonEmpty) {
        val stored = readDaysRaw(spark, dir, live, storedDays)
        writeCdf(spark, p, gen,
          stored.join(b.select(keyParts(keyCol).map(col): _*).distinct(),
              keyParts(keyCol), "left_semi")
            .withColumn("_change_type", lit("delete")))
      }
    }
    Staged(gen, base, days, Nil, cdf = cdf)
  }

  /** Stage a POSITIONAL delete (deletion vectors): instead of row
    * markers folded by a key window, the doomed rows are located ONCE at
    * write time and tombstoned by (base file, row position) — flat
    * positional delete files (`dv/gen=G/day=D`: file, pos), the Iceberg
    * positional-delete shape. Staging pays one metadata-augmented read
    * of the touched days' bases plus a key semi-join; every subsequent
    * read then subtracts the tombstones with a broadcast anti-join — no
    * key shuffle, no window, wide rows never move (the write-once vs
    * fold-per-read trade against [[stageDeleteDelta]]). Positions bind
    * to the base's immutable file layout, so the day must be DELTA-FREE
    * (fold truth for a key under pending deltas is not positional) and
    * [[commit]]'s OCC abort covers any overlapping commit — including
    * maintenance, which rewrites the very positions. Prior DVs fold
    * into the location read, so an already-dead row never re-tombstones.
    * A fully-tombstoned day keeps its (empty) view until OPTIMIZE
    * absorbs the DVs and the written-layout census drops it.
    */
  private[etl] def stageDeletePositional(
      spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, tsCol: String,
      store: ClaimStore = FsClaimStore): Staged = {
    val p = LakePaths(dir)
    // record the event-time column once (first write wins) so the
    // read side derives ts->day pruning only from an EXPLICIT
    // declaration, never the bare default guess (ADVICE r17)
    graft.sources.GraftCatalog.recordDeclaredTs(spark, dir, tsCol)
    val b = keys
      .select(keyParts(keyCol).map(col) :+
        to_date(col(tsCol)).cast("string").as("day"): _*)
      .distinct()
    val (base, live) = stagingSnapshot(spark, dir)
    require(live.key.forall(_ == keyCol),
      s"delete key '$keyCol' does not match the table's recorded key " +
        s"'${live.key.getOrElse("")}' at $dir")
    val days = b.select("day").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
      .filter(live.days.contains) // deleting from an absent day is a no-op
    if (days.isEmpty) return Staged(-1, base, Nil, Nil)
    val pending = days.filter(d => live.days(d).deltas.nonEmpty)
    require(pending.isEmpty,
      s"positional delete binds to base row positions, but day(s) " +
        s"${pending.mkString(",")} carry pending row deltas — OPTIMIZE " +
        "(compactDays) first or use deleteKeysDelta")
    val gen = claimGen(spark, dir, base + 1, store)
    val states = days.map(d => d -> live.days(d))
    // ONE pruned pass over the bases (the r13 p29 watch item): the
    // victim keys' [min, max] bounds (one tiny driver row) check
    // against each base file's stats-sidecar key range, so a file that
    // provably holds no victim is never OPENED — after a Z-ORDER on the
    // key this prunes most of the day; and the read infers its schema
    // from ONE footer (no mergeSchema pass over every file: only the
    // key column is projected, and the key's physical shape is stable
    // by the table contract). Positions are per-file (_metadata
    // .row_index), so skipping whole files cannot shift them.
    // the stats-range file pruning below is a SINGLE-key optimization
    // (one [min,max] per part says nothing about tuple membership) —
    // composite keys skip it; the semi-join stays the correctness path
    val soleKey = keyParts(keyCol) match {
      case Seq(k) => Some(k)
      case _ => None
    }
    val physKey = soleKey.map(k => live.physicalFor(k).getOrElse(k))
    // bounds in the key's own family — a long→double cast would round
    // above 2^53 and could skip a file holding the boundary victim
    val integralKey = soleKey.map(k => b.schema(k).dataType).flatMap {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => Some(true)
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => Some(false)
      case _ => None // strings etc: sidecar family is 'x' — no pruning
    }
    val keyBounds: Option[(Boolean, Long, Long, Double, Double)] =
      integralKey.flatMap { isInt =>
        val k = soleKey.get // integralKey is only defined for one part
        val kb =
          if (isInt) b.agg(min(col(k)).cast("long"),
            max(col(k)).cast("long")).head()
          else b.agg(min(col(k)).cast("double"),
            max(col(k)).cast("double")).head()
        if (kb.isNullAt(0) || kb.isNullAt(1)) None
        else if (isInt) Some((true, kb.getLong(0), kb.getLong(1), 0d, 0d))
        else Some((false, 0L, 0L, kb.getDouble(0), kb.getDouble(1)))
      }
    val statsByGen = scala.collection.mutable.Map
      .empty[Int, Option[Map[String, FileStats.FileStat]]]
    def disjoint(g: Int, day: String, file: String): Boolean =
      keyBounds.exists { case (isInt, lmn, lmx, dmn, dmx) =>
        statsByGen.getOrElseUpdate(g,
          FileStats.read(spark, s"${p.data}/gen=$g"))
          .flatMap(_.get(s"day=$day/$file"))
          .flatMap(st => physKey.flatMap(st.cols.get)).exists { c =>
            val dead = (c.family, isInt) match {
              case ("l", true) => c.lmx < lmn || c.lmn > lmx
              case ("d", false) => c.dmx < dmn || c.dmn > dmx
              case ("n", _) => true // all-null key chunk: no victim here
              case _ => false // family mismatch / unusable: never skip
            }
            if (dead) FileStats.skippedFiles.incrementAndGet()
            dead
          }
      }
    val baseFiles = states.flatMap { case (d, s) =>
      val dp = new Path(s"${p.data}/gen=${s.base}/day=$d")
      fsOf(spark, dir).listStatus(dp).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(_.getPath)
        .filterNot(f => disjoint(s.base, d, f.getName))
        .map(_.toString)
    }
    if (baseFiles.isEmpty) return Staged(-1, base, Nil, Nil)
    val baseMeta = spark.read
      .option("basePath", p.data)
      .parquet(baseFiles: _*)
      .select(keyParts(keyCol).map(col) ++ Seq(
        col("day").cast("string").as("day"),
        col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__pos")): _*)
    val priorPaths = states.flatMap { case (d, s) =>
      s.dvs.map(g => s"${p.dv}/gen=$g/day=$d") }
    val liveBase =
      if (priorPaths.isEmpty) baseMeta
      else dropTombstoned(spark, p, baseMeta, priorPaths)
    val tomb = liveBase
      .join(b.select(keyParts(keyCol).map(col): _*).distinct(),
        keyParts(keyCol), "left_semi")
      .select(col("day"), col("__file").as("file"), col("__pos").as("pos"))
    microsWrite(tomb)(_
      .write.mode("append").partitionBy("day").parquet(s"${p.dv}/gen=$gen"))
    Staged(gen, base, days, Nil, dv = true, key = Some(keyCol))
  }

  /** `df` (carrying `__file`, `__pos`) minus the rows the deletion-vector
    * directories `paths` tombstone: ONE anti-join on (file, row
    * position). The tombstones broadcast only while their on-disk
    * footprint stays broadcast-sized (the session's
    * autoBroadcastJoinThreshold, or 64 MB when unset/disabled):
    * positional tombstones are usually tiny, but a DV tier that
    * accumulated a big deleted set must not OOM the driver — past the
    * bound the hint drops and Spark plans a shuffled join on (file, pos)
    * instead (ADVICE-r13-adjacent p29 hygiene: "bound the position
    * broadcast").
    */
  private def dropTombstoned(
      spark: SparkSession, p: LakePaths, df: DataFrame,
      paths: Seq[String]): DataFrame = {
    val fs = fsOf(spark, paths.head)
    val bytes = paths.map { d =>
      val dp = new Path(d)
      if (fs.exists(dp))
        fs.listStatus(dp).filter(_.isFile).map(_.getLen).sum
      else 0L
    }.sum
    val limit = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      .map(_.replace("b", "").replace("B", ""))
      .flatMap(s => scala.util.Try(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)).toOption)
      .getOrElse(64L * 1024 * 1024)
    val tomb = spark.read.option("basePath", p.dv)
      .schema("file STRING, pos BIGINT").parquet(paths: _*)
      .select(col("file").as("__file"), col("pos").as("__pos"))
    // a user who EXPLICITLY disabled broadcasts (threshold <= 0) means
    // it — never force the hint over their head (ADVICE r14); only the
    // unset/unparsable case falls back to the 64 MB bound
    df.join(if (limit > 0L && bytes <= limit) broadcast(tomb) else tomb,
      Seq("__file", "__pos"), "left_anti")
  }

  /** Publish a staged row delta. NO overlap abort, by design: a row
    * delta FOLDS over whatever committed since staging — a concurrent
    * delta serializes by epoch order (youngest wins per key), and a
    * rewrite (merge/OPTIMIZE) that committed since simply becomes this
    * delta's new base at read time. This is what turns the day-granular
    * OCC conflict into true row-level concurrency: two key-disjoint
    * same-day writers BOTH commit, no abort, no whole-day re-stage
    * (VERDICT r12 #1). Only the epoch-number race is retried.
    *
    * EXCEPTION — `staged.cdf`: a delta that staged write-time change
    * images computed its PREIMAGES against the staging snapshot, so any
    * overlapping mutation committed since invalidates them — the commit
    * then aborts like the COW path ([[ConcurrentLakeMutationException]];
    * `retries` on the public APIs re-stages). Content-identical
    * maintenance commits (OPTIMIZE/ZORDER, `maint`) are exempt: they
    * move files, not values, so the staged images stay exact.
    */
  private[etl] def commitDelta(
      spark: SparkSession, dir: String, staged: Staged,
      keyCol: String, tag: String = ""): Int = {
    val p = LakePaths(dir)
    if (staged.days.isEmpty) return staged.baseEpoch
    val touched = staged.days.toSet
    while (true) {
      val rows = IncrementalDedup.Manifest.readFrom(
        spark, p.manifest, staged.baseEpoch + 1)
      if (staged.cdf) {
        val overlapping = rows.filter { case (_, kv) =>
          !kv.contains("maint") &&
            ((uncsv(kv.getOrElse("days", "")) ++
              uncsv(kv.getOrElse("dropped", ""))).exists(touched) ||
              // a column-mapping commit (rename/drop) since staging means
              // the staged sidecar carries pre-mapping column names —
              // readChangesCdf's unionByName would split the renamed
              // column into two half-null halves across the window
              // (ADVICE r13); day-disjointness cannot save it, so abort
              kv.contains("rename") || kv.contains("dropcol"))
        }
        if (overlapping.nonEmpty)
          throw new ConcurrentLakeMutationException(
            s"epoch(s) ${overlapping.map(_._1).mkString(",")} committed " +
              s"overlapping day(s) since this cdf delta staged against " +
              s"epoch ${staged.baseEpoch} — its change preimages are " +
              s"stale; staged gen ${staged.gen} abandoned (vacuum " +
              "reclaims it); re-run the mutation")
      }
      val e = (rows.map(_._1).maxOption.getOrElse(staged.baseEpoch)) + 1
      if (IncrementalDedup.Manifest.writeIfAbsent(spark, p.manifest, e, Seq(
        "deltagen" -> staged.gen.toString,
        "days" -> csv(staged.days),
        "key" -> keyCol) ++
        (if (tag.nonEmpty) Seq("tag" -> tag) else Nil) ++
        (if (staged.cdf) Seq("cdf" -> "1") else Nil) ++
        (if (staged.addcols.nonEmpty) Seq("addcol" ->
          staged.addcols.map { case (ph, l) => s"$ph>$l" }.mkString(","))
         else Nil)))
        return e
    }
    -1 // unreachable
  }

  /** MERGE-ON-READ upsert: commits the batch as a row-delta generation
    * instead of rewriting touched days. O(batch) write cost, no conflict
    * abort ever ([[commitDelta]]); readers fold deltas over the base
    * until [[compactDays]] absorbs them back into one-file-per-day
    * bases. Same row semantics as [[merge]] — the p23 entry shares p13's
    * oracle verbatim. Returns the committed epoch.
    */
  def mergeDelta(
      spark: SparkSession, dir: String, batch: DataFrame,
      keyCol: String, tsCol: String,
      store: ClaimStore = FsClaimStore,
      cdf: Boolean = false,
      retries: Int = 0): Int = {
    // CHECK constraints fuse into the staging plan as raising per-row
    // filters (r17 wave 3) — covers SQL INSERT / DataFrame appends /
    // CTAS; zero extra passes, no-op without declarations
    val checked = LakeChecks.applyTo(spark, dir, batch)
    withRebase(retries) { () =>
      commitDelta(spark, dir,
        stageMergeDelta(spark, dir, checked, keyCol, tsCol, store, cdf),
        keyCol)
    }
  }

  /** MERGE-ON-READ delete: commits (key, day) markers as a row-delta
    * generation — O(keys) cost, no abort; folded out at read. Same row
    * semantics as [[deleteKeys]] (p25 shares p15's oracle). Returns the
    * committed epoch.
    */
  def deleteKeysDelta(
      spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, tsCol: String,
      store: ClaimStore = FsClaimStore,
      cdf: Boolean = false,
      retries: Int = 0): Int =
    withRebase(retries) { () =>
      commitDelta(spark, dir,
        stageDeleteDelta(spark, dir, keys, keyCol, tsCol, store, cdf), keyCol)
    }

  /** Staging half of an EXTERNALLY-WRITTEN delta commit (the DSv2
    * row-level MERGE path): ONE staging snapshot + a claimed generation
    * whose `delta/gen=<gen>/day=<d>/part-*` files the caller's
    * DISTRIBUTED writers fill directly (per-task parquet, no driver
    * collect — the shape that survives a 1000-executor merge). Returns
    * (gen, baseEpoch, the staging view) — the view is what writers must
    * bind physical column names against, the same state the generation
    * was claimed under. Publish via [[commitExternalDelta]]; an
    * abandoned gen is unreferenced and vacuum reclaims it.
    */
  private[graft] def stageExternalDelta(
      spark: SparkSession, dir: String,
      keyCol: String): (Int, Int, LakeState) = {
    val (base, live) = stagingSnapshot(spark, dir)
    require(live.key.forall(_ == keyCol),
      s"delta key '$keyCol' does not match the table's recorded key " +
        s"'${live.key.getOrElse("")}' at $dir")
    (claimGen(spark, dir, base + 1, FsClaimStore), base, live)
  }

  /** Commit half of [[stageExternalDelta]]: publish the filled
    * generation exactly like [[commitDelta]] — row-delta semantics, so
    * NO overlap abort (concurrent writers serialize by epoch order).
    * A non-empty `tag` makes the commit IDEMPOTENT under redelivery
    * (the streaming-sink contract, same idea as the incremental index's
    * append tags): if any committed epoch already carries it, this call
    * is a no-op returning that epoch — a restarted micro-batch replays
    * harmlessly. The tag check is [[tagEpoch]]: O(rows since the last
    * checkpoint), because checkpoints fold tag high-waters — a manifest
    * checkpoint still cannot erase redelivery protection. Returns the
    * committed epoch (or `baseEpoch` for an empty merge).
    */
  private[graft] def commitExternalDelta(
      spark: SparkSession, dir: String, gen: Int, baseEpoch: Int,
      days: Seq[String], keyCol: String, tag: String = ""): Int = {
    if (tag.nonEmpty) {
      // tags ride manifest rows (properties lines) and checkpoint txn
      // CSV — a separator inside one would corrupt both folds
      require(!tag.contains(",") && !tag.contains("\n") &&
        !tag.contains("="),
        s"idempotence tag '$tag' must not contain ',', '=' or newlines")
      // ONE committedRows read + fold per tagged commit, shared between
      // the redelivery check and the monotone check (VERDICT r16 #8 —
      // this is the streaming sink's per-micro-batch path)
      val rows = committedRows(spark, dir)
      lazy val st = rows.foldLeft(EmptyState) {
        case (m, (_, kv)) => applyRow(m, kv)
      }
      val prior = tagEpochIn(spark, dir, rows, () => st, tag)
      if (prior.isDefined) return prior.get
      // Monotone-version contract, enforced at COMMIT time (ADVICE r15):
      // checkpoint folding makes "hw >= v" mean "already delivered", which
      // is only sound if per-app versions strictly increase. A NEW tag at
      // or below the app's committed high-water — reachable only while
      // exact rows can still prove no such tag was committed — is a
      // producer bug, not a redelivery: reject it loudly instead of
      // silently skipping the data. Also traps the bare-`foo` vs `foo-0`
      // alias (both split to version 0).
      val (app, v) = splitTag(tag)
      st.txns.get(app).filter(_ >= v).foreach { hw =>
        sys.error(
          s"idempotence tag '$tag' violates the monotone-version " +
            s"contract at $dir: app '$app' already committed high-water " +
            s"$hw >= $v and no exact '$tag' row exists — per-app tag " +
            "versions must strictly increase (note: bare 'foo' and " +
            "'foo-0' alias to version 0)")
      }
    }
    commitDelta(spark, dir,
      Staged(gen, baseEpoch, days.distinct.sorted, Nil), keyCol, tag)
  }

  /** The epoch a redelivery tag already committed under, or None — the
    * idempotence check, BOUNDED (VERDICT r14 #7): reads O(rows since the
    * last checkpoint), because checkpoints fold per-app tag high-waters
    * (`txns`). A tag ABSORBED by a checkpoint reports the checkpoint's
    * own epoch (its exact row number is gone — callers only need
    * "committed", never the number). Protection survives checkpointing
    * BY CONSTRUCTION now, not by paying a full scan per micro-batch; a
    * pre-r15 checkpoint (no `txns` key) still falls back to the full
    * read, so no history can silently absorb a tag.
    */
  private[graft] def tagEpoch(
      spark: SparkSession, dir: String, tag: String): Option[Int] = {
    val rows = committedRows(spark, dir)
    lazy val st = rows.foldLeft(EmptyState) {
      case (m, (_, kv)) => applyRow(m, kv)
    }
    tagEpochIn(spark, dir, rows, () => st, tag)
  }

  /** [[tagEpoch]] against an already-read row window (and lazily-folded
    * state), so [[commitExternalDelta]] pays ONE `committedRows` fold per
    * tagged commit instead of two (VERDICT r16 #8).
    */
  private def tagEpochIn(
      spark: SparkSession, dir: String,
      rows: Seq[(Int, Map[String, String])], st: () => LakeState,
      tag: String): Option[Int] = {
    val p = LakePaths(dir)
    rows.collectFirst { case (e, kv) if kv.get("tag").contains(tag) => e }
      .orElse {
        val (app, v) = splitTag(tag)
        if (st().txnsComplete)
          // ONLY the checkpoint row's own folded txns may answer "v ≤
          // high-water ⟹ committed": its exact rows are genuinely gone.
          // A tag committed AFTER the checkpoint is still visible above,
          // so answering from the live fold would alias a NEW
          // out-of-order tag to "already committed" — the data-losing
          // silent skip ADVICE r15 flags; commitExternalDelta now
          // rejects that case loudly instead.
          rows.collectFirst {
            case (_, kv) if kv.contains("snapshot") && kv.contains("txns") =>
              parseTxns(kv("txns"))
          }.getOrElse(Map.empty[String, Long])
            .get(app).filter(_ >= v)
            .map(_ => checkpointEpoch(spark, dir))
        else
          IncrementalDedup.Manifest.read(spark, p.manifest)
            .collectFirst { case (e, kv) if kv.get("tag").contains(tag) => e }
      }
  }

  /** Drop whole days (default: ALL → TRUNCATE) as a MANIFEST-ONLY
    * commit: no data file is read or written — the commit row's
    * `dropped` list removes the days from the live view, history keeps
    * them reachable for time travel, and vacuum reclaims them on the
    * history retention. O(1) data cost at any table size; the same OCC
    * overlap rules as every mutation (a concurrent writer to a dropped
    * day aborts one side). CDC note: a drop commits no change sidecar,
    * so a write-time feed window containing it fails LOUDLY in
    * [[readChangesCdf]] — CDC lakes should DELETE keys (cdf = true)
    * instead of dropping days.
    */
  def dropDays(
      spark: SparkSession, dir: String, days: Seq[String] = Nil,
      store: ClaimStore = FsClaimStore,
      retries: Int = 0): Seq[String] =
    withRebase(retries) { () =>
      val (base, live) = stagingSnapshot(spark, dir)
      val victims =
        (if (days.isEmpty) live.days.keys.toSeq
         else days.filter(live.days.contains)).sorted
      if (victims.isEmpty) Nil
      else {
        val gen = claimGen(spark, dir, base + 1, store)
        commit(spark, dir, Staged(gen, base, Nil, victims))
        victims
      }
    }

  /** RESTORE the table to a committed `epoch` (the Delta `RESTORE TABLE
    * ... TO VERSION AS OF` verb): ONE manifest row replaces the live day
    * map — and the column-mapping / type-widening bindings — with the
    * historical view's. Metadata-only rollback: no data file is read,
    * copied, or rewritten at any table size. History stays append-only,
    * so the mistake AND the rollback are both auditable (`.history`
    * shows `restore`), time travel to the undone epochs keeps working
    * until vacuum's history retention takes their generations, and the
    * generations the restore re-enlivens are live again for vacuum
    * liveness by construction (the manifest fold IS the liveness
    * source — [[vacuumPlan]] re-derives both sets from it).
    *
    * Idempotence protection does NOT roll back: the row carries the
    * CURRENT tag high-waters forward, so a streaming sink's exactly-once
    * guard survives — re-delivering a pre-restore micro-batch is still
    * refused. The rollback is of DATA, never of the commit protocol.
    *
    * Loud failures: a target view referencing vacuumed generations
    * (missing dirs enumerated — the Delta RESTORE-vs-VACUUM contract),
    * and ANY commit racing the restore: a restore replaces the whole
    * view, so it conflicts with every concurrent mutation and no rebase
    * is sound ([[ConcurrentLakeMutationException]], re-run by hand).
    * CDC: a restore commits no change sidecar — a write-time feed window
    * containing it fails loudly in [[readChangesCdf]]/[[cdfGens]] (a
    * feed cannot represent a rollback; use [[readChanges]] snapshot diff
    * or restart the feed past the restore epoch).
    */
  def restoreTo(spark: SparkSession, dir: String, epoch: Int): Int =
    restoreToImpl(spark, dir, epoch, () => ())

  /** [[restoreTo]] with a test seam between the staging read and the
    * commit loop — how the spec injects a racing commit to falsify the
    * "restore conflicts with everything" abort deterministically (the
    * restore has no staged-generation phase to split like merge's).
    */
  private[etl] def restoreToImpl(
      spark: SparkSession, dir: String, epoch: Int,
      afterRead: () => Unit): Int = {
    val p = LakePaths(dir)
    val all = IncrementalDedup.Manifest.read(spark, p.manifest)
    val maxE = all.map(_._1).maxOption.getOrElse(-1)
    require(maxE >= 0, s"nothing to restore at $dir (no committed epoch)")
    require(all.exists(_._1 == epoch),
      s"epoch $epoch is not a committed epoch of $dir " +
        s"(history spans 0..$maxE)")
    val target = all.filter(_._1 <= epoch)
      .foldLeft(EmptyState) { case (m, (_, kv)) => applyRow(m, kv) }
    val current = all
      .foldLeft(EmptyState) { case (m, (_, kv)) => applyRow(m, kv) }
    val f = fsOf(spark, dir)
    val missing = target.days.toSeq.sortBy(_._1).flatMap { case (d, s) =>
      (if (s.base >= 0) Seq(s"${p.data}/gen=${s.base}/day=$d") else Nil) ++
        s.deltas.map(g => s"${p.delta}/gen=$g/day=$d") ++
        s.dvs.map(g => s"${p.dv}/gen=$g/day=$d")
    }.filterNot(path => f.exists(new Path(path)))
    require(missing.isEmpty,
      s"cannot restore $dir to epoch $epoch: ${missing.size} generation " +
        s"dir(s) its view references were vacuumed — " +
        missing.take(4).mkString(", ") +
        (if (missing.size > 4) ", …" else ""))
    afterRead()
    while (true) {
      val later =
        IncrementalDedup.Manifest.readFrom(spark, p.manifest, maxE + 1)
      if (later.nonEmpty)
        throw new ConcurrentLakeMutationException(
          s"epoch(s) ${later.map(_._1).mkString(",")} committed while the " +
            s"restore to $epoch staged against epoch $maxE — a restore " +
            "replaces the whole view, so it conflicts with every " +
            "concurrent mutation; re-run against the new head")
      if (IncrementalDedup.Manifest.writeIfAbsent(spark, p.manifest,
        maxE + 1, Seq(
          "restore" -> epoch.toString,
          "snapshot" -> renderSnapshot(target),
          // ALWAYS present, even when empty: the restore must RESET the
          // bindings to the historical ones — an absent snapshotcolmap
          // would carry the CURRENT mapping over the historical days
          "snapshotcolmap" -> renderColmap(target.colmap),
          "snapshotwiden" -> renderWiden(target.widened)) ++
          (if (current.txnsComplete)
            Seq("txns" -> renderTxns(current.txns)) else Nil) ++
          current.key.orElse(target.key).map("key" -> _).toSeq))
        return maxE + 1
      // lost the epoch race: re-read — the winner now shows in `later`
    }
    -1 // unreachable
  }

  /** CONVERT an existing PLAIN day-partitioned parquet directory
    * (`src/day=YYYY-MM-DD/part-*.parquet` — e.g. a prior
    * `export_snapshot`, or any Spark `partitionBy("day")` output) into
    * this lake's first generation — the Delta `CONVERT TO DELTA` shape.
    * The whole source dir becomes `data/gen=G` via ONE filesystem
    * rename (zero data rewrite, O(1) data cost at any size; the source
    * path ceases to exist — conversion is a MOVE), the generation gets
    * its `_filestats.tsv` sidecar (footer reads only, distributed when
    * the file set is wide), and a normal manifest commit publishes
    * every adopted day atomically. File-skipping, metadata-agg and
    * LIMIT pushdown then work on adopted files exactly as on written
    * ones.
    *
    * With `validate = true` (default) one aggregate scan checks the two
    * invariants every later MERGE relies on and plain parquet cannot
    * promise: `keyCol` is unique table-wide (upsert-by-key needs one
    * live row per key) and each row's `day` dir equals
    * `to_date(tsCol)` under THIS session's zone (key→day routing).
    * The scan runs against the SOURCE path, so a validation failure
    * leaves the source untouched. `validate = false` is the caller's
    * promise at 100 TB scale.
    *
    * CDC note: like [[dropDays]], the adopting commit carries no change
    * sidecar — feed windows containing it fail loudly in [[cdfGens]].
    */
  def adoptParquet(
      spark: SparkSession, dir: String, srcDir: String,
      keyCol: String, tsCol: String,
      validate: Boolean = true,
      store: ClaimStore = FsClaimStore): (Int, Seq[String]) = {
    val p = LakePaths(dir)
    val f = fsOf(spark, dir)
    require(maxEpoch(spark, dir) < 0,
      s"$dir already has committed epochs — adoptParquet only births a " +
        "table; MERGE new data into an existing one instead")
    val src = new Path(srcDir)
    require(f.exists(src) && f.getFileStatus(src).isDirectory,
      s"conversion source $srcDir does not exist (or is not a directory)")
    require(!f.exists(new Path(srcDir, "manifest")),
      s"$srcDir already looks like a graft lake (has manifest/) — " +
        "read it directly instead of converting")
    val kids = f.listStatus(src).toSeq
    val strays = kids.filter { st =>
      val n = st.getPath.getName
      !(n.startsWith("_") || n.startsWith(".")) &&
        !(st.isDirectory && DayLeaf.matches(n))
    }
    require(strays.isEmpty,
      s"conversion source $srcDir must contain only day=YYYY-MM-DD " +
        s"directories (plus _/. metadata files) — found " +
        strays.map(_.getPath.getName).sorted.take(6).mkString(", "))
    val dayDirs = kids
      .filter(st => st.isDirectory && DayLeaf.matches(st.getPath.getName))
    require(dayDirs.nonEmpty, s"no day=YYYY-MM-DD directories at $srcDir")
    val files = dayDirs.flatMap(d => f.listStatus(d.getPath).filter { st =>
      val n = st.getPath.getName
      !(n.startsWith("_") || n.startsWith("."))
    })
    def rel(st: org.apache.hadoop.fs.FileStatus) =
      s"${st.getPath.getParent.getName}/${st.getPath.getName}"
    val badFiles = files.filterNot(_.getPath.getName.startsWith("part-"))
      .map(rel)
    // the lake's listings (stats staging, DSv2 planning) only see
    // `part-*` data files — an adopted file outside that convention
    // would silently vanish from reads, so refuse it up front
    require(badFiles.isEmpty,
      s"data files must be named part-* (Spark's own convention) — " +
        s"found ${badFiles.sorted.take(6).mkString(", ")} at $srcDir")
    // readers take a generation's schema from ONE of its footers
    // (genSchema), so every adopted file must carry the same columns
    val fileSchemas = files.filter(_.getLen > 0).map(st => st ->
      GraftBridge.parquetFileSchema(spark, st, spark.sparkContext.hadoopConfiguration))
    val schemas = fileSchemas.map { case (st, sc) => rel(st) -> sc.simpleString }
    val mixed = schemas.find(_._2 != schemas.head._2)
    require(mixed.isEmpty, s"conversion source $srcDir mixes file " +
      s"schemas: ${schemas.head} vs ${mixed.get} — rewrite it under one first")
    fileSchemas.headOption.foreach(f => requireNoGenColumn(f._2.fieldNames.toSeq, dir))
    val days = dayDirs.map(_.getPath.getName.stripPrefix("day="))
      .sorted
    if (validate) {
      require(fileSchemas.nonEmpty, s"no parquet data file under $srcDir")
      val rows = spark.read.schema(withDayColumn(fileSchemas.head._2))
        .parquet(srcDir)
      require(rows.columns.contains(keyCol) && rows.columns.contains(tsCol),
        s"key '$keyCol' / ts '$tsCol' must be columns of the source " +
          s"(found ${rows.columns.toSeq.filterNot(_ == "day")})")
      val bad = rows
        .groupBy(col(keyCol))
        .agg(count(lit(1)).as("__n"),
          countDistinct(col("day")).as("__days"),
          sum(when(to_date(col(tsCol)) =!= col("day").cast("date"), 1L)
            .otherwise(0L)).as("__misrouted"))
        .filter(col("__n") > 1 || col("__days") > 1 || col("__misrouted") > 0)
        .limit(5)
        .collect()
      require(bad.isEmpty,
        "conversion validation failed (duplicate keys, keys spanning " +
          "days, or day dirs not matching to_date(ts) in this session " +
          s"zone) — first offending keys: ${bad.mkString("; ")}. Fix the " +
          "source or pass validate = false to promise these invariants")
    }
    val gen = claimGen(spark, dir, 0, store)
    f.mkdirs(new Path(p.data))
    val genDir = new Path(s"${p.data}/gen=$gen")
    require(f.rename(src, genDir),
      s"rename $srcDir -> $genDir failed (cross-filesystem conversion " +
        "is not supported — distcp the source next to the table first)")
    FileStats.stage(spark, genDir.toString)
    val e = commit(spark, dir, Staged(gen, -1, days, Nil,
      key = Some(keyCol), extra = Seq("convert" -> "1")))
    (e, days)
  }

  /** Publish a staged mutation: ONE conditional manifest-row create under
    * the OCC loop (see object scaladoc). Returns the committed epoch.
    */
  private[etl] def commit(
      spark: SparkSession, dir: String, staged: Staged): Int = {
    val p = LakePaths(dir)
    val touched = (staged.days ++ staged.dropped).toSet
    if (touched.isEmpty) return staged.baseEpoch
    while (true) {
      // read EXACTLY the conflict window (epochs after the staged base) —
      // never the checkpoint-pruned view: a checkpoint committed inside
      // the window would advance the pointer past unseen mutation rows
      // and blind the overlap check (lost update)
      val rows = IncrementalDedup.Manifest.readFrom(
        spark, p.manifest, staged.baseEpoch + 1)
      val overlapping = rows.filter { case (_, kv) =>
        (uncsv(kv.getOrElse("days", "")) ++ uncsv(kv.getOrElse("dropped", "")))
          .exists(touched)
      }
      if (overlapping.nonEmpty)
        throw new ConcurrentLakeMutationException(
          s"epoch(s) ${overlapping.map(_._1).mkString(",")} committed " +
            s"overlapping day(s) since this mutation staged against epoch " +
            s"${staged.baseEpoch} — staged gen ${staged.gen} abandoned " +
            "(vacuum reclaims it); re-run the mutation")
      val e = (rows.map(_._1).maxOption.getOrElse(staged.baseEpoch)) + 1
      if (IncrementalDedup.Manifest.writeIfAbsent(spark, p.manifest, e, Seq(
        (if (staged.dv) "dvgen" else "gen") -> staged.gen.toString,
        "days" -> csv(staged.days),
        "dropped" -> csv(staged.dropped)) ++
        (if (staged.cdf) Seq("cdf" -> "1") else Nil) ++
        (if (staged.maint) Seq("maint" -> "1") else Nil) ++
        (if (staged.addcols.nonEmpty) Seq("addcol" ->
          staged.addcols.map { case (p, l) => s"$p>$l" }.mkString(","))
         else Nil) ++
        staged.key.map("key" -> _).toSeq ++ staged.extra))
        return e
      // lost the epoch race to a non-overlapping commit: re-check, retry
    }
    -1 // unreachable
  }

  /** Auto-rebase loop shared by [[merge]] and [[deleteKeys]]: on an OCC
    * abort, RE-STAGE against the fresh snapshot and retry (`retries`
    * times). This is the sound way to serialize concurrent writers under
    * whole-day copy-on-write — re-deriving the generation from the
    * winner's committed state — NOT a finer conflict check: even
    * key-disjoint commits to one day don't commute here, because the
    * loser's generation was built from the pre-commit day image and
    * would silently undo the winner's rows. The aborted attempt's
    * generation becomes vacuum fodder.
    */
  private def withRebase[T](retries: Int)(attempt: () => T): T = {
    var left = retries
    while (true) {
      try return attempt()
      catch {
        case e: ConcurrentLakeMutationException =>
          if (left <= 0) throw e
          left -= 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Snapshot-atomic MERGE (upsert) keyed by `keyCol`, day-partitioned by
    * `tsCol`. Same row semantics as [[LakeUpsert.merge]] (batch wins on
    * key collision, duplicate batch keys collapse greatest-struct-wins,
    * key → day immutable), plus: the whole touched-day set becomes
    * visible in one commit, idempotent re-run from any crash, OCC abort
    * on a concurrent overlapping mutation — or, with `retries > 0`,
    * automatic re-stage against the winner's snapshot ([[withRebase]]).
    */
  def merge(
      spark: SparkSession, dir: String, batch: DataFrame,
      keyCol: String, tsCol: String,
      store: ClaimStore = FsClaimStore,
      retries: Int = 0,
      cdf: Boolean = false): Seq[String] = {
    val checked = LakeChecks.applyTo(spark, dir, batch) // CHECKs, r17 w3
    withRebase(retries) { () =>
      val staged = stageMerge(spark, dir, checked, keyCol, tsCol, store, cdf)
      commit(spark, dir, staged)
      staged.days
    }
  }

  /** Snapshot-atomic DELETE of `keys` ((keyCol, tsCol) pairs). A fully
    * emptied day disappears from the live view in the same commit.
    * `retries` rebases on OCC aborts like [[merge]].
    */
  def deleteKeys(
      spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, tsCol: String,
      store: ClaimStore = FsClaimStore,
      retries: Int = 0,
      cdf: Boolean = false): Seq[String] =
    withRebase(retries) { () =>
      val staged = stageDelete(spark, dir, keys, keyCol, tsCol, store, cdf)
      commit(spark, dir, staged)
      staged.days ++ staged.dropped
    }

  /** DELETE `keys` as DELETION VECTORS ([[stageDeletePositional]]):
    * positional tombstones written once, subtracted at read by a
    * broadcast anti-join — the delete representation for wide-row
    * tables where a key-window fold per read is the dominant cost.
    * Requires the touched days delta-free; `retries` rebases on OCC
    * aborts like [[merge]]. Returns the touched days.
    */
  def deleteKeysPositional(
      spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, tsCol: String,
      store: ClaimStore = FsClaimStore,
      retries: Int = 0): Seq[String] =
    withRebase(retries) { () =>
      val staged = stageDeletePositional(spark, dir, keys, keyCol, tsCol, store)
      commit(spark, dir, staged)
      staged.days
    }

  /** RENAME a column: a MANIFEST-ONLY commit (VERDICT r12 #3) — zero
    * data files are touched; the physical parquet name keeps carrying
    * the values and the mapping moves, so current reads surface `to`,
    * while TIME TRAVEL to a pre-rename epoch surfaces `from` (the
    * mapping folds with the history). Batches merged after the rename
    * use the new name; their values land in the SAME physical column.
    * The table key and the partition column cannot be renamed (folding
    * and pruning bind to them). Returns the committed epoch.
    */
  def renameColumn(
      spark: SparkSession, dir: String, from: String, to: String): Int =
    commitColumnOp(spark, dir, "rename", s"$from>$to") { live =>
      require(from != to, "rename: from == to")
      Seq(from, to).foreach { n =>
        require(!n.contains(">") && !n.contains(",") && n != "-" &&
          n.nonEmpty, s"unsupported column name '$n'")
      }
      require(live.key.forall(k =>
        !keyParts(k).contains(from) && !keyParts(k).contains(to)),
        "renaming the table key is unsupported (delta folding binds to it)")
      require(from != "day" && to != "day",
        "the partition column cannot be renamed")
      // the mapping alone cannot prove existence (identity names are
      // implicit) — one footer-read of the live view settles both checks
      val cols =
        if (live.nonEmpty) readView(spark, dir, live).columns.toSet
        else Set.empty[String]
      require(cols.contains(from), s"no live column '$from' to rename")
      require(!cols.contains(to),
        s"a live column named '$to' already exists")
    }

  /** ADD a column: a MANIFEST-ONLY commit (r15, VERDICT r14 #3 — the
    * SQL `ALTER TABLE ADD COLUMN` seam) that binds the logical name to
    * a physical parquet column BEFORE any data carries it: the name
    * itself when it is free (identity), or a FRESH `name__k` when a
    * rename/drop retired it — exactly the allocation the implicit
    * Scala evolution path (p18) performs when the first batch arrives,
    * hoisted to an explicit declaration. Zero data files are touched;
    * old rows read as null (a column absent from a file is null, the
    * standard evolution rule) and time travel BEFORE this epoch does
    * not see the column. Returns (committed epoch, physical name).
    */
  def addColumnBinding(
      spark: SparkSession, dir: String, name: String): (Int, String) = {
    require(!name.contains(">") && !name.contains(",") && name != "-" &&
      name.nonEmpty, s"unsupported column name '$name'")
    require(name != "day", "the partition column always exists")
    val p = LakePaths(dir)
    while (true) {
      // the allocation re-derives per OCC attempt against the freshest
      // fold, like every column commit (a lost race could have taken
      // the physical name this attempt chose)
      val (base, live) = stagingSnapshot(spark, dir)
      val cols =
        if (live.nonEmpty) readView(spark, dir, live).columns.toSet
        else Set.empty[String]
      require(!cols.contains(name), s"a live column named '$name' " +
        "already exists")
      val phys = live.physicalFor(name).filterNot(shadowed).getOrElse {
        val taken = live.colmap.keySet + name
        Iterator.from(2).map(k => s"${name}__$k").find(!taken(_)).get
      }
      if (IncrementalDedup.Manifest.writeIfAbsent(
        spark, p.manifest, base + 1, Seq("addcol" -> s"$phys>$name")))
        return (base + 1, phys)
    }
    (-1, null) // unreachable
  }

  /** DROP a column: a MANIFEST-ONLY commit — the physical column stays
    * in the files (history still time-travels to it) but every current
    * read masks it out. Re-adding the same logical name later allocates
    * a FRESH physical column, so the dropped values never resurface.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Int =
    commitColumnOp(spark, dir, "dropcol", name) { live =>
      require(live.key.forall(k => !keyParts(k).contains(name)),
        "dropping the table key is unsupported")
      require(name != "day", "the partition column cannot be dropped")
      require(live.nonEmpty &&
        readView(spark, dir, live).columns.contains(name),
        s"no live column '$name' to drop")
    }

  /** WIDEN a column's type: a MANIFEST-ONLY commit (no data file is read
    * or written). Supported widenings — the order-embedding upcasts the
    * parquet reader performs natively with an explicit read schema:
    * int→bigint, float→double, decimal(p,s)→decimal(p+k,s). Files
    * written before the widen keep their narrow physical type and every
    * reader upcasts; files written after carry the widened type. Time
    * travel to a pre-widen epoch folds no widen row and reads the OLD
    * type (the same contract as rename/drop: column metadata is part of
    * the pinned view). Key/ts/partition columns refuse — their types
    * thread through rowId contracts and day derivation.
    */
  def widenColumn(
      spark: SparkSession, dir: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Int = {
    val p = LakePaths(dir)
    while (true) {
      val (base, live) = stagingSnapshot(spark, dir)
      require(live.nonEmpty, s"no committed snapshot at $dir")
      require(live.key.forall(k => !keyParts(k).contains(name)),
        "widening the table key is unsupported")
      require(name != "day", "the partition column cannot be widened")
      val phys = live.physicalFor(name).getOrElse(sys.error(
        s"no live column '$name' to widen"))
      val cur = readView(spark, dir, live).schema.fields
        .find(_.name == name).getOrElse(sys.error(
          s"no live column '$name' to widen")).dataType
      require(isWidening(cur, newType),
        s"ALTER COLUMN '$name' TYPE only WIDENS: ${cur.simpleString} -> " +
          s"${newType.simpleString} is not a supported widening " +
          "(int->bigint, float->double, decimal(p,s)->decimal(p+k,s))")
      if (IncrementalDedup.Manifest.writeIfAbsent(spark, p.manifest,
        base + 1, Seq("widen" -> s"$phys>${newType.simpleString}")))
        return base + 1
    }
    -1 // unreachable
  }

  /** The lossless order-preserving upcasts the widening commit accepts. */
  private[graft] def isWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = (from, to) match {
    case (org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.LongType) => true
    case (org.apache.spark.sql.types.FloatType,
          org.apache.spark.sql.types.DoubleType) => true
    case (f: org.apache.spark.sql.types.DecimalType,
          t: org.apache.spark.sql.types.DecimalType) =>
      t.scale == f.scale && t.precision > f.precision
    case _ => false
  }

  /** Shared OCC loop for metadata-only column commits: validate against
    * the freshest fold, attempt the next epoch, re-validate on a lost
    * race. Day-wise these rows conflict with nothing.
    */
  private def commitColumnOp(
      spark: SparkSession, dir: String, field: String, value: String)(
      validate: LakeState => Unit): Int = {
    val p = LakePaths(dir)
    while (true) {
      val (base, live) = stagingSnapshot(spark, dir)
      validate(live)
      val e = base + 1
      if (IncrementalDedup.Manifest.writeIfAbsent(
        spark, p.manifest, e, Seq(field -> value)))
        return e
    }
    -1 // unreachable
  }

  /** OPTIMIZE (small-file maintenance): rewrite the live generations of
    * `days` (default: every live day) into fresh one-file-per-day
    * generations, content-identical, committed atomically through the
    * SAME OCC loop as any mutation. Conflict behavior is the symmetric
    * OCC rule: whichever of a concurrent mutation and a compaction
    * commits SECOND aborts loudly and re-runs — a compaction losing costs
    * only its rewrite; a mutation losing re-runs as its standard recovery
    * path (so schedule compaction off the ingest peak, exactly as you
    * would a table-format OPTIMIZE). Because content is unchanged, the
    * rewrite is CDC-silent ([[readChanges]] emits nothing for a
    * compacted-only window) — spec-locked. This is what a streaming
    * ingest needs after months of per-batch commits: day directories
    * accumulate one small file set per touching batch, and the read path
    * pays the file-open tax until rewritten.
    */
  /** The days an auto-OPTIMIZE should target: at least `minLayers`
    * merge-on-read layers (row deltas + deletion vectors) stacked on the
    * day, i.e. the days actually paying the fold tax at read time.
    * Manifest-only — no listing, no data file touched — so a 100k-day
    * table answers from the already-folded view. The selection policy
    * for `CALL graft.system.optimize(min_layers => N)`: at scale,
    * compacting EVERYTHING rewrites the table; compacting the
    * fragmented set rewrites only what reads slowly.
    */
  def fragmentedDays(
      spark: SparkSession, dir: String, minLayers: Int): Seq[String] = {
    require(minLayers >= 1, s"min_layers must be >= 1, got $minLayers")
    liveView(spark, dir).days.collect {
      case (d, s) if s.deltas.size + s.dvs.size >= minLayers => d
    }.toSeq.sorted
  }

  /** The second fragmentation axis: days whose BASE generation holds at
    * least `minFiles` data files (a wide-task write, or a pre-compaction
    * ingest's accumulation) — the days paying the file-open tax rather
    * than the fold tax. Answered from the `_filestats.tsv` sidecars
    * (ONE small read per live base generation, never a data listing);
    * a sidecar-less generation (pre-stats lake) falls back to one
    * directory listing for exactly its days.
    */
  def smallFileDays(
      spark: SparkSession, dir: String, minFiles: Int): Seq[String] = {
    require(minFiles >= 2, s"min_files must be >= 2, got $minFiles")
    val p = LakePaths(dir)
    val live = liveView(spark, dir)
    val f = fsOf(spark, dir)
    val byGen = live.days.toSeq.collect {
      case (d, s) if s.base >= 0 => (s.base, d)
    }.groupBy(_._1)
    val counts = scala.collection.mutable.Map.empty[String, Int]
    byGen.foreach { case (g, dayPairs) =>
      val genDir = s"${p.data}/gen=$g"
      val liveHere = dayPairs.map(_._2).toSet
      FileStats.read(spark, genDir) match {
        case Some(stats) =>
          stats.keys.foreach { rel => // "day=D/part-x.parquet"
            val day = rel.takeWhile(_ != '/').stripPrefix("day=")
            // the sidecar covers every day the gen WROTE — count only
            // the days whose LIVE base is this gen (a day superseded at
            // a higher gen must not inherit this gen's file census)
            if (liveHere(day))
              counts.updateWith(day)(c => Some(c.getOrElse(0) + 1))
          }
        case None =>
          dayPairs.foreach { case (_, d) =>
            val dd = new Path(s"$genDir/day=$d")
            if (f.exists(dd))
              counts(d) = f.listStatus(dd)
                .count(st => st.isFile &&
                  st.getPath.getName.startsWith("part-"))
          }
      }
    }
    live.days.keys.filter(d => counts.getOrElse(d, 0) >= minFiles)
      .toSeq.sorted
  }

  def compactDays(
      spark: SparkSession, dir: String, days: Seq[String] = Nil,
      store: ClaimStore = FsClaimStore): Seq[String] =
    rewriteDays(spark, dir, days, store) { (live, touched) =>
      toPhysical(readDaysRaw(spark, dir, live, touched.toSet), live)
        // co-locate each day in one task → one file per day directory,
        // with task parallelism ACROSS days (never a single global
        // funnel); bound single-file size for huge days with
        // spark.sql.files.maxRecordsPerFile if needed. Pending row deltas
        // are ABSORBED here (readDaysRaw folds them), so OPTIMIZE is also
        // the maintenance step that returns delta-heavy days to the
        // shuffle-free fast read path.
        .repartition(col("day"))
    }

  /** A content-identical maintenance rewrite (OPTIMIZE / ZORDER) of the
    * live `days` (default: all): `build` turns the staging view and the
    * touched days into the new base rows, written as ONE generation and
    * committed CDC-silent. A day whose rows all folded away (delta
    * deletes) writes no directory and commits as dropped — the same
    * written-layout census as stageDelete.
    */
  private def rewriteDays(
      spark: SparkSession, dir: String, days: Seq[String],
      store: ClaimStore)(
      build: (LakeState, Seq[String]) => DataFrame): Seq[String] = {
    val p = LakePaths(dir)
    val (base, live) = stagingSnapshot(spark, dir)
    val touched =
      (if (days.isEmpty) live.days.keys.toSeq
       else days.filter(live.days.contains)).sorted
    if (touched.isEmpty) return Nil
    val gen = claimGen(spark, dir, base + 1, store)
    writeBase(spark, p, gen, build(live, touched))
    val surviving = writtenDays(spark, p, gen)
    commit(spark, dir,
      Staged(gen, base, touched.filter(surviving), touched.filterNot(surviving),
        maint = true))
    touched
  }

  /** OPTIMIZE ... ZORDER BY (a, b): rewrite the live generations of
    * `days` (default: all) with rows laid along a Morton curve over two
    * range-bucketized LONG dimensions — Delta's `OPTIMIZE ZORDER BY` on
    * the snapshot lake, reusing [[ZOrder.mortonKey]]'s exact integer
    * arithmetic (the DECIMAL-widened bucketize, so no range can overflow).
    * Rows are range-partitioned on (day, zkey) and sorted within tasks,
    * so each file inside a day directory owns a contiguous z-range — a
    * rectangle in (a, b) space — and min/max stats skip files on EITHER
    * dimension while `day` partition pruning is untouched. Same commit
    * path as [[compactDays]]: content-identical, CDC-silent, symmetric
    * OCC. `aCol`/`bCol` are LONG-typed expressions over the lake row
    * (e.g. `col("user_id")`, `unix_micros(col("ts"))`).
    */
  def optimizeZOrder(
      spark: SparkSession, dir: String,
      aCol: org.apache.spark.sql.Column, bCol: org.apache.spark.sql.Column,
      files: Int, days: Seq[String] = Nil,
      store: ClaimStore = FsClaimStore): Seq[String] =
    optimizeZOrderN(spark, dir, Seq(aCol, bCol), files, days, store)

  /** OPTIMIZE ... ZORDER BY (c1 … ck) for ANY k ≥ 2 (round-14 ring):
    * the round-robin interleave [[ZOrder.mortonKeyN]] over k
    * range-bucketized LONG dimensions. Bit budget: each dimension gets
    * `min(16, 62/k)` bits, so adding a dimension costs every other
    * dimension stat resolution — the standard z-order trade a caller
    * accepts explicitly by listing more columns.
    */
  def optimizeZOrderN(
      spark: SparkSession, dir: String,
      dims: Seq[org.apache.spark.sql.Column],
      files: Int, days: Seq[String] = Nil,
      store: ClaimStore = FsClaimStore): Seq[String] = {
    val k = dims.length
    require(k >= 2, s"z-order needs at least 2 dimensions, got $k")
    val bits = math.min(16, 62 / k)
    val scale = (1L << bits) - 1
    rewriteDays(spark, dir, days, store) { (live, touched) =>
      val raw = readDaysRaw(spark, dir, live, touched.toSet)
      val df = dims.zipWithIndex.foldLeft(raw) { case (d, (c, i)) =>
        d.withColumn(s"__z$i", c.cast("long"))
      }
      val aggs = (0 until k).flatMap(i => Seq(min(s"__z$i"), max(s"__z$i")))
      val bounds = df.agg(aggs.head, aggs.tail: _*).head()
      val bucketed = (0 until k).foldLeft(df) { (d, i) =>
        val (mn, mx) = (bounds.getLong(2 * i), bounds.getLong(2 * i + 1))
        // p12's overflow-proof bucketize: DECIMAL(38,0) multiply, integral
        // divide, every dimension stretched to the full per-dim bit scale
        d.withColumn(s"__b$i",
          expr(s"(CAST(__z$i - $mn AS DECIMAL(38,0)) * $scale) div " +
            s"${math.max(1L, mx - mn)}"))
      }
      bucketed
        .withColumn("__zkey",
          ZOrder.mortonKeyN((0 until k).map(i => col(s"__b$i")), bits))
        .repartitionByRange(files, col("day"), col("__zkey"))
        .sortWithinPartitions(col("day"), col("__zkey"))
        .drop((0 until k).flatMap(i => Seq(s"__z$i", s"__b$i")) :+ "__zkey": _*)
        .transform(toPhysical(_, live))
    }
  }

  /** CHANGE DATA FEED: the row-level difference between two committed
    * snapshots (epochs `fromEpoch` exclusive-as-baseline → `toEpoch`
    * inclusive), keyed by `keyCol` — what an incremental downstream
    * consumer reads instead of re-scanning the table (Delta CDF's shape):
    *
    *   - `insert`           — key in `to` but not `from`
    *   - `delete`           — key in `from` but not `to` (the preimage)
    *   - `update_preimage`  — key in both, any column changed (old row)
    *   - `update_postimage` — key in both, any column changed (new row)
    *
    * A key whose row is byte-identical across the window emits NOTHING —
    * a rewritten day does not imply changed rows (compaction is
    * CDC-silent). Cost is O(changed days): only days whose live
    * generation differs between the two views are read, on BOTH sides —
    * unchanged days never open a file. Columns added by schema evolution
    * inside the window surface as NULL on the preimage side and count as
    * changes only where the postimage is non-NULL (mergeSchema alignment).
    */
  def readChanges(
      spark: SparkSession, dir: String, fromEpoch: Int, toEpoch: Int,
      keyCol: String): DataFrame = {
    require(fromEpoch <= toEpoch, s"fromEpoch $fromEpoch > toEpoch $toEpoch")
    val p = LakePaths(dir)
    val a = viewAt(spark, dir, fromEpoch)
    val b = viewAt(spark, dir, toEpoch)
    // a day is "changed" when its STORAGE state moved (new base, a delta
    // layered on, dropped) — a superset of value changes; the key-level
    // join below suppresses rewritten-but-identical rows
    val changedDays = (a.days.keySet ++ b.days.keySet)
      .filter(d => a.days.get(d) != b.days.get(d))
    val oldDays = changedDays.filter(a.days.contains)
    val newDays = changedDays.filter(b.days.contains)
    // keyCol-first projection shared by every return path (ADVICE r12:
    // the empty-window frame used to keep keyCol in its stored position
    // while the non-empty path emits it first, so consumers that
    // positionally unionAll per-window frames mis-aligned). Positional
    // unions across windows remain fragile under schema evolution —
    // prefer unionByName(allowMissingColumns = true).
    def keyFirst(df: DataFrame): DataFrame = {
      val dataCols = df.columns.filterNot(c =>
        c == keyCol || c == "_change_type").toSeq
      df.select(col(keyCol) +: dataCols.map(col) :+ col("_change_type"): _*)
    }
    if (oldDays.isEmpty && newDays.isEmpty) {
      // no changed days: an empty frame, schema derived from whichever
      // endpoint still has data — or, when BOTH endpoint views are empty
      // (a fully-erased lake), from any generation still on disk (found
      // by the property spec: delete-everything → checkpoint windows)
      val schemaView = if (b.nonEmpty) b else a
      if (schemaView.nonEmpty)
        return keyFirst(readView(spark, dir, schemaView)
          .limit(0).withColumn("_change_type", lit("")))
      val f = fsOf(spark, dir)
      val root = new Path(p.data)
      val anyDay =
        if (!f.exists(root)) None
        else f.listStatus(root).filter(_.isDirectory)
          .flatMap(g => f.listStatus(g.getPath).filter(_.isDirectory))
          .headOption
      anyDay match {
        case Some(d) =>
          val leaf = d.getPath.toString
          return keyFirst(
            spark.read
              .schema(withDayColumn(inferredSchema(spark, leaf)
                .add("gen", org.apache.spark.sql.types.IntegerType)))
              .option("basePath", p.data).parquet(leaf)
              .drop("gen").withColumn("day", col("day").cast("date"))
              .limit(0).withColumn("_change_type", lit("")))
        case None => sys.error(
          s"cannot derive a change-feed schema at $dir: both endpoint " +
            "views are empty and no generation data remains on disk")
      }
    }
    // both endpoints read through the ONE folded path — delta commits
    // inside the window are materialized per key before the diff
    val oldRaw0 =
      if (oldDays.isEmpty) None else Some(readDaysRaw(spark, dir, a, oldDays))
    val newRaw =
      if (newDays.isEmpty) None else Some(readDaysRaw(spark, dir, b, newDays))
    // a RENAME inside the window: both endpoints carry the same physical
    // column under different logical names — translate the old side to
    // the TO-endpoint's names via the shared physical so values compare
    // as values, not as one column vanishing and another appearing
    val renames: Map[String, String] =
      (a.colmap.keySet ++ b.colmap.keySet).flatMap { ph =>
        (a.logicalFor(ph), b.logicalFor(ph)) match {
          case (Some(la), Some(lb)) if la != lb => Some(la -> lb)
          case _ => None
        }
      }.toMap
    val oldRaw = oldRaw0.map { df =>
      if (renames.isEmpty) df
      else df.select(df.columns.toSeq.map(c =>
        renames.get(c).map(col(c).as(_)).getOrElse(col(c))): _*)
    }
    // the TO-endpoint's schema governs the diff: a column DROPPED inside
    // the window is excluded (otherwise every surviving row would read
    // as updated); a column added inside it null-fills on the old side
    val allCols = (newRaw orElse oldRaw).get.columns.toSeq
    val dataCols = allCols.filterNot(_ == keyCol).toSeq
    def aligned(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(col(keyCol) +: dataCols.map(c =>
        if (have(c)) col(c) else lit(null).as(c)): _*)
    }
    def emptySide: DataFrame = aligned((oldRaw orElse newRaw).get).limit(0)
    val oldDf = oldRaw.map(aligned).getOrElse(emptySide)
    val newDf = newRaw.map(aligned).getOrElse(emptySide)
    def sided(df: DataFrame, side: String): DataFrame =
      df.select(col(keyCol) +:
        dataCols.map(c => col(c).as(s"__${side}_$c")) :+
        lit(true).as(s"__in_$side"): _*)
    val joined = sided(oldDf, "o")
      .join(sided(newDf, "n"), Seq(keyCol), "full_outer")
    val changed = dataCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduce(_ || _)
    def img(side: String, tpe: String): Seq[org.apache.spark.sql.Column] =
      col(keyCol) +: dataCols.map(c => col(s"__${side}_$c").as(c)) :+
        lit(tpe).as("_change_type")
    val inserts = joined.filter(col("__in_o").isNull).select(img("n", "insert"): _*)
    val deletes = joined.filter(col("__in_n").isNull).select(img("o", "delete"): _*)
    // both images come off ONE union plan over the same join subtree, so
    // the exchange is computed once and reused (no materialization step —
    // a checkpoint here would cache the whole update set)
    val updated = joined
      .filter(col("__in_o").isNotNull && col("__in_n").isNotNull && changed)
    updated.select(img("o", "update_preimage"): _*)
      .unionAll(updated.select(img("n", "update_postimage"): _*))
      .unionAll(inserts).unionAll(deletes)
      .withColumn("day", col("day").cast("date"))
  }

  /** CHANGE DATA FEED, write-time variant (Delta `enableChangeDataFeed`
    * shape): union the change-row sidecars of commits in (fromEpoch,
    * toEpoch] — a pure FILE READ, no snapshot diffing, no join; the rows
    * were computed once at commit time by the writer who already had
    * them in hand. This is the path the streaming CDC source serves.
    * Each row carries `_change_type` plus `_commit_epoch` (the commit it
    * belongs to — consumers resume from an epoch offset).
    *
    * Loud-failure contract: a non-maintenance mutation WITHOUT a sidecar
    * inside the window throws — a feed that silently skipped a non-cdf
    * merge would be wrong, not just incomplete. (Checkpoint and
    * OPTIMIZE/ZORDER commits are content-identical and legitimately
    * sidecar-less; row-delta commits need [[readChanges]]'s fold.)
    */
  def readChangesCdf(
      spark: SparkSession, dir: String, fromEpoch: Int,
      toEpoch: Int): DataFrame = {
    require(fromEpoch <= toEpoch, s"fromEpoch $fromEpoch > toEpoch $toEpoch")
    val p = LakePaths(dir)
    val gens = cdfGens(spark, dir, fromEpoch, toEpoch)
    if (gens.isEmpty) {
      val f = fsOf(spark, dir)
      val root = new Path(p.cdf)
      val anyGen =
        if (!f.exists(root)) Nil
        else f.listStatus(root).filter(_.isDirectory).toSeq
      require(anyGen.nonEmpty,
        s"no cdf sidecars exist at $dir — cannot derive a feed schema")
      return readFlat(spark, anyGen.head.getPath.toString)
        .limit(0).withColumn("_commit_epoch", lit(0))
    }
    // a RENAME/DROP inside the window: a sidecar committed BEFORE the
    // column op carries pre-op logical names — translate each sidecar
    // through the column ops committed after it (epoch order), exactly
    // as readChanges translates its old endpoint, so the union never
    // splits a renamed column into two half-null halves (ADVICE r13)
    val colOps: Seq[(Int, String, String)] =
      IncrementalDedup.Manifest.read(spark, p.manifest)
        .filter { case (e, _) => e <= toEpoch }
        .flatMap { case (e, kv) =>
          kv.get("rename").map(v => (e, "rename", v)).toSeq ++
            kv.get("dropcol").map(v => (e, "dropcol", v))
        }.sortBy(_._1)
    gens.map { case (e, g) =>
      val raw = readFlat(spark, s"${p.cdf}/gen=$g")
      colOps.filter(_._1 > e).foldLeft(raw) { case (df, (_, kind, v)) =>
        kind match {
          case "rename" =>
            val Array(from, to) = v.split(">", 2)
            if (df.columns.contains(from)) df.withColumnRenamed(from, to)
            else df
          case _ => // dropcol: the window-end schema governs the feed
            if (df.columns.contains(v)) df.drop(v) else df
        }
      }.withColumn("_commit_epoch", lit(e))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The (epoch, gen) pairs with change sidecars in (from, to], with the
    * loud gap check [[readChangesCdf]] documents. Metadata-only.
    */
  private[graft] def cdfGens(
      spark: SparkSession, dir: String, from: Int,
      to: Int): Seq[(Int, Int)] = {
    IncrementalDedup.Manifest.read(spark, LakePaths(dir).manifest)
      .filter { case (e, _) => e > from && e <= to }
      .flatMap { case (e, kv) =>
        // a RESTORE row carries `snapshot` but IS a data change (it
        // replaces the live view) — treating it as a checkpoint would
        // silently skip the rollback in every feed, so it fails loudly
        // like any sidecar-less mutation
        if (kv.contains("snapshot") && kv.contains("restore")) sys.error(
          s"epoch $e at $dir is a RESTORE commit — a rollback has no " +
            "change sidecar and a write-time feed cannot represent it; " +
            "use readChanges (snapshot diff) for this window, or restart " +
            "the feed from the restore epoch")
        else if (kv.contains("snapshot")) None // checkpoint: no data change
        else if (kv.contains("cdf"))
          // COW commits carry `gen`, row-delta commits `deltagen` — a
          // cdf sidecar rides either kind under the same gen number
          Some(e -> kv.getOrElse("gen", kv("deltagen")).toInt)
        else if (kv.contains("maint")) None // OPTIMIZE/ZORDER: CDC-silent
        // ALTER TABLE RENAME/DROP/ADD COLUMN: manifest-only, zero data
        // rows change — exempt like checkpoints, or a column op inside a
        // CDF window would permanently stall every feed at its epoch.
        // The ADD exemption applies only to a PURE binding row — an
        // addcol riding a data commit still answers for its sidecar
        else if (kv.contains("rename") || kv.contains("dropcol") ||
          kv.contains("widen") ||
          (kv.contains("addcol") && !kv.contains("gen") &&
            !kv.contains("deltagen") && !kv.contains("dvgen"))) None
        else if (kv.contains("deltagen")) sys.error(
          s"epoch $e at $dir is a row-delta commit without a change " +
            "sidecar — re-run it with cdf=true or use readChanges " +
            "(snapshot diff) for windows containing it")
        else sys.error(
          s"epoch $e at $dir committed without a change sidecar " +
            "(cdf=false) — the write-time feed would silently miss its " +
            "changes; re-run the mutation with cdf=true or use " +
            "readChanges (snapshot diff) for this window")
      }
  }

  /** DESCRIBE HISTORY: one row per committed epoch — operation kind
    * (merge/delete-ish mutation, checkpoint), generation, touched and
    * dropped day counts, and the commit wall-clock — the audit surface an
    * operator reads before a time travel or an incident review. Pure
    * manifest fold, zero data files touched.
    */
  def describeHistory(spark: SparkSession, dir: String): DataFrame = {
    val p = LakePaths(dir)
    val rows = IncrementalDedup.Manifest.read(spark, p.manifest)
    val hist = rows.map { case (e, kv) =>
      val op =
        if (kv.contains("restore")) "restore"
        else if (kv.contains("snapshot")) "checkpoint"
        else if (kv.contains("deltagen")) "delta"
        else if (kv.contains("dvgen")) "delete-vector"
        else if (uncsv(kv.getOrElse("dropped", "")).nonEmpty) "delete"
        else if (kv.contains("convert")) "convert"
        else "write"
      (e, op, kv.getOrElse("deltagen",
        kv.getOrElse("dvgen", kv.getOrElse("gen", "-1"))).toInt,
        uncsv(kv.getOrElse("days", "")).length,
        uncsv(kv.getOrElse("dropped", "")).length,
        new java.sql.Timestamp(
          IncrementalDedup.Manifest.commitTimeMs(spark, p.manifest, e)))
    }
    import spark.implicits._
    hist.toDF("epoch", "operation", "gen", "n_days", "n_dropped",
      "commit_time").orderBy("epoch")
  }

  /** Remove generation directories no committed reader can reach:
    * superseded generations once the commit that superseded them is at
    * least `retainMs` old (the Delta/Iceberg `VACUUM ... RETAIN`
    * contract — the caller promises no reader outlives the window;
    * `retainMs <= 0` takes them immediately under that promise), and
    * ORPHANED generations (claimed by a crashed or OCC-aborted mutation,
    * never committed) once their claim is `retainMs` stale — but, ADVICE
    * r12: an orphan is indistinguishable from a mutation that is staging
    * RIGHT NOW, so `retainMs <= 0` alone never touches one; reclaiming an
    * orphan requires either a positive retention its claim has outlived
    * or the explicit `force = true` (the operator asserting no stager is
    * alive). Claim files whose generation data this pass reclaimed (and
    * whose number the [[genHint]] high-water mark already covers, so the
    * number can never be re-issued) are deleted too, bounding manifest
    * growth.
    */
  def vacuum(
      spark: SparkSession, dir: String, retainMs: Long = 0L,
      force: Boolean = false): Unit =
    vacuumPolicy(spark, dir,
      RetentionPolicy(historyMs = retainMs, cdfMs = retainMs,
        orphanMs = retainMs),
      force = force)

  /** Per-surface retention (round-14 ring d) — the Delta/Iceberg
    * `VACUUM ... RETAIN` contract split by what a surface's consumers
    * actually outlive: HISTORY (superseded generations — time-travel
    * readers), CDF (change sidecars — CDC consumers, often much longer
    * than time travel), ORPHANS (claimed-never-committed stagings — an
    * in-flight writer's window, usually hours not days). `<= 0` means:
    * history reclaims immediately (the caller promises no reader), cdf
    * and orphans are KEPT (only `force` takes them) — exactly the
    * asymmetry [[vacuum]] always had, now named per surface.
    */
  final case class RetentionPolicy(
      historyMs: Long = 7L * 24 * 3600 * 1000,
      cdfMs: Long = 7L * 24 * 3600 * 1000,
      orphanMs: Long = 24L * 3600 * 1000)

  /** One vacuum candidate: a day-generation directory (history/orphan)
    * or a cdf generation directory, with the verdict this pass would
    * reach and why. The SINGLE source of truth both [[vacuumPolicy]]
    * (applies it) and [[describeRetention]] (reports it) consume — an
    * audit that ran different code than the delete would be worthless.
    */
  private[etl] final case class VacuumItem(
      surface: String, path: Path, gen: Int,
      reclaimable: Boolean, pinned: Boolean, reason: String)

  private def vacuumPlan(
      spark: SparkSession, dir: String, policy: RetentionPolicy,
      pins: Seq[Int], force: Boolean, now: Long): Seq[VacuumItem] = {
    val p = LakePaths(dir)
    val f = fsOf(spark, dir)
    val rows = IncrementalDedup.Manifest.read(spark, p.manifest) // full history
    // (day, gen) → epoch of the row that superseded it, via the generic
    // before/after diff so checkpoint rows fold identically. A day's
    // reachable generation set is base ∪ deltas; a gen leaves it when a
    // rewrite absorbs it (or the day drops).
    val superseded = scala.collection.mutable.Map.empty[(String, Int), Int]
    var folded = EmptyState
    rows.foreach { case (e, kv) =>
      val next = applyRow(folded, kv)
      folded.days.foreach { case (d, s) =>
        val nextGens = next.days.get(d).map(_.gens.toSet).getOrElse(Set.empty)
        s.gens.foreach { g =>
          if (!nextGens(g)) superseded((d, g)) = e
        }
      }
      folded = next
    }
    val live = folded
    // PIN PROTECTION (the LakeTxn seam): every (day, gen) reachable from
    // a pinned epoch's view is untouchable whatever its age — a pin is a
    // live reader with no expiry, so time travel to it keeps working
    // after any vacuum (the read-side vacuumed-pin loudness then only
    // ever fires for pins the operator explicitly abandoned).
    val pinnedReach: Set[(String, Int)] = pins.toSet[Int].flatMap { e =>
      viewAt(spark, dir, e).days.toSeq
        .flatMap { case (d, s) => s.gens.map(g => (d, g)) }
    }
    def aged(tMs: Long, retain: Long): Boolean =
      retain <= 0L || now - tMs >= retain
    val items = Seq.newBuilder[VacuumItem]
    // all three storage roots carry generation directories: whole-day
    // bases under data/, row deltas under delta/, deletion vectors under
    // dv/ — identical reachability rules
    Seq(p.data, p.delta, p.dv).foreach { rootDir =>
      val dataRoot = new Path(rootDir)
      if (f.exists(dataRoot))
        // ONLY gen= directories are generations — the delta root also
        // holds the streaming sink's dot-invisible `.sw` staging tree
        // (handled below), which must not be parsed as a generation
        // number (ADVICE r14 high: NumberFormatException on '.sw')
        f.listStatus(dataRoot).filter(st =>
          st.isDirectory && st.getPath.getName.startsWith("gen=")
        ).foreach { genDir =>
          val g = genDir.getPath.getName.stripPrefix("gen=").toInt
          f.listStatus(genDir.getPath).filter(_.isDirectory).foreach { dayDir =>
            val day = dayDir.getPath.getName.stripPrefix("day=")
            val isPinned = pinnedReach((day, g))
            val item =
              if (live.days.get(day).exists(_.gens.contains(g)))
                VacuumItem("history", dayDir.getPath, g,
                  reclaimable = false, pinned = isPinned, "live")
              else if (isPinned)
                VacuumItem("history", dayDir.getPath, g,
                  reclaimable = false, pinned = true, "pinned")
              else superseded.get((day, g)) match {
                case Some(e) => // reachable until the superseding commit ages out
                  val a = aged(IncrementalDedup.Manifest
                    .commitTimeMs(spark, p.manifest, e), policy.historyMs)
                  VacuumItem("history", dayDir.getPath, g, a, pinned = false,
                    if (a) "retention elapsed" else "within retention")
                case None => // orphan: never committed for this day. Possibly a
                  // LIVE staging — only a claim older than a POSITIVE
                  // retention, or an explicit force, may take it
                  val claim = new Path(p.manifest, s"gen-$g.claim")
                  val (r, why) =
                    if (force) (true, "forced")
                    else if (policy.orphanMs <= 0L)
                      (false, "no orphan retention set")
                    else if (f.exists(claim)) {
                      val a = now - f.getFileStatus(claim)
                        .getModificationTime >= policy.orphanMs
                      (a, if (a) "claim expired" else "possibly live staging")
                    } else (true, "claimless stray") // protocol-impossible
                  VacuumItem("orphan", dayDir.getPath, g, r,
                    pinned = false, why)
              }
            items += item
          }
        }
    }
    // change-data sidecars are read by CDC consumers, not by any view —
    // reclaim only past a positive cdf retention on their commit, or
    // under force. Pins don't protect cdf: a pin names table STATE, the
    // feed is a different consumer with its own retention.
    val cdfRoot = new Path(p.cdf)
    if (f.exists(cdfRoot)) {
      val cdfEpochByGen = rows.collect {
        case (e, kv) if kv.contains("cdf") &&
            (kv.contains("gen") || kv.contains("deltagen")) =>
          kv.getOrElse("gen", kv("deltagen")).toInt -> e
      }.toMap
      f.listStatus(cdfRoot).filter(st =>
        st.isDirectory && st.getPath.getName.startsWith("gen=")
      ).foreach { genDir =>
        val g = genDir.getPath.getName.stripPrefix("gen=").toInt
        val item = cdfEpochByGen.get(g) match {
          case Some(e) =>
            val a = force || (policy.cdfMs > 0L &&
              now - IncrementalDedup.Manifest.commitTimeMs(
                spark, p.manifest, e) >= policy.cdfMs)
            VacuumItem("cdf", genDir.getPath, g, a, pinned = false,
              if (a) "retention elapsed" else "within retention")
          case None => // orphan sidecar from a crashed staging
            VacuumItem("cdf", genDir.getPath, g, force, pinned = false,
              if (force) "forced" else "orphan sidecar (force to take)")
        }
        items += item
      }
    }
    // streaming-sink staging: `delta/.sw/<queryId>/<epochId>` epoch dirs
    // a crashed (or in-flight) micro-batch left behind. The sink deletes
    // its own staging at commit/abort, so anything still here past the
    // orphan retention is a crash leftover — same age rule as claimed
    // orphan generations ("possibly live staging" until aged). Invisible
    // to every reader (dot-prefixed), so reclaiming is always safe once
    // the writing query is provably dead.
    val swRoot = new Path(s"${p.delta}/.sw")
    if (f.exists(swRoot))
      f.listStatus(swRoot).filter(_.isDirectory).foreach { qDir =>
        f.listStatus(qDir.getPath).filter(_.isDirectory).foreach { epDir =>
          val (r, why) =
            if (force) (true, "forced")
            else if (policy.orphanMs <= 0L) (false, "no orphan retention set")
            else {
              val a = now - epDir.getModificationTime >= policy.orphanMs
              (a, if (a) "staging expired" else "possibly live staging")
            }
          items += VacuumItem("staging", epDir.getPath, -1, r,
            pinned = false, why)
        }
      }
    items.result()
  }

  /** [[vacuum]] with a per-surface [[RetentionPolicy]] and LakeTxn PIN
    * protection: pass the epochs the transaction catalog still pins
    * ([[LakeTxn.pinsFor]]) and every generation those views reach
    * survives regardless of age — the Iceberg "refs protect snapshots"
    * rule. Claim files whose generation data this pass reclaimed (and
    * whose number the genHint high-water mark covers) are deleted too.
    */
  def vacuumPolicy(
      spark: SparkSession, dir: String, policy: RetentionPolicy,
      pins: Seq[Int] = Nil, force: Boolean = false): Unit = {
    val p = LakePaths(dir)
    val f = fsOf(spark, dir)
    val plan = vacuumPlan(spark, dir, policy, pins, force,
      System.currentTimeMillis())
    plan.filter(_.reclaimable).foreach(i => f.delete(i.path, true))
    // a generation whose every day directory is gone holds at most job
    // marker files (_SUCCESS, _filestats.tsv) — nothing a reader reaches
    Seq(p.data, p.delta, p.dv).foreach { rootDir =>
      val dataRoot = new Path(rootDir)
      if (f.exists(dataRoot))
        f.listStatus(dataRoot).filter(st =>
          st.isDirectory && st.getPath.getName.startsWith("gen=")
        ).foreach { genDir =>
          if (!f.listStatus(genDir.getPath).exists(_.isDirectory))
            f.delete(genDir.getPath, true)
        }
    }
    // streaming staging parents: a `.sw/<queryId>` dir whose every epoch
    // dir is gone (sink-cleaned or reclaimed above) is dead weight
    val swRoot = new Path(s"${p.delta}/.sw")
    if (f.exists(swRoot)) {
      f.listStatus(swRoot).filter(_.isDirectory).foreach { qDir =>
        if (f.listStatus(qDir.getPath).isEmpty) f.delete(qDir.getPath, true)
      }
      if (f.listStatus(swRoot).isEmpty) f.delete(swRoot, true)
    }
    // claim-file cleanup (bounded manifest): a claim whose generation has
    // no data left on disk AND whose number sits below the _next_gen
    // high-water mark can never matter again — the scan starts past it,
    // and no historical view can reach data that no longer exists.
    // AGE-GATED like the orphan path (ADVICE r14 medium): a MERGE claims
    // its generation BEFORE Spark runs the join, so a young claim is
    // legitimately file-less for minutes-to-hours. Deleting it mid-flight
    // would let the NEXT vacuum read the then-arriving gen dir as a
    // "claimless stray" and reclaim an in-flight merge's staged files —
    // so only a claim older than a POSITIVE orphan retention (or an
    // explicit force, the "no writer is live" promise) may go.
    val hint = genHint(spark, dir)
    val claimNow = System.currentTimeMillis()
    f.listStatus(new Path(p.manifest)).foreach { st =>
      st.getPath.getName match {
        case ClaimName(g) if g.toInt + 1 <= hint &&
            (force || (policy.orphanMs > 0L &&
              claimNow - st.getModificationTime >= policy.orphanMs)) &&
            !f.exists(new Path(s"${p.data}/gen=${g.toInt}")) &&
            !f.exists(new Path(s"${p.delta}/gen=${g.toInt}")) &&
            !f.exists(new Path(s"${p.dv}/gen=${g.toInt}")) &&
            !f.exists(new Path(s"${p.cdf}/gen=${g.toInt}")) =>
          f.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  /** DESCRIBE RETENTION: what the NEXT [[vacuumPolicy]] pass with this
    * policy would keep and take, per surface — built from the identical
    * plan the vacuum itself applies, so the audit can never lie about
    * the delete. One row per surface: tracked objects, how many are
    * reclaimable right now, how many a transaction pin protects.
    * Metadata-only (one manifest fold + directory listings).
    */
  def describeRetention(
      spark: SparkSession, dir: String, policy: RetentionPolicy,
      pins: Seq[Int] = Nil): DataFrame = {
    val p = LakePaths(dir)
    val f = fsOf(spark, dir)
    val plan = vacuumPlan(spark, dir, policy, pins, force = false,
      System.currentTimeMillis())
    val hint = genHint(spark, dir)
    val claimNow = System.currentTimeMillis()
    val claims = f.listStatus(new Path(p.manifest)).toSeq
      .flatMap { st =>
        st.getPath.getName match {
          case ClaimName(g) => Some((g.toInt, st.getModificationTime))
          case _ => None
        }
      }
    // same age gate the vacuum applies (ADVICE r14): a young claim is a
    // possibly-in-flight merge's — the audit must not report it takeable
    val claimsReclaimable = claims.count { case (g, mtime) =>
      g + 1 <= hint &&
      policy.orphanMs > 0L && claimNow - mtime >= policy.orphanMs &&
      !f.exists(new Path(s"${p.data}/gen=$g")) &&
      !f.exists(new Path(s"${p.delta}/gen=$g")) &&
      !f.exists(new Path(s"${p.dv}/gen=$g")) &&
      !f.exists(new Path(s"${p.cdf}/gen=$g"))
    }
    val retain = Map("history" -> policy.historyMs, "cdf" -> policy.cdfMs,
      "orphan" -> policy.orphanMs, "staging" -> policy.orphanMs)
    val out = Seq("cdf", "history", "orphan", "staging").map { s =>
      val it = plan.filter(_.surface == s)
      (s, retain(s), it.size.toLong,
        it.count(_.reclaimable).toLong, it.count(_.pinned).toLong)
    } :+ (("claims", 0L, claims.size.toLong, claimsReclaimable.toLong, 0L))
    import spark.implicits._
    out.toDF("surface", "retain_ms", "objects", "reclaimable",
      "pin_protected").orderBy("surface")
  }

  private val ClaimName = "gen-(\\d+)\\.claim".r
}
