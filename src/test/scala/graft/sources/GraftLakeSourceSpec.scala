package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}

import graft.TestSpark
import graft.etl.LakeSnapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
import org.scalatest.funsuite.AnyFunSuite

/** p27: the DSv2 BATCH relation over the snapshot lake. The oracle
  * hash-locks the folded values; this spec pins the protocol claims:
  *
  *  - a `spark.read.format("graft-lake")` read equals the Scala-API
  *    [[LakeSnapshot.read]] on a lake carrying every state at once —
  *    base generations, pending upsert/delete deltas, a delta-only day,
  *    added columns, a rename, and a drop;
  *  - `option("epoch", e)` equals [[LakeSnapshot.readAt]];
  *  - `day` filters push into PARTITION PLANNING: the planned
  *    InputPartitions touch only the requested days' files;
  *  - runtime (DPP-style) filters re-prune the day set through
  *    [[LakeScan.filter]];
  *  - column pruning reaches the scan's read schema;
  *  - residual (non-day) filters still evaluate correctly above the
  *    scan;
  *  - INT96 and TIMESTAMP_MICROS generations read identically (the
  *    legacy-vs-modern Spark writer footers).
  */
class GraftLakeSourceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(day: Int, h: Int = 10): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")

  private def freshDir(name: String): String = {
    val p = Paths.get(s"target/lake_dsv2_spec/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    p.toString
  }

  private def dsv2(dir: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft-lake").option("path", dir)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** Base merge + concurrent-shape deltas + delete markers + evolution +
    * rename + drop — every storage state the reader must fold.
    */
  private def buildFullLake(dir: String): Unit = {
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 1.0), (2L, ts(1), 2.0), (3L, ts(2), 3.0),
        (4L, ts(2), 4.0))
        .toDF("event_id", "ts", "value"),
      "event_id", "ts")
    // delta upserts: update key 1, insert key 10, open delta-only day 3
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((1L, ts(1), 100.0), (10L, ts(1), 10.0), (30L, ts(3), 30.0))
        .toDF("event_id", "ts", "value"),
      "event_id", "ts")
    // younger delta beats the older for key 1; delete marker kills key 2
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((1L, ts(1), 111.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    LakeSnapshot.deleteKeysDelta(spark, dir,
      Seq((2L, ts(1))).toDF("event_id", "ts"), "event_id", "ts")
    // schema evolution: a COW merge adds `note` on day 2
    LakeSnapshot.merge(spark, dir,
      Seq((4L, ts(2), 40.0, "fixed")).toDF("event_id", "ts", "value", "note"),
      "event_id", "ts")
    // manifest-only column ops
    LakeSnapshot.renameColumn(spark, dir, "value", "amount")
    LakeSnapshot.dropColumn(spark, dir, "note")
  }

  test("DSv2 read == Scala read across base+deltas+evolution+rename+drop") {
    val dir = freshDir("full")
    buildFullLake(dir)
    val scalaRead = LakeSnapshot.read(spark, dir)
    val v2 = dsv2(dir)
    assert(v2.schema.fieldNames.sorted === scalaRead.schema.fieldNames.sorted)
    val cols = scalaRead.columns.sorted.map(col).toSeq
    assert(rows(v2.select(cols: _*)) === rows(scalaRead.select(cols: _*)))
    assert(!v2.columns.contains("note"), "dropped column must be masked")
    assert(v2.columns.contains("amount") && !v2.columns.contains("value"))
  }

  test("epoch option == Scala time travel (pre-rename view, old name)") {
    val dir = freshDir("travel")
    buildFullLake(dir)
    val preRename = LakeSnapshot.currentEpoch(spark, dir) - 2
    val scalaAt = LakeSnapshot.readAt(spark, dir, preRename)
    val v2At = dsv2(dir, "epoch" -> preRename.toString)
    assert(v2At.columns.contains("value") && v2At.columns.contains("note"),
      "the historical epoch surfaces the pre-rename/pre-drop names")
    val cols = scalaAt.columns.sorted.map(col).toSeq
    assert(rows(v2At.select(cols: _*)) === rows(scalaAt.select(cols: _*)))
  }

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the plan"))

  test("day filter pushdown prunes planned partitions to the touched day") {
    val dir = freshDir("pushdown")
    buildFullLake(dir)
    val all = scanOf(dsv2(dir)).inputPartitions
    val one = dsv2(dir).filter(col("day") === lit("2024-01-01").cast("date"))
    val pruned = scanOf(one).inputPartitions
    assert(all.size > pruned.size, "pruning must drop other days' files")
    val days = pruned.map {
      case b: LakeBaseFilePartition => b.day
      case d: LakeDeltaFoldPartition => d.day
    }.toSet
    assert(days === Set("2024-01-01"))
    // the pruned read still folds its day correctly
    assert(rows(one.select("event_id", "amount")) ===
      Set("1|111.0", "10|10.0"))
  }

  test("runtime (DPP) filter re-prunes the day set through Scan.filter") {
    val dir = freshDir("runtime")
    buildFullLake(dir)
    val schema = dsv2(dir).schema
    val scan = new LakeScan(schema, Map("path" -> dir), Nil)
    val before = scan.planInputPartitions()
    assert(scan.filterAttributes().map(_.describe()).toSeq === Seq("day"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("day", java.sql.Date.valueOf("2024-01-02"))))
    val after = scan.planInputPartitions()
    assert(before.length > after.length)
    val days = after.map {
      case b: LakeBaseFilePartition => b.day
      case d: LakeDeltaFoldPartition => d.day
    }.toSet
    assert(days === Set("2024-01-02", "2024-01-03"))
    assert(scan.description().contains("dayFilters"))
  }

  test("column pruning reaches the scan's read schema") {
    val dir = freshDir("prune")
    buildFullLake(dir)
    val df = dsv2(dir).select("amount", "day")
    val scan = scanOf(df).scan
    assert(scan.readSchema().fieldNames.toSet === Set("amount", "day"))
    assert(rows(df.filter(col("day") === lit("2024-01-03").cast("date"))
      .select("amount")) === Set("30.0"))
  }

  test("residual non-day filters evaluate correctly above the scan") {
    val dir = freshDir("residual")
    buildFullLake(dir)
    assert(rows(dsv2(dir).filter(col("amount") > 50.0)
      .select("event_id", "amount")) === Set("1|111.0"))
  }

  test("a delete marker younger than an upsert kills the key; an upsert " +
    "younger than a marker revives it") {
    val dir = freshDir("ordering")
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 1.0), (2L, ts(1), 2.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((1L, ts(1), 10.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    LakeSnapshot.deleteKeysDelta(spark, dir,
      Seq((1L, ts(1))).toDF("event_id", "ts"), "event_id", "ts")
    LakeSnapshot.deleteKeysDelta(spark, dir,
      Seq((2L, ts(1))).toDF("event_id", "ts"), "event_id", "ts")
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((2L, ts(1), 22.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    assert(rows(dsv2(dir).select("event_id", "value")) === Set("2|22.0"))
  }

  test("INT96 and TIMESTAMP_MICROS generations read identically") {
    val conf = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(conf)
    val dir = freshDir("int96")
    try {
      spark.conf.set(conf, "INT96")
      LakeSnapshot.merge(spark, dir,
        Seq((1L, ts(1), 1.0)).toDF("event_id", "ts", "value"),
        "event_id", "ts")
      spark.conf.set(conf, "TIMESTAMP_MICROS")
      LakeSnapshot.mergeDelta(spark, dir,
        Seq((2L, ts(1, 12), 2.0)).toDF("event_id", "ts", "value"),
        "event_id", "ts")
    } finally spark.conf.set(conf, prev)
    val got = dsv2(dir).select(col("event_id"), col("ts").cast("string"))
    assert(rows(got) === Set(
      "1|2024-01-01 10:00:00", "2|2024-01-01 12:00:00"))
    assert(rows(got) === rows(LakeSnapshot.read(spark, dir)
      .select(col("event_id"), col("ts").cast("string"))))
  }

  /** Remove every generation's `_filestats.tsv` — simulates a pre-stats
    * lake so the executor-side ROW-GROUP layer is exercised in
    * isolation (file-level planning skips would otherwise prune the
    * very files whose groups these tests watch).
    */
  private def dropSidecars(dir: String): Unit = {
    val p = LakeSnapshot.LakePaths(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(p.data)
    if (fs.exists(root)) fs.listStatus(root).filter(_.isDirectory)
      .foreach { g =>
        fs.delete(new org.apache.hadoop.fs.Path(g.getPath, "_filestats.tsv"),
          false)
      }
  }

  test("a ts filter over an adopted TIMESTAMP_MILLIS source returns " +
    "the matching rows, with and without the stats sidecar") {
    val root = freshDir("millis")
    val src = s"$root/src"
    val conf = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "TIMESTAMP_MILLIS")
    try Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 1.0),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 2.0))
      .toDF("event_id", "ts", "value")
      .withColumn("day", to_date(col("ts"))).coalesce(1)
      .write.partitionBy("day").parquet(src)
    finally spark.conf.set(conf, prev)
    val dir = s"$root/lake"
    LakeSnapshot.adoptParquet(spark, dir, src, "event_id", "ts")
    val cut = col("ts") >= lit("2024-01-01 10:30:00").cast("timestamp")
    def ids(df: DataFrame): Seq[Long] =
      df.filter(cut).select("event_id").as[Long].collect().toSeq
    assert(ids(LakeSnapshot.read(spark, dir)) === Seq(2L))
    assert(ids(dsv2(dir)) === Seq(2L), "sidecar present")
    dropSidecars(dir)
    assert(ids(dsv2(dir)) === Seq(2L), "row-group stats only")
  }

  test("row-group stats skip provably-empty groups; results unchanged " +
    "and the filters surface as pushed") {
    val dir = freshDir("statskip")
    val ev = graft.Tables.load(spark, graft.TestSpark.sf, "events")
      .select("event_id", "user_id", "ts", "value")
    LakeSnapshot.merge(spark, dir, ev, "event_id", "ts")
    // z-order so user_id min/max stats are NARROW per file — the layout
    // stat skipping exists to exploit
    LakeSnapshot.optimizeZOrderN(spark, dir,
      Seq(col("user_id"), unix_micros(col("ts")), col("event_id")),
      files = 8)
    dropSidecars(dir)
    val mn = ev.agg(min("user_id")).head().getLong(0)
    val filt = col("user_id") <= lit(mn) // selective: one user bucket
    LakeParquetRead.skippedGroups.set(0L)
    val v2 = dsv2(dir).filter(filt)
      .agg(count(lit(1)), round(sum("value"), 2)).head()
    val sc = LakeSnapshot.read(spark, dir).filter(filt)
      .agg(count(lit(1)), round(sum("value"), 2)).head()
    assert(v2 === sc)
    assert(v2.getLong(0) > 0, "the probe key must exist")
    assert(LakeParquetRead.skippedGroups.get() > 0,
      "narrow stats plus a selective filter must skip row groups")
    val explained = dsv2(dir).filter(filt)
      .queryExecution.executedPlan.toString
    assert(explained.contains("user_id"),
      "the skip filter should surface in the scan's pushed filters")
  }

  test("stat skipping resolves the column mapping: a filter on a " +
    "RENAMED column checks the physical chunk's stats") {
    val dir = freshDir("statskip_rename")
    buildFullLake(dir) // value renamed to amount; physical stays `value`
    dropSidecars(dir)
    LakeParquetRead.skippedGroups.set(0L)
    // nothing is ≥ 1e9 — every base group is provably empty by stats
    assert(dsv2(dir).filter(col("amount") >= 1e9).count() === 0L)
    assert(LakeParquetRead.skippedGroups.get() > 0,
      "the impossible range must skip via the physical column's stats")
  }

  test("manifest-carried file stats skip whole files at PLANNING; " +
    "results unchanged; no footer opens for skipped files") {
    val dir = freshDir("filestats")
    val ev = graft.Tables.load(spark, graft.TestSpark.sf, "events")
      .select("event_id", "user_id", "ts", "value")
    LakeSnapshot.merge(spark, dir, ev, "event_id", "ts")
    LakeSnapshot.optimizeZOrderN(spark, dir,
      Seq(col("user_id"), unix_micros(col("ts")), col("event_id")),
      files = 8)
    val mn = ev.agg(min("user_id")).head().getLong(0)
    val filt = col("user_id") <= lit(mn)
    graft.etl.FileStats.skippedFiles.set(0L)
    val planned = scanOf(dsv2(dir).filter(filt)).inputPartitions
    val all = scanOf(dsv2(dir)).inputPartitions
    assert(graft.etl.FileStats.skippedFiles.get() > 0,
      "z-ordered narrow stats plus a selective filter must skip files")
    assert(planned.size < all.size,
      "skipped files must leave the planned partition set")
    val v2 = dsv2(dir).filter(filt)
      .agg(count(lit(1)), round(sum("value"), 2)).head()
    val sc = LakeSnapshot.read(spark, dir).filter(filt)
      .agg(count(lit(1)), round(sum("value"), 2)).head()
    assert(v2 === sc)
    assert(v2.getLong(0) > 0, "the probe key must exist")
  }

  test("file-stat skipping resolves the column mapping and never fires " +
    "without a sidecar") {
    val dir = freshDir("filestats_rename")
    buildFullLake(dir) // value renamed to amount; physical stays `value`
    graft.etl.FileStats.skippedFiles.set(0L)
    // nothing is ≥ 1e9 — every BASE FILE is provably empty by stats
    assert(dsv2(dir).filter(col("amount") >= 1e9).count() === 0L)
    assert(graft.etl.FileStats.skippedFiles.get() > 0,
      "the impossible range must skip files via the physical column")
    // a generation without a sidecar (pre-stats lake) reads fine and
    // simply doesn't file-skip — stats are never a correctness input
    dropSidecars(dir)
    graft.etl.FileStats.skippedFiles.set(0L)
    assert(dsv2(dir).filter(col("amount") >= 1e9).count() === 0L)
    assert(graft.etl.FileStats.skippedFiles.get() === 0L,
      "no sidecar → no file skip (row-group layer still applies)")
  }

  test("STRING stats family + IN + IS NOT NULL skip hints (r17): " +
    "dimension-column filters prune files from base64 UTF-8 min/max, " +
    "an IN conjunct skips only when EVERY member does, IS NOT NULL " +
    "skips all-null files — values stay exact throughout") {
    val dir = freshDir("strstats")
    // three days: day 1 src ∈ {alpha, beta}, day 2 src ∈ {xray, zulu}
    // (disjoint byte ranges), day 3 src all-null
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), "alpha"), (2L, ts(1), "beta"),
        (3L, ts(2), "xray"), (4L, ts(2), "zulu"),
        (5L, ts(3), null.asInstanceOf[String]),
        (6L, ts(3), null.asInstanceOf[String]))
        .toDF("event_id", "ts", "src"),
      "event_id", "ts")
    // string equality: day 2 (and the all-null day 3) are provably empty
    graft.etl.FileStats.skippedFiles.set(0L)
    assert(dsv2(dir).filter(col("src") === "alpha")
      .select("event_id").as[Long].collect().toSeq === Seq(1L))
    assert(graft.etl.FileStats.skippedFiles.get() > 0,
      "a string equality must file-skip the disjoint day from its stats")
    // IN with every member inside day 1's range: days 2/3 skip
    graft.etl.FileStats.skippedFiles.set(0L)
    assert(dsv2(dir).filter(col("src").isin("alpha", "beta"))
      .count() === 2L)
    assert(graft.etl.FileStats.skippedFiles.get() > 0,
      "an IN whose every member misses a file must skip it")
    // IN with a member in day 2's range: day 2 must NOT be skipped —
    // the values prove it (xray still returned)
    assert(dsv2(dir).filter(col("src").isin("alpha", "xray"))
      .select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // IS NOT NULL skips the all-null day wholesale
    graft.etl.FileStats.skippedFiles.set(0L)
    assert(dsv2(dir).filter(col("src").isNotNull).count() === 4L)
    assert(graft.etl.FileStats.skippedFiles.get() > 0,
      "IS NOT NULL must skip the all-null file")
    // LIKE 'prefix%': day 1 ({alpha, beta}) is provably outside the
    // 'x' prefix range [x, y) — file-skips; the matching rows are exact
    graft.etl.FileStats.skippedFiles.set(0L)
    assert(dsv2(dir).filter(col("src").startsWith("x"))
      .select("event_id").as[Long].collect().toSeq === Seq(3L))
    assert(graft.etl.FileStats.skippedFiles.get() > 0,
      "a prefix filter must skip files whose range misses [p, succ(p))")
    // exactness against the Scala read for the full matrix
    assert(dsv2(dir).filter(col("src") >= "beta").count() ===
      LakeSnapshot.read(spark, dir).filter(col("src") >= "beta").count())
    assert(dsv2(dir).filter(col("src") < "m").count() === 2L)
  }

  test("IS NULL skip hint (r19): zero-null files skip from the exact " +
    "null census, all-null and column-ABSENT files match (inverted " +
    "null semantics) — the backfill gap-audit scan") {
    val dir = freshDir("isnullstats")
    // day 1 fully backfilled (src never null), day 2 half-null, day 3
    // written BEFORE src existed (column absent — schema evolution gap)
    LakeSnapshot.merge(spark, dir,
      Seq((9L, ts(3), 9.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 1.0, "a"), (2L, ts(1), 2.0, "b"),
        (3L, ts(2), 3.0, "c"), (4L, ts(2), 4.0, null.asInstanceOf[String]))
        .toDF("event_id", "ts", "value", "src"),
      "event_id", "ts")
    // the gap audit: exactly the half-null row + the whole absent day
    graft.etl.FileStats.skippedFiles.set(0L)
    assert(dsv2(dir).filter(col("src").isNull)
      .select("event_id").as[Long].collect().sorted.toSeq === Seq(4L, 9L),
      "all-null and column-absent files MUST match IS NULL")
    assert(graft.etl.FileStats.skippedFiles.get() > 0,
      "the fully-backfilled day must file-skip from its zero null count")
    // row-group layer agrees when the sidecar is gone
    dropSidecars(dir)
    LakeParquetRead.skippedGroups.set(0L)
    assert(dsv2(dir).filter(col("src").isNull).count() === 2L)
    assert(LakeParquetRead.skippedGroups.get() > 0,
      "the group layer must skip zero-null groups from footer null counts")
    // exactness against the Scala read
    assert(rows(dsv2(dir).filter(col("src").isNull)) ===
      rows(LakeSnapshot.read(spark, dir).filter(col("src").isNull)))
  }

  test("footerStat folds row groups: longs, doubles, dates, timestamp " +
    "units normalize to micros, all-null and absent columns mark") {
    val dir = freshDir("footerstat")
    val df = Seq(
      (5L, ts(1), 1.5, java.sql.Date.valueOf("2024-01-01"),
        null.asInstanceOf[String]),
      (9L, ts(2), -2.5, java.sql.Date.valueOf("2024-02-01"),
        null.asInstanceOf[String]))
      .toDF("k", "t", "v", "d", "s").coalesce(1)
    // MILLIS on purpose: the collector must normalize any int64 unit
    val conf = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "TIMESTAMP_MILLIS")
    try df.write.mode("overwrite").parquet(dir)
    finally spark.conf.set(conf, prev)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    val st = graft.etl.FileStats.footerStat(file.toString,
      spark.sparkContext.hadoopConfiguration)
    assert(st.rows === 2L)
    assert(st.cols("k") === graft.etl.FileStats.ColStat("l", 5L, 9L,
      nulls = 0L))
    assert(st.cols("v").family === "d")
    assert(st.cols("v").dmn === -2.5 && st.cols("v").dmx === 1.5)
    assert(st.cols("d") === graft.etl.FileStats.ColStat("l",
      java.time.LocalDate.parse("2024-01-01").toEpochDay,
      java.time.LocalDate.parse("2024-02-01").toEpochDay, nulls = 0L))
    // ts stats must land in MICROS whatever unit the writer chose
    val tmin = ts(1).getTime * 1000L
    assert(st.cols("t") === graft.etl.FileStats.ColStat("l",
      tmin, ts(2).getTime * 1000L, nulls = 0L))
    assert(st.cols("s").family === "n", "all-null column marks 'n'")
    assert(graft.etl.FileStats.provablyEmpty(st, "absent", "eq",
      isFloat = false, 1L, 0d), "absent column is skippable")
    assert(graft.etl.FileStats.provablyEmpty(st, "s", "eq",
      isFloat = false, 1L, 0d), "all-null column is skippable")
    assert(!graft.etl.FileStats.provablyEmpty(st, "k", "eq",
      isFloat = false, 7L, 0d), "in-range eq cannot skip")
    assert(graft.etl.FileStats.provablyEmpty(st, "k", "gt",
      isFloat = false, 9L, 0d), "out-of-range gt skips")
  }

  test("the scan reports statistics from metadata (sidecar rows + file " +
    "sizes) and a small lake read wins a BROADCAST join") {
    val dir = freshDir("stats_report")
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    // delta-free lake: row counts are exact from the sidecars
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 1.0), (2L, ts(1), 2.0), (3L, ts(2), 3.0))
        .toDF("event_id", "ts", "value"),
      "event_id", "ts")
    val st = scanOf(dsv2(dir)).scan.asInstanceOf[SupportsReportStatistics]
      .estimateStatistics()
    assert(st.numRows().getAsLong === 3L, "sidecar row counts are exact")
    assert(st.sizeInBytes().getAsLong > 0L &&
      st.sizeInBytes().getAsLong < (1L << 20),
      "size must be the real file bytes, not defaultSizeInBytes")
    // day pruning shrinks the estimate with the listing
    val pruned = scanOf(
      dsv2(dir).filter(col("day") === lit("2024-01-01").cast("date")))
      .scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
    assert(pruned.numRows().getAsLong === 2L)
    // a delta makes row counts an upper-bound gap → empty numRows, but
    // sizes still real
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((4L, ts(1), 4.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    val withDelta = scanOf(dsv2(dir)).scan
      .asInstanceOf[SupportsReportStatistics].estimateStatistics()
    assert(!withDelta.numRows().isPresent)
    assert(withDelta.sizeInBytes().getAsLong > st.sizeInBytes().getAsLong)
    // the join-planning consequence: with a threshold between the lake's
    // real size and the big side's, the LAKE side broadcasts — without
    // reported stats a DSv2 relation is defaultSizeInBytes and this
    // would be a sort-merge join
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, (1 << 20).toString) // 1 MiB
      val big = graft.Tables.load(spark, graft.TestSpark.sf, "events")
        .select(col("event_id"), col("value").as("ev_value"))
      val joined = big.join(dsv2(dir).select("event_id", "value"),
        Seq("event_id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastExchange"),
        s"the small lake read must broadcast:\n$plan")
      val bcastIdx = plan.indexOf("BroadcastExchange")
      assert(bcastIdx >= 0 && plan.indexOf("graft-lake", bcastIdx) > bcastIdx,
        s"the graft-lake scan must sit UNDER the broadcast exchange:\n$plan")
    } finally spark.conf.set(conf, prev)
  }

  test("count(*) over an empty projection still folds deltas") {
    val dir = freshDir("countstar")
    buildFullLake(dir)
    assert(dsv2(dir).count() === LakeSnapshot.read(spark, dir).count())
  }

  test("DSv2 WRITE: first write creates the table (cow), appends land " +
    "as row-delta commits, key records and validates, reads fold") {
    import spark.implicits._
    val dir = freshDir("write")
    val seed = Seq((1L, ts(1), 1.0), (2L, ts(1), 2.0), (3L, ts(2), 3.0))
      .toDF("event_id", "ts", "value")
    seed.write.format("graft-lake")
      .option("path", dir).option("key", "event_id")
      .option("writeMode", "cow").mode("append").save()
    // default append = merge-on-read delta: update key 1, insert key 10
    Seq((1L, ts(1), 100.0), (10L, ts(1), 10.0))
      .toDF("event_id", "ts", "value")
      .write.format("graft-lake").option("path", dir).mode("append").save()
    val got = dsv2(dir)
      .select(col("event_id"), col("value"), col("day").cast("string"))
      .as[(Long, Double, String)].collect().toSet
    assert(got === Set(
      (1L, 100.0, "2024-01-01"), (2L, 2.0, "2024-01-01"),
      (10L, 10.0, "2024-01-01"), (3L, 3.0, "2024-01-02")))
    // the second commit really is a delta (no whole-day rewrite)
    val ops = LakeSnapshot.describeHistory(spark, dir)
      .select("operation").as[String].collect().toSeq
    assert(ops === Seq("write", "delta"))
    // the recorded key is the default for later writers...
    Seq((2L, ts(1), 22.0)).toDF("event_id", "ts", "value")
      .write.format("graft-lake").option("path", dir).mode("append").save()
    assert(dsv2(dir).filter(col("event_id") === 2L)
      .select("value").as[Double].head() === 22.0)
    // ...and a mismatched explicit key fails loudly
    val ex = intercept[Exception] {
      Seq((9L, ts(1), 9.0)).toDF("event_id", "ts", "value")
        .write.format("graft-lake").option("path", dir)
        .option("key", "value").mode("append").save()
    }
    assert(ex.getMessage.contains("does not match"))
    // overwrite is not a lake operation
    val ex2 = intercept[Exception] {
      seed.write.format("graft-lake").option("path", dir)
        .mode("overwrite").save()
    }
    assert(ex2.getMessage.toLowerCase.contains("overwrite") ||
      ex2.getMessage.contains("TRUNCATE"))
  }

  test("DSv2 WRITE: cdf option stages write-time change sidecars; " +
    "missing key on a brand-new lake fails loudly") {
    import spark.implicits._
    val dir = freshDir("write_cdf")
    val ex = intercept[Exception] {
      Seq((1L, ts(1), 1.0)).toDF("event_id", "ts", "value")
        .write.format("graft-lake").option("path", dir)
        .mode("append").save()
    }
    assert(ex.getMessage.contains("key"))
    Seq((1L, ts(1), 1.0), (2L, ts(1), 2.0))
      .toDF("event_id", "ts", "value")
      .write.format("graft-lake").option("path", dir)
      .option("key", "event_id").option("writeMode", "cow")
      .option("cdf", "true").mode("append").save()
    Seq((1L, ts(1), 100.0)).toDF("event_id", "ts", "value")
      .write.format("graft-lake").option("path", dir)
      .option("cdf", "true").mode("append").save()
    val e1 = LakeSnapshot.currentEpoch(spark, dir)
    val feed = LakeSnapshot.readChangesCdf(spark, dir, 0, e1)
      .select(col("event_id"), col("_change_type"))
      .as[(Long, String)].collect().toSet
    assert(feed === Set(
      (1L, "update_preimage"), (1L, "update_postimage")))
  }

  test("the per-executor delta fold cache bounds delta-file opens at " +
    "deltas-per-day, never baseFiles x deltas (r14, VERDICT missing #4)") {
    import graft.etl.LakeSnapshot
    val dir = freshDir("fold_cache")
    // one day, MANY base files: z-order the seeded day into 6 files
    LakeSnapshot.merge(spark, dir,
      (1L to 300L).map(i => (i, ts(1), i * 1.0))
        .toDF("event_id", "ts", "value"),
      "event_id", "ts")
    LakeSnapshot.optimizeZOrder(spark, dir,
      col("event_id"), col("value"), files = 6)
    // two delta commits layered on the day (one file each)
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((1L, ts(1), 1000.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    LakeSnapshot.deleteKeysDelta(spark, dir,
      Seq((2L, ts(1))).toDF("event_id", "ts"), "event_id", "ts")
    LakeDeltaStateCache.clear()
    val before = LakeParquetRead.deltaFileOpens.get()
    val got = dsv2(dir).agg(count(lit(1)), round(sum("value"), 2))
      .as[(Long, Double)].head()
    val opens = LakeParquetRead.deltaFileOpens.get() - before
    // 6 base partitions + 1 fold partition all need the 2-file state;
    // the executor-wide memo folds it ONCE -> 2 opens, not 14
    assert(opens == 2L, s"expected 2 delta-file opens, got $opens")
    assert(got === ((299L, 300L * 301 / 2 - 1.0 - 2.0 + 1000.0)))
    // a NEW delta commit changes the day state -> the stale memo can
    // never serve it (different key), one more fold of the 3-file list
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((3L, ts(1), 3000.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    val before2 = LakeParquetRead.deltaFileOpens.get()
    val got2 = dsv2(dir).agg(round(sum("value"), 2)).as[Double].head()
    assert(LakeParquetRead.deltaFileOpens.get() - before2 == 3L)
    assert(got2 === got._2 - 3.0 + 3000.0)
  }

  test("event-time predicates derive DAY pruning (r17 wave 6): a ts " +
    "range read never LISTS days outside the derived bounds") {
    val dir = freshDir("ts_day_prune")
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 1.0), (2L, ts(2, 8), 2.0), (3L, ts(2, 12), 3.0),
        (4L, ts(3), 4.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    // physically remove day 1's committed directory: a DERIVED-pruned
    // read must succeed (the day is never listed), a full read must
    // fail on the missing dir — listing-level proof, not plan text
    // capture the schema BEFORE punching the hole (schema inference
    // itself reads every day; the explicit schema skips it so the test
    // observes the PLANNER's listing alone)
    val schema = dsv2(dir).schema
    val d1 = new org.apache.hadoop.fs.Path(s"$dir/data/gen=0/day=2024-01-01")
    val fs = d1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(d1, true))
    def read() = spark.read.format("graft-lake").schema(schema)
      .option("path", dir).load()
    // lower bound mid-day-2: days 02/03 list, day-1 never touched;
    // the residual ts filter still trims day 2's early row
    assert(read().filter(col("ts") >= lit(ts(2, 12)))
      .select("event_id").as[Long].collect().toSet === Set(3L, 4L))
    // ts equality derives day equality
    assert(read().filter(col("ts") === lit(ts(3)))
      .select("event_id").as[Long].collect().toSeq === Seq(4L))
    // IN on ts derives day IN
    assert(read().filter(col("ts").isin(ts(2, 8), ts(3)))
      .select("event_id").as[Long].collect().toSet === Set(2L, 4L))
    // the unfiltered read DOES list day 1 — and fails loudly on the
    // hole, proving the filtered reads above genuinely pruned
    intercept[Exception] { read().collect() }
  }

  test("ts->day derivation only fires on an EXPLICIT ts declaration " +
    "(ADVICE r17): an unrelated column physically named ts never " +
    "derives day bounds, and the write funnel records the real ts col") {
    val dir = freshDir("ts_explicit_only")
    // event time lives in event_time; `ts` is an UNRELATED data column
    // whose values point at a different day than the row's partition
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), ts(3), 1.0), (2L, ts(2), ts(1), 2.0))
        .toDF("event_id", "event_time", "ts", "value"),
      "event_id", "event_time")
    // the write funnel recorded its ts column (r18)
    assert(GraftCatalog.readCreateProps(spark, dir).get("ts")
      === Some("event_time"))
    // poison scenario: a pre-r18 lake with NO recorded props — the old
    // bare "ts" default would derive day<=2024-01-01 from this filter
    // and silently lose row 1 (partitioned at day 3... no: row 1 sits
    // at day=2024-01-01 via event_time=ts(1), its ts value is ts(3));
    // filter ts <= ts(1): matches row 2 only BY VALUE, but row 2 sits
    // at day=2024-01-02 — a derived day<=2024-01-01 bound would prune
    // row 2's day and return EMPTY
    val props = Paths.get(dir, "manifest", "_table.properties")
    val saved = Files.readAllBytes(props)
    Files.delete(props)
    LakeDeltaStateCache.clear()
    assert(dsv2(dir).filter(col("ts") <= lit(ts(1)))
      .select("event_id").as[Long].collect().toSeq === Seq(2L),
      "no declaration -> no derivation -> the unrelated ts column " +
        "filters by VALUE only")
    Files.write(props, saved)
    // with the declaration restored, predicates on the REAL event-time
    // column still derive (row 1 is at day 1)
    assert(dsv2(dir).filter(col("event_time") <= lit(ts(1)))
      .select("event_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("ts->day derivation uses the RECORDED write zone (ADVICE r18): " +
    "a table written under a non-UTC session keeps its boundary rows " +
    "when READ under a different session zone") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    val dir = freshDir("ts_session_zone")
    // 2024-01-02 03:00 Tokyo == 2024-01-01 18:00 UTC: the write labels
    // the day 2024-01-02 (write-session zone); a reader-zone-derived
    // bound from the same literal would point at day 2024-01-01 and
    // prune the row
    val t = java.sql.Timestamp.from(
      java.time.ZonedDateTime.of(2024, 1, 2, 3, 0, 0, 0,
        java.time.ZoneId.of("Asia/Tokyo")).toInstant)
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      LakeSnapshot.merge(spark, dir,
        Seq((1L, t, 1.0)).toDF("event_id", "ts", "value"),
        "event_id", "ts")
      // the write funnel recorded the write zone next to the ts column
      assert(GraftCatalog.readCreateProps(spark, dir).get("ts.zone")
        === Some("Asia/Tokyo"))
      // same-zone read: equality on the boundary-adjacent instant
      assert(dsv2(dir).filter(col("ts") === lit(t))
        .select("event_id").as[Long].collect().toSeq === Seq(1L),
        "write-zone day bound must match the written label")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // CROSS-ZONE read (the r18 ADVICE scenario): the session is back to
    // UTC, but day bounds must still derive in the RECORDED Tokyo zone
    // — the r17 session-zone rule would derive day<=2024-01-01 here and
    // silently prune the live 2024-01-02 partition
    LakeDeltaStateCache.clear()
    assert(dsv2(dir).filter(col("ts") === lit(t))
      .select("event_id").as[Long].collect().toSeq === Seq(1L),
      "reader-zone-derived day bounds lose rows near day boundaries")
    assert(dsv2(dir).filter(col("ts") >= lit(t))
      .select("event_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("mixed-zone write history flips ts.zone to 'mixed' and disables " +
    "derivation; a zone-less recorded-ts table never derives (ADVICE " +
    "r18)") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    val dir = freshDir("ts_mixed_zone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      LakeSnapshot.merge(spark, dir,
        Seq((1L, ts(1), 1.0)).toDF("event_id", "ts", "value"),
        "event_id", "ts")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // second write under UTC: zones spanned — sticky mixed
    LakeSnapshot.merge(spark, dir,
      Seq((2L, ts(2), 2.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    assert(GraftCatalog.readCreateProps(spark, dir).get("ts.zone")
      === Some(GraftCatalog.TsZoneMixed))
    // derivation is OFF: punch a hole in day 1 — a ts filter that would
    // have derived day>=2024-01-02 must now fail loudly (day 1 still
    // LISTS), proving no silent wrong-zone pruning can occur
    val schema = dsv2(dir).schema
    val d1 = new org.apache.hadoop.fs.Path(s"$dir/data/gen=0/day=2024-01-01")
    val fs = d1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(d1, true))
    LakeDeltaStateCache.clear()
    intercept[Exception] {
      spark.read.format("graft-lake").schema(schema).option("path", dir)
        .load().filter(col("ts") >= lit(ts(2))).collect()
    }
    // …and values still come back right through the residual filter on
    // an intact lake (rebuild)
    val dir2 = freshDir("ts_mixed_zone2")
    LakeSnapshot.merge(spark, dir2,
      Seq((1L, ts(1), 1.0), (2L, ts(2), 2.0))
        .toDF("event_id", "ts", "value"), "event_id", "ts")
    assert(dsv2(dir2).filter(col("ts") >= lit(ts(2)))
      .select("event_id").as[Long].collect().toSeq === Seq(2L))
  }

  test("recordDeclaredTs memo invalidation (ADVICE r18): DROP/recreate " +
    "at the same path re-records; without forget the memo would " +
    "early-return forever") {
    val dir = freshDir("ts_memo")
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 1.0)).toDF("event_id", "event_time", "value"),
      "event_id", "event_time")
    assert(GraftCatalog.readCreateProps(spark, dir).get("ts")
      === Some("event_time"))
    // simulate DROP + recreate at the same path in one JVM
    val p = Paths.get(dir)
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
      .forEach(f => Files.deleteIfExists(f))
    GraftCatalog.forgetDeclaredTs(dir) // what dropTable/rename/CTAS do
    LakeDeltaStateCache.clear()
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 1.0)).toDF("event_id", "other_time", "value"),
      "event_id", "other_time")
    assert(GraftCatalog.readCreateProps(spark, dir).get("ts")
      === Some("other_time"),
      "the NEW table at the old path must get its own ts recording")
  }

  test("parseInstantMs resolves local-datetime forms in the SESSION " +
    "zone, not the JVM default (ADVICE r18)") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val ms = GraftLakeSource.parseInstantMs("2024-01-02 03:00:00")
      val want = java.time.ZonedDateTime.of(2024, 1, 2, 3, 0, 0, 0,
        java.time.ZoneId.of("Asia/Tokyo")).toInstant.toEpochMilli
      assert(ms === want)
      assert(GraftLakeSource.parseInstantMs("2024-01-02") ===
        java.time.ZonedDateTime.of(2024, 1, 2, 0, 0, 0, 0,
          java.time.ZoneId.of("Asia/Tokyo")).toInstant.toEpochMilli)
      // epoch millis and ISO instants are zone-independent
      assert(GraftLakeSource.parseInstantMs("1700000000000")
        === 1700000000000L)
      assert(GraftLakeSource.parseInstantMs("2024-01-02T03:00:00Z") ===
        java.time.Instant.parse("2024-01-02T03:00:00Z").toEpochMilli)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("page-read projection (r18): the scan fetches only the projected " +
    "columns' chunks — SELECT media.mime never touches the payload " +
    "pages, and nested-struct pruning reaches the parquet reader") {
    val dir = freshDir("nested_prune")
    val src = Seq((1L, 1), (2L, 2)).toDF("doc_id", "d")
      .selectExpr("doc_id",
        "to_timestamp(concat('2024-01-0', d, ' 10:00:00')) AS ts",
        "named_struct('mime', concat('image/', doc_id), " +
          "'w', CAST(doc_id AS INT), " +
          "'payload', CAST(repeat('x', 1000) AS BINARY)) AS media",
        "CAST(repeat('y', 500) AS BINARY) AS blob")
    LakeSnapshot.merge(spark, dir, src, "doc_id", "ts")
    // nested pruning reaches the SCAN schema…
    val mimes = dsv2(dir).select(col("media.mime").as("mime"))
    val readSchema = scanOf(mimes).scan.readSchema()
    assert(readSchema.fieldNames.toSeq === Seq("media"))
    assert(readSchema("media").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("mime"),
      s"nested pruning must reach readSchema, got $readSchema")
    // …and the PAGE READS: 2 base files, ONE leaf column each (the
    // pre-r18 reader materialized every column's pages regardless of
    // the projection — payload, blob and all)
    val c0 = LakeParquetRead.leafColumnsRead.get()
    assert(mimes.as[String].collect().toSet ===
      Set("image/1", "image/2"))
    assert(LakeParquetRead.leafColumnsRead.get() - c0 === 2L,
      "SELECT media.mime over 2 files must request exactly 2 leaves")
    // top-level projection too: one leaf per file (the frame is built
    // BEFORE the counter snapshot — schema inference may open files)
    val ids = dsv2(dir).select("doc_id")
    val c1 = LakeParquetRead.leafColumnsRead.get()
    assert(ids.as[Long].collect().toSet === Set(1L, 2L))
    assert(LakeParquetRead.leafColumnsRead.get() - c1 === 2L)
    // the full struct still round-trips whole
    val full = dsv2(dir).select("doc_id", "media")
      .collect().map(r => (r.getLong(0),
        r.getStruct(1).getString(0), r.getStruct(1).getAs[Array[Byte]](2)))
    assert(full.map(_._2).toSet === Set("image/1", "image/2"))
    assert(full.forall(_._3.length === 1000))
    // a delta-carrying day folds correctly through the projection: the
    // winner-map key column is added to the page reads under the hood
    LakeSnapshot.mergeDelta(spark, dir,
      Seq((1L, 1)).toDF("doc_id", "d").selectExpr("doc_id",
        "to_timestamp('2024-01-01 10:00:00') AS ts",
        "named_struct('mime', 'image/updated', 'w', 9, " +
          "'payload', CAST('z' AS BINARY)) AS media",
        "CAST('y' AS BINARY) AS blob"),
      "doc_id", "ts")
    LakeDeltaStateCache.clear()
    assert(dsv2(dir).select(col("media.mime")).as[String].collect().toSet
      === Set("image/updated", "image/2"),
      "the superseded base row must vanish even under a pruned read")
    // array<struct> narrows through the LIST element too: a frames
    // array's mime projection never fetches the per-frame payloads
    val dir2 = freshDir("nested_prune_list")
    LakeSnapshot.merge(spark, dir2,
      Seq((1L, 1), (2L, 2)).toDF("doc_id", "d").selectExpr(
        "doc_id",
        "to_timestamp(concat('2024-01-0', d, ' 10:00:00')) AS ts",
        "array(named_struct('mime', concat('f/', doc_id), " +
          "'payload', CAST(repeat('x', 500) AS BINARY)), " +
          "named_struct('mime', concat('g/', doc_id), " +
          "'payload', CAST('y' AS BINARY))) AS frames"),
      "doc_id", "ts")
    val fm = dsv2(dir2).select(col("frames.mime").as("mimes"))
    val c2 = LakeParquetRead.leafColumnsRead.get()
    assert(fm.as[Seq[String]].collect().flatten.toSet
      === Set("f/1", "f/2", "g/1", "g/2"))
    assert(LakeParquetRead.leafColumnsRead.get() - c2 === 2L,
      "2 files x the one projected list leaf (mime) — payload chunks " +
        "must not be requested")
  }

  test("LIMIT pushdown (r18): a preview on a pure-base lake plans only " +
    "k-covering files — days beyond coverage are never even LISTED") {
    val dir = freshDir("limit_push")
    LakeSnapshot.merge(spark, dir, Seq(
      (1L, ts(1), 1.0), (2L, ts(1), 1.5),
      (3L, ts(2), 2.0), (4L, ts(2), 2.5),
      (5L, ts(3), 3.0), (6L, ts(3), 3.5),
      (7L, ts(4), 4.0), (8L, ts(4), 4.5)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    val schema = dsv2(dir).schema // inference reads every day; capture first
    def read() = spark.read.format("graft-lake").schema(schema)
      .option("path", dir).load()
    // punch a hole in the LAST day: the plain-LIMIT cap walks days in
    // ascending order, so a LIMIT 2 covered by day 1's two sidecar-known
    // rows must plan (and run) without ever listing day 4
    val d4 = new org.apache.hadoop.fs.Path(s"$dir/data/gen=0/day=2024-01-04")
    val fs = d4.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(d4, true))
    LakeDeltaStateCache.clear()
    val pushedBefore = GraftLakeSource.pushedLimits.get()
    val cappedBefore = GraftLakeSource.limitCappedPlans.get()
    val lim = read().limit(2)
    val parts = scanOf(lim).inputPartitions
    assert(parts.length === 1, s"LIMIT 2 over 2-row files needs ONE " +
      s"partition, planned ${parts.length}")
    assert(parts.collect { case b: LakeBaseFilePartition => b.day }.toSet
      === Set("2024-01-01"))
    assert(scanOf(lim).scan.description().contains("pushedLimit=2"))
    assert(lim.count() === 2L)
    assert(GraftLakeSource.pushedLimits.get() > pushedBefore)
    assert(GraftLakeSource.limitCappedPlans.get() > cappedBefore)
    // the UNCAPPED read does list day 4 — and fails loudly on the hole,
    // proving the capped plan genuinely skipped the listing
    intercept[Exception] { read().collect() }
  }

  test("TopN pushdown (r18): ORDER BY day/ts DESC LIMIT k walks whole " +
    "days from the top — early days are never listed; order and values " +
    "stay exact (Spark keeps the real Sort above the capped scan)") {
    val dir = freshDir("topn_push")
    LakeSnapshot.merge(spark, dir, Seq(
      (1L, ts(1), 1.0), (2L, ts(1), 1.5),
      (3L, ts(2), 2.0), (4L, ts(2), 2.5),
      (7L, ts(4, 8), 4.0), (8L, ts(4, 12), 4.5))
      .toDF("event_id", "ts", "value"),
      "event_id", "ts")
    val schema = dsv2(dir).schema
    def read() = spark.read.format("graft-lake").schema(schema)
      .option("path", dir).load()
    // punch a hole in the FIRST day: a DESC top-k covered by day 4 must
    // never list day 1
    val d1 = new org.apache.hadoop.fs.Path(s"$dir/data/gen=0/day=2024-01-01")
    val fs = d1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(d1, true))
    LakeDeltaStateCache.clear()
    // ORDER BY day DESC LIMIT 2: day 4 holds exactly 2 rows -> one day
    val topDay = read().orderBy(col("day").desc).limit(2)
    assert(scanOf(topDay).inputPartitions.collect {
      case b: LakeBaseFilePartition => b.day
    }.toSet === Set("2024-01-04"))
    assert(topDay.select("event_id").as[Long].collect().toSet === Set(7L, 8L))
    // ORDER BY ts DESC LIMIT 1: ts orders within day by the write
    // contract day = to_date(ts) — the newest row, exactly
    assert(read().orderBy(col("ts").desc).limit(1)
      .select("event_id").as[Long].head() === 8L)
    // ASC over the punched-out day 1 fails loudly: the direction is
    // honored, not just "some small set of days"
    intercept[Exception] {
      read().orderBy(col("day").asc).limit(2).collect()
    }
  }

  test("LIMIT pushdown refuses when exactness is unprovable: deltas on a " +
    "surviving day or residual filters fall back to the full plan (r18)") {
    val dir = freshDir("limit_refuse")
    LakeSnapshot.merge(spark, dir, Seq(
      (1L, ts(1), 1.0), (2L, ts(1), 2.0), (3L, ts(2), 3.0))
      .toDF("event_id", "ts", "value"), "event_id", "ts")
    // a pending delta on day 1: raw base rows overstate the fold
    LakeSnapshot.deleteKeysDelta(spark, dir,
      Seq((1L, ts(1))).toDF("event_id", "ts"), "event_id", "ts")
    LakeDeltaStateCache.clear()
    val pushedBefore = GraftLakeSource.pushedLimits.get()
    val lim = dsv2(dir).limit(2)
    assert(!scanOf(lim).scan.description().contains("pushedLimit"),
      "deltas present -> the push must refuse")
    assert(lim.count() === 2L) // 3 live rows minus the deleted key -> 2
    assert(GraftLakeSource.pushedLimits.get() === pushedBefore)
    // residual filter: the Filter node stays between scan and limit, so
    // no push — and the filtered LIMIT is still correct
    val filtered = dsv2(dir).filter(col("value") > 1.5).limit(5)
    assert(!scanOf(filtered).scan.description().contains("pushedLimit"))
    assert(filtered.select("event_id").as[Long].collect().toSet
      === Set(2L, 3L))
  }

  test("scan observability (r18): driver metrics carry the per-query " +
    "skip tiers, readers report row-group skips, and bloom coverage is " +
    "listable without decoding filter bits") {
    val dir = freshDir("scan_obs")
    // bloom declaration BEFORE the first write: the staging builds
    // sidecars for it (the path-based write surface's order)
    GraftCatalog.upsertProps(spark, dir, Map("bloom" -> "uid"))
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 2L, 1.0),
        (2L, ts(2), 4L, 2.0), (3L, ts(2), 8L, 2.5),
        (4L, ts(3), 6L, 3.0), (5L, ts(3), 10L, 3.5))
        .toDF("event_id", "ts", "uid", "value"),
      "event_id", "ts")
    val schema = dsv2(dir).schema
    // day filter prunes day 1; uid = 7 is odd (absent by construction)
    // and INSIDE both surviving files' [min, max] — only the BLOOM tier
    // can prove the absence, the stats tier cannot
    val scan = new LakeScan(schema, Map("path" -> dir),
      staticDayFilters = Seq(GreaterThanOrEqual("day",
        java.sql.Date.valueOf("2024-01-02"))),
      statFilters = Seq(EqualTo("uid", 7L)))
    val parts = scan.planInputPartitions()
    val m = scan.reportDriverMetrics().map(t => t.name -> t.value).toMap
    assert(m("graftDaysSelected") === 2L && m("graftDaysPruned") === 1L)
    assert(m("graftFilesSkippedByBloom") === 2L,
      s"both surviving days' files hold only even uids: $m")
    assert(m("graftFilesPlanned") === parts.count(
      _.isInstanceOf[LakeBaseFilePartition]).toLong)
    assert(m("graftFilesPlanned") === 0L)
    // executor tier: a reader under a stats-impossible filter skips its
    // row group and reports it through currentMetricsValues
    val all = new LakeScan(schema, Map("path" -> dir), Nil)
    val part = all.planInputPartitions().collectFirst {
      case b: LakeBaseFilePartition => b
    }.get
    val rf = new LakeScan(schema, Map("path" -> dir), Nil,
      statFilters = Seq(EqualTo("value", -12345.0))).createReaderFactory()
    val r = rf.createReader(part)
    while (r.next()) fail("the impossible filter must skip every group")
    val rm = r.currentMetricsValues().map(t => t.name -> t.value).toMap
    r.close()
    assert(rm("graftRowGroupsSkipped") === 1L, rm.toString)
    // bloom coverage listing: names only, no filter-bit decode
    val cov = graft.etl.BloomStats.coverage(
      spark, s"$dir/data/gen=0", "2024-01-01")
    assert(cov.nonEmpty && cov.values.flatten.toSet === Set("uid"))
  }

  test("option(timestampAsOf): the path-based read resolves to the " +
    "youngest epoch at-or-before the instant (r17 wave 3)") {
    val dir = freshDir("ts_asof")
    LakeSnapshot.merge(spark, dir,
      Seq((1L, ts(1), 1.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    val t0 = graft.ops.IncrementalDedup.Manifest
      .commitTimeMs(spark, s"$dir/manifest", 0)
    // commit times are second-resolution on some filesystems — space the
    // second commit measurably after the first
    Thread.sleep(1100)
    LakeSnapshot.merge(spark, dir,
      Seq((2L, ts(1), 2.0)).toDF("event_id", "ts", "value"),
      "event_id", "ts")
    // pin at the FIRST commit's instant: only row 1 exists
    assert(dsv2(dir, "timestampAsOf" -> t0.toString)
      .select("event_id").as[Long].collect().toSeq === Seq(1L))
    // the unpinned read sees both
    assert(dsv2(dir).count() === 2L)
    // both pins at once refuse; an instant predating every commit is loud
    val e1 = intercept[Exception] {
      dsv2(dir, "timestampAsOf" -> t0.toString, "epoch" -> "0").count()
    }
    assert(e1.getMessage.contains("not both"), e1.getMessage)
    val e2 = intercept[Exception] {
      dsv2(dir, "timestampAsOf" -> (t0 - 100000L).toString).count()
    }
    assert(e2.getMessage.contains("predates"), e2.getMessage)
  }
}
