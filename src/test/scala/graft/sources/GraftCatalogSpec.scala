package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}

import graft.TestSpark
import graft.etl.LakeSnapshot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL surface over snapshot lakes (GraftCatalog): a user who
  * speaks only SQL gets CREATE / INSERT-upsert / SELECT / time travel /
  * ALTER rename+drop / DROP — all riding the one manifest the Scala API
  * and the path-based DSv2 relation read.
  */
class GraftCatalogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = {
    val p = Paths.get("target/graft_catalog_spec/wh")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    Files.createDirectories(p)
    p.toString
  }
  spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.graft.warehouse", wh)

  test("CREATE + INSERT (upsert-by-key) + SELECT + VERSION AS OF + " +
    "ALTER RENAME/DROP + DROP TABLE, SQL only") {
    spark.sql("CREATE TABLE graft.ev (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE, note STRING) TBLPROPERTIES ('key' = 'event_id')")
    assert(spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("ev"))
    spark.sql("INSERT INTO graft.ev (event_id, ts, value, note) VALUES " +
      "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0, 'a'), " +
      "(2, TIMESTAMP '2024-01-01 11:00:00', 2.0, 'b'), " +
      "(3, TIMESTAMP '2024-01-02 10:00:00', 3.0, 'c')")
    val preUpdate = LakeSnapshot.currentEpoch(spark, s"$wh/ev")
    // INSERT is upsert-by-key: key 1 updates, key 4 inserts
    spark.sql("INSERT INTO graft.ev (event_id, ts, value, note) VALUES " +
      "(1, TIMESTAMP '2024-01-01 10:00:00', 100.0, 'a2'), " +
      "(4, TIMESTAMP '2024-01-02 12:00:00', 4.0, 'd')")
    assert(spark.sql(
      "SELECT event_id, value FROM graft.ev ORDER BY event_id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 100.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)))
    // time travel to the pre-update epoch
    assert(spark.sql(
      s"SELECT event_id, value FROM graft.ev VERSION AS OF $preUpdate " +
        "ORDER BY event_id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // manifest-only column ops through ALTER TABLE
    spark.sql("ALTER TABLE graft.ev RENAME COLUMN value TO amount")
    spark.sql("ALTER TABLE graft.ev DROP COLUMN note")
    val cols = spark.sql("SELECT * FROM graft.ev").columns.toSet
    assert(cols.contains("amount") && !cols.contains("value") &&
      !cols.contains("note"))
    // the pre-rename epoch still answers under the OLD names
    assert(spark.sql(
      s"SELECT value, note FROM graft.ev VERSION AS OF $preUpdate " +
        "WHERE event_id = 2").as[(Double, String)].head() === ((2.0, "b")))
    // the catalog added no state: the path-based relation and the Scala
    // API read the same table
    assert(spark.read.format("graft-lake").option("path", s"$wh/ev")
      .load().count() === 4L)
    assert(LakeSnapshot.read(spark, s"$wh/ev").count() === 4L)
    spark.sql("DROP TABLE graft.ev")
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("ev"))
  }

  test("SELECT from a CREATEd-but-never-written table returns zero rows " +
    "(ADVICE r13); a path-based read of a never-existing lake stays loud") {
    spark.sql("CREATE TABLE graft.bare (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    try {
      val df = spark.sql("SELECT * FROM graft.bare")
      assert(df.count() === 0L)
      assert(df.columns.toSeq === Seq("event_id", "ts", "value"))
      // aggregates over the declared schema work too
      assert(spark.sql("SELECT sum(value) FROM graft.bare")
        .collect().head.isNullAt(0))
      // and the first INSERT afterwards behaves normally
      spark.sql("INSERT INTO graft.bare (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0)")
      assert(spark.sql("SELECT * FROM graft.bare").count() === 1L)
    } finally spark.sql("DROP TABLE graft.bare")
    val boom = intercept[Exception] {
      spark.read.format("graft-lake")
        .option("path", s"$wh/never_existed").load().count()
    }
    assert(boom.getMessage.contains("no committed snapshot"))
  }

  test("CREATE without a key fails loudly; the declared key validates " +
    "and later writers inherit it") {
    val ex = intercept[Exception] {
      spark.sql("CREATE TABLE graft.nokey (id BIGINT, ts TIMESTAMP)")
    }
    assert(ex.getMessage.contains("key"))
    val ex2 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.badkey (id BIGINT, ts TIMESTAMP) " +
        "TBLPROPERTIES ('key' = 'nope')")
    }
    assert(ex2.getMessage.contains("not a column"))
    spark.sql("CREATE TABLE graft.inherit (id BIGINT, ts TIMESTAMP, " +
      "v DOUBLE) TBLPROPERTIES ('key' = 'id')")
    // a PATH-based writer (no option(key)) inherits the CREATE's key
    Seq((7L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7.0))
      .toDF("id", "ts", "v")
      .write.format("graft-lake").option("path", s"$wh/inherit")
      .mode("append").save()
    assert(spark.sql("SELECT id, v FROM graft.inherit")
      .as[(Long, Double)].head() === ((7L, 7.0)))
    spark.sql("DROP TABLE graft.inherit")
  }

  test("DELETE FROM: day-only predicates drop days manifest-only, " +
    "row predicates land as MoR delta deletes; TRUNCATE empties; " +
    "time travel still sees everything") {
    spark.sql("CREATE TABLE graft.del (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    spark.sql("INSERT INTO graft.del (event_id, ts, value) VALUES " +
      "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0), " +
      "(2, TIMESTAMP '2024-01-01 11:00:00', 2.0), " +
      "(3, TIMESTAMP '2024-01-02 10:00:00', 3.0), " +
      "(4, TIMESTAMP '2024-01-03 10:00:00', 4.0)")
    val full = LakeSnapshot.currentEpoch(spark, s"$wh/del")
    // row-level: a delta delete, no rewrite
    spark.sql("DELETE FROM graft.del WHERE value > 1.5 AND event_id < 3")
    assert(spark.sql("SELECT event_id FROM graft.del ORDER BY event_id")
      .as[Long].collect().toSeq === Seq(1L, 3L, 4L))
    val ops = LakeSnapshot.describeHistory(spark, s"$wh/del")
      .select("operation").as[String].collect().toSeq
    assert(ops === Seq("delta", "delta"),
      s"row DELETE must land as a delta commit, never a rewrite: $ops")
    // day-only: manifest commit, zero data read — history shows a
    // 0-day 1-dropped row
    spark.sql("DELETE FROM graft.del WHERE day = DATE '2024-01-02'")
    assert(spark.sql("SELECT event_id FROM graft.del ORDER BY event_id")
      .as[Long].collect().toSeq === Seq(1L, 4L))
    val hist = LakeSnapshot.describeHistory(spark, s"$wh/del")
      .orderBy(col("epoch").desc).limit(1)
      .select("n_days", "n_dropped").as[(Int, Int)].head()
    assert(hist === ((0, 1)), "day DELETE commits no generation data")
    // a no-match day predicate is a no-op, NOT a truncate
    val e0 = LakeSnapshot.currentEpoch(spark, s"$wh/del")
    spark.sql("DELETE FROM graft.del WHERE day = DATE '2030-01-01'")
    assert(LakeSnapshot.currentEpoch(spark, s"$wh/del") === e0)
    assert(spark.sql("SELECT count(*) FROM graft.del").as[Long].head() === 2L)
    // TRUNCATE: manifest-only, everything gone, history intact
    spark.sql("TRUNCATE TABLE graft.del")
    assert(spark.sql("SELECT count(*) FROM graft.del").as[Long].head() === 0L)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.del VERSION AS OF $full")
      .as[Long].head() === 4L,
      "time travel must still see the pre-delete table")
    spark.sql("DROP TABLE graft.del")
  }

  test("TIMESTAMP AS OF resolves commit wall-clocks; DESCRIBE EXTENDED " +
    "surfaces the key; writeTo/spark.table ride the catalog") {
    spark.sql("CREATE TABLE graft.tt (id BIGINT, ts TIMESTAMP, v DOUBLE) " +
      "TBLPROPERTIES ('key' = 'id')")
    spark.sql("INSERT INTO graft.tt (id, ts, v) VALUES " +
      "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0)")
    val between = java.time.Instant.now()
    Thread.sleep(20)
    // the V2 writeTo API appends through the same bridge
    Seq((2L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 2.0))
      .toDF("id", "ts", "v").writeTo("graft.tt").append()
    assert(spark.table("graft.tt").count() === 2L)
    assert(spark.sql(
      s"SELECT id FROM graft.tt TIMESTAMP AS OF '$between'")
      .as[Long].collect().toSeq === Seq(1L),
      "an instant between the commits sees only the first")
    assert(spark.sql("SELECT count(*) FROM graft.tt TIMESTAMP AS OF " +
      s"'${java.time.Instant.now()}'").as[Long].head() === 2L)
    val early = intercept[Exception] {
      spark.sql("SELECT * FROM graft.tt TIMESTAMP AS OF " +
        "'2000-01-01 00:00:00'").collect()
    }
    assert(early.getMessage.contains("predates"))
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft.tt").collect()
      .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString("\n")
    assert(desc.contains("key") && desc.contains("id"),
      s"DESCRIBE EXTENDED must surface the merge key:\n$desc")
    spark.sql("DROP TABLE graft.tt")
  }

  test("SHOW CREATE TABLE round-trips the declaration; COMMENT ON TABLE " +
    "and SET/UNSET TBLPROPERTIES persist as metadata; structural " +
    "declarations stay immutable (r14 catalog polish)") {
    spark.sql("CREATE TABLE graft.sc (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id') " +
      "COMMENT 'events lake'")
    try {
      val ddl = spark.sql("SHOW CREATE TABLE graft.sc")
        .head().getString(0)
      assert(ddl.contains("CREATE TABLE") && ddl.contains("event_id BIGINT"))
      assert(ddl.contains("'key' = 'event_id'") || ddl.contains("key"),
        s"the merge-key declaration must round-trip:\n$ddl")
      assert(ddl.contains("events lake"), s"comment must round-trip:\n$ddl")
      // COMMENT ON TABLE rewrites the comment
      spark.sql("COMMENT ON TABLE graft.sc IS 'the events lake, v2'")
      val props = spark.sql("DESCRIBE TABLE EXTENDED graft.sc")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("Comment").contains("the events lake, v2") ||
        props.values.exists(_.contains("the events lake, v2")),
        s"DESCRIBE must surface the new comment: $props")
      // user TBLPROPERTIES set/unset
      spark.sql("ALTER TABLE graft.sc SET TBLPROPERTIES " +
        "('pipeline.owner' = 'ingest-team')")
      assert(spark.sql("SHOW TBLPROPERTIES graft.sc").collect()
        .exists(r => r.getString(0) == "pipeline.owner" &&
          r.getString(1) == "ingest-team"))
      spark.sql("ALTER TABLE graft.sc UNSET TBLPROPERTIES ('pipeline.owner')")
      assert(!spark.sql("SHOW TBLPROPERTIES graft.sc").collect()
        .exists(_.getString(0) == "pipeline.owner"))
      // structural declarations refuse mutation loudly
      val ex = intercept[Exception] {
        spark.sql("ALTER TABLE graft.sc SET TBLPROPERTIES ('key' = 'value')")
      }
      assert(ex.getMessage.contains("immutable") ||
        String.valueOf(ex.getCause).contains("immutable"))
    } finally spark.sql("DROP TABLE graft.sc")
  }

  test("SELECT * FROM graft.tbl.history — the commit log as a metadata " +
    "table (r14): one row per manifest epoch, SQL only") {
    spark.sql("CREATE TABLE graft.ht (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    try {
      spark.sql("INSERT INTO graft.ht (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0)")
      spark.sql("INSERT INTO graft.ht (event_id, ts, value) VALUES " +
        "(2, TIMESTAMP '2024-01-02 10:00:00', 2.0)")
      spark.sql("DELETE FROM graft.ht WHERE day = DATE '2024-01-02'")
      val hist = spark.sql("SELECT epoch, operation, n_days, n_dropped " +
        "FROM graft.ht.history ORDER BY epoch").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3)))
      assert(hist.toSeq === Seq(
        (0, "delta", 1, 0), (1, "delta", 1, 0), (2, "delete", 0, 1)))
      // it matches the Scala-side describeHistory row for row
      val scalaHist = LakeSnapshot.describeHistory(spark, s"$wh/ht")
        .select("epoch", "operation", "n_days", "n_dropped")
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3)))
      assert(hist.toSeq === scalaHist.toSeq)
      // commit_time is a real timestamp and non-decreasing
      val times = spark.sql(
        "SELECT commit_time FROM graft.ht.history ORDER BY epoch")
        .collect().map(_.getTimestamp(0).getTime)
      assert(times.sorted.toSeq === times.toSeq && times.head > 0L)
    } finally spark.sql("DROP TABLE graft.ht")
  }

  test("CALL graft.system.optimize/zorder/vacuum/checkpoint — SQL " +
    "maintenance verbs over the one Scala implementation (r14)") {
    spark.sql("CREATE TABLE graft.mt (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    try {
      val dir = s"$wh/mt"
      spark.sql("INSERT INTO graft.mt (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0), " +
        "(2, TIMESTAMP '2024-01-02 10:00:00', 2.0)")
      spark.sql("INSERT INTO graft.mt (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 100.0)")
      // day 1 carries pending deltas; OPTIMIZE absorbs them
      val opt = spark.sql("CALL graft.system.optimize(`table` => 'mt')")
        .head()
      assert(opt.getString(0) === "optimize" && opt.getInt(1) === 2)
      val st = LakeSnapshot.tableState(spark, dir)
      assert(st.days.values.forall(_.deltas.isEmpty),
        "optimize must absorb every pending delta")
      // zorder on (event_id, value); values invariant
      val z = spark.sql("CALL graft.system.zorder(`table` => 'mt', " +
        "columns => 'event_id,value', files => 2)").head()
      assert(z.getString(0) === "zorder" && z.getInt(1) === 2)
      assert(spark.sql("SELECT event_id, value FROM graft.mt")
        .as[(Long, Double)].collect().toSet ===
        Set((1L, 100.0), (2L, 2.0)))
      // checkpoint returns the committed epoch; vacuum reclaims
      val ck = spark.sql("CALL graft.system.checkpoint(`table` => 'mt')")
        .head()
      assert(ck.getString(0) === "checkpoint" && ck.getInt(1) >= 0)
      // the NO-ARG CALL must not destroy time travel (VERDICT r14: the
      // old default was retain_ms=0 — immediate history reclaim — while
      // the library's own RetentionPolicy default is 7 days)
      val preVacuum = LakeSnapshot.currentEpoch(spark, dir) - 2 // pre-optimize
      spark.sql("CALL graft.system.vacuum(`table` => 'mt')")
      assert(spark.sql("SELECT count(*) FROM graft.mt")
        .as[Long].head() === 2L, "vacuum keeps the live view whole")
      assert(spark.sql(s"SELECT count(*) FROM graft.mt VERSION AS OF " +
        s"$preVacuum").as[Long].head() >= 2L,
        "a no-arg CALL vacuum leaves time-travel reads alive " +
          "(RetentionPolicy defaults, not retain 0)")
      // CALL retention: the audit rows BEFORE the destructive verb —
      // under the default policy nothing is reclaimable yet; under
      // retain 0 the superseded history shows as takeable
      val aud = spark.sql("CALL graft.system.retention(`table` => 'mt')")
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      assert(aud.keySet === Set("cdf", "history", "orphan", "staging",
        "claims"))
      assert(aud("history") === 0L,
        "default retention reports nothing reclaimable on a fresh table")
      val aud0 = spark.sql("CALL graft.system.retention(`table` => 'mt', " +
        "retain_ms => 0)").collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
      assert(aud0("history") > 0L,
        "retain 0 must report the superseded generations takeable")
      // an EXPLICIT retain_ms => 0 still reclaims immediately (the
      // caller promising no reader), exactly the old aggressive path
      spark.sql("CALL graft.system.vacuum(`table` => 'mt', retain_ms => 0)")
      val ex0 = intercept[Exception] {
        spark.sql(s"SELECT count(*) FROM graft.mt VERSION AS OF " +
          s"$preVacuum").as[Long].head()
      }
      assert(ex0.getMessage != null,
        "explicit retain 0 reclaims superseded generations")
      // unknown procedure and unknown table fail loudly
      val e1 = intercept[Exception] {
        spark.sql("CALL graft.system.explode(`table` => 'mt')").collect()
      }
      assert(e1.getMessage.contains("unknown procedure") ||
        String.valueOf(e1.getCause).contains("unknown procedure"))
      val e2 = intercept[Exception] {
        spark.sql("CALL graft.system.optimize(`table` => 'nope')").collect()
      }
      assert(e2.getMessage.toLowerCase.contains("table") ||
        e2.getMessage.contains("nope"))
    } finally spark.sql("DROP TABLE graft.mt")
  }

  test("ALTER TABLE ADD COLUMN (r15): immediate null-filled visibility, " +
    "MERGE into it, a re-added dropped name gets a fresh physical " +
    "column (old values never resurface), and the declaration stays " +
    "in sync through rename/drop") {
    spark.sql("CREATE TABLE graft.addc (id BIGINT, ts TIMESTAMP, " +
      "note STRING) TBLPROPERTIES ('key' = 'id')")
    try {
      // ADD on a never-written table: declaration-only, first write binds
      spark.sql("ALTER TABLE graft.addc ADD COLUMN early INT")
      assert(spark.table("graft.addc").columns.toSeq ===
        Seq("id", "ts", "note", "early"))
      spark.sql("INSERT INTO graft.addc VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 'keep', 7), " +
        "(2, TIMESTAMP '2024-01-01 11:00:00', 'secret', NULL)")
      // drop `note`, then RE-ADD the same name: a fresh physical column
      // — row 2's dropped 'secret' must NOT resurface
      spark.sql("ALTER TABLE graft.addc DROP COLUMN note")
      spark.sql("ALTER TABLE graft.addc ADD COLUMN note STRING")
      assert(spark.sql("SELECT count(note) FROM graft.addc")
        .head().getLong(0) === 0L,
        "a re-added name reads all-null — dropped values never resurface")
      spark.sql(
        """MERGE INTO graft.addc t
          |USING (SELECT 1L AS id, TIMESTAMP '2024-01-01 10:00:00' AS ts,
          |       'fresh' AS note) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET note = s.note
          |""".stripMargin)
      assert(spark.sql("SELECT id, note, early FROM graft.addc ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "fresh"), (2L, null)))
      // the validations are loud
      val e1 = intercept[Exception] {
        spark.sql("ALTER TABLE graft.addc ADD COLUMN early INT")
      }
      assert(e1.getMessage.contains("already") ||
        String.valueOf(e1.getCause).contains("already"))
      val e2 = intercept[Exception] {
        spark.sql("ALTER TABLE graft.addc ADD COLUMN x INT FIRST")
      }
      assert(e2.getMessage.contains("FIRST") ||
        String.valueOf(e2.getCause).contains("FIRST"))
      // rename keeps the declaration in sync: re-ADDing the OLD name is
      // a fresh column, not the renamed one's values
      spark.sql("ALTER TABLE graft.addc RENAME COLUMN early TO late")
      spark.sql("ALTER TABLE graft.addc ADD COLUMN early INT")
      assert(spark.sql("SELECT sum(late), count(early) FROM graft.addc")
        .head().toSeq === Seq(7L, 0L))
    } finally spark.sql("DROP TABLE graft.addc")
  }

  test("namespaces map to directories; listTables sees only lakes") {
    spark.sql("CREATE TABLE graft.raw.ev2 (id BIGINT, ts TIMESTAMP) " +
      "TBLPROPERTIES ('key' = 'id')")
    spark.sql("INSERT INTO graft.raw.ev2 (id, ts) VALUES " +
      "(1, TIMESTAMP '2024-01-01 10:00:00')")
    assert(Files.exists(Paths.get(s"$wh/raw/ev2/manifest")))
    assert(spark.sql("SELECT count(*) FROM graft.raw.ev2")
      .as[Long].head() === 1L)
    // a stray non-lake directory is not a table
    Files.createDirectories(Paths.get(s"$wh/raw/junk"))
    assert(spark.sql("SHOW TABLES IN graft.raw").collect()
      .map(_.getString(1)).toSet === Set("ev2"))
    spark.sql("DROP TABLE graft.raw.ev2")
  }

  test("SELECT * FROM graft.tbl.files — the live storage layout as a " +
    "metadata table (r17 wave 6): day/kind/gen/file/bytes/rows") {
    spark.sql("CREATE TABLE graft.ft (event_id BIGINT, ts TIMESTAMP, " +
      "v DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    spark.sql("INSERT INTO graft.ft (event_id, ts, v) VALUES " +
      "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0), " +
      "(2, TIMESTAMP '2024-01-01 11:00:00', 2.0), " +
      "(3, TIMESTAMP '2024-01-02 10:00:00', 3.0)")
    val pre = spark.sql("SELECT kind, day, bytes FROM graft.ft.files")
      .collect()
    assert(pre.nonEmpty && pre.forall(_.getLong(2) > 0L))
    assert(pre.map(_.getString(1)).toSet ===
      Set("2024-01-01", "2024-01-02"))
    // OPTIMIZE folds everything into base files whose sidecar row
    // counts are exact
    spark.sql("CALL graft.system.optimize(`table` => 'ft')")
    val post = spark.sql("SELECT kind, day, rows FROM graft.ft.files")
      .collect()
    assert(post.map(_.getString(0)).toSet === Set("base"),
      post.mkString(", "))
    assert(post.map(_.getLong(2)).sum === 3L,
      "sidecar row counts must sum to the table's rows")
    // the metadata table is day-exact: per-day row sums match the data
    assert(spark.sql("SELECT rows FROM graft.ft.files " +
      "WHERE day = '2024-01-01'").as[Long].collect().sum === 2L)
    spark.sql("DROP TABLE graft.ft")
  }

  test(".files lists bloom-declaration coverage per base file (r18): " +
    "the observability half of the point-lookup tier") {
    spark.sql("CREATE TABLE graft.fb (event_id BIGINT, ts TIMESTAMP, " +
      "uid BIGINT) TBLPROPERTIES ('key' = 'event_id', 'bloom' = 'uid')")
    LakeSnapshot.merge(spark, s"$wh/fb",
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2L),
        (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 4L))
        .toDF("event_id", "ts", "uid"),
      "event_id", "ts")
    val rows = spark.sql("SELECT kind, bloom FROM graft.fb.files")
      .as[(String, String)].collect()
    assert(rows.length === 2)
    assert(rows.forall { case (kind, bloom) =>
      kind == "base" && bloom == "uid"
    }, rows.mkString(", "))
    spark.sql("DROP TABLE graft.fb")
  }

  test("upsertProps under concurrency keeps every writer's keys, and " +
    "the properties file always exists afterwards (ADVICE r17: the " +
    "unlocked read-merge-write lost updates; delete-then-rename left " +
    "a no-file crash window)") {
    val dir = s"$wh/props_race"
    LakeSnapshot.merge(spark, dir,
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
        .toDF("event_id", "ts", "value"),
      "event_id", "ts")
    val n = 16
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to n).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit =
            GraftCatalog.upsertProps(spark, dir, Map(s"meta.k$i" -> s"v$i"))
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val got = GraftCatalog.readCreateProps(spark, dir)
    (1 to n).foreach(i => assert(got.get(s"meta.k$i") === Some(s"v$i"),
      s"writer $i's update was lost: ${got.keys.toSeq.sorted}"))
    // the recorded structural declaration (r18 write-funnel recording)
    // survives all the metadata churn
    assert(got.get("ts") === Some("ts"))
  }

  test("SELECT * FROM graft.tbl.detail — the one-row DESCRIBE DETAIL " +
    "summary: declaration, epochs, file census, maintenance signals") {
    spark.sql("CREATE TABLE graft.det (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE, note STRING, CONSTRAINT pos CHECK (value >= 0)) " +
      "TBLPROPERTIES ('key' = 'event_id')")
    try {
      spark.sql("INSERT INTO graft.det (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0), " +
        "(2, TIMESTAMP '2024-01-02 10:00:00', 2.0)")
      LakeSnapshot.mergeDelta(spark, s"$wh/det",
        Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 9.0))
          .toDF("event_id", "ts", "value"),
        "event_id", "ts")
      spark.sql("ALTER TABLE graft.det RENAME COLUMN note TO remark")
      val d = spark.sql("SELECT * FROM graft.det.detail").head()
      assert(d.getAs[String]("location") === s"$wh/det")
      assert(d.getAs[String]("key") === "event_id")
      assert(d.getAs[String]("ts") === "ts")
      assert(d.getAs[Int]("epoch") ===
        LakeSnapshot.currentEpoch(spark, s"$wh/det"))
      assert(d.getAs[Int]("n_days") === 2)
      // the catalog INSERT is an insert-only append → pure MoR: zero
      // base files, three delta layers (one insert gen × 2 days + the
      // explicit mergeDelta), bytes still censused
      assert(d.getAs[Long]("n_base_files") === 0L)
      assert(d.getAs[Long]("bytes") > 0L)
      assert(d.getAs[Long]("n_delta_layers") === 3L,
        "the OPTIMIZE signal: the MoR layer census")
      assert(d.getAs[Int]("n_renamed") === 1)
      assert(d.getAs[String]("constraints") === "pos")
      // after maintenance the signals clear and the base census appears
      spark.sql("CALL graft.system.optimize(`table` => 'det', " +
        "min_layers => 1)")
      val d2 = spark.sql("SELECT * FROM graft.det.detail").head()
      assert(d2.getAs[Long]("n_delta_layers") === 0L)
      assert(d2.getAs[Long]("n_base_files") === 2L)
    } finally spark.sql("DROP TABLE IF EXISTS graft.det")
  }

  test("CALL graft.system.optimize(min_layers => N) — targeted " +
    "compaction: only fold-tax days rewrite, clean days' files are " +
    "never touched, an unfragmented table is a no-op") {
    val dir = s"$wh/frag"
    LakeSnapshot.merge(spark, dir,
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2.0),
        (3L, java.sql.Timestamp.valueOf("2024-01-03 10:00:00"), 3.0))
        .toDF("event_id", "ts", "value"),
      "event_id", "ts")
    // stack TWO delta layers on day 1, one on day 2, none on day 3
    def delta(id: Long, day: String, v: Double): Unit =
      LakeSnapshot.mergeDelta(spark, dir,
        Seq((id, java.sql.Timestamp.valueOf(s"$day 10:00:00"), v))
          .toDF("event_id", "ts", "value"),
        "event_id", "ts")
    delta(1L, "2024-01-01", 10.0)
    delta(1L, "2024-01-01", 11.0)
    delta(2L, "2024-01-02", 20.0)
    assert(LakeSnapshot.fragmentedDays(spark, dir, 2) ===
      Seq("2024-01-01"))
    assert(LakeSnapshot.fragmentedDays(spark, dir, 1) ===
      Seq("2024-01-01", "2024-01-02"))
    // day 3's base files must survive a targeted optimize UNTOUCHED
    def day3Files: Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir, "data")).iterator().asScala
        .filter(p => p.toString.contains("day=2024-01-03") &&
          p.getFileName.toString.startsWith("part-"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val before = day3Files
    val res = spark.sql("CALL graft.system.optimize(" +
      "`table` => 'frag', min_layers => 2)").head()
    assert(res.getInt(1) === 1 && res.getString(2) === "2024-01-01",
      s"min_layers=2 must rewrite exactly day 1, got $res")
    assert(day3Files === before, "a targeted optimize must not rewrite " +
      "clean days")
    // day 1 is back on the fast path; day 2 still carries its layer
    val st = LakeSnapshot.tableState(spark, dir)
    assert(st.days("2024-01-01").deltas.isEmpty)
    assert(st.days("2024-01-02").deltas.size === 1)
    // values identical through the maintenance
    assert(spark.sql("SELECT sum(value) FROM graft.frag").head()
      .getDouble(0) === 11.0 + 20.0 + 3.0)
    // nothing at threshold 3 -> no-op, no new epoch
    val e0 = LakeSnapshot.currentEpoch(spark, dir)
    val res2 = spark.sql("CALL graft.system.optimize(" +
      "`table` => 'frag', min_layers => 3)").head()
    assert(res2.getInt(1) === 0)
    assert(LakeSnapshot.currentEpoch(spark, dir) === e0,
      "an empty fragmentation set must commit nothing")
    // explicit days intersect the fragmentation set
    val res3 = spark.sql("CALL graft.system.optimize(`table` => 'frag', " +
      "days => '2024-01-03', min_layers => 1)").head()
    assert(res3.getInt(1) === 0, "day 3 is clean — the intersection is empty")
  }

  test("CALL graft.system.optimize(min_files => N) — the file-open-tax " +
    "axis: sidecar-censused small-file days compact, single-file days " +
    "don't") {
    // the engine's own writes are one-file-per-day by construction
    // (stageMerge/compactDays repartition on day) — multi-file days
    // enter through ADOPTION, which is also the real migration flow:
    // convert a task-fragmented plain export, then compact it in place
    val dir = s"$wh/smallfiles"
    val src = s"$wh/.plain_smallfiles"
    val day1 = (1L to 8L).map(i =>
      (i, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), i.toDouble))
    val day2 = Seq(
      (100L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 100.0))
    (day1 ++ day2).toDF("event_id", "ts", "value")
      .withColumn("day", to_date(col("ts")))
      .repartition(4)
      .write.partitionBy("day").parquet(src)
    LakeSnapshot.adoptParquet(spark, dir, src, "event_id", "ts")
    GraftCatalog.writeMergedProps(spark, dir,
      Map("key" -> "event_id", "ts" -> "ts"))
    val frag = LakeSnapshot.smallFileDays(spark, dir, 3)
    assert(frag === Seq("2024-01-01"),
      s"day 1 spreads over ~4 task files, day 2 is one file: $frag")
    val res = spark.sql("CALL graft.system.optimize(" +
      "`table` => 'smallfiles', min_files => 3)").head()
    assert(res.getInt(1) === 1 && res.getString(2) === "2024-01-01")
    // compacted to the one-file fast path; nothing left at threshold
    assert(LakeSnapshot.smallFileDays(spark, dir, 2) === Nil)
    assert(spark.sql("SELECT sum(value) FROM graft.smallfiles").head()
      .getDouble(0) === day1.map(_._3).sum + 100.0)
  }

  test("CALL graft.system.txn_commit/txn_pins — SQL multi-table " +
    "snapshot transactions: one pin row binds the tables' epochs, " +
    "VERSION AS OF the pins is the consistent view, and SQL vacuum " +
    "never reclaims a pinned generation") {
    spark.sql("CREATE TABLE graft.txa (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    spark.sql("CREATE TABLE graft.txb (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    try {
      spark.sql("INSERT INTO graft.txa (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0)")
      spark.sql("INSERT INTO graft.txb (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 10.0)")
      val pins = spark.sql(
        "CALL graft.system.txn_commit(tables => 'txa,txb')")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(pins === Map("txa" -> 0, "txb" -> 0))
      // both tables move on; the pinned view stays the consistent pair
      spark.sql("INSERT INTO graft.txa (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 2.0)")
      spark.sql("INSERT INTO graft.txb (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 20.0)")
      val consistent = (
        spark.sql(s"SELECT value FROM graft.txa VERSION AS OF ${pins("txa")}")
          .head().getDouble(0),
        spark.sql(s"SELECT value FROM graft.txb VERSION AS OF ${pins("txb")}")
          .head().getDouble(0))
      assert(consistent === ((1.0, 10.0)))
      assert(spark.sql("CALL graft.system.txn_pins()").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap ===
        Map("txa" -> 0, "txb" -> 0))
      // the txn catalog never surfaces as a table
      assert(!spark.sql("SHOW TABLES IN graft").collect()
        .map(_.getString(1)).exists(_.contains("graft_txn")))
      // pin protection: OPTIMIZE absorbs the delta layers (superseding
      // the pinned epoch's generations), then an explicit retain 0
      // vacuum — which WOULD reclaim them on an unpinned table — must
      // keep every generation the pinned epoch still reaches
      spark.sql("CALL graft.system.optimize(`table` => 'txa')")
      spark.sql("CALL graft.system.vacuum(`table` => 'txa', " +
        "retain_ms => 0)")
      assert(spark.sql(
        s"SELECT value FROM graft.txa VERSION AS OF ${pins("txa")}")
        .head().getDouble(0) === 1.0,
        "the pinned epoch must survive an aggressive vacuum")
      // re-pin at the (compacted) head: the old generations become fair
      // game for the next pass (only the latest pin per table protects)
      spark.sql("CALL graft.system.txn_commit(tables => 'txa,txb')")
      spark.sql("CALL graft.system.vacuum(`table` => 'txa', " +
        "retain_ms => 0)")
      val gone = intercept[Exception] {
        spark.sql(
          s"SELECT value FROM graft.txa VERSION AS OF ${pins("txa")}")
          .collect()
      }
      assert(gone != null, "the unpinned historical view is reclaimable")
      assert(spark.sql("SELECT value FROM graft.txa").head()
        .getDouble(0) === 2.0, "the live view is untouched")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft.txa")
      spark.sql("DROP TABLE IF EXISTS graft.txb")
    }
  }

  test("CALL graft.system.restore — the SQL rollback verb: epoch and " +
    "timestamp forms, exactly-one-arg enforcement, history row") {
    spark.sql("CREATE TABLE graft.res (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    try {
      spark.sql("INSERT INTO graft.res (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0), " +
        "(2, TIMESTAMP '2024-01-02 10:00:00', 2.0)")
      val e0 = LakeSnapshot.currentEpoch(spark, s"$wh/res")
      // an instant strictly between e0's commit and the corruption's —
      // epoch-millis form (parseInstantMs' first tier)
      val wallAfterE0 = (System.currentTimeMillis() + 400).toString
      Thread.sleep(900)
      spark.sql("INSERT INTO graft.res (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 100.0)")
      val res = spark.sql("CALL graft.system.restore(" +
        s"`table` => 'res', epoch => $e0)").head()
      assert(res.getString(0) === "restore" && res.getInt(1) === e0 &&
        res.getInt(3) === 2)
      assert(spark.sql("SELECT sum(value) FROM graft.res")
        .head().getDouble(0) === 3.0)
      // timestamp form: an instant between e0 and the corruption
      // resolves to e0 — restoring there is a no-op-shaped second
      // rollback that must still commit and land on the same view
      spark.sql("INSERT INTO graft.res (event_id, ts, value) VALUES " +
        "(3, TIMESTAMP '2024-01-02 11:00:00', 30.0)")
      spark.sql("CALL graft.system.restore(`table` => 'res', " +
        s"timestamp => '$wallAfterE0')")
      assert(spark.sql("SELECT sum(value) FROM graft.res")
        .head().getDouble(0) === 3.0)
      assert(spark.sql("SELECT count(*) FROM graft.res.history " +
        "WHERE operation = 'restore'").head().getLong(0) === 2L)
      // exactly one of epoch/timestamp
      assert(intercept[Exception] {
        spark.sql("CALL graft.system.restore(`table` => 'res')").collect()
      }.getMessage.contains("exactly one"))
      assert(intercept[Exception] {
        spark.sql("CALL graft.system.restore(`table` => 'res', " +
          s"epoch => $e0, timestamp => '$wallAfterE0')").collect()
      }.getMessage.contains("exactly one"))
    } finally spark.sql("DROP TABLE IF EXISTS graft.res")
  }

  test("CALL graft.system.convert_parquet — the SQL adoption verb: " +
    "declaration written (key/ts/schema + proven ts.zone), immediate " +
    "SQL service, refusals for bad keys and existing tables") {
    val src = s"$wh/.plain_conv"
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2.0))
      .toDF("event_id", "ts", "value")
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(src)
    try {
      // a bad key refuses BEFORE anything moves, from the source's
      // footer schema: no Spark job
      val refused = org.apache.spark.sql.graftbridge.TestJobs.launched(spark)(
        intercept[Exception] {
          spark.sql("CALL graft.system.convert_parquet(`table` => 'conv', " +
            s"source => '$src', key => 'nope')").collect()
        })
      assert(refused.result.getMessage.contains("not a column"))
      assert(refused.jobs === 0)
      assert(Files.exists(Paths.get(src)), "refusal must not move the source")
      val res = spark.sql("CALL graft.system.convert_parquet(" +
        s"`table` => 'conv', source => '$src', key => 'event_id')").head()
      assert(res.getString(0) === "convert_parquet" && res.getInt(2) === 2)
      // the declaration is complete: key/ts/schema, and the validation
      // scan proved this session's zone, so ts.zone is recorded
      val props = GraftCatalog.readCreateProps(spark, s"$wh/conv")
      assert(props.get("key") === Some("event_id"))
      assert(props.get("ts") === Some("ts"))
      assert(props.get("ts.zone") ===
        Some(spark.sessionState.conf.sessionLocalTimeZone))
      assert(props.get("schema").exists(_.contains("event_id")))
      // immediate SQL service: SELECT, upsert, time travel
      assert(spark.sql("SELECT count(*) FROM graft.conv")
        .head().getLong(0) === 2L)
      spark.sql("INSERT INTO graft.conv (event_id, ts, value) VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', 100.0)")
      assert(spark.sql("SELECT sum(value) FROM graft.conv")
        .head().getDouble(0) === 102.0)
      assert(spark.sql("SELECT sum(value) FROM graft.conv VERSION AS OF 0")
        .head().getDouble(0) === 3.0)
      assert(spark.sql("SELECT operation FROM graft.conv.history")
        .collect().map(_.getString(0)).contains("convert"))
      // converting ONTO an existing table refuses
      assert(intercept[Exception] {
        spark.sql("CALL graft.system.convert_parquet(`table` => 'conv', " +
          s"source => '$src', key => 'event_id')").collect()
      }.getMessage.contains("already exists"))
      // bloom at adoption (r19): a second conversion declaring a bloom
      // column stages the sidecars over the adopted generation — point
      // lookups file-skip from epoch 0
      val src2 = s"$wh/.plain_conv2"
      // day 1 holds {1, 3}, day 2 holds {2, 4}: a lookup of id 3 is
      // INSIDE day 2's min/max range (range stats cannot prune it) but
      // absent — exactly the case the bloom tier exists for
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        (3L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 3.0),
        (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2.0),
        (4L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), 4.0))
        .toDF("event_id", "ts", "value")
        .withColumn("day", to_date(col("ts")))
        .coalesce(1) // ONE file per day: its [2,4] range straddles the
                     // probe, so only the bloom can prune it
        .write.partitionBy("day").parquet(src2)
      spark.sql("CALL graft.system.convert_parquet(`table` => 'convb', " +
        s"source => '$src2', key => 'event_id', bloom => 'event_id')")
      try {
        assert(GraftCatalog.readCreateProps(spark, s"$wh/convb")
          .get("bloom") === Some("event_id"))
        assert(Files.exists(Paths.get(
          s"$wh/convb/data/gen=0/day=2024-01-02/_bloom.tsv")),
          "the adoption must stage the bloom sidecars")
        graft.etl.BloomStats.skippedFiles.set(0L)
        assert(spark.sql(
          "SELECT count(*) FROM graft.convb WHERE event_id = 3")
          .head().getLong(0) === 1L)
        assert(graft.etl.BloomStats.skippedFiles.get() > 0,
          "the adopted generation's bloom sidecars must file-skip the " +
            "in-range-but-absent day on a point lookup")
      } finally spark.sql("DROP TABLE IF EXISTS graft.convb")
    } finally spark.sql("DROP TABLE IF EXISTS graft.conv")
  }
}
