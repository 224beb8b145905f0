package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}

import graft.TestSpark
import graft.etl.{FileStats, LakeSnapshot}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 type widening of the DSv2 lake bridges (VERDICT r14 #1/#2):
  * DECIMAL (all three physical encodings), BINARY, and ARRAY columns as
  * first-class catalog-table columns — written by the Group-API delta
  * writer (SQL MERGE), read by the Group-API fold reader, interoperating
  * with Spark-written V1 bases. Plus the stats contract: decimal
  * stats are UNSCALED integers, so neither the file-stats sidecar nor
  * the row-group layer may ever claim a skip from them.
  */
class LakeTypedColumnsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = {
    val p = Paths.get("target/lake_typed_columns_spec/wh")
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(f => Files.deleteIfExists(f))
    Files.createDirectories(p)
    p.toString
  }
  spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.graft.warehouse", wh)

  test("DECIMAL(25,4) fixed-len-bytes (negatives incl. sign extension), " +
    "DECIMAL(8,2) int32, BINARY, ARRAY<STRING>/ARRAY<BIGINT> with nulls, " +
    "null elements, and empty arrays all round-trip CREATE → INSERT (V1 " +
    "base) → MERGE (Group-API delta) → folded SELECT") {
    spark.sql("CREATE TABLE graft.typed (id BIGINT, ts TIMESTAMP, " +
      "money DECIMAL(25,4), small DECIMAL(8,2), blob BINARY, " +
      "tags ARRAY<STRING>, nums ARRAY<BIGINT>) " +
      "TBLPROPERTIES ('key' = 'id')")
    try {
      spark.sql("INSERT INTO graft.typed VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', CAST('123456789012345678901.2345' AS DECIMAL(25,4)), 1.25, X'DEADBEEF', array('a','b'), array(1L, 2L)), " +
        "(2, TIMESTAMP '2024-01-01 11:00:00', CAST('-0.0001' AS DECIMAL(25,4)), -99.99, NULL, array(), array(7L)), " +
        "(3, TIMESTAMP '2024-01-02 10:00:00', NULL, NULL, X'00', NULL, array(CAST(NULL AS BIGINT), 5L))")
      // MERGE pushes every shape THROUGH THE GROUP WRITER: an update
      // whose images carry the same nulls/negatives/empties, an insert
      // with a > int64 decimal, a delete
      spark.sql(
        """MERGE INTO graft.typed t
          |USING (
          |  SELECT 1L AS id, TIMESTAMP '2024-01-01 10:00:00' AS ts,
          |         CAST('-123456789012345678901.2345' AS DECIMAL(25,4)) AS money,
          |         CAST(2.50 AS DECIMAL(8,2)) AS small, X'CAFE' AS blob,
          |         array('x', NULL, 'z') AS tags,
          |         CAST(array() AS ARRAY<BIGINT>) AS nums, 'u' AS op
          |  UNION ALL
          |  SELECT 3L, TIMESTAMP '2024-01-02 10:00:00',
          |         NULL, NULL, NULL, NULL, NULL, 'd'
          |  UNION ALL
          |  SELECT 4L, TIMESTAMP '2024-01-03 10:00:00',
          |         CAST('0.0001' AS DECIMAL(25,4)),
          |         CAST(0.01 AS DECIMAL(8,2)), X'FF',
          |         array(CAST(NULL AS STRING)), array(-1L), 'i'
          |) s
          |ON t.id = s.id
          |WHEN MATCHED AND s.op = 'd' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET money = s.money, small = s.small,
          |  blob = s.blob, tags = s.tags, nums = s.nums
          |WHEN NOT MATCHED THEN INSERT (id, ts, money, small, blob, tags,
          |  nums) VALUES (s.id, s.ts, s.money, s.small, s.blob, s.tags,
          |  s.nums)
          |""".stripMargin)
      val rows = spark.sql("SELECT id, CAST(money AS STRING) AS money, " +
        "CAST(small AS STRING) AS small, hex(blob) AS blob, tags, nums " +
        "FROM graft.typed ORDER BY id").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L))
      val r1 = rows(0)
      assert(r1.getString(1) === "-123456789012345678901.2345",
        "updated FLBA decimal (negative, sign-extended) reads back exactly")
      assert(r1.getString(2) === "2.50")
      assert(r1.getString(3) === "CAFE")
      assert(r1.getSeq[String](4) === Seq("x", null, "z"),
        "array with a null element survives the Group round-trip")
      assert(r1.getSeq[Long](5) === Seq.empty,
        "empty array stays an empty array (never null)")
      val r2 = rows(1)
      assert(r2.getString(1) === "-0.0001",
        "small negative FLBA decimal from the Spark-written base")
      assert(r2.getString(2) === "-99.99", "negative int32-physical decimal")
      assert(r2.getString(3) === null)
      assert(r2.getSeq[String](4) === Seq.empty)
      assert(r2.getSeq[Long](5) === Seq(7L))
      val r4 = rows(2)
      assert(r4.getString(1) === "0.0001")
      assert(r4.getString(2) === "0.01")
      assert(r4.getString(3) === "FF")
      assert(r4.getSeq[String](4) === Seq(null))
      assert(r4.getSeq[Any](5) === Seq(-1L))
      // aggregation over the folded decimals (int64-physical via the
      // catalog's DECIMAL(8,2)): exact
      assert(spark.sql("SELECT CAST(sum(small) AS STRING) FROM graft.typed")
        .head().getString(0) === "-97.48")
    } finally spark.sql("DROP TABLE graft.typed")
  }

  test("STRUCT columns (the multimodal media shape, r15): null structs, " +
    "null fields inside, NESTED struct + array-of-struct, binary " +
    "payloads — through INSERT (V1 base) and MERGE (Group-API delta)") {
    spark.sql("CREATE TABLE graft.med (id BIGINT, ts TIMESTAMP, " +
      "media STRUCT<kind: STRING, width: INT, payload: BINARY, " +
      "geo: STRUCT<lat: DOUBLE, lon: DOUBLE>>, " +
      "frames ARRAY<STRUCT<t: INT, blob: BINARY>>) " +
      "TBLPROPERTIES ('key' = 'id')")
    try {
      spark.sql("INSERT INTO graft.med VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', " +
        "named_struct('kind', 'img', 'width', 640, 'payload', X'AB', " +
        "'geo', named_struct('lat', 1.5D, 'lon', 2.5D)), " +
        "array(named_struct('t', 0, 'blob', X'01'), " +
        "named_struct('t', 5, 'blob', X'02'))), " +
        "(2, TIMESTAMP '2024-01-01 11:00:00', NULL, array()), " +
        "(3, TIMESTAMP '2024-01-02 10:00:00', " +
        "named_struct('kind', CAST(NULL AS STRING), 'width', 3, " +
        "'payload', CAST(NULL AS BINARY), " +
        "'geo', CAST(NULL AS STRUCT<lat: DOUBLE, lon: DOUBLE>)), NULL)")
      // MERGE pushes struct shapes through the Group writer
      spark.sql(
        """MERGE INTO graft.med t
          |USING (SELECT 1L AS id, TIMESTAMP '2024-01-01 10:00:00' AS ts,
          |  named_struct('kind', 'vid', 'width', 1280,
          |    'payload', X'CD',
          |    'geo', named_struct('lat', 9.5D, 'lon', CAST(NULL AS DOUBLE)))
          |    AS media,
          |  array(named_struct('t', 1, 'blob', CAST(NULL AS BINARY)))
          |    AS frames
          |  UNION ALL
          |  SELECT 4L, TIMESTAMP '2024-01-03 10:00:00',
          |    CAST(NULL AS STRUCT<kind: STRING, width: INT,
          |      payload: BINARY, geo: STRUCT<lat: DOUBLE, lon: DOUBLE>>),
          |    CAST(array() AS ARRAY<STRUCT<t: INT, blob: BINARY>>)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET media = s.media, frames = s.frames
          |WHEN NOT MATCHED THEN INSERT (id, ts, media, frames)
          |  VALUES (s.id, s.ts, s.media, s.frames)
          |""".stripMargin)
      val rows = spark.sql("SELECT id, media.kind, media.width, " +
        "hex(media.payload), media.geo.lat, media.geo.lon, " +
        "size(frames), get(frames, 0).t, hex(get(frames, 0).blob) " +
        "FROM graft.med ORDER BY id").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
      val r1 = rows(0)
      assert((r1.getString(1), r1.getInt(2), r1.getString(3)) ===
        (("vid", 1280, "CD")), "Group-written struct reads back exactly")
      assert(r1.getDouble(4) === 9.5 && r1.isNullAt(5),
        "nested struct with a null leaf survives the delta round-trip")
      assert(r1.getInt(6) === 1 && r1.getInt(7) === 1 && r1.isNullAt(8),
        "array-of-struct with a null blob survives")
      assert(rows(1).isNullAt(1) && rows(1).getInt(6) === 0,
        "null struct + empty array from the Spark-written base")
      val r3 = rows(2)
      assert(r3.isNullAt(1) && r3.getInt(2) === 3 && r3.isNullAt(3) &&
        r3.isNullAt(4) && r3.isNullAt(6),
        "struct with null fields and a null nested struct; null array")
      assert(rows(3).isNullAt(1) && rows(3).getInt(6) === 0,
        "Group-written null struct + empty array-of-struct")
      // a nested-field predicate stays residual-correct (no stats claim)
      val g0 = LakeParquetRead.skippedGroups.get()
      assert(spark.sql("SELECT id FROM graft.med WHERE media.width = 1280")
        .as[Long].collect().toSeq === Seq(1L))
      assert(LakeParquetRead.skippedGroups.get() === g0,
        "nested predicates must never become stats skip hints")
    } finally spark.sql("DROP TABLE graft.med")
  }

  test("MAP columns (r15): null/empty maps, null values, long keys, " +
    "struct values — through INSERT (V1 base) and MERGE (Group-API " +
    "delta); the unorderable-column dedup rule stays deterministic") {
    spark.sql("CREATE TABLE graft.bag (id BIGINT, ts TIMESTAMP, " +
      "attrs MAP<STRING, BIGINT>, " +
      "stats MAP<BIGINT, STRUCT<n: INT, s: DOUBLE>>) " +
      "TBLPROPERTIES ('key' = 'id')")
    try {
      spark.sql("INSERT INTO graft.bag VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', map('a', 1L, 'b', 2L), " +
        "map(7L, named_struct('n', 3, 's', 1.5D))), " +
        "(2, TIMESTAMP '2024-01-01 11:00:00', map(), NULL), " +
        "(3, TIMESTAMP '2024-01-02 10:00:00', " +
        "map('x', CAST(NULL AS BIGINT)), map())")
      spark.sql(
        """MERGE INTO graft.bag t
          |USING (SELECT 1L AS id, TIMESTAMP '2024-01-01 10:00:00' AS ts,
          |  map('a', 10L, 'c', CAST(NULL AS BIGINT)) AS attrs,
          |  map(9L, named_struct('n', 4, 's', 2.5D)) AS stats
          |  UNION ALL
          |  SELECT 4L, TIMESTAMP '2024-01-03 10:00:00',
          |    CAST(NULL AS MAP<STRING, BIGINT>),
          |    CAST(map() AS MAP<BIGINT, STRUCT<n: INT, s: DOUBLE>>)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET attrs = s.attrs, stats = s.stats
          |WHEN NOT MATCHED THEN INSERT (id, ts, attrs, stats)
          |  VALUES (s.id, s.ts, s.attrs, s.stats)
          |""".stripMargin)
      val rows = spark.sql("SELECT id, attrs['a'], attrs['c'], " +
        "size(attrs), stats[9L].n, stats[9L].s, size(stats) " +
        "FROM graft.bag ORDER BY id").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
      val r1 = rows(0)
      assert(r1.getLong(1) === 10L && r1.isNullAt(2) && r1.getInt(3) === 2,
        "Group-written map with a null value reads back exactly")
      assert(r1.getInt(4) === 4 && r1.getDouble(5) === 2.5,
        "long-keyed map of structs survives the delta round-trip")
      assert(rows(1).getInt(3) === 0 && rows(1).isNullAt(6),
        "empty map and null map from the Spark-written base")
      assert(rows(2).isNullAt(1) && rows(2).getInt(3) === 1,
        "map('x', null) keeps its entry")
      assert(rows(3).isNullAt(1) && rows(3).getInt(6) === 0,
        "Group-written null map + empty map")
      // the dedup rule over unorderable columns: duplicate keys in one
      // batch collapse deterministically (rendered-form greatest wins)
      val dir = s"$wh/bagdedup"
      LakeSnapshot.merge(spark,
        dir,
        spark.sql("SELECT * FROM VALUES " +
          "(1L, TIMESTAMP '2024-01-01 10:00:00', map('v', 1L)), " +
          "(1L, TIMESTAMP '2024-01-01 10:00:00', map('v', 9L)) " +
          "AS t(id, ts, attrs)"),
        "id", "ts")
      assert(LakeSnapshot.read(spark, dir)
        .selectExpr("attrs['v']").as[Long].collect().toSeq === Seq(9L),
        "greatest rendered tuple wins, batch-order independent")
    } finally spark.sql("DROP TABLE graft.bag")
  }

  test("decimal ARRAY elements + MAP values (ADVICE r15) and " +
    "arrays-of-arrays (r16): ARRAY<DECIMAL>, MAP<STRING,DECIMAL>, " +
    "ARRAY<ARRAY<FLOAT>> round-trip INSERT (V1 base) → MERGE (Group-API " +
    "delta) → folded SELECT; maps nested in arrays stay loud") {
    spark.sql("CREATE TABLE graft.nest (id BIGINT, ts TIMESTAMP, " +
      "prices ARRAY<DECIMAL(18,2)>, big ARRAY<DECIMAL(25,4)>, " +
      "fees MAP<STRING, DECIMAL(8,2)>, emb ARRAY<ARRAY<FLOAT>>) " +
      "TBLPROPERTIES ('key' = 'id')")
    try {
      spark.sql("INSERT INTO graft.nest VALUES " +
        "(1, TIMESTAMP '2024-01-01 10:00:00', " +
        "array(CAST('1.10' AS DECIMAL(18,2)), CAST('2.20' AS DECIMAL(18,2))), " +
        "array(CAST('-123456789012345678901.2345' AS DECIMAL(25,4))), " +
        "map('tx', CAST(0.25 AS DECIMAL(8,2))), " +
        "array(array(CAST(1.5 AS FLOAT), CAST(2.5 AS FLOAT)), array())), " +
        "(2, TIMESTAMP '2024-01-01 11:00:00', array(), NULL, map(), " +
        "array(CAST(NULL AS ARRAY<FLOAT>), array(CAST(-0.5 AS FLOAT))))")
      // MERGE pushes every nested shape THROUGH THE GROUP WRITER: decimal
      // elements (int64 + FLBA physical), decimal map values, and nested
      // LIST groups — the ADVICE r15 asymmetry (addField accepted what
      // addElement threw on) is closed by writing them for real
      spark.sql(
        """MERGE INTO graft.nest t
          |USING (
          |  SELECT 1L AS id, TIMESTAMP '2024-01-01 10:00:00' AS ts,
          |    array(CAST('9.99' AS DECIMAL(18,2)),
          |          CAST(NULL AS DECIMAL(18,2))) AS prices,
          |    array(CAST('0.0001' AS DECIMAL(25,4)),
          |          CAST('-0.0001' AS DECIMAL(25,4))) AS big,
          |    map('tx', CAST(-1.50 AS DECIMAL(8,2)),
          |        'fee', CAST(NULL AS DECIMAL(8,2))) AS fees,
          |    array(array(CAST(7.5 AS FLOAT)),
          |          CAST(NULL AS ARRAY<FLOAT>), array()) AS emb
          |  UNION ALL
          |  SELECT 3L, TIMESTAMP '2024-01-02 10:00:00',
          |    CAST(array() AS ARRAY<DECIMAL(18,2)>),
          |    CAST(NULL AS ARRAY<DECIMAL(25,4)>),
          |    CAST(NULL AS MAP<STRING, DECIMAL(8,2)>),
          |    CAST(array() AS ARRAY<ARRAY<FLOAT>>)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET prices = s.prices, big = s.big,
          |  fees = s.fees, emb = s.emb
          |WHEN NOT MATCHED THEN INSERT (id, ts, prices, big, fees, emb)
          |  VALUES (s.id, s.ts, s.prices, s.big, s.fees, s.emb)
          |""".stripMargin)
      val rows = spark.sql("SELECT id, " +
        "CAST(get(prices, 0) AS STRING), CAST(get(prices, 1) AS STRING), " +
        "CAST(get(big, 0) AS STRING), CAST(get(big, 1) AS STRING), " +
        "CAST(fees['tx'] AS STRING), CAST(fees['fee'] AS STRING), " +
        "get(get(emb, 0), 0), size(get(emb, 0)), get(emb, 1), size(emb) " +
        "FROM graft.nest ORDER BY id").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
      val r1 = rows(0)
      assert(r1.getString(1) === "9.99" && r1.isNullAt(2),
        "int64-physical decimal elements (incl. a null element) " +
          "survive the Group round-trip")
      assert(r1.getString(3) === "0.0001" && r1.getString(4) === "-0.0001",
        "FLBA decimal elements (sign extension) survive")
      assert(r1.getString(5) === "-1.50" && r1.isNullAt(6),
        "decimal map values (incl. a null value) survive")
      assert(r1.getFloat(7) === 7.5f && r1.getInt(8) === 1 &&
        r1.isNullAt(9) && r1.getInt(10) === 3,
        "Group-written array-of-arrays: inner values, null inner, empty " +
          "inner all survive")
      val r2 = rows(1)
      assert(r2.isNullAt(3) && r2.getInt(10) === 2 && r2.isNullAt(7),
        "V1-base array-of-arrays with a null inner array reads back")
      assert(spark.sql("SELECT get(get(emb, 1), 0) FROM graft.nest " +
        "WHERE id = 2").head().getFloat(0) === -0.5f)
      val r3 = rows(2)
      assert(!r3.isNullAt(10) && r3.getInt(10) === 0 && r3.isNullAt(5),
        "Group-written empty outer array and null map")
      // r17 wave 3: maps nested in arrays/maps ROUND-TRIP — the type
      // system closes. Half the rows land through the V1 Spark write
      // (INSERT), half through the Group-API delta writer (MERGE), so
      // both bridges prove the recursion; the one remaining gate is the
      // map KEY type (scalar string/long/int only).
      spark.sql("CREATE TABLE graft.deepnest (id BIGINT, ts TIMESTAMP, " +
        "am ARRAY<MAP<STRING, BIGINT>>, " +
        "mm MAP<STRING, MAP<STRING, BIGINT>>, " +
        "ma MAP<STRING, ARRAY<DOUBLE>>) TBLPROPERTIES ('key' = 'id')")
      spark.sql("INSERT INTO graft.deepnest (id, ts, am, mm, ma) SELECT " +
        "1L, TIMESTAMP '2024-01-01 10:00:00', " +
        "array(map('a', 1L), map('b', 2L, 'c', CAST(NULL AS BIGINT))), " +
        "map('x', map('y', 10L)), map('k', array(0.5D, -1.5D))")
      spark.sql("MERGE INTO graft.deepnest t USING (SELECT " +
        "2L AS id, TIMESTAMP '2024-01-01 11:00:00' AS ts, " +
        "array(map('d', 4L)) AS am, " +
        "map('p', map('q', 20L), 'r', CAST(NULL AS MAP<STRING, BIGINT>))" +
        " AS mm, map('m', array(2.5D)) AS ma) s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, ts, am, mm, ma) " +
        "VALUES (s.id, s.ts, s.am, s.mm, s.ma)")
      val deep = spark.sql("SELECT id, am[0]['a'], get(am, 1)['c'], " +
        "mm['x']['y'], get(ma['k'], 1), am[0]['d'], mm['p']['q'], " +
        "mm['r'], get(ma['m'], 0) FROM graft.deepnest ORDER BY id")
        .collect()
      val d1 = deep(0)
      assert(d1.getLong(1) === 1L && d1.isNullAt(2) &&
        d1.getLong(3) === 10L && d1.getDouble(4) === -1.5,
        s"V1-written nested maps read back: $d1")
      val d2 = deep(1)
      assert(d2.getLong(5) === 4L && d2.getLong(6) === 20L &&
        d2.isNullAt(7) && d2.getDouble(8) === 2.5,
        s"Group-written nested maps (incl. a NULL inner map) read: $d2")
      val eKey = intercept[Exception] {
        spark.sql("CREATE TABLE graft.badkey (id BIGINT, ts TIMESTAMP, " +
          "m MAP<ARRAY<BIGINT>, BIGINT>) TBLPROPERTIES ('key' = 'id')")
      }
      assert(eKey.getMessage.contains("map key type"), eKey.getMessage)
    } finally {
      spark.sql("DROP TABLE graft.nest")
      spark.sql("DROP TABLE IF EXISTS graft.deepnest")
      spark.sql("DROP TABLE IF EXISTS graft.badkey")
    }
  }

  test("decimal stats ORDERED tier (r17, VERDICT r16 #4): same-scale " +
    "unscaled-long min/max skip files and row groups for a selective " +
    "money filter, the point-filter stays exact, and any scale " +
    "mismatch makes no claim") {
    val dir = s"$wh/decstats"
    // two days with DISJOINT amount ranges — day 2's file provably holds
    // nothing under 500, so a selective filter must prune it wholesale
    LakeSnapshot.merge(spark,
      dir,
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "1.25"),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), "2.50"),
        (3L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), "1000.00"),
        (4L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), "2000.75"))
        .toDF("id", "ts", "m")
        .withColumn("amount", col("m").cast("decimal(18,2)")).drop("m"),
      "id", "ts")
    // layer 0: a decimal comparison becomes a same-scale skip hint
    // carrying the UNSCALED value
    val hint = RowGroupFilter.of(
      EqualTo("amount", new java.math.BigDecimal("1.25")))
    assert(hint === Some(RowGroupFilter("amount", "eq", isFloat = false,
      125L, 0d, decScale = 2)),
      s"decimal comparisons must become unscaled same-scale hints, got $hint")
    // layer 1: the sidecar families the decimal column 'c' with the
    // scale and ordered unscaled min/max
    val gen = s"$dir/data/gen=${LakeSnapshot.tableState(spark, dir)
      .days.values.map(_.base).max}"
    val stats = FileStats.read(spark, gen).get
    stats.foreach { case (f, fstat) =>
      val c = fstat.cols("amount")
      assert(c.family === "c" && c.scale === 2,
        s"decimal column must carry ordered unscaled stats, got $c in $f")
      if (f.startsWith("day=2024-01-02")) assert(c.lmn === 100000L &&
        c.lmx === 200075L, s"day-2 unscaled range wrong: $c")
    }
    // layer 2: provablyEmpty claims a skip ONLY at the matching scale
    val st2 = stats.collectFirst {
      case (f, s) if f.startsWith("day=2024-01-02") => s }.get
    assert(FileStats.provablyEmpty(st2, "amount", "lt", isFloat = false,
      50000L, 0d, decScale = 2), "amount < 500.00 must prune day 2")
    assert(!FileStats.provablyEmpty(st2, "amount", "lt", isFloat = false,
      50000L, 0d, decScale = 3),
      "a scale mismatch must make no claim")
    assert(!FileStats.provablyEmpty(st2, "amount", "lt", isFloat = false,
      50000L, 0d), "a non-decimal filter against decimal stats: no claim")
    // layer 3: end-to-end — the selective filter files-skips day 2 AND
    // the values stay exact (residual answers, stats only prune)
    val f0 = FileStats.skippedFiles.get()
    val low = spark.read.format("graft-lake").option("path", dir).load()
      .filter(col("amount") < new java.math.BigDecimal("500.00"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(low === Seq(1L, 2L))
    assert(FileStats.skippedFiles.get() > f0,
      "the selective money filter must prune day 2's file from its " +
        "sidecar stats")
    // layer 4: the point filter stays EXACT (p42's contract)
    val hit = spark.read.format("graft-lake").option("path", dir).load()
      .filter(col("amount") === new java.math.BigDecimal("2.50"))
      .select("id").as[Long].collect().toSeq
    assert(hit === Seq(2L))
  }
}
