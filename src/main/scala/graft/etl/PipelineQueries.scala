package graft.etl

import java.nio.file.Paths
import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline suite P1/P2 (SURVEY.md §2.2-P): the silvia ETL surface as
  * declared queries over the checked-in raw-event fixtures.
  *
  * p1 entries carry full value oracles generated by [[SnowplowOracle]]
  * (DuckDB re-implements the positional parse + validation rules over the
  * same TSV) plus scalatest goldens; p2 re-implements the Adjust coercion
  * rules in DuckDB over the same jsonl file.
  */
object PipelineQueries {

  type QFn = (SparkSession, String) => DataFrame

  // --- P1: Snowplow enriched TSV → typed events + dead letters -------------

  /** Shared projection so the Spark query and the generated DuckDB oracle
    * (SnowplowOracle.p1GoodSql) can never disagree on the column set. */
  private val p1GoodCols: Seq[String] = Seq(
    "event_id", "event", "user_id", "domain_sessionidx", "geo_latitude",
    "se_value", "tr_total", "ti_price", "br_features_pdf", "dvce_ismobile",
    "derived_tstamp")

  def p1Good(spark: SparkSession, sfDir: String): DataFrame = {
    val res = SnowplowParser.read(spark, EtlFixtures.snowplowTsv())
    // Timestamp-typed fields dump as µs BIGINT, not TIMESTAMP (§2.3 rule
    // 8); driven by the shared schema so the oracle (p1GoodSql, same
    // FIELDS) converts the identical column set.
    val tsCols = SnowplowSchema.FIELDS
      .collect { case (n, org.apache.spark.sql.types.TimestampType) => n }
      .toSet
    res.good.select(p1GoodCols.map { n =>
        if (tsCols(n)) unix_micros(col(n)).as(n) else col(n)
      }: _*)
      .orderBy("event_id")
  }

  def p1BadRows(spark: SparkSession, sfDir: String): DataFrame = {
    val res = SnowplowParser.read(spark, EtlFixtures.snowplowTsv())
    res.bad
      .select(explode(col("errors")).as("error"))
      .groupBy("error").agg(count(lit(1)).as("n"))
      .orderBy("error")
  }

  def p1Shred(spark: SparkSession, sfDir: String): DataFrame = {
    val res = SnowplowParser.read(spark, EtlFixtures.snowplowTsv())
    SnowplowShred.explodeContexts(res.good)
      .select(
        col("event_id"), col("context_schema"),
        // scalar, not array: the driver's checker sorts pandas frames and
        // chokes on ndarray-valued cells (VERDICT.md round-2 wrong #1)
        array_join(map_keys(col("context_data")), ",").as("keys"),
        element_at(col("context_data"), "tier").as("tier"))
      .orderBy("event_id", "context_schema")
  }

  // --- P2: Adjust postbacks → typed events ---------------------------------

  def p2(spark: SparkSession, sfDir: String): DataFrame = {
    val res = AdjustParser.read(spark, EtlFixtures.adjustJsonl())
    res.good
      .groupBy("activity_kind")
      .agg(
        count(lit(1)).as("n"),
        round(coalesce(sum("revenue"), lit(0.0)), 2).as("rev"),
        count(col("is_organic")).as("n_organic_known"))
      .orderBy("activity_kind")
  }

  /** Independent DuckDB re-implementation of the Adjust good-row rules. */
  def p2Sql: String = {
    val path = Paths.get(EtlFixtures.adjustJsonl()).toAbsolutePath
    val cols = AdjustParser.RAW_SCHEMA.fieldNames
      .map(n => s"$n: 'VARCHAR'").mkString(", ")
    // ignore_errors: the malformed-JSON fixture line surfaces as an all-NULL
    // row here and is excluded by the created_at filter — mirroring the
    // Spark side, which dead-letters it as bad_json
    s"""SELECT activity_kind, count(*) AS n,
       |       round(coalesce(sum(TRY_CAST(revenue_float AS DOUBLE)),0),2) AS rev,
       |       count(CASE WHEN is_organic IN ('0','1') THEN 1 END) AS n_organic_known
       |FROM read_json('$path', format='newline_delimited', columns={$cols},
       |               ignore_errors=true)
       |WHERE created_at IS NOT NULL
       |  AND TRY_CAST(created_at AS BIGINT) IS NOT NULL
       |  AND (revenue_float IS NULL OR TRY_CAST(revenue_float AS DOUBLE) IS NOT NULL)
       |  AND activity_kind IN ('install','event','session')
       |GROUP BY activity_kind ORDER BY activity_kind""".stripMargin
  }

  // --- P3/P4: JDBC upsert sink + read-back on embedded Derby ---------------

  private def sfKey(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9.]+", "_").dropWhile(_ == '_')

  /** Shut down + delete an embedded Derby db for a deterministic re-run. */
  private[graft] def freshDerby(dbDir: String): String = {
    // before first engine boot: Derby logs into target/, not the repo root
    System.setProperty("derby.stream.error.file", "target/derby.log")
    try DriverManager.getConnection(s"jdbc:derby:$dbDir;shutdown=true")
    catch { case _: java.sql.SQLException => () } // 08006 = shutdown OK
    graft.streaming.StreamInput.deleteRecursively(Paths.get(dbDir))
    s"jdbc:derby:$dbDir;create=true"
  }

  /** P3 (A5, A6, I6, I9): stream the duplicated events replay into Derby
    * through the checkpointed upsert sink, then REPLAY IT AGAIN from a fresh
    * checkpoint. Key-idempotent upsert ⇒ the second full replay must leave
    * the table at exactly the batch answer — which is what the oracle
    * checks (duplicates collapse onto the event_id primary key).
    */
  def p3(spark: SparkSession, sfDir: String): DataFrame = {
    val url = freshDerby(s"target/derby/p3_${sfKey(sfDir)}")
    val table = "events_sink"
    val inDir = graft.streaming.StreamInput.eventsDupDir(spark, sfDir)
    val schema = spark.read.parquet(inDir).drop("props").schema
    JdbcUpsert.ensureTable(url, table, schema, Seq("event_id"))

    (1 to 2).foreach { replay =>
      val stream = graft.streaming.StreamInput.readEventsStream(spark, inDir)
        .drop("props")
      JdbcUpsert.sink(stream, url, table, Seq("event_id"),
          graft.streaming.StreamInput.freshCheckpoint(s"p3_replay$replay", sfDir))
        .start().awaitTermination()
    }

    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("d"),
        round(sum("value"), 2).as("v"))
  }

  val p3Sql: String =
    """SELECT count(*) AS n, count(DISTINCT event_id) AS d,
      |       round(sum(value),2) AS v FROM events""".stripMargin

  /** P4 (A4, A5): batch upsert path — write customer twice (second pass
    * exercises the UPDATE branch on every row), read back via the JDBC
    * source, aggregate. Oracle = same aggregate over the parquet table.
    */
  def p4(spark: SparkSession, sfDir: String): DataFrame = {
    val url = freshDerby(s"target/derby/p4_${sfKey(sfDir)}")
    val table = "customer_sink"
    val customer = graft.Tables.load(spark, sfDir, "customer")
    JdbcUpsert.ensureTable(url, table, customer.schema, Seq("c_custkey"))
    JdbcUpsert.upsertBatch(customer, url, table, Seq("c_custkey"))
    JdbcUpsert.upsertBatch(customer, url, table, Seq("c_custkey")) // all-UPDATE pass

    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("bal"))
      .orderBy("c_nationkey")
  }

  val p4Sql: String =
    """SELECT c_nationkey, count(*) AS n, round(sum(c_acctbal),2) AS bal
      |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** P5 (J6): the full silvia load path end-to-end — parse the Snowplow
    * fixture, map to atomic + child target tables, upsert each into Derby
    * TWICE (idempotency), read back per-table row counts. Rows-only at the
    * driver; exact counts are golden-checked in TargetMappingSpec.
    */
  def p5(spark: SparkSession, sfDir: String): DataFrame = {
    val url = freshDerby(s"target/derby/p5_${sfKey(sfDir)}")
    val good = SnowplowParser.read(spark, EtlFixtures.snowplowTsv()).good
    TargetMapping.loadAll(good, url)
    TargetMapping.loadAll(good, url) // replay: counts must not change
    val counts = TargetMapping.allTargets(good).map { case (table, _, _) =>
      spark.read.format("jdbc")
        .option("url", url).option("dbtable", table).load()
        .agg(count(lit(1)).as("n"))
        .select(lit(table).as("target_table"), col("n"))
    }
    counts.reduce(_.unionByName(_)).orderBy("target_table")
  }

  // --- P6: partitioned parquet sink + partition-pruned read-back (A8, §4) --

  /** The storage-layout play a 100 TB deployment lives on: facts land
    * date-partitioned, and date-bounded reads prune to the matching
    * partitions instead of scanning the table. The write is exercised for
    * real (overwrite each run, deterministic), the read-back filter prunes
    * on the partition column (plan-locked in PlanSpec: non-empty
    * PartitionFilters), and the aggregate is value-checked against DuckDB
    * over the ORIGINAL events table — proving the round-trip loses nothing.
    */
  /** Where p6 lands its partitioned copy for a given sf dir — exposed so
    * PlanSpec's pruning lock reads the same path instead of re-deriving
    * the key inline (ADVICE r3). */
  def p6OutDir(sfDir: String): String =
    s"target/etl/events_by_day_${sfKey(sfDir)}"

  /** Shared writer for the date-partitioned events layout (p6 and p8). */
  private def writeEventsByDay(
      spark: SparkSession, sfDir: String, outDir: String): Unit =
    graft.Tables.load(spark, sfDir, "events")
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(outDir)

  def p6(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = p6OutDir(sfDir)
    writeEventsByDay(spark, sfDir, outDir)
    p6Read(spark, outDir)
  }

  /** Read side split out so PlanSpec can lock the pruned plan directly. */
  def p6Read(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .filter(col("day").between(lit("2024-01-10"), lit("2024-01-12")))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")

  val p6Sql: String =
    """SELECT CAST(ts AS DATE) AS day, count(*) AS n, round(sum(value),2) AS v
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
      |GROUP BY day ORDER BY day""".stripMargin

  // --- P8: dynamic partition pruning off a dim-side filter -----------------
  // The OTHER half of the §4 partition-layout play: p6 proves STATIC
  // pruning (a literal day bound reaches PartitionFilters); p8 proves
  // DYNAMIC pruning — the fact filter is not knowable at plan time because
  // the days come from a dimension predicate ("Mondays"), so Catalyst must
  // inject a dynamicpruning subquery into the fact scan's PartitionFilters,
  // fed by the broadcast dim (plan-locked in PlanSpec). At 100 TB this is
  // what turns every star-join day-slice from a full fact scan into a
  // read of the matching partitions.

  def p8OutDir(sfDir: String): String =
    s"target/etl/events_by_day_dpp_${sfKey(sfDir)}"

  /** Generated calendar dimension (day, ISO weekday 0=Monday) spanning the
    * testdata range — tiny, broadcastable, no file dependency. The filter
    * lives on `wd`, an attribute the fact table does not have, so static
    * pruning is impossible by construction.
    */
  def p8DateDim(spark: SparkSession): DataFrame =
    spark.range(1)
      .select(explode(sequence(
        lit(java.sql.Date.valueOf("2024-01-01")),
        lit(java.sql.Date.valueOf("2024-03-31")))).as("day"))
      .withColumn("wd", weekday(col("day")))

  /** Join side split out so PlanSpec can lock the dynamicpruning filter. */
  def p8Join(spark: SparkSession, outDir: String): DataFrame = {
    val fact = spark.read.parquet(outDir)
    val mondays = p8DateDim(spark).filter(col("wd") === 0)
    // integer-cents sum: bit-deterministic in double on both engines (the
    // q13c parity note); count + day are exact anyway
    fact.join(mondays, Seq("day"))
      .groupBy("day")
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / 100).as("v"))
      .orderBy("day")
  }

  def p8(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = p8OutDir(sfDir)
    writeEventsByDay(spark, sfDir, outDir)
    p8Join(spark, outDir)
  }

  val p8Sql: String =
    """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       sum(CAST(round(value * 100) AS BIGINT)) / 100 AS v
      |FROM events
      |WHERE isodow(CAST(ts AS DATE)) = 1
      |GROUP BY day ORDER BY day""".stripMargin

  // --- P7: bucketed layout + co-located (shuffle-free) join ----------------
  // THE shuffle-elimination play for repeated big joins at 100 TB: land both
  // fact tables bucketed (and sorted) on the join key with the SAME bucket
  // count, and every subsequent orders⋈lineitem runs as a sort-merge join
  // with NO Exchange on either side — the scan's output partitioning
  // (HashPartitioning over the bucket column, 8 buckets) already satisfies
  // the join's required distribution. PlanSpec locks exactly that: zero
  // shuffle below the join with broadcast disabled. Bucketing needs the
  // catalog (bucket metadata lives there), so the write is saveAsTable with
  // an explicit path under target/; the in-memory session catalog is enough.
  // The aggregate is value-checked against DuckDB over the ORIGINAL parquet,
  // proving the bucketed round-trip loses nothing.
  def p7BucketTables(spark: SparkSession, sfDir: String): (String, String) = {
    // sfKey keeps '.' (fine for paths); table identifiers cannot
    val key = sfKey(sfDir).replace('.', '_')
    val (ot, lt) = (s"graft_b_orders_$key", s"graft_b_lineitem_$key")
    // absolute path: a relative `path` option resolves against the session's
    // warehouse dir, not the process cwd (observed: spark-warehouse/target/…)
    def out(name: String) =
      new java.io.File(s"target/etl/${name}_$key").getAbsolutePath
    graft.Tables.load(spark, sfDir, "orders")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", out("bucketed_orders"))
      .saveAsTable(ot)
    graft.Tables.load(spark, sfDir, "lineitem")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", out("bucketed_lineitem"))
      .saveAsTable(lt)
    (ot, lt)
  }

  /** Join side split out so PlanSpec can lock the exchange-free plan. */
  def p7Join(spark: SparkSession, ordersTbl: String, lineitemTbl: String): DataFrame =
    spark.table(lineitemTbl)
      .join(spark.table(ordersTbl),
        col("l_orderkey") === col("o_orderkey"))

  def p7(spark: SparkSession, sfDir: String): DataFrame = {
    val (ot, lt) = p7BucketTables(spark, sfDir)
    p7Join(spark, ot, lt)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("rev"))
      .orderBy("o_orderstatus")
  }

  val p7Sql: String =
    """SELECT o_orderstatus, count(*) AS n, round(sum(l_extendedprice),2) AS rev
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --- P9: dynamic partition overwrite (incremental reload) ----------------
  // The Spark-native restatement pattern for partitioned fact tables:
  // partitionOverwriteMode=dynamic re-lands ONLY the partitions present in
  // the incoming batch and leaves every other partition untouched — the
  // 100 TB alternative to a full-table rewrite when a late-arriving day is
  // corrected. The oracle gates BOTH failure modes: static overwrite would
  // delete the untouched days (their groups vanish), append would double
  // the restated days' counts.
  def p9OutDir(sfDir: String): String =
    s"target/etl/events_by_day_dynow_${sfKey(sfDir)}"

  def p9(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = p9OutDir(sfDir)
    writeEventsByDay(spark, sfDir, outDir) // initial full load
    val restated = graft.Tables.load(spark, sfDir, "events")
      .withColumn("day", to_date(col("ts")))
      .filter(col("day").between(lit("2024-01-05"), lit("2024-01-06")))
      .withColumn("value", col("value") * 2) // the correction, exact in double
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try restated.write.mode("overwrite").partitionBy("day").parquet(outDir)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    spark.read.parquet(outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  val p9Sql: String =
    """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(CASE WHEN CAST(ts AS DATE)
      |                        BETWEEN DATE '2024-01-05' AND DATE '2024-01-06'
      |                      THEN value * 2 ELSE value END), 2) AS v
      |FROM events GROUP BY day ORDER BY day""".stripMargin

  // --- P10: materialize the cleaned corpus as balanced training shards -----
  // The OUTPUT step of the k20 pipeline: the cleaned corpus lands as a
  // fixed count of round-robin-balanced parquet shards — what a training
  // job actually consumes (fixed reader parallelism, no straggler shard).
  // Gates: per-lang doc/token/char totals of the WRITTEN shards must equal
  // the DuckDB re-run of the identical chain ([[graft.ops.KQueries
  // .corpusPrepCtes]] — a lost or duplicated row in the write fails the
  // hash), and shards_ok pins that exactly `nShards` data files landed
  // with row counts within a tight balance band (round-robin guarantees
  // near-equal fill regardless of input skew).
  def p10OutDir(sfDir: String): String =
    s"target/etl/corpus_shards_${sfKey(sfDir)}"

  def p10(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = p10OutDir(sfDir)
    val nShards = 8
    val cleaned = graft.ops.CorpusPrep.prepare(
      graft.Tables.load(spark, sfDir, "documents"))
    cleaned.repartition(nShards)
      .write.mode("overwrite").parquet(outDir)
    val back = spark.read.parquet(outDir)
    // shard fill from the files themselves (what the training job sees)
    val fills = back.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"))
      .agg(count(lit(1)).as("n_files"),
        max("rows").as("mx"), min("rows").as("mn"))
      .head()
    // Round-robin distribution contributes up to ±1 row of shard imbalance
    // per INPUT partition, so the worst-case max-min spread scales with the
    // upstream partition count, not a constant (ADVICE r8: a fixed band of
    // 16 held under the bench's 32-partition config but could flake under
    // Spark's default 200). Tie the band to the actual input parallelism.
    val balanceBand = cleaned.rdd.getNumPartitions.toLong
    val shardsOk = fills.getLong(0) == nShards &&
      fills.getLong(1) - fills.getLong(2) <= balanceBand
    back
      .withColumn("n_tok", size(graft.ops.Text.tokens(col("txt"))).cast("long"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum(length(col("txt")).cast("long")).as("n_chars"))
      .withColumn("shards_ok", lit(shardsOk))
      .orderBy("lang")
  }

  val p10Sql: String =
    s"""${graft.ops.KQueries.corpusPrepCtes}
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(len(string_split_regex(trim(txt), '\\s+'))) AS BIGINT)
       |         AS n_tokens,
       |       CAST(sum(length(txt)) AS BIGINT) AS n_chars,
       |       TRUE AS shards_ok
       |FROM rep GROUP BY lang ORDER BY lang""".stripMargin

  /** P11 (H10 v1): computed UA enrichment — parse the Snowplow fixture,
    * run the atomic-events mapping (which now derives ua_family /
    * ua_version / ua_os_family / ua_device_class from the raw useragent),
    * and value-check every computed column against DuckDB running the
    * IDENTICAL generated patterns (see [[UaEnrich]]).
    */
  def p11(spark: SparkSession, sfDir: String): DataFrame = {
    val good = SnowplowParser.read(spark, EtlFixtures.snowplowTsv()).good
    TargetMapping.atomicEvents(good)
      .select(col("event_id"), col("useragent"), col("ua_family"),
        col("ua_version"), col("ua_os_family"), col("ua_device_class"))
      .orderBy("event_id")
  }

  // --- P12: Z-order lake layout (multi-dimension file skipping) ------------
  // p6/p8 prune on the partition column only; p12 lays the SAME fact table
  // out along a Morton curve over (user_id, event time) so min/max file
  // stats stay narrow on BOTH dimensions — either predicate skips files.
  // The z-key is exact integer arithmetic end-to-end (range-bucketize by
  // integer DIV, interleave by shift/and/or), so the DuckDB oracle
  // re-derives every key and value-checks the written layout's audit
  // (count + z-key sum/min/max: a lost, duplicated, or mis-keyed row fails
  // the hash). clustered_user / clustered_time gate the layout property
  // itself: Σ per-file span ≤ 75% of nFiles × global span on EACH
  // dimension (a single-column sort fails the other dimension's gate;
  // unsorted data fails both — spec-locked in ZOrderSpec).
  def p12OutDir(sfDir: String): String =
    s"target/etl/events_zorder_${sfKey(sfDir)}"

  def p12(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = p12OutDir(sfDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("us"))
    val b = ev.agg(min("user_id"), max("user_id"), min("us"), max("us")).head()
    val (mnU, mxU, mnT, mxT) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    // Bucketize with the multiply widened to DECIMAL(38,0) (ADVICE r11):
    // ((v - mn) * 65535) in Long wrapped silently in Spark (corrupting
    // z-keys) while DuckDB raised, once the event-time range passed ~4.5
    // years in microseconds. The 128-bit intermediate keeps the bucket
    // formula exact at ANY range — and, unlike divide-first stepping, it
    // still stretches BOTH dimensions to the full 0..65535 scale, which is
    // what keeps the Morton curve balanced when one dimension's raw range
    // is narrow (a 10-bit user range against a 16-bit time range would
    // otherwise degenerate to a time sort). `div` on decimals yields
    // BIGINT in Spark; DuckDB mirrors with HUGEINT.
    val keyed = ev
      .withColumn("ub",
        expr(s"(CAST(user_id - $mnU AS DECIMAL(38,0)) * 65535) div " +
          s"${math.max(1L, mxU - mnU)}"))
      .withColumn("tb",
        expr(s"(CAST(us - $mnT AS DECIMAL(38,0)) * 65535) div " +
          s"${math.max(1L, mxT - mnT)}"))
      .withColumn("zkey", ZOrder.mortonKey(col("ub"), col("tb")))
    ZOrder.writeZOrdered(keyed, "zkey", outDir, files = 8)
    val back = spark.read.parquet(outDir)
    val s = ZOrder.fileSpans(back, Seq("user_id", "us"))
      .agg(count(lit(1)).as("nf"),
        sum("span_user_id").as("su"), sum("span_us").as("st")).head()
    val (nf, su, st) = (s.getLong(0), s.getLong(1), s.getLong(2))
    back.agg(
      count(lit(1)).as("n_rows"),
      sum("zkey").as("z_sum"),
      min("zkey").as("z_min"),
      max("zkey").as("z_max"))
      .withColumn("clustered_user", lit(su * 100L <= 75L * nf * (mxU - mnU)))
      .withColumn("clustered_time", lit(st * 100L <= 75L * nf * (mxT - mnT)))
  }

  val p12Sql: String =
    """WITH b AS (
      |  SELECT min(user_id) AS mnu, max(user_id) AS mxu,
      |         min(epoch_us(ts)) AS mnt, max(epoch_us(ts)) AS mxt
      |  FROM events),
      |k AS (
      |  SELECT CAST((CAST(user_id - mnu AS HUGEINT) * 65535)
      |              // greatest(1, mxu - mnu) AS BIGINT) AS ub,
      |         CAST((CAST(epoch_us(ts) - mnt AS HUGEINT) * 65535)
      |              // greatest(1, mxt - mnt) AS BIGINT) AS tb
      |  FROM events CROSS JOIN b),
      |z AS (
      |  SELECT CAST(list_sum(list_transform(range(0, 16),
      |           i -> (((ub >> i) & 1) << (2*i))
      |              + (((tb >> i) & 1) << (2*i + 1)))) AS BIGINT) AS zkey
      |  FROM k)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(zkey) AS BIGINT) AS z_sum,
      |       CAST(min(zkey) AS BIGINT) AS z_min,
      |       CAST(max(zkey) AS BIGINT) AS z_max,
      |       true AS clustered_user,
      |       true AS clustered_time
      |FROM z""".stripMargin

  // --- P13: MERGE INTO the lake (partition-level copy-on-write upsert) ----
  // silvia's load step aimed at the lake instead of Postgres: a batch of
  // row-level upserts (corrections + brand-new events) merges into the
  // date-partitioned layout by key, rewriting ONLY the touched day
  // partitions ([[LakeUpsert]] — the Delta/Iceberg MERGE INTO shape,
  // O(touched partitions) not O(table)). The batch is deterministic from
  // the fixture (every event_id % 7 == 0 gets value+1 — UPDATE; every
  // event_id % 97 == 0 re-enters at +10000000 — INSERT), so DuckDB
  // re-derives the merged state with an anti-join ∪ batch and the per-day
  // totals hash-check every updated, inserted, and UNTOUCHED row.
  // Untouched-partition immutability + idempotent re-merge are
  // spec-locked in LakeUpsertSpec.
  def p13OutDir(sfDir: String): String =
    s"target/etl/events_lake_merge_${sfKey(sfDir)}"

  def p13(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = p13OutDir(sfDir)
    writeEventsByDay(spark, sfDir, outDir) // initial full load
    val ev = graft.Tables.load(spark, sfDir, "events")
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    LakeUpsert.merge(spark, outDir, batch, "event_id", "ts")
    spark.read.parquet(outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  val p13Sql: String =
    """WITH batch AS (
      |  SELECT event_id, ts, value + 1 AS value
      |  FROM events WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT event_id + 10000000 AS event_id, ts, value
      |  FROM events WHERE event_id % 97 = 0),
      |merged AS (
      |  SELECT e.event_id, e.ts, e.value FROM events e
      |  WHERE NOT EXISTS (SELECT 1 FROM batch b
      |                    WHERE b.event_id = e.event_id)
      |  UNION ALL
      |  SELECT event_id, ts, value FROM batch)
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v
      |FROM merged GROUP BY day ORDER BY day""".stripMargin

  // --- P14: IP-range enrichment via binary-search predecessor (H10 geo) ---
  // The geo half of enrichment is a RANGE lookup: ip → the greatest range
  // start ≤ ip → that range's label. The naive join is a non-equi theta
  // join (BNLJ — a scale-killer against a real MaxMind-sized table); the
  // production shape is the one implemented here: broadcast the SORTED
  // range starts as a literal array and binary-search per row with the
  // codegen'd [[graft.functions.ArrayPredecessor]] kernel (map-only, no
  // join for the search; one broadcast equi-join on the matched start
  // attaches the label). The range table and the per-event IPs are
  // deterministic integer arithmetic from the fixture (the real DB is
  // environment-blocked; the OPERATOR is the deliverable, and the oracle
  // re-derives every range bound, every IP, and every predecessor match
  // exactly).
  def p14(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val starts = (0 until 64).map(k =>
      k.toLong * 67108864L + (k.toLong * k * 1234567L) % 50000000L)
    val ranges = starts.zipWithIndex
      .map { case (s, k) => (s, s"r${k % 7}") }
      .toDF("bucket_start", "region")
    graft.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"))
      // mask to 31 bits BEFORE the Knuth multiply (ADVICE r11): (2^31-1) *
      // 2654435761 ≈ 5.7e18 fits a signed Long, so neither engine can
      // overflow — the unmasked form wrapped silently in Spark but errored
      // in DuckDB for user_id beyond ~3.47e9 (asymmetric divergence).
      .withColumn("ipn",
        pmod(col("user_id").bitwiseAND(lit(2147483647L)) * lit(2654435761L),
          lit(4294967296L)))
      .withColumn("bucket_start",
        graft.functions.GraftFunctions.array_predecessor(
          lit(starts.toArray), col("ipn")))
      .join(broadcast(ranges), Seq("bucket_start"))
      .groupBy("region")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min("ipn").as("min_ip"), max("ipn").as("max_ip"))
      .orderBy("region")
  }

  val p14Sql: String =
    """WITH starts AS (
      |  SELECT k * 67108864 + (k * k * 1234567) % 50000000 AS s,
      |         'r' || CAST(k % 7 AS VARCHAR) AS region
      |  FROM range(64) t(k)),
      |ips AS (
      |  SELECT event_id, user_id,
      |         ((user_id & 2147483647) * 2654435761) % 4294967296 AS ipn
      |  FROM events),
      |m AS (
      |  SELECT i.event_id, any_value(i.user_id) AS user_id,
      |         any_value(i.ipn) AS ipn, max_by(s.region, s.s) AS region
      |  FROM ips i JOIN starts s ON s.s <= i.ipn
      |  GROUP BY i.event_id)
      |SELECT region, count(*) AS n,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       CAST(min(ipn) AS BIGINT) AS min_ip,
      |       CAST(max(ipn) AS BIGINT) AS max_ip
      |FROM m GROUP BY region ORDER BY region""".stripMargin

  // --- P15: DELETE FROM the lake (GDPR erasure, copy-on-write) -------------
  // The compliance sweep: erase a deterministic key set (event_id % 13
  // == 0, with their event times — the key→day contract) from the
  // date-partitioned lake; only touched days rewritten, emptied days'
  // directories removed ([[LakeUpsert.deleteKeys]]). The oracle re-derives
  // the surviving per-day totals, so an over- or under-delete fails the
  // hash; untouched-file immutability, emptied-day removal, and
  // idempotent re-delete are LakeUpsertSpec-locked.
  def p15OutDir(sfDir: String): String =
    s"target/etl/events_lake_delete_${sfKey(sfDir)}"

  def p15(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = p15OutDir(sfDir)
    writeEventsByDay(spark, sfDir, outDir)
    val keys = graft.Tables.load(spark, sfDir, "events")
      .filter(col("event_id") % 13 === 0)
      .select("event_id", "ts")
    LakeUpsert.deleteKeys(spark, outDir, keys, "event_id", "ts")
    spark.read.parquet(outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  val p15Sql: String =
    """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v
      |FROM events WHERE event_id % 13 <> 0
      |GROUP BY day ORDER BY day""".stripMargin

  // --- P16/P17: the SNAPSHOT-ATOMIC lake (VERDICT r11 #1) ------------------
  // p13/p15's row semantics through [[LakeSnapshot]]'s manifest-last read
  // path: the same merge batch / delete key set, the same per-day oracle
  // VERBATIM — so "the generation protocol changes nothing about the
  // values while closing the cross-partition crash window" is a green
  // hash row, not a claim. Atomicity/OCC/vacuum are LakeSnapshotSpec's.
  private def rmDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def p16(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_snapshot_merge_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts") // initial load
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    LakeSnapshot.merge(spark, outDir, batch, "event_id", "ts")
    LakeSnapshot.read(spark, outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  def p17(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_snapshot_delete_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    val keys = ev.filter(col("event_id") % 13 === 0).select("event_id", "ts")
    LakeSnapshot.deleteKeys(spark, outDir, keys, "event_id", "ts")
    LakeSnapshot.read(spark, outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  // --- P18: lake schema evolution (VERDICT r11 #4) -------------------------
  // The correction batch arrives with a column the lake has never seen
  // (`src` — the audit trail of WHICH pipeline fixed the row). The merge
  // must accept it, untouched rows must surface it as NULL, and the read
  // must reconcile mixed-schema generations — the oracle re-derives the
  // per-day fixed-row census, so a dropped column, a misaligned union, or
  // a null-filled row that shouldn't be fails the hash.
  def p18(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_snapshot_evolve_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .withColumn("src", lit("fix"))
    LakeSnapshot.merge(spark, outDir, batch, "event_id", "ts")
    LakeSnapshot.read(spark, outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"),
        count(col("src")).as("n_fixed"))
      .orderBy("day")
  }

  // --- P19: TIME TRAVEL (generations are immutable) ------------------------
  // Merge a correction batch, checkpoint the manifest, then read the lake
  // AS OF the initial commit: the oracle is the UNMODIFIED events table's
  // per-day totals, so any leakage of the merge into the historical
  // snapshot — or a checkpoint disturbing history — fails the hash. The
  // current view is p16's (hash-locked there); this entry locks the past.
  def p19(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_snapshot_travel_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    val e0 = LakeSnapshot.currentEpoch(spark, outDir)
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
    LakeSnapshot.merge(spark, outDir, batch, "event_id", "ts")
    LakeSnapshot.checkpointManifest(spark, outDir)
    LakeSnapshot.readAt(spark, outDir, e0)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  val p19Sql: String =
    """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v
      |FROM events GROUP BY day ORDER BY day""".stripMargin

  // --- P20: CHANGE DATA FEED between snapshots -----------------------------
  // The incremental-consumer read: after the p13-style merge, the CDC
  // window [initial → merged] must contain EXACTLY the batch's effect —
  // update pre/post images for the %7 corrections, inserts for the %97
  // re-entries, nothing for untouched keys (even though their days were
  // rewritten). The oracle re-derives every image's per-day per-type
  // census, so a phantom change (a rewritten-but-identical row leaking
  // into the feed) or a lost image fails the hash.
  def p20(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_snapshot_cdf_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    val e0 = LakeSnapshot.currentEpoch(spark, outDir)
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    LakeSnapshot.merge(spark, outDir, batch, "event_id", "ts")
    val e1 = LakeSnapshot.currentEpoch(spark, outDir)
    LakeSnapshot.readChanges(spark, outDir, e0, e1, "event_id")
      .groupBy(col("day"), col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day", "change_type")
  }

  val p20Sql: String =
    """WITH ch AS (
      |  SELECT CAST(ts AS DATE) AS day, 'update_preimage' AS change_type,
      |         value
      |  FROM events WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT CAST(ts AS DATE), 'update_postimage', value + 1
      |  FROM events WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT CAST(ts AS DATE), 'insert', value
      |  FROM events WHERE event_id % 97 = 0)
      |SELECT day, change_type, count(*) AS n, round(sum(value), 2) AS v
      |FROM ch GROUP BY day, change_type ORDER BY day, change_type""".stripMargin

  // --- P21: OPTIMIZE (generation compaction), value-invisible --------------
  // Streaming ingest leaves one generation write per touching batch; the
  // maintenance rewrite collapses each live day to one file through the
  // same OCC commit, and the values must not move — p21 runs the p13
  // merge, compacts EVERY day, reads through the post-compaction
  // snapshot, and shares p13's oracle verbatim. File-count reduction,
  // CDC-silence, and mutation-beats-maintenance conflicts are
  // LakeSnapshotSpec's.
  def p21(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_snapshot_optimize_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    LakeSnapshot.merge(spark, outDir, batch, "event_id", "ts")
    LakeSnapshot.compactDays(spark, outDir)
    LakeSnapshot.vacuum(spark, outDir) // prove reads survive the cleanup
    LakeSnapshot.read(spark, outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  // --- P22: OPTIMIZE ZORDER BY on the snapshot lake ------------------------
  // p12 value-locked the Morton arithmetic itself; p22 locks the LAKE
  // operation: z-ordering the live generations through the OCC commit
  // must preserve every value (count + value sum re-derived by DuckDB)
  // while clustering BOTH dimensions — the per-file span gates are the
  // p12 booleans, computed over the post-optimize files (a single-column
  // sort fails the second gate, unsorted data fails both; ZOrderSpec).
  def p22(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_snapshot_zorder_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "ts", "value")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    LakeSnapshot.optimizeZOrder(spark, outDir,
      col("user_id"), unix_micros(col("ts")), files = 16)
    LakeSnapshot.vacuum(spark, outDir)
    val back = LakeSnapshot.read(spark, outDir)
      .withColumn("us", unix_micros(col("ts")))
    val b = back.agg(min("user_id"), max("user_id"), min("us"), max("us")).head()
    val (mnU, mxU, mnT, mxT) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val s = ZOrder.fileSpans(back, Seq("user_id", "us"))
      .agg(count(lit(1)).as("nf"),
        sum("span_user_id").as("su"), sum("span_us").as("st")).head()
    val (nf, su, st) = (s.getLong(0), s.getLong(1), s.getLong(2))
    back.agg(
      count(lit(1)).as("n_rows"),
      round(sum("value"), 2).as("v"))
      .withColumn("clustered_user", lit(su * 100L <= 75L * nf * (mxU - mnU)))
      .withColumn("clustered_time", lit(st * 100L <= 75L * nf * (mxT - mnT)))
  }

  val p22Sql: String =
    """SELECT count(*) AS n_rows, round(sum(value), 2) AS v,
      |       true AS clustered_user, true AS clustered_time
      |FROM events""".stripMargin

  // --- P23: MERGE-ON-READ row deltas, concurrent same-day writers --------
  // VERDICT r12 #1 made concrete: the p13 correction batch split into two
  // KEY-DISJOINT halves that touch the SAME days, committed by two
  // genuinely concurrent delta writers — under the day-granular COW
  // protocol one of them would abort and re-stage whole days; under
  // merge-on-read BOTH commit (O(batch) writes, no conflict), and the
  // folded read must equal p13's oracle VERBATIM. The fold correctness,
  // OPTIMIZE absorption, and plan shape are LakeDeltaSpec's.
  def p23(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_delta_merge_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts") // initial load
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    val half1 = batch.filter(col("event_id") % 2 === 0)
    val half2 = batch.filter(col("event_id") % 2 =!= 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val start = new java.util.concurrent.CountDownLatch(1)
    def submit(b: DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.countDown(); start.await()
          LakeSnapshot.mergeDelta(spark, outDir, b, "event_id", "ts")
        }
      })
    val (f1, f2) = (submit(half1), submit(half2))
    val (e1, e2) = (f1.get(), f2.get())
    pool.shutdown()
    require(e1 != e2, "concurrent delta commits must take distinct epochs")
    LakeSnapshot.read(spark, outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  // --- P25: MERGE-ON-READ delete markers, folded + then compacted ---------
  // p15's GDPR erasure as O(keys) delete markers instead of a survivor
  // rewrite; the read folds them out (p15's oracle verbatim), and the
  // entry then OPTIMIZEs + vacuums to prove the markers absorb away
  // without moving a value.
  def p25(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_delta_delete_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    val keys = ev.filter(col("event_id") % 13 === 0).select("event_id", "ts")
    LakeSnapshot.deleteKeysDelta(spark, outDir, keys, "event_id", "ts")
    LakeSnapshot.compactDays(spark, outDir) // absorb the markers
    LakeSnapshot.vacuum(spark, outDir)
    LakeSnapshot.read(spark, outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  // --- P24: column RENAME via the manifest column mapping ------------------
  // VERDICT r12 #3: rename is a metadata-only commit (physical parquet
  // names never move). The entry renames value→amount, merges the p13
  // correction batch UNDER THE NEW NAME (its values land in the same
  // physical column), then returns BOTH views joined per day: the current
  // view aggregated under `amount` and the e0 time travel aggregated
  // under `value` — so a mapping that leaked the rename into history, or
  // a merge that forked a second physical column, fails the hash.
  // Zero-file-moved and drop/re-add no-resurrection are
  // LakeColumnMappingSpec's.
  def p24(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_rename_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    val e0 = LakeSnapshot.currentEpoch(spark, outDir)
    LakeSnapshot.renameColumn(spark, outDir, "value", "amount")
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .withColumnRenamed("value", "amount")
    LakeSnapshot.merge(spark, outDir, batch, "event_id", "ts")
    val now = LakeSnapshot.read(spark, outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n_now"), round(sum("amount"), 2).as("v_amount"))
    val past = LakeSnapshot.readAt(spark, outDir, e0)
      .groupBy("day")
      .agg(count(lit(1)).as("n_past"), round(sum("value"), 2).as("v_value"))
    now.join(past, Seq("day")).orderBy("day")
  }

  val p24Sql: String =
    """WITH merged AS (
      |  SELECT event_id, ts,
      |         CASE WHEN event_id % 7 = 0 THEN value + 1 ELSE value END
      |           AS amount
      |  FROM events),
      |now AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_now,
      |        round(sum(amount), 2) AS v_amount FROM merged GROUP BY 1),
      |past AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_past,
      |         round(sum(value), 2) AS v_value FROM events GROUP BY 1)
      |SELECT now.day AS day, n_now, v_amount, n_past, v_value
      |FROM now JOIN past ON now.day = past.day ORDER BY day""".stripMargin

  // --- P26: MULTI-TABLE atomic commit (raw lake + derived rollup) ----------
  // VERDICT r12 missing #6: the p13 correction lands in the raw events
  // lake AND its per-day rollup table as ONE transaction — per-table
  // LakeSnapshot commits plus one LakeTxn pin row that flips both for
  // cross-table consumers. The entry reads BOTH tables through the
  // pinned view and joins them per day, so a rollup that lagged the raw
  // correction (the inconsistency the txn exists to prevent) fails the
  // hash: the oracle derives the per-day census once and expects it on
  // both sides. The crash window (raw committed, rollup/txn not) is
  // LakeTxnSpec's.
  def p26(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/events_txn_${sfKey(sfDir)}"
    rmDir(spark, root)
    val (rawDir, rollDir, txnDir) = (s"$root/raw", s"$root/rollup", s"$root/txn")
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value")
    def rollupOf(df: DataFrame): DataFrame = df
      .groupBy(to_date(col("ts")).as("rday"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .select(col("rday").cast("string").as("rollup_key"),
        col("rday").cast("timestamp").as("ts"), col("n"), col("v"))
    def pinBoth(): Unit =
      LakeTxn.commit(spark, txnDir, Map(
        "raw" -> LakeSnapshot.currentEpoch(spark, rawDir),
        "rollup" -> LakeSnapshot.currentEpoch(spark, rollDir)))
    LakeSnapshot.merge(spark, rawDir, ev, "event_id", "ts")
    LakeSnapshot.merge(spark, rollDir, rollupOf(ev), "rollup_key", "ts")
    pinBoth()
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    val touched = LakeSnapshot.merge(spark, rawDir, batch, "event_id", "ts")
    // recompute the rollup for exactly the touched days from the raw
    // table's NEW state (O(touched days) on both sides)
    val touchedRaw = LakeSnapshot.read(spark, rawDir)
      .filter(col("day").isin(touched.map(java.sql.Date.valueOf): _*))
      .select("event_id", "ts", "value")
    LakeSnapshot.merge(spark, rollDir, rollupOf(touchedRaw), "rollup_key", "ts")
    pinBoth()
    val raw = LakeTxn.readPinned(spark, txnDir, "raw", rawDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
    val roll = LakeTxn.readPinned(spark, txnDir, "rollup", rollDir)
      .select(col("rollup_key").cast("date").as("day"),
        col("n").as("n_rollup"), col("v").as("v_rollup"))
    raw.join(roll, Seq("day")).orderBy("day")
  }

  val p26Sql: String =
    """WITH batch AS (
      |  SELECT event_id, ts, value + 1 AS value
      |  FROM events WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT event_id + 10000000 AS event_id, ts, value
      |  FROM events WHERE event_id % 97 = 0),
      |merged AS (
      |  SELECT e.event_id, e.ts, e.value FROM events e
      |  WHERE NOT EXISTS (SELECT 1 FROM batch b
      |                    WHERE b.event_id = e.event_id)
      |  UNION ALL
      |  SELECT event_id, ts, value FROM batch),
      |census AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |         round(sum(value), 2) AS v
      |  FROM merged GROUP BY day)
      |SELECT day, n, v, n AS n_rollup, v AS v_rollup
      |FROM census ORDER BY day""".stripMargin

  // --- P27: the DSv2 BATCH relation over the lake (graft-lake) ------------
  // Round-14 ring (b): external tools read the lake via
  // `spark.read.format("graft-lake")` — no Scala API. The entry drives
  // the relation through every storage state at once: a COW base, a
  // pending row-delta upsert batch (the p13 correction, NOT compacted —
  // the scan's executor-side fold must do the merge), pending delete
  // markers layered younger than the upserts, and a manifest-only
  // rename (value→amount) the projection must resolve through the
  // column mapping. The DuckDB oracle derives the same image from
  // `events` alone, so a fold that dropped a marker, resurrected a
  // superseded base row, or read the wrong physical column fails the
  // hash. Pushdown/pruning/DPP plan shape is GraftLakeSourceSpec's.
  def p27(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_lake_dsv2_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    LakeSnapshot.mergeDelta(spark, outDir, batch, "event_id", "ts")
    LakeSnapshot.deleteKeysDelta(spark, outDir,
      ev.filter(col("event_id") % 13 === 0).select("event_id", "ts"),
      "event_id", "ts")
    LakeSnapshot.renameColumn(spark, outDir, "value", "amount")
    spark.read.format("graft-lake").option("path", outDir).load()
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("amount"), 2).as("v"))
      .orderBy("day")
  }

  val p27Sql: String =
    """WITH batch AS (
      |  SELECT event_id, ts, value + 1 AS value
      |  FROM events WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT event_id + 10000000 AS event_id, ts, value
      |  FROM events WHERE event_id % 97 = 0),
      |merged AS (
      |  SELECT e.event_id, e.ts, e.value FROM events e
      |  WHERE NOT EXISTS (SELECT 1 FROM batch b
      |                    WHERE b.event_id = e.event_id)
      |  UNION ALL
      |  SELECT event_id, ts, value FROM batch),
      |kept AS (
      |  SELECT * FROM merged m
      |  WHERE NOT EXISTS (SELECT 1 FROM events d
      |                    WHERE d.event_id % 13 = 0
      |                      AND d.event_id = m.event_id))
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v
      |FROM kept GROUP BY day ORDER BY day""".stripMargin

  // --- P28: write-time CDF sidecars for ROW-DELTA commits -----------------
  // Round-14 ring (a): a `cdf = true` delta merge/delete stages its
  // change images at write time — the staging pays one folded read of
  // the touched stored days for PREIMAGES (the O(batch)-never-abort vs
  // O(day)-with-OCC trade, priced in BASELINE.md), and the commit
  // aborts if an overlapping non-maintenance commit invalidated them
  // (LakeDeltaSpec locks the abort + the maint exemption). The entry
  // lands the p13 correction as a cdf delta MERGE, then GDPR keys as a
  // cdf delta DELETE, and aggregates the whole write-time feed: the
  // oracle derives every image class — update pre/post, insert, and
  // delete-with-the-corrected-preimage — so a feed that staged stale
  // preimages, missed the younger correction in a delete image, or
  // dropped a suppressed row fails the hash.
  def p28(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_delta_cdf_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    val e0 = LakeSnapshot.currentEpoch(spark, outDir)
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    LakeSnapshot.mergeDelta(spark, outDir, batch, "event_id", "ts",
      cdf = true)
    LakeSnapshot.deleteKeysDelta(spark, outDir,
      ev.filter(col("event_id") % 13 === 0).select("event_id", "ts"),
      "event_id", "ts", cdf = true)
    val e2 = LakeSnapshot.currentEpoch(spark, outDir)
    LakeSnapshot.readChangesCdf(spark, outDir, e0, e2)
      .groupBy(col("day").cast("date").as("day"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day", "change_type")
  }

  // --- P29: DELETION VECTORS (positional delete files) --------------------
  // Round-14 ring (c): p15's GDPR erasure as positional tombstones —
  // the doomed rows are located ONCE at write time (base read + key
  // semi-join, O(deleted) written) and every read subtracts them with a
  // broadcast anti-join: no key window, no shuffle, the wide rows never
  // move. Shares p15's oracle VERBATIM — the representation must be
  // value-invisible next to the survivor rewrite (p15), the snapshot
  // delete (p17), and the delta markers (p25). The anti-join plan lock,
  // delta-refusal, overlap abort, and OPTIMIZE absorption are
  // LakeDvSpec's.
  def p29(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_dv_delete_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    LakeSnapshot.deleteKeysPositional(spark, outDir,
      ev.filter(col("event_id") % 13 === 0).select("event_id", "ts"),
      "event_id", "ts")
    LakeSnapshot.read(spark, outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  // --- P30: multi-dimension Z-ORDER (k = 3) on the snapshot lake ----------
  // Round-14 ring (e): OPTIMIZE ZORDER BY (user_id, event_time,
  // event_id) — the round-robin 3-way interleave (mortonKeyN). The
  // oracle re-derives EVERY 48-bit z-key in DuckDB (p12's exact-integer
  // pattern, widened to three dims) and value-locks z_sum/min/max, so a
  // single mis-ordered bit anywhere in the kernel fails the hash; the
  // three clustered_* gates then assert the layout outcome — every
  // file's span ≤ 85% of the global range on ALL THREE dimensions
  // (16 files over a 3-D curve predicts ~40%; a 1-D sort leaves two
  // dimensions near 100%).
  def p30(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_zorder3_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "ts", "value")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    LakeSnapshot.optimizeZOrderN(spark, outDir,
      Seq(col("user_id"), unix_micros(col("ts")), col("event_id")),
      files = 16)
    LakeSnapshot.vacuum(spark, outDir)
    val back = LakeSnapshot.read(spark, outDir)
      .withColumn("us", unix_micros(col("ts")))
    val b = back.agg(
      min("user_id"), max("user_id"), min("us"), max("us"),
      min("event_id"), max("event_id")).head()
    val (mnU, mxU, mnT, mxT, mnE, mxE) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3),
        b.getLong(4), b.getLong(5))
    def bucket(c: String, mn: Long, mx: Long): org.apache.spark.sql.Column =
      expr(s"(CAST($c - $mn AS DECIMAL(38,0)) * 65535) div " +
        s"${math.max(1L, mx - mn)}")
    val keyed = back
      .withColumn("ub", bucket("user_id", mnU, mxU))
      .withColumn("tb", bucket("us", mnT, mxT))
      .withColumn("eb", bucket("event_id", mnE, mxE))
      .withColumn("zkey",
        ZOrder.mortonKeyN(Seq(col("ub"), col("tb"), col("eb"))))
    val s = ZOrder.fileSpans(back, Seq("user_id", "us", "event_id"))
      .agg(count(lit(1)).as("nf"), sum("span_user_id").as("su"),
        sum("span_us").as("st"), sum("span_event_id").as("se")).head()
    val (nf, su, st, se) =
      (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3))
    keyed.agg(
      count(lit(1)).as("n_rows"),
      sum("zkey").as("z_sum"),
      min("zkey").as("z_min"),
      max("zkey").as("z_max"),
      round(sum("value"), 2).as("v"))
      .withColumn("clustered_user", lit(su * 100L <= 85L * nf * (mxU - mnU)))
      .withColumn("clustered_time", lit(st * 100L <= 85L * nf * (mxT - mnT)))
      .withColumn("clustered_event", lit(se * 100L <= 85L * nf * (mxE - mnE)))
  }

  val p30Sql: String =
    """WITH b AS (
      |  SELECT min(user_id) AS mnu, max(user_id) AS mxu,
      |         min(epoch_us(ts)) AS mnt, max(epoch_us(ts)) AS mxt,
      |         min(event_id) AS mne, max(event_id) AS mxe
      |  FROM events),
      |k AS (
      |  SELECT CAST((CAST(user_id - mnu AS HUGEINT) * 65535)
      |              // greatest(1, mxu - mnu) AS BIGINT) AS ub,
      |         CAST((CAST(epoch_us(ts) - mnt AS HUGEINT) * 65535)
      |              // greatest(1, mxt - mnt) AS BIGINT) AS tb,
      |         CAST((CAST(event_id - mne AS HUGEINT) * 65535)
      |              // greatest(1, mxe - mne) AS BIGINT) AS eb,
      |         value
      |  FROM events CROSS JOIN b),
      |z AS (
      |  SELECT CAST(list_sum(list_transform(range(0, 16),
      |           i -> (((ub >> i) & 1) << (3*i))
      |              + (((tb >> i) & 1) << (3*i + 1))
      |              + (((eb >> i) & 1) << (3*i + 2)))) AS BIGINT) AS zkey,
      |         value
      |  FROM k)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(zkey) AS BIGINT) AS z_sum,
      |       CAST(min(zkey) AS BIGINT) AS z_min,
      |       CAST(max(zkey) AS BIGINT) AS z_max,
      |       round(sum(value), 2) AS v,
      |       true AS clustered_user,
      |       true AS clustered_time,
      |       true AS clustered_event
      |FROM z""".stripMargin

  // --- P31: LakeTxn pins a DERIVED INDEX with its source lake --------------
  // Round-14 ring (d): a documents lake and the SPAN INDEX derived from
  // it flip in ONE transaction — the txn row pins (lake epoch, index
  // manifest epoch), the consumer reads lake rows via readPinned and
  // probes the index via probeSpanStats(asOf = pin). The entry commits
  // a correction (doc %7 text doubled) as lake-delta + index-append +
  // one txn, then lands a LATER UNPINNED lake mutation (%11 tripled —
  // a transaction caught mid-flight, its txn row never published).
  // Consistency IS the oracle: every span of every pinned-lake doc must
  // hit the pinned index (n_dup == n_spans, all docs fully duplicated);
  // a consumer that leaked the unpinned text (or an index view that
  // lagged the correction) produces bridge spans with no index entry
  // and fails the hash. The crash window and the vacuumed-pin loudness
  // are LakeTxnSpec's.
  def p31(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/docs_txn_index_${sfKey(sfDir)}"
    rmDir(spark, root)
    val (lakeDir, idxDir, txnDir) =
      (s"$root/docs", s"$root/spans", s"$root/txn")
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"),
        date_add(lit("2024-01-01").cast("date"),
          (col("doc_id") % 5).cast("int")).cast("timestamp").as("ts"))
    LakeSnapshot.merge(spark, lakeDir, docs, "doc_id", "ts")
    graft.ops.SpanIndex.buildSpanIndex(docs, "doc_id", "text", idxDir)
    LakeTxn.commit(spark, txnDir, Map(
      "docs" -> LakeSnapshot.currentEpoch(spark, lakeDir), "spans" -> 0))
    val corrected = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), lit(" "), col("text")))
    LakeSnapshot.mergeDelta(spark, lakeDir, corrected, "doc_id", "ts")
    val eIdx = graft.ops.SpanIndex.appendToSpanIndex(
      corrected, "doc_id", "text", idxDir, tag = "fix1")
    LakeTxn.commit(spark, txnDir, Map(
      "docs" -> LakeSnapshot.currentEpoch(spark, lakeDir),
      "spans" -> eIdx))
    // mid-flight transaction: lake advanced, txn row never landed —
    // invisible to every pinned consumer
    LakeSnapshot.mergeDelta(spark, lakeDir,
      docs.filter(col("doc_id") % 11 === 0)
        .withColumn("text",
          concat_ws(" ", col("text"), col("text"), col("text"))),
      "doc_id", "ts")
    val lake = LakeTxn.readPinned(spark, txnDir, "docs", lakeDir)
      .select("doc_id", "text", "source")
    graft.ops.SpanIndex.probeSpanStats(spark, idxDir, lake,
        "doc_id", "text",
        asOf = LakeTxn.pinnedEpoch(spark, txnDir, "spans"))
      .join(lake.select(col("doc_id").as("id"), col("source")), Seq("id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_spans").as("total_spans"),
        sum("n_dup").as("n_dup_positions"),
        sum(when(col("n_dup") === col("n_spans"), 1L).otherwise(0L))
          .as("n_docs_fully_dup"))
      .orderBy("source")
  }

  val p31Sql: String =
    """WITH pinned AS (
      |  SELECT doc_id, source,
      |         CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text
      |              ELSE text END AS text
      |  FROM documents),
      |d AS (SELECT doc_id, source,
      |             string_split_regex(trim(text), '\s+') AS w
      |      FROM pinned),
      |sp AS (SELECT doc_id, source, len(w) - 7 AS n_spans
      |       FROM d WHERE len(w) >= 8)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_spans) AS BIGINT) AS total_spans,
      |       CAST(sum(n_spans) AS BIGINT) AS n_dup_positions,
      |       CAST(count(*) AS BIGINT) AS n_docs_fully_dup
      |FROM sp GROUP BY source ORDER BY source""".stripMargin

  // --- P36: the pure-SQL catalog surface (GraftCatalog) --------------------
  // Round-13 late ring: a SQL-only client drives the lake end to end —
  // CREATE TABLE (declaring the merge key), INSERT INTO ... SELECT
  // (upsert-by-key, landing as MoR delta commits), ALTER TABLE RENAME
  // COLUMN (manifest-only), SELECT the folded view — without ONE Scala
  // API call. The catalog adds no state beyond the CREATE declaration;
  // the manifest is the same one every other surface reads. DuckDB
  // re-derives the upserted + renamed aggregate.
  def p36(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_catalog_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_sql (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value").createOrReplaceTempView("ev_src")
    spark.sql("INSERT INTO graft.ev_sql (event_id, ts, value) " +
      "SELECT event_id, ts, value FROM ev_src")
    spark.sql("INSERT INTO graft.ev_sql (event_id, ts, value) " +
      "SELECT event_id, ts, value + 1 FROM ev_src WHERE event_id % 7 = 0")
    spark.sql("ALTER TABLE graft.ev_sql RENAME COLUMN value TO amount")
    spark.sql("SELECT day, count(*) AS n, round(sum(amount), 2) AS v " +
      "FROM graft.ev_sql GROUP BY day ORDER BY day")
  }

  val p36Sql: String =
    """WITH merged AS (
      |  SELECT event_id, ts, value FROM events WHERE event_id % 7 <> 0
      |  UNION ALL
      |  SELECT event_id, ts, value + 1 AS value
      |  FROM events WHERE event_id % 7 = 0)
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v
      |FROM merged GROUP BY day ORDER BY day""".stripMargin

  // --- P37: SQL DELETE FROM / day drops over the lake -----------------------
  // Round-13 late ring: DELETE FROM graft.t lands as the lake's native
  // shapes — a row predicate reads the folded view once and commits the
  // matching (key, ts) pairs as a merge-on-read DELTA delete (O(matching),
  // never a rewrite); a day-only predicate drops whole days MANIFEST-ONLY
  // (zero data read at any size — gated here by a history row with
  // n_days=0). DuckDB re-derives the survivors.
  def p37(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_delete_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_del (event_id BIGINT, ts TIMESTAMP, " +
      "event_type STRING, value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "event_type", "value")
    ev.createOrReplaceTempView("ev_del_src")
    spark.sql("INSERT INTO graft.ev_del (event_id, ts, event_type, value) " +
      "SELECT event_id, ts, event_type, value FROM ev_del_src")
    spark.sql("DELETE FROM graft.ev_del WHERE event_type = 'error' " +
      "AND value >= 0.0")
    val minDay = ev.agg(min(to_date(col("ts")))).head().getDate(0)
    spark.sql(s"DELETE FROM graft.ev_del WHERE day = DATE '$minDay'")
    val lastOp = LakeSnapshot.describeHistory(spark, s"$root/ev_del")
      .orderBy(col("epoch").desc).limit(1)
      .select("n_days", "n_dropped").head()
    require(lastOp.getInt(0) == 0 && lastOp.getInt(1) == 1,
      s"the day DELETE must commit manifest-only (0 days, 1 dropped), " +
        s"got $lastOp")
    spark.sql("SELECT day, count(*) AS n, round(sum(value), 2) AS v " +
      "FROM graft.ev_del GROUP BY day ORDER BY day")
  }

  val p37Sql: String =
    """WITH kept AS (
      |  SELECT * FROM events
      |  WHERE NOT (event_type = 'error' AND value >= 0.0)
      |    AND CAST(ts AS DATE) <> (SELECT min(CAST(ts AS DATE))
      |                             FROM events))
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v
      |FROM kept GROUP BY day ORDER BY day""".stripMargin

  // --- P38: SQL MERGE INTO — one statement, three verbs, ONE delta commit --
  // Round-14 ring (VERDICT r13 #2): a conditional
  // MATCHED-DELETE / MATCHED-UPDATE / NOT-MATCHED-INSERT mix in one
  // MERGE INTO statement, planned through SupportsRowLevelOperations +
  // SupportsDelta ([[graft.sources.LakeRowLevelOperation]]): Spark joins
  // target and source, the distributed delta writers stream the merge
  // output into per-day `__op`-tagged delta files (O(merge output), no
  // driver collect), and the driver publishes ONE merge-on-read delta
  // manifest row — gated here by describeHistory showing exactly one new
  // epoch, operation 'delta' (never a rewrite). The verbs reuse p13/p15's
  // deterministic sets (%7 update, %97 re-keyed insert, %13 delete), so
  // DuckDB re-derives every surviving, updated, inserted, and untouched
  // row per day. The insert re-key offset is 1e9 (not p13's 1e7): MERGE
  // validates source-key cardinality, and the 10x rehearsal's replica
  // stride is 1e7 — a colliding offset would make a replica id match
  // both its own 'd'/'u' row and a base row's 'i' row (found by the r14
  // rehearsal's MERGE_CARDINALITY_VIOLATION).
  def p38(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_merge_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_mrg (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value").createOrReplaceTempView("ev_mrg_src")
    spark.sql("INSERT INTO graft.ev_mrg (event_id, ts, value) " +
      "SELECT event_id, ts, value FROM ev_mrg_src")
    val preEpoch = LakeSnapshot.currentEpoch(spark, s"$root/ev_mrg")
    spark.sql(
      """MERGE INTO graft.ev_mrg t
        |USING (
        |  SELECT event_id, ts, value, 'd' AS op
        |  FROM ev_mrg_src WHERE event_id % 13 = 0
        |  UNION ALL
        |  SELECT event_id, ts, value + 1 AS value, 'u' AS op
        |  FROM ev_mrg_src WHERE event_id % 7 = 0 AND event_id % 13 <> 0
        |  UNION ALL
        |  SELECT event_id + 1000000000 AS event_id, ts, value, 'i' AS op
        |  FROM ev_mrg_src WHERE event_id % 97 = 0
        |) s
        |ON t.event_id = s.event_id
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET value = s.value, ts = s.ts
        |WHEN NOT MATCHED THEN
        |  INSERT (event_id, ts, value) VALUES (s.event_id, s.ts, s.value)
        |""".stripMargin)
    // the whole three-verb mix must land as ONE MoR delta commit
    val ops = LakeSnapshot.describeHistory(spark, s"$root/ev_mrg")
      .filter(col("epoch") > preEpoch)
      .select("operation").collect().map(_.getString(0)).toSeq
    require(ops == Seq("delta"),
      s"MERGE INTO must commit exactly one delta epoch, got $ops")
    spark.sql("SELECT day, count(*) AS n, round(sum(value), 2) AS v " +
      "FROM graft.ev_mrg GROUP BY day ORDER BY day")
  }

  val p38Sql: String =
    """WITH merged AS (
      |  SELECT event_id, ts,
      |         CASE WHEN event_id % 7 = 0 THEN value + 1 ELSE value END
      |           AS value
      |  FROM events WHERE event_id % 13 <> 0
      |  UNION ALL
      |  SELECT event_id + 1000000000 AS event_id, ts, value
      |  FROM events WHERE event_id % 97 = 0)
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v
      |FROM merged GROUP BY day ORDER BY day""".stripMargin

  // --- P40: SQL UPDATE (row-level ops, one MoR delta commit) ---------------
  // The second row-level verb through SupportsRowLevelOperations: a plain
  // UPDATE ... SET ... WHERE lands as ONE merge-on-read delta commit of
  // exactly the matching rows' new images (O(matched), never a rewrite).
  // The %7 value+1 correction is p36's INSERT-upsert shape verbatim, so
  // p40 shares p36's oracle: two different SQL verbs, one folded truth.
  def p40(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_update_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_upd (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value").createOrReplaceTempView("ev_upd_src")
    spark.sql("INSERT INTO graft.ev_upd (event_id, ts, value) " +
      "SELECT event_id, ts, value FROM ev_upd_src")
    val preEpoch = LakeSnapshot.currentEpoch(spark, s"$root/ev_upd")
    spark.sql("UPDATE graft.ev_upd SET value = value + 1 " +
      "WHERE event_id % 7 = 0")
    val ops = LakeSnapshot.describeHistory(spark, s"$root/ev_upd")
      .filter(col("epoch") > preEpoch)
      .select("operation").collect().map(_.getString(0)).toSeq
    require(ops == Seq("delta"),
      s"UPDATE must commit exactly one delta epoch, got $ops")
    spark.sql("SELECT day, count(*) AS n, round(sum(value), 2) AS v " +
      "FROM graft.ev_upd GROUP BY day ORDER BY day")
  }

  // --- P41: SQL CALL maintenance (ProcedureCatalog) ------------------------
  // The last external-tool surface that needed Scala: OPTIMIZE / ZORDER /
  // CHECKPOINT / VACUUM as `CALL graft.system.*` procedures (Spark 4
  // ProcedureCatalog), thin SQL bindings over the one implementation.
  // The whole maintenance pass must be VALUE-INVISIBLE: after the %7
  // upsert lands as a MoR delta, optimize absorbs it, zorder relays the
  // days, checkpoint collapses the manifest, vacuum reclaims — and the
  // folded view still hashes to p36's oracle. The in-entry gates check
  // each procedure's RESULT row (days compacted, committed epoch) and
  // that no pending deltas survive the optimize.
  def p41(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_maint_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_mnt (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value").createOrReplaceTempView("ev_mnt_src")
    spark.sql("INSERT INTO graft.ev_mnt (event_id, ts, value) " +
      "SELECT event_id, ts, value FROM ev_mnt_src")
    spark.sql("INSERT INTO graft.ev_mnt (event_id, ts, value) " +
      "SELECT event_id, ts, value + 1 FROM ev_mnt_src WHERE event_id % 7 = 0")
    val dir = s"$root/ev_mnt"
    val nDays = LakeSnapshot.tableState(spark, dir).days.size
    val opt = spark.sql("CALL graft.system.optimize(`table` => 'ev_mnt')")
      .head()
    require(opt.getInt(1) == nDays,
      s"optimize must compact every live day ($nDays), got $opt")
    require(LakeSnapshot.tableState(spark, dir)
      .days.values.forall(_.deltas.isEmpty),
      "optimize must absorb every pending delta")
    val z = spark.sql("CALL graft.system.zorder(`table` => 'ev_mnt', " +
      "columns => 'event_id,value', files => 4)").head()
    require(z.getString(0) == "zorder" && z.getInt(1) == nDays,
      s"zorder must relayout every live day, got $z")
    spark.sql("CALL graft.system.checkpoint(`table` => 'ev_mnt')")
    spark.sql("CALL graft.system.vacuum(`table` => 'ev_mnt')")
    spark.sql("SELECT day, count(*) AS n, round(sum(value), 2) AS v " +
      "FROM graft.ev_mnt GROUP BY day ORDER BY day")
  }

  // --- P39: storage-partitioned aggregation (KeyGroupedPartitioning) -------
  // Round-14 ring (VERDICT r13 #4): the lake's layout IS day-partitioned,
  // and under spark.sql.sources.v2.bucketing.enabled the DSv2 scan says so
  // (SupportsReportPartitioning + HasPartitionKey on every file/fold
  // partition) — a day-grouped aggregation then runs with ZERO exchange
  // below the agg: Spark groups the per-file partitions by day and the
  // scan's KeyGroupedPartitioning already satisfies the distribution. At
  // 100 TB that removes a whole shuffle pass from the commonest rollup
  // shape. The entry gates the exchange-free plan in-line and shares
  // p13's oracle VERBATIM (the grouped read still folds base + deltas
  // exactly); LakeDayPartitioningSpec locks the plan both ways (conf off
  // → Exchange returns).
  /** The day-grouped aggregate, split out so the spec plan-locks it. */
  def p39Agg(spark: SparkSession, outDir: String): DataFrame =
    spark.read.format("graft-lake").option("path", outDir).load()
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))

  def p39(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_kgp_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    // p13's batch as a MoR delta: the grouped path must fold a day's
    // base files AND its delta-fold partition inside one day-task
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    LakeSnapshot.mergeDelta(spark, outDir, batch, "event_id", "ts")
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val agg = p39Agg(spark, outDir)
      val plan = agg.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"day-grouped agg over graft-lake must plan with ZERO exchange " +
          s"under KeyGroupedPartitioning; got:\n$plan")
      // EXECUTE inside the conf window (the returned frame is otherwise
      // planned lazily after the finally restores it) — 30 result rows
      val rows = agg.orderBy("day").collect().toSeq
      val asList = new java.util.ArrayList[org.apache.spark.sql.Row]()
      rows.foreach(asList.add)
      spark.createDataFrame(asList, agg.schema)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // --- P35: retention policy + DESCRIBE RETENTION (pin-protected) ----------
  // Round-14 ring (d): maintenance under a per-surface RetentionPolicy
  // must be VALUE-INVISIBLE (shares p13's oracle verbatim) while a
  // LakeTxn pin keeps time travel alive through an aggressive
  // historyMs=0 vacuum. Gates: the audit counts pin-protected objects
  // and reports zero reclaimable after the pass (describeRetention and
  // vacuumPolicy consume the SAME plan — an audit that lied here would
  // hash-fail LakeRetentionSpec first); the pinned read-back must equal
  // its pre-vacuum self row-for-row.
  def p35(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/events_retention_${sfKey(sfDir)}"
    rmDir(spark, root)
    val (outDir, txnDir) = (s"$root/lake", s"$root/txn")
    val ev = graft.Tables.load(spark, sfDir, "events")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    LakeSnapshot.merge(spark, outDir, batch, "event_id", "ts")
    val pre = LakeSnapshot.currentEpoch(spark, outDir)
    LakeTxn.commit(spark, txnDir, Map("events" -> pre))
    LakeSnapshot.compactDays(spark, outDir) // supersedes every pinned gen
    val pins = LakeTxn.pinsFor(spark, txnDir, "events")
    val policy = LakeSnapshot.RetentionPolicy(historyMs = 0L)
    val preVacuum = LakeSnapshot.readAt(spark, outDir, pre)
      .agg(count(lit(1)), round(sum("value"), 2)).head()
    LakeSnapshot.vacuumPolicy(spark, outDir, policy, pins)
    val postVacuum = LakeSnapshot.readAt(spark, outDir, pre)
      .agg(count(lit(1)), round(sum("value"), 2)).head()
    require(postVacuum == preVacuum,
      s"pinned time travel changed under vacuum: $postVacuum != $preVacuum")
    val a = LakeSnapshot.describeRetention(spark, outDir, policy, pins)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    require(a("history")._3 > 0,
      "the audit must count the pin-protected generations")
    require(a("history")._2 == 0,
      s"post-vacuum audit must report zero reclaimable, got ${a("history")}")
    LakeSnapshot.read(spark, outDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  // --- P34: LakeTxn pins the IVF VECTOR index with its corpus lake ---------
  // Round-14 ring (a): the vector index family joins LakeTxn the way the
  // span index did (p31) — an embeddings lake and the persisted IVF
  // index derived from it flip in ONE transaction; consumers read the
  // lake via readPinned and the index via as-of reads over the vector
  // manifest (Similarity.ivfVectorsAt / ivfProbePersisted(asOf)). The
  // entry corrects vec_id%7==3 embeddings (reversed) as lake-delta +
  // tagged index append + one txn row, then lands a LATER UNPINNED
  // mutation (%11==5 doubled — mid-flight, its txn row never lands).
  // Consistency IS the oracle: every pinned-lake vector must equal its
  // youngest as-of index row elementwise (n_consistent == n_vecs per
  // label) and the v1 sums carry the corrected values — a consumer that
  // leaked the unpinned epoch, or an index view that lagged the
  // correction, shifts both and fails the hash. Two probe GATES prove
  // the as-of is real: the corrected vector is top-1 of its own pin and
  // invisible at asOf=0.
  def p34(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = s"target/etl/emb_txn_ivf_${sfKey(sfDir)}"
    rmDir(spark, root)
    val (lakeDir, idxDir, txnDir) = (s"$root/emb", s"$root/ivf", s"$root/txn")
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        date_add(lit("2024-01-01").cast("date"),
          (col("vec_id") % 5).cast("int")).cast("timestamp").as("ts"))
    LakeSnapshot.merge(spark, lakeDir, emb, "vec_id", "ts")
    val centroids = emb.filter(col("vec_id").between(1, 16))
      .select(col("vec_id").cast("int").as("list_id"),
        col("embedding").cast("array<double>").as("centroid"))
    graft.ops.Similarity.saveIvfIndex(
      graft.ops.Similarity.ivfBuildFixed(emb, "vec_id", "embedding",
        centroids), idxDir)
    LakeTxn.commit(spark, txnDir, Map(
      "emb" -> LakeSnapshot.currentEpoch(spark, lakeDir), "ivf" -> 0))
    val corrected = emb.filter(col("vec_id") % 7 === 3)
      .withColumn("embedding", reverse(col("embedding")))
    LakeSnapshot.mergeDelta(spark, lakeDir, corrected, "vec_id", "ts")
    val eIdx = graft.ops.Similarity.appendToIvfIndex(
      corrected, "vec_id", "embedding", idxDir, tag = "fix1")
    LakeTxn.commit(spark, txnDir, Map(
      "emb" -> LakeSnapshot.currentEpoch(spark, lakeDir), "ivf" -> eIdx))
    // mid-flight transaction: lake and index advanced, txn row never
    // landed — invisible to every pinned consumer
    val unpinned = emb.filter(col("vec_id") % 11 === 5)
      .withColumn("embedding",
        expr("transform(embedding, x -> x * CAST(2.0 AS FLOAT))"))
    LakeSnapshot.mergeDelta(spark, lakeDir, unpinned, "vec_id", "ts")
    graft.ops.Similarity.appendToIvfIndex(
      unpinned, "vec_id", "embedding", idxDir, tag = "leak1")
    // probe gates: vec_id 17 (17%7==3) — its corrected vector answers
    // top-1 with cos≈1 at the pinned epoch and is ABSENT at asOf=0
    val pinIdx = LakeTxn.pinnedEpoch(spark, txnDir, "ivf")
    val q = emb.filter(col("vec_id") === 17)
      .select(reverse(col("embedding")).as("qvec"))
    val at1 = graft.ops.Similarity.ivfProbePersisted(
      spark, idxDir, q, k = 1, nProbe = 4, asOf = pinIdx).head()
    require(at1.getLong(0) == 17L && at1.getDouble(1) >= 0.9999,
      s"pinned probe must surface the correction, got $at1")
    val at0 = graft.ops.Similarity.ivfProbePersisted(
      spark, idxDir, q, k = 1, nProbe = 4, asOf = 0).head()
    require(!(at0.getLong(0) == 17L && at0.getDouble(1) >= 0.9999),
      s"asOf=0 must NOT see the correction, got $at0")
    // the cross-table-consistent view: pinned lake joined with the
    // youngest as-of index vector per id
    val lake = LakeTxn.readPinned(spark, txnDir, "emb", lakeDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val idxYoungest = graft.ops.Similarity
      .ivfVectorsAt(spark, idxDir, asOf = pinIdx)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("epoch").desc)))
      .filter(col("__rn") === 1)
      .select(col("id"), col("v"))
    lake.join(idxYoungest, col("vec_id") === col("id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("embedding") === col("v"), 1L).otherwise(0L))
          .as("n_consistent"),
        round(sum(element_at(col("v"), 1).cast("double")), 4).as("v1_sum"))
      .orderBy("label")
  }

  val p34Sql: String =
    """WITH pinned AS (
      |  SELECT vec_id, label,
      |         CASE WHEN vec_id % 7 = 3 THEN list_reverse(embedding)
      |              ELSE embedding END AS v
      |  FROM embeddings)
      |SELECT label, count(*) AS n_vecs, count(*) AS n_consistent,
      |       round(sum(CAST(v[1] AS DOUBLE)), 4) AS v1_sum
      |FROM pinned GROUP BY label ORDER BY label""".stripMargin

  // --- P32: the DSv2 WRITE path — `df.write.format("graft-lake")` --------
  // Round-13 late ring: external tools mutate the lake through the
  // standard DataFrameWriter, no Scala API in sight. The V2 table
  // declares BATCH_WRITE + V1_BATCH_WRITE and bridges the whole batch
  // to the ONE transactional staging/commit path (Delta's V2-table/
  // V1-write shape) — so writer-originated commits obey the identical
  // OCC/claim/manifest protocol as API commits, proven here by sharing
  // the read-side aggregate with a DuckDB oracle and asserting the
  // manifest history kinds. First write = COW seed (records the table
  // key); mode("append") thereafter = merge-on-read row-delta upsert.
  def p32(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_lake_dsv2w_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value")
    ev.write.format("graft-lake").option("path", outDir)
      .option("key", "event_id").option("writeMode", "cow")
      .mode("append").save()
    val batch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 1)
      .unionByName(ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    // the recorded key is the default — no option("key") on appends
    batch.write.format("graft-lake").option("path", outDir)
      .mode("append").save()
    val ops = LakeSnapshot.describeHistory(spark, outDir)
      .select("operation").collect().map(_.getString(0)).toSeq
    require(ops == Seq("write", "delta"),
      s"writer commits must land as COW seed + row-delta, got $ops")
    spark.read.format("graft-lake").option("path", outDir).load()
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  val p32Sql: String =
    """WITH batch AS (
      |  SELECT event_id, ts, value + 1 AS value
      |  FROM events WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT event_id + 10000000 AS event_id, ts, value
      |  FROM events WHERE event_id % 97 = 0),
      |merged AS (
      |  SELECT e.event_id, e.ts, e.value FROM events e
      |  WHERE NOT EXISTS (SELECT 1 FROM batch b
      |                    WHERE b.event_id = e.event_id)
      |  UNION ALL
      |  SELECT event_id, ts, value FROM batch)
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v
      |FROM merged GROUP BY day ORDER BY day""".stripMargin

  // --- P33: manifest-carried FILE stats prune at planning --------------
  // Round-14 ring (c): every staged generation writes a `_filestats.tsv`
  // sidecar (per-file column min/max folded from its footers, colocated
  // so it commits/time-travels/vacuums WITH the generation), and the
  // DSv2 planner prunes whole FILES from it — zero footer opens before
  // the first task, the Iceberg/Delta stats-in-metadata shape. The
  // entry z-orders the lake so per-file user_id ranges are narrow, runs
  // a selective user_id probe through `spark.read.format("graft-lake")`,
  // and REQUIREs the planning-time skip actually fired (a layout gate,
  // like p22's) while DuckDB hash-locks the values.
  def p33(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = s"target/etl/events_lake_filestats_${sfKey(sfDir)}"
    rmDir(spark, outDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "ts", "value")
    LakeSnapshot.merge(spark, outDir, ev, "event_id", "ts")
    LakeSnapshot.optimizeZOrderN(spark, outDir,
      Seq(col("user_id"), unix_micros(col("ts")), col("event_id")),
      files = 8)
    val mn = ev.agg(min("user_id")).head().getLong(0)
    graft.etl.FileStats.skippedFiles.set(0L)
    val out = spark.read.format("graft-lake").option("path", outDir).load()
      .filter(col("user_id") <= lit(mn + 4))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("user_id")
    require(out.count() > 0, "the probe range must exist")
    require(graft.etl.FileStats.skippedFiles.get() > 0,
      "the selective probe must prune files at PLANNING from the " +
        "stats sidecar — opening every footer is the failure mode " +
        "this entry exists to forbid")
    out
  }

  val p33Sql: String =
    """SELECT user_id, count(*) AS n, round(sum(value), 2) AS v
      |FROM events
      |WHERE user_id <= (SELECT min(user_id) + 4 FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  val p28Sql: String =
    """WITH ch AS (
      |  SELECT CAST(ts AS DATE) AS day, 'update_preimage' AS change_type,
      |         value
      |  FROM events WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT CAST(ts AS DATE), 'update_postimage', value + 1
      |  FROM events WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT CAST(ts AS DATE), 'insert', value
      |  FROM events WHERE event_id % 97 = 0
      |  UNION ALL
      |  SELECT CAST(ts AS DATE), 'delete',
      |         CASE WHEN event_id % 7 = 0 THEN value + 1 ELSE value END
      |  FROM events WHERE event_id % 13 = 0)
      |SELECT day, change_type, count(*) AS n, round(sum(value), 2) AS v
      |FROM ch GROUP BY day, change_type ORDER BY day, change_type""".stripMargin

  val p18Sql: String =
    """WITH merged AS (
      |  SELECT event_id, ts, value, NULL AS src
      |  FROM events WHERE event_id % 7 <> 0
      |  UNION ALL
      |  SELECT event_id, ts, value + 1 AS value, 'fix' AS src
      |  FROM events WHERE event_id % 7 = 0)
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v,
      |       CAST(count(src) AS BIGINT) AS n_fixed
      |FROM merged GROUP BY day ORDER BY day""".stripMargin

  // --- P42: DECIMAL columns in the SQL lake (DSv2 bridges, r15) ------------
  // VERDICT r14 #1: money lives in DECIMAL(18,2) (SURVEY §1.2) and must be
  // a first-class column of a catalog table — CREATE with a decimal
  // column, INSERT through the V1 path (Spark-written base parquet),
  // MERGE all three verbs through the row-level delta writer
  // (int64-physical decimal), and read the fold back exactly. Amounts are
  // built from INTEGER parts via string concat, so both engines construct
  // the identical exact decimal (no float rounding anywhere); the %7
  // correction adds an exact 1.11. In-entry gates: the MERGE lands as ONE
  // delta commit, and a decimal point-filter returns exactly its rows
  // (pushed decimal comparisons never become skip hints — the residual
  // filter is the correctness path, GraftLakeSourceSpec locks the
  // no-claim rule).
  def p42(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_decimal_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_money (event_id BIGINT, ts TIMESTAMP, " +
      "amount DECIMAL(18,2)) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"),
        concat(col("event_id").cast("string"), lit("."),
          lpad((col("event_id") % 100).cast("string"), 2, "0"))
          .cast("decimal(18,2)").as("amount"))
      .createOrReplaceTempView("ev_money_src")
    spark.sql("INSERT INTO graft.ev_money (event_id, ts, amount) " +
      "SELECT event_id, ts, amount FROM ev_money_src")
    val dir = s"$root/ev_money"
    val preEpoch = LakeSnapshot.currentEpoch(spark, dir)
    spark.sql(
      """MERGE INTO graft.ev_money t
        |USING (
        |  SELECT event_id, ts, amount, 'd' AS op
        |  FROM ev_money_src WHERE event_id % 13 = 0
        |  UNION ALL
        |  SELECT event_id, ts,
        |         CAST(amount + 1.11 AS DECIMAL(18,2)) AS amount, 'u' AS op
        |  FROM ev_money_src WHERE event_id % 7 = 0 AND event_id % 13 <> 0
        |  UNION ALL
        |  SELECT event_id + 1000000000 AS event_id, ts, amount, 'i' AS op
        |  FROM ev_money_src WHERE event_id % 97 = 0
        |) s
        |ON t.event_id = s.event_id
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET amount = s.amount, ts = s.ts
        |WHEN NOT MATCHED THEN
        |  INSERT (event_id, ts, amount) VALUES (s.event_id, s.ts, s.amount)
        |""".stripMargin)
    val ops = LakeSnapshot.describeHistory(spark, dir)
      .filter(col("epoch") > preEpoch)
      .select("operation").collect().map(_.getString(0)).toSeq
    require(ops == Seq("delta"),
      s"decimal MERGE must commit exactly one delta epoch, got $ops")
    // decimal point-filter over the folded read: the exact row, by value
    // (event_id 2 is neither %7 nor %13, so its original amount survives)
    val pt = spark.sql("SELECT event_id, amount FROM graft.ev_money " +
      "WHERE amount = CAST('2.02' AS DECIMAL(18,2))").collect()
    require(pt.nonEmpty && pt.forall(_.getDecimal(1).toPlainString == "2.02"),
      s"decimal point filter must return exact-value rows, got " +
        pt.mkString(","))
    // Hashed output carries integer CENTS, not the raw DECIMAL: trailing
    // cent zeros ("834392.70") render engine-dependently, so a raw decimal
    // column is never canonicalization-safe across harnesses (SURVEY §2.3
    // rule, r16). The DECIMAL machinery stays fully exercised above — the
    // table column, the typed MERGE, the exact point-filter.
    spark.sql("SELECT day, count(*) AS n, " +
      "CAST(sum(amount) * 100 AS BIGINT) AS total_cents " +
      "FROM graft.ev_money GROUP BY day ORDER BY day")
  }

  val p42Sql: String =
    """WITH src AS (
      |  SELECT event_id, ts,
      |         CAST(concat(CAST(event_id AS VARCHAR), '.',
      |              lpad(CAST(event_id % 100 AS VARCHAR), 2, '0'))
      |              AS DECIMAL(18,2)) AS amount
      |  FROM events),
      |merged AS (
      |  SELECT event_id, ts,
      |         CASE WHEN event_id % 7 = 0
      |              THEN CAST(amount + 1.11 AS DECIMAL(18,2))
      |              ELSE amount END AS amount
      |  FROM src WHERE event_id % 13 <> 0
      |  UNION ALL
      |  SELECT event_id + 1000000000, ts, amount
      |  FROM src WHERE event_id % 97 = 0)
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       CAST(sum(amount) * 100 AS BIGINT) AS total_cents
      |FROM merged GROUP BY day ORDER BY day""".stripMargin

  // --- P44: SQL ALTER TABLE ADD COLUMN (schema evolution, r15) -------------
  // VERDICT r14 #3: dropping ACCEPT_ANY_SCHEMA for MERGE resolution (r14,
  // the right call) took implicit SQL column ADDs with it — this is the
  // explicit verb: ALTER TABLE ADD COLUMN binds the logical name to a
  // physical parquet column through a manifest-only commit (plus the
  // declared-schema update), so an external SQL tool can evolve a table
  // it already fully manages. The %7 'fix' correction is p18's evolution
  // shape VERBATIM (new rows carry src='fix', old rows null-fill), so
  // p44 shares p18's oracle. In-entry gates: the column is SQL-visible
  // (null-filled) before any data carries it, and time travel to the
  // pre-ADD epoch surfaces the old schema.
  def p44(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_addcol_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_add (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value").createOrReplaceTempView("ev_add_src")
    spark.sql("INSERT INTO graft.ev_add (event_id, ts, value) " +
      "SELECT event_id, ts, value FROM ev_add_src")
    val dir = s"$root/ev_add"
    val preAdd = LakeSnapshot.currentEpoch(spark, dir)
    spark.sql("ALTER TABLE graft.ev_add ADD COLUMN src STRING")
    // the column is visible IMMEDIATELY, null-filled, before any data
    require(spark.sql("SELECT count(src) FROM graft.ev_add")
      .head().getLong(0) == 0L,
      "a just-added column must read all-null")
    spark.sql(
      """MERGE INTO graft.ev_add t
        |USING (SELECT event_id, ts, value + 1 AS value, 'fix' AS src
        |       FROM ev_add_src WHERE event_id % 7 = 0) s
        |ON t.event_id = s.event_id
        |WHEN MATCHED THEN UPDATE SET value = s.value, src = s.src
        |""".stripMargin)
    // time travel BEFORE the ADD: the old schema, no src column
    val pre = spark.sql(
      s"SELECT * FROM graft.ev_add VERSION AS OF $preAdd")
    require(!pre.columns.contains("src"),
      s"pre-ADD time travel must surface the old schema, got " +
        pre.columns.toSeq.mkString(","))
    spark.sql("SELECT day, count(*) AS n, round(sum(value), 2) AS v, " +
      "CAST(count(src) AS BIGINT) AS n_fixed " +
      "FROM graft.ev_add GROUP BY day ORDER BY day")
  }

  // --- P47: MAP columns in the SQL lake (the type surface completes) -------
  // r15: string-keyed property bags — the last everyday shape — as a
  // first-class catalog-table column (standard parquet MAP groups
  // through both writers). The map is built from events.props (JSON)
  // plus a synthesized tier entry, MERGEd through the Group writer
  // (map_concat rewrites), and the oracle re-derives per-key lookups
  // from the raw JSON without ever materializing a map. With this,
  // only nested arrays/maps-in-maps stay outside the DSv2 surface.
  def p47(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_map_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    // r17 wave 3: nested map values — ARRAY-valued and MAP-valued map
    // entries ride the same CREATE/INSERT/MERGE path as the flat bag
    spark.sql("CREATE TABLE graft.ev_props (event_id BIGINT, ts TIMESTAMP, " +
      "props MAP<STRING, BIGINT>, buckets MAP<STRING, ARRAY<BIGINT>>, " +
      "meta MAP<STRING, MAP<STRING, BIGINT>>) " +
      "TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts",
        "map_concat(from_json(props, 'MAP<STRING, BIGINT>'), " +
          "map('tier', event_id % 3)) AS props",
        "map('b', array(event_id % 5, event_id % 11)) AS buckets",
        "map('m', map('inner', event_id % 13)) AS meta")
      .createOrReplaceTempView("ev_props_src")
    spark.sql("INSERT INTO graft.ev_props (event_id, ts, props, buckets, " +
      "meta) SELECT event_id, ts, props, buckets, meta FROM ev_props_src")
    val dir = s"$root/ev_props"
    val preEpoch = LakeSnapshot.currentEpoch(spark, dir)
    spark.sql(
      """MERGE INTO graft.ev_props t
        |USING (
        |  SELECT event_id, ts, props, buckets, meta, 'd' AS op
        |  FROM ev_props_src WHERE event_id % 13 = 0
        |  UNION ALL
        |  SELECT event_id, ts,
        |         map_concat(props, map('boost', 1L)) AS props,
        |         buckets, meta, 'u' AS op
        |  FROM ev_props_src WHERE event_id % 7 = 0 AND event_id % 13 <> 0
        |  UNION ALL
        |  SELECT event_id + 1000000000 AS event_id, ts, props, buckets,
        |         meta, 'i' AS op
        |  FROM ev_props_src WHERE event_id % 97 = 0
        |) s
        |ON t.event_id = s.event_id
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET props = s.props, ts = s.ts
        |WHEN NOT MATCHED THEN
        |  INSERT (event_id, ts, props, buckets, meta)
        |  VALUES (s.event_id, s.ts, s.props, s.buckets, s.meta)
        |""".stripMargin)
    val ops = LakeSnapshot.describeHistory(spark, dir)
      .filter(col("epoch") > preEpoch)
      .select("operation").collect().map(_.getString(0)).toSeq
    require(ops == Seq("delta"),
      s"map MERGE must commit exactly one delta epoch, got $ops")
    spark.sql("SELECT day, count(*) AS n, " +
      "CAST(sum(props['k']) AS BIGINT) AS k_sum, " +
      "CAST(sum(props['tier']) AS BIGINT) AS tier_sum, " +
      "CAST(count(props['boost']) AS BIGINT) AS n_boost, " +
      "CAST(sum(size(props)) AS BIGINT) AS n_entries, " +
      // nested gates: array-valued entries by position, map-valued
      // entries by two-level lookup (r17 wave 3)
      "CAST(sum(buckets['b'][0]) AS BIGINT) AS b0_sum, " +
      "CAST(sum(buckets['b'][1]) AS BIGINT) AS b1_sum, " +
      "CAST(sum(meta['m']['inner']) AS BIGINT) AS mi_sum " +
      "FROM graft.ev_props GROUP BY day ORDER BY day")
  }

  val p47Sql: String =
    """WITH src AS (
      |  SELECT event_id, ts,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |         event_id % 3 AS tier,
      |         event_id % 5 AS b0, event_id % 11 AS b1,
      |         event_id % 13 AS mi
      |  FROM events),
      |merged AS (
      |  SELECT event_id, ts, k, tier, b0, b1, mi,
      |         CASE WHEN event_id % 7 = 0 THEN 1 ELSE NULL END AS boost
      |  FROM src WHERE event_id % 13 <> 0
      |  UNION ALL
      |  SELECT event_id + 1000000000, ts, k, tier, b0, b1, mi, NULL
      |  FROM src WHERE event_id % 97 = 0)
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       CAST(sum(k) AS BIGINT) AS k_sum,
      |       CAST(sum(tier) AS BIGINT) AS tier_sum,
      |       CAST(count(boost) AS BIGINT) AS n_boost,
      |       CAST(sum(2 + CASE WHEN boost IS NULL THEN 0 ELSE 1 END)
      |            AS BIGINT) AS n_entries,
      |       CAST(sum(b0) AS BIGINT) AS b0_sum,
      |       CAST(sum(b1) AS BIGINT) AS b1_sum,
      |       CAST(sum(mi) AS BIGINT) AS mi_sum
      |FROM merged GROUP BY day ORDER BY day""".stripMargin

  // --- P49: SQL ALTER COLUMN TYPE widening (r17, VERDICT r16 #3) -----------
  // A year-two schema reality: the INT quantity column outgrows int32,
  // the FLOAT ratio needs double math. ALTER COLUMN ... TYPE lands as a
  // manifest-only `widen` binding commit — zero data rewrite; files
  // written before it keep the narrow physical type and the readers
  // upcast (explicit-schema parquet scan on the batch path, physical-
  // aware Group decode on the DSv2 path), files written after carry the
  // wide type natively. The MERGE then writes values only the WIDE types
  // can hold (event_id + 3e9 overflows int32), so the folded aggregate
  // is unreachable without real widening. In-entry gates: pre-widen time
  // travel surfaces the OLD types; the merge commits exactly one delta.
  def p49(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_widen_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_widen (event_id BIGINT, ts TIMESTAMP, " +
      "qty INT, ratio FLOAT) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .selectExpr("event_id", "ts",
        "CAST(event_id % 1000 AS INT) AS qty",
        "CAST(event_id % 7 + 0.5 AS FLOAT) AS ratio")
      .createOrReplaceTempView("ev_widen_src")
    spark.sql("INSERT INTO graft.ev_widen (event_id, ts, qty, ratio) " +
      "SELECT event_id, ts, qty, ratio FROM ev_widen_src")
    val dir = s"$root/ev_widen"
    val preWiden = LakeSnapshot.currentEpoch(spark, dir)
    spark.sql("ALTER TABLE graft.ev_widen ALTER COLUMN qty TYPE BIGINT")
    spark.sql("ALTER TABLE graft.ev_widen ALTER COLUMN ratio TYPE DOUBLE")
    require(spark.table("graft.ev_widen").schema("qty").dataType ==
      org.apache.spark.sql.types.LongType, "widen must surface BIGINT")
    val preEpoch = LakeSnapshot.currentEpoch(spark, dir)
    spark.sql(
      """MERGE INTO graft.ev_widen t
        |USING (
        |  SELECT event_id, ts, event_id + 3000000000 AS qty,
        |         CAST(ratio AS DOUBLE) * 2 AS ratio
        |  FROM ev_widen_src WHERE event_id % 7 = 0
        |  UNION ALL
        |  SELECT event_id + 1000000000 AS event_id, ts,
        |         4000000000 + event_id AS qty, 0.25D AS ratio
        |  FROM ev_widen_src WHERE event_id % 97 = 0
        |) s
        |ON t.event_id = s.event_id
        |WHEN MATCHED THEN UPDATE SET qty = s.qty, ratio = s.ratio
        |WHEN NOT MATCHED THEN
        |  INSERT (event_id, ts, qty, ratio)
        |  VALUES (s.event_id, s.ts, s.qty, s.ratio)
        |""".stripMargin)
    val ops = LakeSnapshot.describeHistory(spark, dir)
      .filter(col("epoch") > preEpoch)
      .select("operation").collect().map(_.getString(0)).toSeq
    require(ops == Seq("delta"),
      s"widened MERGE must commit exactly one delta epoch, got $ops")
    // time travel BEFORE the widen: the narrow types, the narrow values
    val pre = spark.sql(
      s"SELECT * FROM graft.ev_widen VERSION AS OF $preWiden")
    require(pre.schema("qty").dataType ==
      org.apache.spark.sql.types.IntegerType &&
      pre.schema("ratio").dataType ==
        org.apache.spark.sql.types.FloatType,
      s"pre-widen time travel must surface INT/FLOAT, got " +
        pre.schema.simpleString)
    spark.sql("SELECT day, count(*) AS n, " +
      "CAST(sum(qty) AS BIGINT) AS total_qty, " +
      "round(sum(ratio), 3) AS r " +
      "FROM graft.ev_widen GROUP BY day ORDER BY day")
  }

  val p49Sql: String =
    """WITH src AS (
      |  SELECT event_id, ts,
      |         CAST(event_id % 1000 AS INTEGER) AS qty,
      |         CAST(event_id % 7 + 0.5 AS REAL) AS ratio
      |  FROM events),
      |merged AS (
      |  SELECT event_id, ts,
      |         CASE WHEN event_id % 7 = 0
      |              THEN event_id + 3000000000
      |              ELSE CAST(qty AS BIGINT) END AS qty,
      |         CASE WHEN event_id % 7 = 0
      |              THEN CAST(ratio AS DOUBLE) * 2
      |              ELSE CAST(ratio AS DOUBLE) END AS ratio
      |  FROM src
      |  UNION ALL
      |  SELECT event_id + 1000000000, ts, 4000000000 + event_id,
      |         0.25 AS ratio
      |  FROM src WHERE event_id % 97 = 0)
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       CAST(sum(qty) AS BIGINT) AS total_qty,
      |       round(sum(ratio), 3) AS r
      |FROM merged GROUP BY day ORDER BY day""".stripMargin

  // --- P50: metadata-only aggregates (r17) ----------------------------------
  // `SELECT count(*) / min / max FROM lake` answered from the manifest
  // fold + stats sidecars with ZERO data files opened — the
  // Iceberg/Delta "stats as query input" shape, gated here end to end:
  // the entry requires the push actually fired (LakeAggPushdown's
  // counter + the plan label) AND the values hash-match DuckDB
  // recomputing the same aggregates over the raw events table. OPTIMIZE
  // first returns the INSERT's MoR delta to a pure base — the only
  // regime where sidecar stats are exact, and exactly what a real table
  // looks like after maintenance.
  def p50(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/agg_push_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_meta (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE, etype STRING) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value", "event_type")
      .createOrReplaceTempView("ev_meta_src")
    spark.sql("INSERT INTO graft.ev_meta (event_id, ts, value, etype) " +
      "SELECT event_id, ts, value, event_type FROM ev_meta_src")
    spark.sql("CALL graft.system.optimize('ev_meta')")
    val agg = "SELECT count(*) AS n, " +
      "min(event_id) AS id_min, max(event_id) AS id_max, " +
      "CAST(floor(min(value) * 1000) AS BIGINT) AS v_min_milli, " +
      "CAST(floor(max(value) * 1000) AS BIGINT) AS v_max_milli, " +
      "min(etype) AS et_min, max(etype) AS et_max FROM graft.ev_meta"
    val n0 = graft.sources.LakeAggPushdown.pushedAggs.get()
    val got = spark.sql(agg).collect()
    require(graft.sources.LakeAggPushdown.pushedAggs.get() > n0,
      "the aggregate must be answered from metadata (pure-base lake)")
    require(spark.sql(agg).queryExecution.executedPlan.toString
      .contains("agg-pushdown"),
      "the plan must carry the agg-pushed scan, not a file scan")
    // min/max(ts) gate in-entry (timestamps stay out of the hashed
    // output — render canonicalization), against a REAL scan
    val pushed = spark.sql(
      "SELECT min(ts), max(ts) FROM graft.ev_meta").head()
    val scanned = spark.table("graft.ev_meta")
      .agg(min(col("value")), min(col("ts")), max(col("ts"))).head()
    require(pushed.getTimestamp(0) == scanned.getTimestamp(1) &&
      pushed.getTimestamp(1) == scanned.getTimestamp(2),
      "metadata min/max(ts) must equal the scanned min/max")
    require(got.nonEmpty, "one aggregate row")
    spark.sql(agg)
  }

  val p50Sql: String =
    """SELECT count(*) AS n,
      |       min(event_id) AS id_min, max(event_id) AS id_max,
      |       CAST(floor(min(value) * 1000) AS BIGINT) AS v_min_milli,
      |       CAST(floor(max(value) * 1000) AS BIGINT) AS v_max_milli,
      |       min(event_type) AS et_min, max(event_type) AS et_max
      |FROM events""".stripMargin

  // --- P51: atomic CTAS / RTAS (r17 wave 3) ---------------------------------
  // `CREATE TABLE ... AS SELECT` and `REPLACE TABLE ... AS SELECT`
  // through [[graft.sources.GraftCatalog]]'s StagingTableCatalog
  // surface: the SELECT's rows land in a dot-hidden staging lake via
  // the ordinary V1-bridge upsert write, and the table becomes visible
  // only at commit (CREATE = one atomic rename; REPLACE = swap with the
  // displaced table parked until the new one is in place). The entry
  // CTASes one slice of events, then RTASes a DIFFERENT slice with a
  // DIFFERENT column set — the hashed output carries only the second,
  // so any pre-replace leakage (or a non-whole swap) fails the oracle.
  // LakeCtasSpec locks the failure-atomicity half (mid-write abort
  // leaves no table / the original table).
  def p51(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_ctas_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value")
      .createOrReplaceTempView("ctas_ev_src")
    spark.sql("CREATE TABLE graft.ctas_ev TBLPROPERTIES " +
      "('key' = 'event_id') AS SELECT event_id, ts, value " +
      "FROM ctas_ev_src WHERE event_id % 3 = 0")
    // the CTAS is immediately queryable and carries exactly its slice
    val n1 = spark.sql("SELECT count(*) FROM graft.ctas_ev")
      .head().getLong(0)
    val expect1 = spark.table("ctas_ev_src")
      .filter(col("event_id") % 3 === 0).count()
    require(n1 == expect1, s"CTAS row count $n1 != source slice $expect1")
    spark.sql("REPLACE TABLE graft.ctas_ev TBLPROPERTIES " +
      "('key' = 'event_id') AS SELECT event_id, ts, " +
      "CAST(value * 2 AS DOUBLE) AS v2 " +
      "FROM ctas_ev_src WHERE event_id % 5 = 0")
    require(!spark.sql("SELECT * FROM graft.ctas_ev").columns
      .contains("value"),
      "RTAS must replace the SCHEMA too — old 'value' column leaked")
    // a successful publish leaves no staging/trash dirs behind
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stray = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName)
      .filter(n => n.startsWith(".stage-") || n.startsWith(".replaced-"))
    require(stray.isEmpty, s"staging leftovers after publish: " +
      stray.mkString(", "))
    spark.sql("SELECT day, count(*) AS n, round(sum(v2), 2) AS v " +
      "FROM graft.ctas_ev GROUP BY day ORDER BY day")
  }

  val p51Sql: String =
    """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value * 2), 2) AS v
      |FROM events WHERE event_id % 5 = 0
      |GROUP BY day ORDER BY day""".stripMargin

  // --- P52: bloom point-lookup pruning (r17 wave 3) -------------------------
  // Per-file bloom sidecars ([[BloomStats]]) on a declared
  // high-cardinality column: an equality/IN probe skips files whose
  // [min,max] straddles everything — the lookup shape range stats can
  // never prune. The fixture doubles user_id so EVEN values exist and
  // ODD probes are absent-but-in-range; the in-entry gate requires the
  // bloom skip counter to fire for an odd probe, and the hashed output
  // is the everyday point-lookup IN (mixed present/absent members) the
  // oracle re-derives row-for-row.
  def p52(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/bloom_prune_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_bloom (event_id BIGINT, " +
      "ts TIMESTAMP, uid2 BIGINT, value DOUBLE) " +
      "TBLPROPERTIES ('key' = 'event_id', 'bloom' = 'uid2')")
    val src = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"),
        (col("user_id") * 2).as("uid2"), col("value"))
    // cow merge with AQE coalescing pinned off: the staged days must be
    // genuinely multi-file for a per-file skip to mean anything
    val cc = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(cc, "false")
    try LakeSnapshot.merge(
      spark, s"$root/ev_bloom", src.repartition(8), "event_id", "ts")
    finally spark.conf.set(cc, "true")
    val b0 = BloomStats.skippedFiles.get()
    // an odd probe (absent by construction) DERIVED from the data so it
    // sits inside [0, 2*max(user_id)] at every SF — the range stats
    // cannot prune it, only the bloom can (r18: the old fixed 77 fell
    // OUTSIDE the sf0.001 range, so stats skipped first and the bloom
    // gate below read as a false regression)
    val probe = math.max(
      src.agg(max("uid2")).head().getLong(0) / 2, 1L) | 1L
    require(spark.sql(
      s"SELECT count(*) FROM graft.ev_bloom WHERE uid2 = $probe")
      .head().getLong(0) == 0L, "odd uid2 must be absent by construction")
    require(BloomStats.skippedFiles.get() > b0,
      "the bloom file skip never fired for an absent-in-range probe")
    spark.sql("SELECT day, count(*) AS n, round(sum(value), 2) AS v " +
      "FROM graft.ev_bloom WHERE uid2 IN (4, 333, 12346) " +
      "GROUP BY day ORDER BY day")
  }

  val p52Sql: String =
    """WITH src AS (
      |  SELECT event_id, ts, user_id * 2 AS uid2, value FROM events)
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v
      |FROM src WHERE uid2 IN (4, 333, 12346)
      |GROUP BY day ORDER BY day""".stripMargin

  // --- P53: CHECK constraints (r17 wave 3) ----------------------------------
  // `TBLPROPERTIES ('check.<name>' = '<condition>')`, SQL-standard
  // semantics, enforced at every write verb (INSERT/CTAS through the
  // staging seam; MERGE/UPDATE/stream sink through the delta writer —
  // LakeChecksSpec locks those). This entry re-runs p36's exact flow on
  // a CONSTRAINED table with violating writes interleaved: every
  // violation must abort WHOLE (batch atomicity) and the surviving
  // values must equal p36's oracle VERBATIM — constraints admit or
  // refuse, they never mutate.
  def p53(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_checks_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_ck (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id', " +
      "'check.sane_value' = 'value > -1e9')")
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value").createOrReplaceTempView("ev_ck_src")
    spark.sql("INSERT INTO graft.ev_ck (event_id, ts, value) " +
      "SELECT event_id, ts, value FROM ev_ck_src")
    // a violating batch aborts WHOLE — its valid row must not leak
    val viol =
      try { spark.sql("INSERT INTO graft.ev_ck (event_id, ts, value) " +
        "VALUES (900000001, TIMESTAMP '2024-01-01 10:00:00', 1.0), " +
        "(900000002, TIMESTAMP '2024-01-01 11:00:00', -2e9)"); None }
      catch { case e: Exception => Some(e) }
    require(viol.isDefined, "violating INSERT must refuse")
    require(spark.sql(
      "SELECT count(*) FROM graft.ev_ck WHERE event_id >= 900000000")
      .head().getLong(0) == 0L,
      "the violating batch must abort whole — a row leaked")
    spark.sql("INSERT INTO graft.ev_ck (event_id, ts, value) " +
      "SELECT event_id, ts, value + 1 FROM ev_ck_src WHERE event_id % 7 = 0")
    // ALTER-added checks validate EXISTING data first
    val badAdd =
      try { spark.sql("ALTER TABLE graft.ev_ck SET TBLPROPERTIES " +
        "('check.impossible' = 'event_id < 0')"); None }
      catch { case e: Exception => Some(e) }
    require(badAdd.isDefined,
      "adding a check existing data violates must refuse")
    // r18: the plain-SQL constraint verbs ride the same declarations —
    // a post-hoc ADD CONSTRAINT over violating data refuses (Spark's
    // analyzer plans the validation scan; our alterTable backstops),
    // a satisfiable one lands + enforces, DROP CONSTRAINT re-opens
    val badDdl =
      try { spark.sql("ALTER TABLE graft.ev_ck ADD CONSTRAINT " +
        "impossible CHECK (event_id < 0)"); None }
      catch { case e: Exception => Some(e) }
    require(badDdl.isDefined,
      "ADD CONSTRAINT over violating existing data must refuse")
    spark.sql("ALTER TABLE graft.ev_ck ADD CONSTRAINT nonneg_ids " +
      "CHECK (event_id >= 0)")
    val violDdl =
      try { spark.sql("INSERT INTO graft.ev_ck (event_id, ts, value) " +
        "VALUES (-7, TIMESTAMP '2024-01-01 10:00:00', 1.0)"); None }
      catch { case e: Exception => Some(e) }
    require(violDdl.isDefined, "a DDL-added constraint must enforce")
    spark.sql("ALTER TABLE graft.ev_ck DROP CONSTRAINT nonneg_ids")
    // a referenced column refuses RENAME until the check drops
    val badRename =
      try { spark.sql(
        "ALTER TABLE graft.ev_ck RENAME COLUMN value TO amount"); None }
      catch { case e: Exception => Some(e) }
    require(badRename.isDefined,
      "renaming a check-referenced column must refuse")
    spark.sql("ALTER TABLE graft.ev_ck UNSET TBLPROPERTIES " +
      "('check.sane_value')")
    spark.sql("ALTER TABLE graft.ev_ck RENAME COLUMN value TO amount")
    spark.sql("SELECT day, count(*) AS n, round(sum(amount), 2) AS v " +
      "FROM graft.ev_ck GROUP BY day ORDER BY day")
  }

  // --- P54: LIMIT / TopN pushdown on the lake scan (r18) --------------------
  // `SELECT * FROM lake LIMIT 10` — the single most common interactive
  // query — used to plan one InputPartition per base file table-wide; on
  // a 100 TB table a preview launched a cluster-wide scan (VERDICT r17
  // missing #2). The scan now caps its listing at sidecar-proven
  // k-coverage (plain LIMIT at file grain, ORDER BY day/ts LIMIT k at
  // whole-day grain in sort direction), partial-push style: Spark keeps
  // the real Limit/Sort above, so a refused or under-proven push only
  // ever falls back to the full plan. Gates: the pushed/capped counters
  // must fire; the returned frame is the TopN's day histogram — fully
  // deterministic even with ts ties, because ORDER BY day DESC LIMIT k
  // fixes the multiset of day values no matter which tied rows win.
  def p54(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/limit_push_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_lim (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    val src = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value")
    val cc = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(cc, "false")
    try graft.etl.LakeSnapshot.merge(
      spark, s"$root/ev_lim", src.repartition(8), "event_id", "ts")
    finally spark.conf.set(cc, "true")
    // gate 1: the preview shape — pushed AND plan-capped
    val pushed0 = graft.sources.GraftLakeSource.pushedLimits.get()
    val capped0 = graft.sources.GraftLakeSource.limitCappedPlans.get()
    require(spark.sql(
      "SELECT count(*) FROM (SELECT * FROM graft.ev_lim LIMIT 10)")
      .head().getLong(0) == 10L, "LIMIT 10 must return exactly 10 rows")
    require(graft.sources.GraftLakeSource.pushedLimits.get() > pushed0,
      "the plain LIMIT never pushed into the lake scan")
    require(graft.sources.GraftLakeSource.limitCappedPlans.get() > capped0,
      "the pushed LIMIT never capped the planned listing")
    // gate 2: the TopN shape pushes too
    val pushed1 = graft.sources.GraftLakeSource.pushedLimits.get()
    val top = spark.sql(
      "SELECT day, count(*) AS n FROM (" +
        "SELECT day FROM graft.ev_lim ORDER BY day DESC LIMIT 500) " +
        "GROUP BY day ORDER BY day")
    val out = top.collect() // plan + run before reading the counter
    require(graft.sources.GraftLakeSource.pushedLimits.get() > pushed1,
      "the TopN shape never pushed into the lake scan")
    require(out.map(_.getLong(1)).sum == 500L, "TopN must keep exactly k")
    top
  }

  val p54Sql: String =
    """SELECT day, count(*) AS n FROM (
      |  SELECT CAST(ts AS DATE) AS day FROM events
      |  ORDER BY day DESC LIMIT 500)
      |GROUP BY day ORDER BY day""".stripMargin

  // --- P55: snapshot export for interop (r19, VERDICT r18 #7) --------------
  // `CALL graft.system.export_snapshot(...)` materializes the FOLDED view
  // (base + MoR delta + the fold's winner rule) as plain day-partitioned
  // parquet. The hashed output aggregates the LAKE view; the generated
  // ORACLE aggregates the EXPORTED COPY via read_parquet — the first
  // entry where DuckDB consumes engine output with ZERO translation, so
  // a green row proves export == folded truth across engines (schema,
  // day partitioning, micros timestamps, values).
  //
  // The export destination is sf-independent ON PURPOSE: the oracle SQL
  // is a static string, and the dump always runs the entry before the
  // oracle executes. rmDir keeps re-runs deterministic.
  private val p55Dest: String =
    new java.io.File("target/etl/p55_export/exported").getAbsolutePath

  def p55(spark: SparkSession, sfDir: String): DataFrame = {
    val root = new java.io.File("target/etl/p55_export").getAbsolutePath
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_exp (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value").createOrReplaceTempView("ev_exp_src")
    spark.sql("INSERT INTO graft.ev_exp (event_id, ts, value) " +
      "SELECT event_id, ts, value FROM ev_exp_src")
    // a MoR correction: the export must carry the FOLDED truth, not gen 0
    spark.sql("INSERT INTO graft.ev_exp (event_id, ts, value) " +
      "SELECT event_id, ts, value + 1 FROM ev_exp_src WHERE event_id % 7 = 0")
    val res = spark.sql("CALL graft.system.export_snapshot(" +
      s"`table` => 'ev_exp', dest => '$p55Dest')").head()
    require(res.getString(0) == "export_snapshot" && res.getInt(2) > 0,
      s"export must land at least one day partition, got $res")
    // exports never overwrite: a second CALL at the same dest refuses
    val again = scala.util.Try(spark.sql(
      "CALL graft.system.export_snapshot(" +
        s"`table` => 'ev_exp', dest => '$p55Dest')").collect())
    require(again.isFailure, "a repeated export onto the same dest must fail")
    // hashed output: the LAKE view's aggregate — the oracle aggregates
    // the EXPORT, so the gate proves the two agree value-for-value
    spark.sql("SELECT day, count(*) AS n, round(sum(value), 2) AS v, " +
      "unix_micros(min(ts)) AS min_ts, unix_micros(max(ts)) AS max_ts " +
      "FROM graft.ev_exp GROUP BY day ORDER BY day")
  }

  val p55Sql: String =
    s"""SELECT CAST(day AS VARCHAR) AS day, count(*) AS n,
      |       round(sum(value), 2) AS v,
      |       epoch_us(min(ts)) AS min_ts, epoch_us(max(ts)) AS max_ts
      |FROM read_parquet('$p55Dest/*/*.parquet', hive_partitioning = 1)
      |GROUP BY day ORDER BY day""".stripMargin

  // --- P58: INCREMENTAL snapshot export (r19 continuation) -----------------
  // `export_snapshot(since_epoch => e)` ships only the days whose folded
  // state changed in the window — derived entirely from the manifest
  // (identical DayState ⟹ byte-identical dirs, provably skippable) —
  // plus `_removed_days.txt` for days gone from the view. The entry
  // plays the external consumer: full export at e0, window mutations
  // touching EXACTLY ONE day plus a whole-day delete, incremental
  // export, then the rsync-style composition (full − removed − changed,
  // plus the incremental dirs) read back as PLAIN parquet. Gates pin the
  // day-grain skipping claim (exactly 1 day shipped, ≥1 removed); the
  // oracle re-derives the final census from raw events, so a skipped-
  // but-actually-changed day, a stale surviving day, or a mis-shipped
  // one all fail the hash.
  def p58(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/p58_incexport_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_inc (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value").createOrReplaceTempView("ev_inc_src")
    spark.sql("INSERT INTO graft.ev_inc (event_id, ts, value) " +
      "SELECT event_id, ts, value FROM ev_inc_src")
    val e0 = LakeSnapshot.currentEpoch(spark, s"$root/ev_inc")
    val full = s"$root/.exports/full"
    spark.sql("CALL graft.system.export_snapshot(" +
      s"`table` => 'ev_inc', dest => '$full')")
    // window mutations: corrections confined to the MIN day, and the
    // MAX day deleted outright
    val (dMin, dMax) = {
      val r = spark.sql(
        "SELECT min(CAST(ts AS DATE)), max(CAST(ts AS DATE)) " +
          "FROM ev_inc_src").head()
      (r.getDate(0).toString, r.getDate(1).toString)
    }
    spark.sql("INSERT INTO graft.ev_inc (event_id, ts, value) SELECT event_id, ts, value + 5 " +
      s"FROM ev_inc_src WHERE CAST(ts AS DATE) = DATE '$dMin' " +
      "AND event_id % 3 = 0")
    spark.sql(
      s"DELETE FROM graft.ev_inc WHERE CAST(ts AS DATE) = DATE '$dMax'")
    val inc = s"$root/.exports/inc"
    val res = spark.sql("CALL graft.system.export_snapshot(" +
      s"`table` => 'ev_inc', dest => '$inc', since_epoch => $e0)").head()
    // the day-grain skipping claim IS the gate: one changed day shipped,
    // the deleted day in the removed list — never a full re-export
    require(res.getInt(2) == 1,
      s"exactly the corrected day must ship incrementally, got $res")
    require(res.getInt(3) >= 1,
      s"the deleted day must land in the removed list, got $res")
    val removed = {
      val pth = new org.apache.hadoop.fs.Path(s"$inc/_removed_days.txt")
      val f = pth.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = f.open(pth)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    }
    require(removed.contains(dMax), s"removed list $removed must name $dMax")
    // the rsync-style composition, over PLAIN parquet only (what an
    // external engine would hold after applying the incremental)
    val fullDf = spark.read.parquet(full)
    val incDf = spark.read.parquet(inc)
    val incDays = incDf.select("day").distinct()
      .collect().map(_.get(0).toString).toSet
    val composed = fullDf
      .filter(!col("day").cast("string").isInCollection(
        removed ++ incDays))
      .unionByName(incDf)
    composed.groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("day")
  }

  val p58Sql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS DATE) AS day, value
      |            FROM events),
      |     b AS (SELECT min(day) AS dmin, max(day) AS dmax FROM ev)
      |SELECT day, count(*) AS n,
      |       round(sum(CASE WHEN event_id % 3 = 0
      |                       AND day = (SELECT dmin FROM b)
      |                      THEN value + 5 ELSE value END), 2) AS v
      |FROM ev WHERE day <> (SELECT dmax FROM b)
      |GROUP BY day ORDER BY day""".stripMargin

  // --- P56: RESTORE to a committed epoch (r19 continuation) ----------------
  // The Delta `RESTORE TABLE` verb as one metadata-only manifest row:
  // load events (epoch 0), corrupt them with an UPDATE-shaped upsert,
  // DELETE a swath, then `CALL graft.system.restore(epoch => 0)` and
  // keep WRITING (a disjoint-key append) — proving the rollback (a) is
  // value-exact against the uncorrupted source, (b) leaves the table
  // fully writable, and (c) preserves history (the corrupted epoch still
  // time-travels ABOVE the restored sum, gated inline). The oracle is
  // the raw events table plus the post-restore append — the corruption
  // and deletion must leave ZERO trace in the hash.
  def p56(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/p56_restore_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_res (event_id BIGINT, ts TIMESTAMP, " +
      "value DOUBLE) TBLPROPERTIES ('key' = 'event_id')")
    graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value").createOrReplaceTempView("ev_res_src")
    spark.sql("INSERT INTO graft.ev_res (event_id, ts, value) SELECT event_id, ts, value " +
      "FROM ev_res_src") // epoch 0: the good state
    val e0 = LakeSnapshot.currentEpoch(spark, s"$root/ev_res")
    spark.sql("INSERT INTO graft.ev_res (event_id, ts, value) SELECT event_id, ts, value + 100 " +
      "FROM ev_res_src WHERE event_id % 7 = 0") // the corruption
    spark.sql("DELETE FROM graft.ev_res WHERE event_id % 5 = 0")
    val res = spark.sql("CALL graft.system.restore(" +
      s"`table` => 'ev_res', epoch => $e0)").head()
    require(res.getString(0) == "restore" && res.getInt(3) > 0,
      s"restore must report the restored view's days, got $res")
    // history preserved: the corrupted pre-restore epoch still
    // time-travels, and its sum sits ABOVE the restored (clean) sum
    val corrupted = spark.sql(
      s"SELECT sum(value) FROM graft.ev_res VERSION AS OF ${e0 + 1}")
      .head().getDouble(0)
    val restored = spark.sql("SELECT sum(value) FROM graft.ev_res")
      .head().getDouble(0)
    require(corrupted > restored,
      "the +100 corruption must still be visible via time travel " +
        s"($corrupted) and gone from the restored view ($restored)")
    // the rolled-back table keeps writing: a disjoint-key append lands
    // ON TOP of the restored view
    spark.sql("INSERT INTO graft.ev_res (event_id, ts, value) " +
      "SELECT event_id + 50000000, ts, value FROM ev_res_src " +
      "WHERE event_id % 13 = 0")
    val hist = spark.sql("SELECT operation FROM graft.ev_res.history")
      .collect().map(_.getString(0))
    require(hist.contains("restore"),
      s".history must show the restore row, got ${hist.toSeq}")
    spark.sql("SELECT day, count(*) AS n, round(sum(value), 2) AS v " +
      "FROM graft.ev_res GROUP BY day ORDER BY day")
  }

  val p56Sql: String =
    """SELECT day, count(*) AS n, round(sum(value), 2) AS v FROM (
      |  SELECT CAST(ts AS DATE) AS day, value FROM events
      |  UNION ALL
      |  SELECT CAST(ts AS DATE) AS day, value FROM events
      |  WHERE event_id % 13 = 0)
      |GROUP BY day ORDER BY day""".stripMargin

  // --- P57: CONVERT plain parquet in place (r19 continuation) --------------
  // The Delta `CONVERT TO DELTA` shape: plain Spark `partitionBy("day")`
  // parquet becomes a lake table via ONE rename + one manifest commit —
  // zero data rewrite (gated: the adopted generation holds the SAME
  // part-files the plain write produced, plus only the stats sidecar).
  // The adopted table must then behave like any CREATEd one: MERGE a
  // correction batch INTO it (the fold now layers over adopted files)
  // and aggregate. The oracle re-derives the corrected census from raw
  // events, so a file lost in adoption, a mis-adopted day, or a broken
  // fold over the adopted base all fail the hash.
  def p57(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/p57_convert_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    val src = s"$root/.incoming/plain" // dot-dir: not a visible table
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "value")
    ev.createOrReplaceTempView("ev_conv_src")
    LakeSnapshot.microsWrite(ev.withColumn("day", to_date(col("ts"))))(
      _.write.partitionBy("day").parquet(src))
    val plainFiles = {
      val p = new org.apache.hadoop.fs.Path(src)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.listStatus(p).filter(_.isDirectory).flatMap(d =>
        f.listStatus(d.getPath).filter(_.isFile)
          .map(st => s"${d.getPath.getName}/${st.getPath.getName}")).toSet
    }
    val res = spark.sql("CALL graft.system.convert_parquet(" +
      s"`table` => 'ev_conv', source => '$src', key => 'event_id')").head()
    require(res.getString(0) == "convert_parquet" && res.getInt(2) > 0,
      s"conversion must adopt at least one day, got $res")
    // zero-rewrite gate: generation 0 holds the IDENTICAL file set the
    // plain write produced (underscore sidecars aside)
    val adopted = {
      val p = new org.apache.hadoop.fs.Path(s"$root/ev_conv/data/gen=0")
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(f.exists(new org.apache.hadoop.fs.Path(p, "_filestats.tsv")),
        "the adopted generation must carry its stats sidecar")
      f.listStatus(p).filter(_.isDirectory).flatMap(d =>
        f.listStatus(d.getPath)
          .filter(st => st.isFile &&
            !st.getPath.getName.startsWith("_"))
          .map(st => s"${d.getPath.getName}/${st.getPath.getName}")).toSet
    }
    require(adopted == plainFiles.filterNot(_.contains("/_")),
      "conversion must adopt the plain files byte-for-byte in place " +
        s"(plain ${plainFiles.size} vs adopted ${adopted.size})")
    // the adopted table merges like any other: correction batch upserts
    // OVER the adopted base through the ordinary SQL surface
    spark.sql("INSERT INTO graft.ev_conv (event_id, ts, value) SELECT event_id, ts, value + 1 " +
      "FROM ev_conv_src WHERE event_id % 7 = 0")
    spark.sql("SELECT day, count(*) AS n, round(sum(value), 2) AS v, " +
      "max(event_id) AS mx FROM graft.ev_conv GROUP BY day ORDER BY day")
  }

  val p57Sql: String =
    """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       round(sum(CASE WHEN event_id % 7 = 0 THEN value + 1
      |                      ELSE value END), 2) AS v,
      |       max(event_id) AS mx
      |FROM events GROUP BY day ORDER BY day""".stripMargin

  // --- P48: ANN served FROM the SQL lake (the seam feeds the tier) ---------
  // r15: p43 proved embeddings ROUND-TRIP the catalog table; this entry
  // proves the round-trip FEEDS the vector tier bit-exactly — the q20
  // brute-force cosine top-k runs over vectors read back through the
  // DSv2 reader (CREATE + INSERT + MoR delta from a MERGE), and
  // shares q20's oracle VERBATIM. Any float mangling anywhere in the
  // write/fold/read path would shuffle the top-10 ranking.
  def p48(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/lake_ann_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ann_emb (vec_id BIGINT, ts TIMESTAMP, " +
      "embedding ARRAY<FLOAT>) TBLPROPERTIES ('key' = 'vec_id')")
    graft.Tables.load(spark, sfDir, "embeddings")
      .selectExpr("vec_id",
        "to_timestamp(concat('2024-03-0', CAST(vec_id % 3 + 1 AS STRING), " +
          "' 08:00:00')) AS ts",
        "embedding")
      .createOrReplaceTempView("ann_emb_src")
    // half through the V1 base, half through the MERGE delta — the
    // serving read must fold BOTH without touching a float
    spark.sql("INSERT INTO graft.ann_emb (vec_id, ts, embedding) " +
      "SELECT vec_id, ts, embedding FROM ann_emb_src WHERE vec_id % 2 = 0")
    spark.sql(
      """MERGE INTO graft.ann_emb t
        |USING (SELECT vec_id, ts, embedding FROM ann_emb_src
        |       WHERE vec_id % 2 = 1) s
        |ON t.vec_id = s.vec_id
        |WHEN NOT MATCHED THEN
        |  INSERT (vec_id, ts, embedding) VALUES (s.vec_id, s.ts, s.embedding)
        |""".stripMargin)
    val served = spark.table("graft.ann_emb")
    val qv = served.filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    served.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        (round(graft.functions.GraftFunctions.cosine_sim(
          col("embedding"), col("qvec")), 4) + 0.0).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  // --- P46: STRUCT columns in the SQL lake (the multimodal seam closes) ----
  // r15, beyond the VERDICT list: the multimodal media shape — typed
  // metadata + opaque binary payload as ONE struct column — becomes a
  // first-class catalog-table column, so the "vector/multimodal tiers
  // can't live in the SQL lake" boundary (VERDICT r14) is now only about
  // maps and nested arrays. CREATE/INSERT through the V1 path, MERGE
  // through the row-level delta writer (nested parquet groups), fold read
  // back; the oracle re-derives the flattened metadata and a payload
  // hex digest from `documents` without ever materializing a struct.
  def p46(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_struct_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.media (doc_id BIGINT, ts TIMESTAMP, " +
      "media STRUCT<kind: STRING, width: INT, payload: BINARY>) " +
      "TBLPROPERTIES ('key' = 'doc_id')")
    graft.Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id",
        // deterministic 3-day spread (documents carry no event time)
        "to_timestamp(concat('2024-02-0', CAST(doc_id % 3 + 1 AS STRING), " +
          "' 09:00:00')) AS ts",
        "named_struct('kind', lang, 'width', " +
          "CAST(n_chars % 640 AS INT), 'payload', " +
          "CAST(substring(text, 1, 16) AS BINARY)) AS media")
      .createOrReplaceTempView("media_src")
    spark.sql("INSERT INTO graft.media (doc_id, ts, media) " +
      "SELECT doc_id, ts, media FROM media_src")
    val dir = s"$root/media"
    val preEpoch = LakeSnapshot.currentEpoch(spark, dir)
    spark.sql(
      """MERGE INTO graft.media t
        |USING (
        |  SELECT doc_id, ts, media, 'd' AS op FROM media_src
        |  WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id, ts,
        |         named_struct('kind', media.kind, 'width',
        |           CAST(media.width * 2 AS INT),
        |           'payload', media.payload) AS media, 'u' AS op
        |  FROM media_src WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, ts, media, 'i' AS op
        |  FROM media_src WHERE doc_id % 97 = 0
        |) s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET media = s.media, ts = s.ts
        |WHEN NOT MATCHED THEN
        |  INSERT (doc_id, ts, media) VALUES (s.doc_id, s.ts, s.media)
        |""".stripMargin)
    val ops = LakeSnapshot.describeHistory(spark, dir)
      .filter(col("epoch") > preEpoch)
      .select("operation").collect().map(_.getString(0)).toSeq
    require(ops == Seq("delta"),
      s"struct MERGE must commit exactly one delta epoch, got $ops")
    spark.sql("SELECT day, media.kind AS kind, count(*) AS n, " +
      "CAST(sum(media.width) AS BIGINT) AS w, " +
      "count(media.payload) AS np, " +
      "min(md5(media.payload)) AS payload_md5 " +
      "FROM graft.media GROUP BY day, media.kind ORDER BY day, kind")
  }

  val p46Sql: String =
    """WITH src AS (
      |  SELECT doc_id,
      |         CAST(concat('2024-02-0', CAST(doc_id % 3 + 1 AS VARCHAR),
      |              ' 09:00:00') AS TIMESTAMP) AS ts,
      |         lang AS kind, CAST(n_chars % 640 AS INTEGER) AS width,
      |         substring(text, 1, 16) AS payload
      |  FROM documents),
      |merged AS (
      |  SELECT doc_id, ts, kind,
      |         CASE WHEN doc_id % 7 = 0 THEN CAST(width * 2 AS INTEGER)
      |              ELSE width END AS width, payload
      |  FROM src WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, ts, kind, width, payload
      |  FROM src WHERE doc_id % 97 = 0)
      |SELECT CAST(ts AS DATE) AS day, kind, count(*) AS n,
      |       CAST(sum(width) AS BIGINT) AS w,
      |       count(payload) AS np,
      |       min(md5(payload)) AS payload_md5
      |FROM merged GROUP BY day, kind ORDER BY day, kind""".stripMargin

  // --- P45: composite merge keys (r15) --------------------------------------
  // VERDICT r14 #5: real event tables key on (tenant_id, event_id)-style
  // pairs. The key declares as TBLPROPERTIES 'key' = 'tenant_id,seq_id'
  // and flows as one string through the manifest, catalog, and every
  // fold — split into parts wherever columns bind (window folds, delta
  // winner maps, delete markers, rowId). The entry derives a composite
  // key that is unique ONLY as a tuple (tenant = event_id % 10, seq =
  // event_id div 10 — each part collides massively alone), runs p38's
  // three-verb MERGE over it, and shares p38's oracle VERBATIM (the
  // tuple ↔ event_id mapping is bijective and the aggregate reads only
  // day/value). Single-key tables are bit-unchanged —
  // LakeCompositeKeySpec locks both.
  def p45(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_composite_key_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    spark.sql("CREATE TABLE graft.ev_ck (tenant_id BIGINT, seq_id BIGINT, " +
      "ts TIMESTAMP, value DOUBLE) " +
      "TBLPROPERTIES ('key' = 'tenant_id,seq_id')")
    graft.Tables.load(spark, sfDir, "events")
      .selectExpr("event_id % 10 AS tenant_id", "event_id DIV 10 AS seq_id",
        "event_id", "ts", "value")
      .createOrReplaceTempView("ev_ck_src")
    spark.sql("INSERT INTO graft.ev_ck (tenant_id, seq_id, ts, value) " +
      "SELECT tenant_id, seq_id, ts, value FROM ev_ck_src")
    val dir = s"$root/ev_ck"
    val preEpoch = LakeSnapshot.currentEpoch(spark, dir)
    spark.sql(
      """MERGE INTO graft.ev_ck t
        |USING (
        |  SELECT tenant_id, seq_id, ts, value, 'd' AS op
        |  FROM ev_ck_src WHERE event_id % 13 = 0
        |  UNION ALL
        |  SELECT tenant_id, seq_id, ts, value + 1 AS value, 'u' AS op
        |  FROM ev_ck_src WHERE event_id % 7 = 0 AND event_id % 13 <> 0
        |  UNION ALL
        |  SELECT tenant_id + 100 AS tenant_id, seq_id, ts, value, 'i' AS op
        |  FROM ev_ck_src WHERE event_id % 97 = 0
        |) s
        |ON t.tenant_id = s.tenant_id AND t.seq_id = s.seq_id
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET value = s.value, ts = s.ts
        |WHEN NOT MATCHED THEN
        |  INSERT (tenant_id, seq_id, ts, value)
        |  VALUES (s.tenant_id, s.seq_id, s.ts, s.value)
        |""".stripMargin)
    val ops = LakeSnapshot.describeHistory(spark, dir)
      .filter(col("epoch") > preEpoch)
      .select("operation").collect().map(_.getString(0)).toSeq
    require(ops == Seq("delta"),
      s"composite-key MERGE must commit exactly one delta epoch, got $ops")
    spark.sql("SELECT day, count(*) AS n, round(sum(value), 2) AS v " +
      "FROM graft.ev_ck GROUP BY day ORDER BY day")
  }

  // --- P43: ARRAY columns in the SQL lake (embeddings join the lake) -------
  // VERDICT r14 #2: an embeddings column (array<float>) as a first-class
  // catalog-table column — CREATE/INSERT (V1 base), MERGE through the
  // row-level delta writer (standard 3-level LIST groups), fold read
  // back. The update scales vectors by exactly 2 (float-exact in any
  // engine), so element values — not just shapes — are oracle-checked
  // via the first element's min/max (no accumulation, no float-sum
  // order sensitivity; dims are summed as exact ints).
  def p43(spark: SparkSession, sfDir: String): DataFrame = {
    val root = s"target/etl/sql_array_${sfKey(sfDir)}"
    rmDir(spark, root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", root)
    // r17 (VERDICT r16 #5): arrays-of-arrays got write/read recursion in
    // r16 but no oracle row — `chunks ARRAY<ARRAY<FLOAT>>` (the chunked-
    // embedding shape a late-interaction retriever stores) rides the
    // same CREATE/INSERT/MERGE/fold path as the flat vector
    spark.sql("CREATE TABLE graft.doc_emb (doc_id BIGINT, ts TIMESTAMP, " +
      "embedding ARRAY<FLOAT>, chunks ARRAY<ARRAY<FLOAT>>) " +
      "TBLPROPERTIES ('key' = 'doc_id')")
    graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        // a deterministic 3-day spread so the lake exercises multi-day
        // partitioning (embeddings carry no event time of their own)
        to_timestamp(concat(lit("2024-01-0"),
          (col("vec_id") % 3 + 1).cast("string"), lit(" 10:00:00")))
          .as("ts"),
        col("embedding"))
      .withColumn("chunks", array(slice(col("embedding"), 1, 2),
        slice(col("embedding"), 3, 2)))
      .createOrReplaceTempView("doc_emb_src")
    spark.sql("INSERT INTO graft.doc_emb (doc_id, ts, embedding, chunks) " +
      "SELECT doc_id, ts, embedding, chunks FROM doc_emb_src")
    val dir = s"$root/doc_emb"
    val preEpoch = LakeSnapshot.currentEpoch(spark, dir)
    spark.sql(
      """MERGE INTO graft.doc_emb t
        |USING (
        |  SELECT doc_id, ts, embedding, chunks, 'd' AS op
        |  FROM doc_emb_src WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id, ts,
        |         transform(embedding, x -> x * CAST(2.0 AS FLOAT))
        |           AS embedding,
        |         transform(chunks,
        |           c -> transform(c, x -> x * CAST(2.0 AS FLOAT)))
        |           AS chunks, 'u' AS op
        |  FROM doc_emb_src WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, ts, embedding, chunks,
        |         'i' AS op
        |  FROM doc_emb_src WHERE doc_id % 97 = 0
        |) s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET embedding = s.embedding,
        |  chunks = s.chunks, ts = s.ts
        |WHEN NOT MATCHED THEN
        |  INSERT (doc_id, ts, embedding, chunks)
        |  VALUES (s.doc_id, s.ts, s.embedding, s.chunks)
        |""".stripMargin)
    val ops = LakeSnapshot.describeHistory(spark, dir)
      .filter(col("epoch") > preEpoch)
      .select("operation").collect().map(_.getString(0)).toSeq
    require(ops == Seq("delta"),
      s"array MERGE must commit exactly one delta epoch, got $ops")
    spark.sql("SELECT day, count(*) AS n, " +
      "CAST(sum(size(embedding)) AS BIGINT) AS dims, " +
      "min(embedding[0]) AS e0_min, max(embedding[0]) AS e0_max, " +
      // nested LIST gates: outer + inner cardinality, and an inner
      // VALUE bound (chunks[0][0] == embedding[0], scaled where updated)
      "CAST(sum(size(chunks)) AS BIGINT) AS n_chunks, " +
      "CAST(sum(aggregate(chunks, 0, (a, c) -> a + size(c))) AS BIGINT) " +
      "AS inner_dims, " +
      "min(chunks[0][0]) AS c00_min, max(chunks[1][1]) AS c11_max " +
      "FROM graft.doc_emb GROUP BY day ORDER BY day")
  }

  val p43Sql: String =
    """WITH src AS (
      |  SELECT vec_id AS doc_id,
      |         CAST(concat('2024-01-0', CAST(vec_id % 3 + 1 AS VARCHAR),
      |              ' 10:00:00') AS TIMESTAMP) AS ts,
      |         embedding,
      |         [embedding[1:2], embedding[3:4]] AS chunks
      |  FROM embeddings),
      |merged AS (
      |  SELECT doc_id, ts,
      |         CASE WHEN doc_id % 7 = 0
      |              THEN list_transform(embedding,
      |                     x -> CAST(x * 2 AS FLOAT))
      |              ELSE embedding END AS embedding,
      |         CASE WHEN doc_id % 7 = 0
      |              THEN list_transform(chunks, c ->
      |                     list_transform(c, x -> CAST(x * 2 AS FLOAT)))
      |              ELSE chunks END AS chunks
      |  FROM src WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, ts, embedding, chunks
      |  FROM src WHERE doc_id % 97 = 0)
      |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |       CAST(sum(len(embedding)) AS BIGINT) AS dims,
      |       min(embedding[1]) AS e0_min, max(embedding[1]) AS e0_max,
      |       CAST(sum(len(chunks)) AS BIGINT) AS n_chunks,
      |       CAST(sum(len(chunks[1]) + len(chunks[2])) AS BIGINT)
      |         AS inner_dims,
      |       min(chunks[1][1]) AS c00_min, max(chunks[2][2]) AS c11_max
      |FROM merged GROUP BY day ORDER BY day""".stripMargin

  val declared: Seq[(String, QFn, Option[String])] = Seq(
    ("p1_snowplow_good", p1Good _, Some(SnowplowOracle.p1GoodSql(p1GoodCols))),
    ("p1_snowplow_badrows", p1BadRows _, Some(SnowplowOracle.p1BadRowsSql)),
    ("p1_snowplow_shred", p1Shred _, Some(SnowplowOracle.p1ShredSql)),
    ("p2_adjust_parse", p2 _, Some(p2Sql)),
    ("p3_jdbc_upsert_stream", p3 _, Some(p3Sql)),
    ("p4_jdbc_readback", p4 _, Some(p4Sql)),
    ("p5_target_mapping", p5 _, Some(SnowplowOracle.p5Sql)),
    ("p6_partitioned_roundtrip", p6 _, Some(p6Sql)),
    ("p7_bucketed_join", p7 _, Some(p7Sql)),
    ("p8_dynamic_pruning", p8 _, Some(p8Sql)),
    ("p9_dynamic_overwrite", p9 _, Some(p9Sql)),
    ("p10_corpus_shards", p10 _, Some(p10Sql)),
    ("p11_ua_enrichment", p11 _, Some(SnowplowOracle.p11Sql)),
    ("p12_zorder_layout", p12 _, Some(p12Sql)),
    ("p13_lake_merge", p13 _, Some(p13Sql)),
    ("p14_ip_range_enrichment", p14 _, Some(p14Sql)),
    ("p15_lake_delete", p15 _, Some(p15Sql)),
    // p16/p17 share p13/p15's oracles VERBATIM: the snapshot protocol must
    // be value-invisible (see the P16/P17 comment block)
    ("p16_snapshot_merge", p16 _, Some(p13Sql)),
    ("p17_snapshot_delete", p17 _, Some(p15Sql)),
    ("p18_lake_evolution", p18 _, Some(p18Sql)),
    ("p19_time_travel", p19 _, Some(p19Sql)),
    ("p20_change_feed", p20 _, Some(p20Sql)),
    // p21 shares p13's oracle verbatim: OPTIMIZE must be value-invisible
    ("p21_snapshot_optimize", p21 _, Some(p13Sql)),
    ("p22_snapshot_zorder", p22 _, Some(p22Sql)),
    // p23/p25 share p13/p15's oracles VERBATIM: merge-on-read deltas must
    // be value-invisible relative to the COW paths (see their blocks)
    ("p23_delta_merge", p23 _, Some(p13Sql)),
    ("p24_column_rename", p24 _, Some(p24Sql)),
    ("p25_delta_delete", p25 _, Some(p15Sql)),
    ("p26_multi_table_txn", p26 _, Some(p26Sql)),
    ("p27_lake_dsv2_read", p27 _, Some(p27Sql)),
    ("p28_delta_cdf", p28 _, Some(p28Sql)),
    // p29 shares p15's oracle VERBATIM: deletion vectors must be
    // value-invisible next to every other delete representation
    ("p29_dv_delete", p29 _, Some(p15Sql)),
    ("p30_zorder3", p30 _, Some(p30Sql)),
    ("p31_txn_index_pin", p31 _, Some(p31Sql)),
    ("p32_lake_dsv2_write", p32 _, Some(p32Sql)),
    ("p33_file_stat_pruning", p33 _, Some(p33Sql)),
    ("p34_txn_vector_pin", p34 _, Some(p34Sql)),
    // p35 shares p13's oracle VERBATIM: retention maintenance must be
    // value-invisible while pins keep time travel alive (see its block)
    ("p35_retention_policy", p35 _, Some(p13Sql)),
    ("p36_sql_catalog", p36 _, Some(p36Sql)),
    ("p37_sql_delete", p37 _, Some(p37Sql)),
    ("p38_sql_merge", p38 _, Some(p38Sql)),
    // p39 shares p13's oracle VERBATIM: the storage-partitioned
    // (exchange-free) grouped read must fold base + deltas identically
    ("p39_kgp_aggregate", p39 _, Some(p13Sql)),
    // p40 shares p36's oracle VERBATIM: SQL UPDATE and INSERT-upsert are
    // two verbs over one folded truth (see the P40 block)
    ("p40_sql_update", p40 _, Some(p36Sql)),
    // p41 shares p36's oracle VERBATIM: the whole CALL maintenance pass
    // (optimize+zorder+checkpoint+vacuum) must be value-invisible
    ("p41_sql_maintenance", p41 _, Some(p36Sql)),
    ("p42_sql_decimal", p42 _, Some(p42Sql)),
    ("p43_sql_array", p43 _, Some(p43Sql)),
    // p44 shares p18's oracle VERBATIM: explicit SQL ADD COLUMN and the
    // implicit Scala evolution path must surface the identical table
    ("p44_sql_add_column", p44 _, Some(p18Sql)),
    // p45 shares p38's oracle VERBATIM: the three-verb MERGE over a
    // composite key folds to the same values (bijective key mapping)
    ("p45_composite_key", p45 _, Some(p38Sql)),
    ("p46_sql_struct", p46 _, Some(p46Sql)),
    ("p47_sql_map", p47 _, Some(p47Sql)),
    // p48 shares q20's oracle VERBATIM: the brute-force cosine top-10
    // over SQL-lake-served embeddings must rank identically to the raw
    // parquet read (bit-exact floats through write/fold/read)
    ("p48_lake_ann_serving", p48 _, Some(graft.Queries.q20Sql)),
    ("p49_sql_widen", p49 _, Some(p49Sql)),
    ("p50_agg_pushdown", p50 _, Some(p50Sql)),
    ("p51_sql_ctas", p51 _, Some(p51Sql)),
    ("p52_bloom_pruning", p52 _, Some(p52Sql)),
    // p53 shares p36's oracle VERBATIM: CHECK constraints admit or
    // refuse whole batches, they never change surviving values
    ("p53_sql_constraints", p53 _, Some(p36Sql)),
    ("p54_limit_pushdown", p54 _, Some(p54Sql)),
    ("p55_export_snapshot", p55 _, Some(p55Sql)),
    ("p56_restore", p56 _, Some(p56Sql)),
    ("p57_convert_parquet", p57 _, Some(p57Sql)),
    ("p58_incremental_export", p58 _, Some(p58Sql))
  )
}
