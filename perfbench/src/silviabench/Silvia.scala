package silviabench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.etl.{AdjustParser, JdbcUpsert, LakeSnapshot, SnowplowParser, TargetMapping}

/** silvia's loop, driven from outside through the public `graft.etl` /
  * `graft.sources` APIs, as two Structured Streaming queries over the same
  * feed files:
  *  - the lake arm: raw lines → Snowplow parse → `TargetMapping.atomicEvents`
  *    → `writeStream.format("graft-lake")`, the native streaming sink (a
  *    tagged, exactly-once merge-on-read delta commit per micro-batch);
  *  - the JDBC arm: `foreachBatch` of raw lines → parse/validate (Snowplow
  *    TSV and Adjust JSON) → dead-letter → key-idempotent `JdbcUpsert` of
  *    `atomic_events` and `adjust_events` into Derby.
  * Each arm reads its own input directory, into which [[batch]] publishes
  * one feed file at a time, so the arms run one after the other and a
  * micro-batch ends when both have committed it. One instance owns one
  * system root (lake table, dead letters, Derby, both checkpoints).
  */
final class Silvia(spark: SparkSession, root: String, traced: Boolean) {
  import Silvia._

  val lake = s"$root/lake/atomic_events"
  val dead = s"$root/dead"
  private val derbyUrl = s"jdbc:derby:$root/derby"
  val url: String = if (traced) CountingDriver.url(derbyUrl) else derbyUrl
  private val lakeArm = Arm(s"$root/in-lake", s"$root/ckpt-lake")
  private val jdbcArm = Arm(s"$root/in-jdbc", s"$root/ckpt-jdbc")
  private var lakeQ, jdbcQ: StreamingQuery = _
  /** The lake epoch every read set's time-travel read is pinned at. */
  var pinnedEpoch = -1

  /** Create the JDBC tables (with their primary keys). */
  def createTables(): Unit = {
    Files.createDirectories(Paths.get(root))
    val (sp, ad) = parse(noLines)
    val conn = java.sql.DriverManager.getConnection(derbyUrl + ";create=true")
    conn.close()
    jdbcTargets(TargetMapping.atomicEvents(sp.good), ad.good).foreach {
      case (t, df, keys) => JdbcUpsert.ensureTable(url, t, df.schema, keys)
    }
  }

  /** The JDBC arm: the wide atomic table and the Adjust table. The three
    * narrow TargetMapping child tables stay out of it: each costs about
    * 0.35 s of fixed upsert work per batch, which the run budget cannot
    * spare.
    */
  private def jdbcTargets(atomic: DataFrame, adjust: DataFrame) =
    Seq(("atomic_events", atomic, Seq("event_id")), ("adjust_events", adjust, AdjustKey))

  private def isAdj = col("value").startsWith("{")
  private def parse(raw: DataFrame) =
    (SnowplowParser.parseLines(raw.filter(!isAdj)), AdjustParser.parseLines(raw.filter(isAdj)))
  private def lines(dir: String) =
    spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(dir)

  /** Start both arms' queries. */
  def start(): Unit = {
    Seq(lakeArm, jdbcArm).foreach(a => Files.createDirectories(Paths.get(a.in)))
    lakeQ = startLake()
    jdbcQ = lines(jdbcArm.in).writeStream
      .foreachBatch((df: DataFrame, id: Long) => jdbcBatch(df, id))
      .option("checkpointLocation", jdbcArm.ckpt).queryName("jdbc").start()
  }

  /** Start (or restart, from its checkpoint) the lake arm's query. */
  private def startLake(): StreamingQuery = {
    val sc = spark.sparkContext
    // the query's thread inherits this, so its jobs and filesystem calls
    // are attributed to lake.commit
    val prev = sc.getLocalProperty(Trace.SpanProp)
    sc.setLocalProperty(Trace.SpanProp, "lake.commit")
    try TargetMapping.atomicEvents(SnowplowParser.parseLines(lines(lakeArm.in).filter(!isAdj)).good)
      .writeStream.format("graft-lake")
      .option("path", lake).option("key", "event_id").option("ts", "collector_tstamp")
      .option("checkpointLocation", lakeArm.ckpt).queryName("lake").start()
    finally sc.setLocalProperty(Trace.SpanProp, prev)
  }

  def stop(): Unit = Seq(lakeQ, jdbcQ).filter(_ != null).foreach(_.stop())

  /** One micro-batch: feed file `file` (batch `id`) through the lake arm,
    * then through the JDBC arm, each committed before this returns.
    */
  def batch(file: String, id: Int): Unit = {
    Trace.span(spark, "lake.commit") {
      if (traced) splitPrefix(file)
      lakeArm.publish(file)
      lakeArm.await(lakeQ, id)
    }
    jdbcArm.publish(file)
    jdbcArm.await(jdbcQ, id)
  }

  /** The lake query's parse, mapping and write fuse into one Spark stage.
    * A traced run therefore also materialises the same file's parse prefix
    * and its mapping to the `noop` sink, as children of the lake span, so
    * they can be taken out of its time.
    */
  private def splitPrefix(file: String): Unit = {
    val good = Trace.span(spark, "etl.parse") {
      val g = SnowplowParser.parseLines(spark.read.text(file).filter(!isAdj)).good
        .persist(StorageLevel.MEMORY_ONLY)
      g.write.format("noop").mode("overwrite").save()
      g
    }
    try Trace.span(spark, "etl.shred") {
      TargetMapping.atomicEvents(good).write.format("noop").mode("overwrite").save()
    } finally good.unpersist()
  }

  /** The JDBC arm's micro-batch. Idempotent per `id`: the dead-letter
    * partition is overwritten and the JDBC writes are upserts by key.
    */
  private def jdbcBatch(raw0: DataFrame, id: Long): Unit = {
    val raw = raw0.persist(StorageLevel.MEMORY_ONLY)
    val (sp, ad) = parse(raw)
    val spGood = sp.good.persist(StorageLevel.MEMORY_ONLY)
    val adGood = ad.good.persist(StorageLevel.MEMORY_ONLY)
    try {
      Trace.span(spark, "etl.parse") {
        if (traced) { // split the fused parse stage out of the first write
          spGood.write.format("noop").mode("overwrite").save()
          adGood.write.format("noop").mode("overwrite").save()
        }
        sp.bad.withColumn("feed", lit("snowplow"))
          .unionByName(ad.bad.withColumn("feed", lit("adjust")))
          .write.mode("overwrite").parquet(s"$dead/batch=$id")
      }
      val atomic = TargetMapping.atomicEvents(spGood)
      if (traced) Trace.span(spark, "etl.shred") { // split the shred out of the upsert
        val o = org.apache.spark.sql.Observation()
        atomic.observe(o, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
        Trace.inc("shred.rows_out", o.get("n").asInstanceOf[Long])
      }
      Trace.span(spark, "etl.jdbc") {
        jdbcTargets(atomic, adGood).foreach { case (t, df, keys) =>
          JdbcUpsert.upsertBatch(df, url, t, keys)
        }
      }
    } finally {
      spGood.unpersist(); adGood.unpersist(); raw.unpersist()
    }
  }

  /** Redelivery through the checkpoint: stop the lake query, drop its last
    * commit-log entry (batch `id`), as after a crash between the sink
    * commit and the checkpoint commit, and restart it, so it replays batch
    * `id` under the same query id and epoch. Returns whether the replay
    * changed nothing: no new lake epoch, the same files and bytes under
    * the lake.
    */
  def redeliver(id: Int): Boolean = {
    lakeQ.stop()
    def state = (LakeSnapshot.currentEpoch(spark, lake), Main.dirBytes(Seq(lake)))
    val before = state
    Files.delete(Paths.get(s"${lakeArm.ckpt}/commits/$id"))
    Files.deleteIfExists(Paths.get(s"${lakeArm.ckpt}/commits/.$id.crc"))
    lakeQ = startLake()
    lakeArm.await(lakeQ, id)
    val after = state
    if (before != after) System.err.println(s"[check] redelivery changed the lake from $before to $after")
    before == after
  }

  /** Merge-on-read maintenance: fold every day's deltas back into bases. */
  def maintain(): Unit = Trace.span(spark, "lake.maintain") {
    LakeSnapshot.compactDays(spark, lake)
  }

  /** The fixed read set: a point lookup by key, per-day counts by event
    * type, and a time-travel read of the lake as it stood at
    * [[pinnedEpoch]] (before any timed batch or compaction).
    */
  def reads(probeId: String): Unit = Trace.span(spark, "lake.read") {
    val live = LakeSnapshot.read(spark, lake)
    val hit = live.filter(col("event_id") === probeId).select("event_id").collect()
    require(hit.length == 1, s"point lookup of $probeId returned ${hit.length} rows")
    live.groupBy(to_date(col("collector_tstamp")).as("d"), col("event")).count().collect()
    LakeSnapshot.readAt(spark, lake, pinnedEpoch).count()
  }

  def storedDirs: Seq[String] = Seq(lake, s"$root/derby")

  // --- correctness ---------------------------------------------------------

  /** Content fingerprint: row count and an order-free hash of every column
    * rendered as a string (so a JDBC round trip and a lake round trip hash
    * alike).
    */
  private def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val h = xxhash64(concat_ws("\u0001", cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
    val r = df.agg(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")), lit(0)).cast("string")).head()
    (r.getLong(0), BigInt(r.getString(1)).toLong)
  }

  private def jdbcOf(t: String, cols: Seq[String]) =
    fingerprint(spark.read.format("jdbc").option("url", derbyUrl).option("dbtable", t).load(), cols)

  private def atomicCols = TargetMapping.atomicEvents(
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      graft.etl.SnowplowSchema.SCHEMA)).columns.toSeq
  private def adjCols = AdjustParser.parseLines(noLines).good.columns.toSeq
  private def noLines = spark.range(0).select(lit("").as("value"))

  /** Every check the run must pass, by name. `files` are the feed files in
    * batch order, `truth` what the generator planted.
    */
  def check(files: Seq[String], truth: Gen.FeedTruth): Seq[(String, Boolean)] = {
    // one-shot batch parse of the whole feed; each good row keeps the
    // batch index of the file it came from
    val (sp, ad) = parse(spark.read.text(files: _*))
    val fileIdx = regexp_extract(input_file_name(), "b-(\\d+)\\.txt", 1).cast("int")
    val spAll = sp.good.withColumn("_b", fileIdx).persist(StorageLevel.MEMORY_ONLY)
    val adAll = ad.good.withColumn("_b", fileIdx).persist(StorageLevel.MEMORY_ONLY)
    val nSnowGood = spAll.count()
    val nAdjGood = adAll.count()
    // last write wins by key: the good row of the latest batch per key
    val expAtomic = fingerprint(TargetMapping.atomicEvents(latest(spAll, Seq("event_id"))), atomicCols)
    val expAdj = fingerprint(latest(adAll, AdjustKey), adjCols)
    // every planted bad row carries exactly one reason
    val dead = spark.read.parquet(this.dead)
      .select(col("feed"), explode(col("errors")).as("e")).groupBy("feed", "e").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val deadCount = dead.groupMapReduce(_._1)(_._3)(_ + _)
    val reasons = dead.groupMapReduce(_._2)(_._3)(_ + _)
    if (reasons != truth.badByReason.filter(_._2 > 0))
      System.err.println(s"[check] dead-lettered $reasons, planted ${truth.badByReason}")
    Seq(
      "snowplow good+bad=input" -> (nSnowGood + deadCount.getOrElse("snowplow", 0L) == truth.snowLines),
      "adjust good+bad=input" -> (nAdjGood + deadCount.getOrElse("adjust", 0L) == truth.adjLines),
      "bad rows per reason = planted" -> (reasons == truth.badByReason.filter(_._2 > 0)),
      "lake atomic_events = one-shot LWW" ->
        (fingerprint(LakeSnapshot.read(spark, lake), atomicCols) == expAtomic),
      "jdbc atomic_events = one-shot LWW" -> (jdbcOf("atomic_events", atomicCols) == expAtomic),
      "jdbc adjust_events = one-shot LWW" -> (jdbcOf("adjust_events", adjCols) == expAdj))
  }
}

object Silvia {
  /** One arm's input directory and checkpoint. */
  final case class Arm(in: String, ckpt: String) {
    /** Hand feed file `file` to this arm's file-stream source. */
    def publish(file: String): Unit = {
      val name = Paths.get(file).getFileName
      val tmp = Paths.get(in).resolveSibling(s"${Paths.get(in).getFileName}.tmp")
      Files.copy(Paths.get(file), tmp, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.COPY_ATTRIBUTES)
      Files.move(tmp, Paths.get(in).resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

    /** Block until the query has committed batch `id`. */
    def await(q: StreamingQuery, id: Int): Unit = {
      val done = Paths.get(s"$ckpt/commits/$id")
      while (!Files.exists(done)) {
        q.exception.foreach(e => throw e)
        require(q.isActive, s"query ${q.name} stopped before batch $id")
        q.processAllAvailable()
      }
    }
  }

  val AdjustKey: Seq[String] = Seq("adid", "created_at", "activity_kind")

  /** The row of the highest batch index `_b` per key. */
  def latest(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_b").desc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn", "_b")
  }
}
