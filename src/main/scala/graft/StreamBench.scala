package graft

/** Streaming throughput surface (BASELINE.md streaming protocol; VERDICT
  * r5 "What's missing" #4): the batch bench deliberately excludes the
  * s-suite, so the ingest loop — the production core — had no regression
  * signal. This main replays the two representative streams through their
  * declared harness: s1 (pure ingest + aggregation: the I/O path) and s8
  * (stream–stream band join: the stateful path), and reports elapsed
  * seconds, micro-batch count, input rows, and rows/s.
  *
  * Protocol mirrors [[Bench]]: one warm-up (which also builds the
  * `target/stream` replay inputs, so file prep never pollutes a timed
  * run) + 3 timed replays, median by elapsed time. Row counts come from
  * the engine's own progress metrics; s8 reads the events dir on both
  * join sides, so its rows count both streams — a throughput statement
  * about the join, not the table.
  *
  * Output: ONE JSON line, same shape discipline as Bench —
  * `{"metric":"stream_total","value":N,"unit":"sec","streams":{...},"sf":...}`.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(rewriteTrailingWindow = false)

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // r8 (VERDICT r7 next-round #8): the stateful-heavy paths join the
    // surface — s4 (session window: merging window state) and s6b
    // (transformWithState on RocksDB: the provider-overhead path, expected
    // to be checkpoint-upload-bound at toy batch sizes; the round-over-
    // round RATIO is the regression signal, as with s1/s8).
    // r11: the two new sink-side loops join the surface — s18 (span-index
    // ingest: claim-guarded tagged appends per micro-batch + the closing
    // pb-pruned probe) and s19 (lake MERGE: partition-level copy-on-write
    // per micro-batch — dominated by the per-day rewrite, the honest cost
    // of row-level upserts on a file lake).
    // r12: s21 (the snapshot-atomic merge loop) joins so the generation-
    // protocol overhead vs s19's dynamic-overwrite path is a measured
    // round-over-round number, not a claim.
    val targets = Seq("s1_ingest_replay", "s4_session_window",
      "s6b_transform_with_state", "s8_stream_stream_join",
      "s18_stream_span_ingest", "s19_stream_lake_merge",
      "s21_stream_snapshot_merge",
      // r12 late add: the composed-index ingest loop (assign + PQ-encode
      // + dual-surface epoch commit per micro-batch)
      "s23_ivfpq_ingest",
      // r13: the DSv2 CDC source loop — cdf-enabled snapshot merges
      // upstream plus the epoch-offset feed drain downstream; the
      // round-over-round ratio prices write-time CDF + the source
      "s24_cdc_source",
      // r14: the NATIVE streaming sink (writeStream.format("graft-lake"))
      // next to s19/s21's foreachBatch loops — prices the staging-area
      // moves + tag-idempotent delta commit against the COW merge paths
      "s25_stream_lake_sink",
      "s26_lake_stream_source")
    // optional args tail = name filter for single-stream adjudication
    // (r18, same contract as Bench/Verify/ScaleRehearsal: unknown names
    // fail loudly) — the noise-window bounce pattern is adjudicated by
    // solo re-runs, which need to not drag the whole board along
    val only = args.toSet
    val unknown = only.diff(targets.toSet)
    require(unknown.isEmpty,
      s"unknown stream name(s) in filter: ${unknown.toSeq.sorted.mkString(", ")}")
    val roster = if (only.isEmpty) targets else targets.filter(only)
    val results = roster.map { name =>
      materialize(name) // warm-up: JIT + codegen cache + replay-input prep
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        materialize(name)
        val sec = (System.nanoTime() - t0) / 1e9
        val (batches, rows) = graft.streaming.StreamQueries.lastReplay
        (sec, batches, rows)
      }.sortBy(_._1)
      name -> runs(1)
    }

    // JDBC upsert throughput (VERDICT r10 #8): p3 proves the sink's
    // correctness at oracle scale; this measures rows/s at the bench SF's
    // FULL events table (100k rows at sf0.1, ~10x the p3 stream batch),
    // both paths — fresh INSERT and full replay (the UPDATE branch) —
    // with an idempotency re-check at that scale. Per-partition prepared-
    // statement batching (addBatch/executeBatch, 500-row chunks) is the
    // existing upsertBatch shape; each key lands in exactly one task.
    val jdbcJson = {
      import org.apache.spark.sql.functions.col
      val url = graft.etl.PipelineQueries.freshDerby("target/derby/bench_upsert")
      val rows = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val n = rows.count()
      graft.etl.JdbcUpsert.ensureTable(
        url, "bench_events", rows.schema, Seq("event_id"))
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val insSec = timed(graft.etl.JdbcUpsert.upsertBatch(
        rows, url, "bench_events", Seq("event_id")))
      val replSec = timed(graft.etl.JdbcUpsert.upsertBatch(
        rows, url, "bench_events", Seq("event_id")))
      val loaded = spark.read.format("jdbc")
        .option("url", url).option("dbtable", "bench_events").load().count()
      require(loaded == n,
        s"upsert idempotency broken at bench scale: loaded $loaded of $n rows")
      def rps(sec: Double): Long = if (sec > 0) math.round(n / sec) else 0L
      s""""jdbc_upsert":{"rows":$n,"insert_sec":${f"$insSec%.3f"},""" +
        s""""insert_rows_per_sec":${rps(insSec)},""" +
        s""""replay_sec":${f"$replSec%.3f"},""" +
        s""""replay_rows_per_sec":${rps(replSec)}}"""
    }

    val js = results.map { case (n, (sec, batches, rows)) =>
      val rps = if (sec > 0) math.round(rows / sec) else 0L
      s""""$n":{"sec":${f"$sec%.3f"},"batches":$batches,""" +
        s""""rows":$rows,"rows_per_sec":$rps}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    val line = s"""{"metric":"stream_total","value":${f"$total%.3f"},""" +
      s""""unit":"sec","streams":$js,$jdbcJson,"sf":"$sfDir"}"""
    // same truncation-proofing as Bench: full artifact on disk, one
    // compact line on stdout
    val out = java.nio.file.Paths.get("target", "stream_bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, line.getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
