package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal (VERDICT r10 #5): generate a seeded ~10× corpus from
  * the sf0.1 fixtures and run the index-tier entries at both scales ONCE,
  * reporting per-entry wall-clock ratios. A ratio near the replication
  * factor means the operator scales linearly in rows; a ratio far above
  * it is the accidental quadratic this rehearsal exists to catch before
  * a real cluster would.
  *
  * Generation is a pure, seeded function of the fixtures (no RNG state,
  * no clock): every derived value comes from xxhash64 of the row identity
  * and replica index, so the corpus is bit-identical across runs and
  * independent of partitioning.
  *
  * Replica design — the part that makes the ratios MEANINGFUL:
  *   - documents: replica k suffixes every token with `_k`, so replicas
  *     are DISJOINT in shingle space. Each replica preserves the
  *     original's duplicate/near-duplicate structure exactly; cross-replica
  *     pairs are impossible. Pair count and cluster count scale ×k while
  *     corpus size scales ×k — the honest linear scale-up. (Naively
  *     copying text 10× would plant 10-way near-dup cliques everywhere:
  *     a quadratically HARDER instance, not a bigger one.)
  *   - embeddings: replica k>0 gets fresh hash-derived pseudo-random
  *     vectors (uniform per-dimension from xxhash64(vec_id, k, i)) — the
  *     same "random directions" population as the fixture, no planted
  *     cross-replica neighbors; replica 0 keeps the original vectors so
  *     planted-id `require`s still hold.
  *   - events: id/user offsets per replica, payload untouched — 10× the
  *     traffic with the same per-user shape.
  */
object ScaleRehearsal {

  val Reps = 10
  val DocStride = 10000L     // > max sf0.1 doc_id, and max generated id
                             // stays below k19's 200000 planted-batch floor
  val VecStride = 10000L     // keeps max vec_id ≪ the 999990 plant floor
  val EventStride = 10000000L
  val UserStride = 1000000L

  def generate(spark: SparkSession, src: String, out: String): Unit = {
    val reps = spark.range(Reps).select(col("id").cast("int").as("k"))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("k") * lit(DocStride)).as("doc_id"),
        when(col("k") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("k").cast("string")))).as("text"),
        col("lang"), col("source"),
        // recompute honestly: the suffixes lengthen replica text
        length(when(col("k") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("k").cast("string"))))).cast("long")
          .as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    emb.crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("k") * lit(VecStride)).as("vec_id"),
        when(col("k") === 0, col("embedding"))
          .otherwise(expr(
            """transform(sequence(0, size(embedding) - 1),
              |  i -> cast((pmod(xxhash64(vec_id, k, i), 2000001) - 1000000)
              |            / 1000000.0 as float))""".stripMargin))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    Tables.load(spark, src, "events").crossJoin(broadcast(reps))
      .select(
        (col("event_id") + col("k") * lit(EventStride)).as("event_id"),
        col("ts"),
        (col("user_id") + col("k") * lit(UserStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** The index tier named by VERDICT r10 #5, plus the two batch near-dup
    * entries whose cost is most shape-sensitive.
    */
  val Entries = Seq(
    "k2_minhash_neardup",
    "k10_dup_clusters",
    "k19_incremental_neardup",
    "k24_index_compaction",
    "k26_incremental_corpus_prep",
    "k3e_ann_persisted",
    "k3f_ann_batch",
    // r11 second-half adds — every new cross-row operator rehearses too:
    // k30 is the Σ|cluster|² pairwise risk, k31's flag pass must stay
    // map-only, k33 is the full positional span stream, q55 pays the
    // multi-distinct Expand. (k31's bloom false-positive gate is sized
    // for the sf-scale held-out set and will read false at 10× — the
    // rehearsal times the plan shape, it does not assert the gates.)
    "k30_semantic_dedup",
    "k31_bloom_decon",
    "k32_rarity_buckets",
    "k33_exactsubstr_spans",
    "q55_table_profile",
    // the fourth index kind + the extended composed chain rehearse too
    "k34_incremental_spans",
    "k36_corpus_prep_v2",
    // r12: the LAKE tier (VERDICT r11 #5) — merge/delete cost is
    // per-touched-day rewrite, and the batches (event_id % k) are
    // day-aligned derivations of the events table, so they scale with it.
    // p16/p17 additionally price the snapshot protocol (generation write +
    // manifest commit) against p13/p15's dynamic-overwrite path; s19/s20
    // share p13/p15's per-day rewrite cost through foreachBatch and are
    // correctness-gated, not rehearsed (their own sinks/checkpoints).
    "p13_lake_merge",
    "p15_lake_delete",
    "p16_snapshot_merge",
    "p17_snapshot_delete",
    "p18_lake_evolution",
    // lake maintenance: full-table rewrites by construction — the ratio
    // bounds the marginal per-row rewrite cost
    "p21_snapshot_optimize",
    "p22_snapshot_zorder",
    // r12 serving/index adds
    "k37_incremental_semdedup",
    "k3k_ivfpq_curve",
    "k3n_ivfpq_batch",
    // r13: the √N-rule SemDeDup rehearses NEXT TO fixed-nLists k30 — the
    // pair is the evidence for the scaling rule (k30's ratio is the
    // quadratic trap, k38's must sit near linear); the MoR lake tier and
    // retrain-in-place price their protocols against the COW paths
    "k38_semdedup_auto",
    "p23_delta_merge",
    "p25_delta_delete",
    "p24_column_rename",
    "k3o_ivfpq_retrain",
    // r13 late ring: price the STANDALONE DSv2 reader against the Scala
    // path (p27 folds deltas + rename through it; p29 subtracts deletion
    // vectors), the DataFrameWriter path against the API commits (p32),
    // and the planning-time file-stat probe, whose cost at 10× should be
    // the skipped-files story, not a 10× scan (p33)
    "p27_lake_dsv2_read",
    "p29_dv_delete",
    "p32_lake_dsv2_write",
    "p33_file_stat_pruning",
    // r14: SQL MERGE INTO through the distributed DeltaWriter path (one
    // MoR commit of the three-verb mix — must price like p23, not like a
    // rewrite), and the storage-partitioned day aggregate (zero-exchange
    // grouped plan; its ratio is the merge+delta build's, the probe adds
    // one grouped pass). s25 shares p13's load shape through the native
    // sink and is correctness-gated, not rehearsed (own checkpoints).
    "p38_sql_merge",
    "p39_kgp_aggregate",
    // r17 (VERDICT r15 #8 / r16 #5): the full-table stream source — the
    // entry builds the lake from the events table, drains the pinned
    // snapshot in day-bounded micro-batches, ingests the p13 correction
    // as a cdf tail, and resumes. Its ratio prices the snapshot-drain
    // admission planner (per-day listings + per-unit offsets) against a
    // 10x day/file population — the claim "the drain is O(admitted
    // units), not O(table)" becomes a measured number. The entry
    // self-cleans (lakeDir/freshCheckpoint delete on access), so the
    // warm-up + timed re-runs are deterministic.
    "s26_lake_stream_source",
    // r17 wave 6: the three write-path features with per-row/per-file
    // costs price themselves — p51 the CTAS stage+publish, p52 the
    // bloom-sidecar BUILD pass (one column-pruned read per staged
    // generation — must scale with the batch) + the planning-time
    // probe, p53 the fused CHECK predicates on every written row (the
    // overhead claim "zero extra passes" becomes a measured ratio)
    "p51_sql_ctas",
    "p52_bloom_pruning",
    "p53_sql_constraints",
    // r18: the LIMIT/TopN pushdown prices itself — the entry's preview +
    // TopN gates run against a 10x day/file population, so "plan cost
    // follows k-coverage, not the table" becomes a measured ratio (the
    // dominant cost is the entry's own lake BUILD, which scales with the
    // batch; the capped previews must not add a table-sized term)
    "p54_limit_pushdown",
    // r19: the BPE tier's vocab agg + distinct-word encode must scale
    // with the corpus (the bigram domain is alphabet-bounded; the
    // distinct-word set grows sub-linearly in replicated corpora), and
    // the snapshot export prices the fold+rewrite of the full table
    "k39_bpe_packing",
    "p55_export_snapshot",
    // r19 continuation: the metadata-only RESTORE must price as the
    // entry's own lake build (the rollback row is O(1) at any size),
    // and CONVERT as the plain write + one rename + the stats-sidecar
    // footer pass — "adoption never rewrites data" becomes a ratio
    "p56_restore",
    "p57_convert_parquet",
    // the incremental export's diff is manifest-derived: its ratio must
    // track the full build + one changed day's rewrite, never the table
    "p58_incremental_export",
    // r19 continuation wave 2: the temperature mix is one per-source
    // aggregate + a broadcast filter (must price linear in the corpus);
    // filtered ANN is an IVF build + three pushed-filter probes (the
    // k3-class build cost, probes O(probed lists))
    "k40_temperature_mix",
    "k41_filtered_ann",
    // winner selection rides k10's replica-disjoint cluster structure:
    // the rank window is cluster-sized partitions, so its ratio must
    // track the edge/closure build, never blow up on the window
    "k42_quality_dedup")

  /** Out-of-band bound (VERDICT r18 #5): a roster ratio above this is
    * re-run SOLO in a fresh JVM automatically, and the artifact carries
    * both readings machine-readably — the r17/r18 adjudications showed
    * late-roster JVM/page-cache aging minting 2–3× phantom super-linear
    * ratios (p15 9.0× in-roster vs 4.6× solo) that previously needed
    * prose in BASELINE.md to be read correctly.
    */
  val SoloBand: Double =
    sys.env.get("SPARK_GRAFT_SCALE_BAND").map(_.toDouble).getOrElse(5.0)

  /** Cap on automatic solo re-runs per rehearsal (each is a fresh JVM +
    * Spark session + both-scale timings): worst ratios first.
    */
  val MaxSoloReruns: Int =
    sys.env.get("SPARK_GRAFT_SCALE_MAX_SOLO").map(_.toInt).getOrElse(6)

  /** The tracked artifact line: roster trios, plus a `solo` trio for
    * every out-of-band entry that was re-adjudicated, plus the band
    * itself — self-describing without prose.
    */
  def rehearsalJson(
      rows: Seq[(String, (Double, Double, Double))],
      solos: Map[String, (Double, Double, Double)],
      src: String, out: String): String = {
    def trio(t: (Double, Double, Double)): String =
      s""""small_sec":${f"${t._1}%.2f"},"big_sec":${f"${t._2}%.2f"},""" +
        s""""ratio":${f"${t._3}%.2f"}"""
    val js = rows.map { case (n, t) =>
      val solo = solos.get(n).map(s => s""","solo":{${trio(s)}}""").getOrElse("")
      s""""$n":{${trio(t)}$solo}"""
    }.mkString("{", ",", "}")
    s"""{"metric":"scale_rehearsal","reps":$Reps,"band":${f"$SoloBand%.1f"},""" +
      s""""entries":$js,"src":"$src","out":"$out"}"""
  }

  /** Fresh-JVM solo re-run of one entry (the r16 q47 adjudication
    * protocol, automated): spawn this same main with a name filter —
    * same JVM args, same classpath, corpus reused — and parse its trio
    * out of the child's JSON line. None on timeout/crash/parse failure
    * (the artifact then simply carries no solo field — loud in stderr).
    */
  def soloRerun(name: String, src: String, out: String,
      timeoutMin: Long = 20L): Option[(Double, Double, Double)] = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.ScaleRehearsal", name)
    val outFile = java.nio.file.Files.createTempFile("scale-solo-", ".out")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_SCALE_REUSE", "1")
    pb.environment().put("SPARK_GRAFT_SF_DIR", src)
    pb.environment().put("SPARK_GRAFT_SCALE_DIR", out)
    pb.redirectOutput(outFile.toFile)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    System.err.println(s"[scale] $name: out-of-band — solo fresh-JVM re-run")
    val proc = pb.start()
    try {
      if (!proc.waitFor(timeoutMin, java.util.concurrent.TimeUnit.MINUTES)) {
        proc.destroyForcibly()
        System.err.println(s"[scale] $name solo re-run TIMED OUT")
        return None
      }
      val text = new String(
        java.nio.file.Files.readAllBytes(outFile), "UTF-8")
      val re = ("\"" + java.util.regex.Pattern.quote(name) +
        "\":\\{\"small_sec\":([0-9.]+),\"big_sec\":([0-9.]+)," +
        "\"ratio\":(-?[0-9.]+)").r
      val parsed = re.findFirstMatchIn(text).map(m =>
        (m.group(1).toDouble, m.group(2).toDouble, m.group(3).toDouble))
      if (parsed.isEmpty)
        System.err.println(
          s"[scale] $name solo re-run rc=${proc.exitValue()} — no trio parsed")
      parsed
    } finally java.nio.file.Files.deleteIfExists(outFile)
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale/sf1")
    val spark = LocalSession()

    // corpus reuse (r18, adjudication workflow): generation is a pure
    // seeded function of the fixtures, so an existing corpus is
    // bit-identical to a fresh one — SPARK_GRAFT_SCALE_REUSE=1 skips the
    // ~2 min regeneration when the out dir already exists
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
      new java.io.File(s"$out/documents.parquet").exists()
    if (reuse)
      System.err.println(s"[scale] reusing existing ${Reps}x corpus at $out")
    else {
      System.err.println(s"[scale] generating ${Reps}x corpus at $out from $src")
      generate(spark, src, out)
    }

    def materialize(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timeOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      materialize(SparkEntry.queries(name)(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }

    // optional args tail = name filter for single-entry adjudication
    // runs (same contract as Bench/Verify: unknown names fail loudly;
    // filtered runs never overwrite the tracked artifact)
    val only = args.toSet
    val unknown = only.diff(Entries.toSet)
    require(unknown.isEmpty,
      s"unknown rehearsal entry name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val roster = if (only.isEmpty) Entries else Entries.filter(only)

    val rows = roster.map { name =>
      timeOnce(name, src) // warm-up: JIT + codegen cache on the small run
      val small = timeOnce(name, src)
      val big = timeOnce(name, out)
      val ratio = if (small > 0) big / small else -1.0
      System.err.println(
        f"[scale] $name: sf0.1 $small%.2f s -> ${Reps}x $big%.2f s " +
          f"(ratio $ratio%.1f)")
      name -> (small, big, ratio)
    }

    // self-adjudication (VERDICT r18 #5): out-of-band roster ratios are
    // re-run solo in fresh JVMs, worst first, and the artifact records
    // BOTH readings — full-roster runs only (a filtered run IS a solo)
    val solos: Map[String, (Double, Double, Double)] =
      if (only.nonEmpty) Map.empty
      else rows.filter(_._2._3 > SoloBand)
        .sortBy { case (_, (_, _, r)) => -r }
        .take(MaxSoloReruns)
        .flatMap { case (n, (_, _, rosterRatio)) =>
          soloRerun(n, src, out).map { case s @ (_, _, soloRatio) =>
            System.err.println(
              f"[scale] $n: roster ratio $rosterRatio%.1f -> solo " +
                f"$soloRatio%.1f")
            n -> s
          }
        }.toMap
    val line = rehearsalJson(rows, solos, src, out)
    if (only.isEmpty) {
      val audit = java.nio.file.Paths.get("bench_audit", "scale-rehearsal.json")
      java.nio.file.Files.createDirectories(audit.getParent)
      java.nio.file.Files.write(audit, line.getBytes("UTF-8"))
    } else System.err.println(
      "[scale] filtered run: tracked artifact NOT overwritten")
    println(line)
    spark.stop()
  }
}
