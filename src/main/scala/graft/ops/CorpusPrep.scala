package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed corpus-preparation pipeline (VERDICT r7 next-round #5):
  * the k8/k16/k1/k2/k17/k18 stages a training-data run actually chains,
  * over ONE scan of the documents table.
  *
  * Stage order and rules (each stage = its standalone operator's exact
  * semantics, so every rule is already individually hash-gated):
  *
  *   0. split: doc_id % 50 == 0 is the held-out benchmark set (k17's
  *      convention); the rest is the corpus.
  *   1. quality filter (k8): n_words >= 5, mean word length in [2,12],
  *      stopword ratio <= 0.5 — on the RAW text.
  *   2. PII redaction (k16): email/phone/IPv4 → placeholder tokens; all
  *      later stages see the redacted text.
  *   3. exact dedup (k1 shape): first doc_id per distinct redacted text.
  *   4. near dedup (k2): MinHash-LSH pairs at Jaccard >= 0.8 over word
  *      3-shingles; a doc is dropped iff ANY smaller-id doc (itself
  *      dropped or not — in chain A~B~C with A!~C, C still drops via B)
  *      is its near-duplicate. Deterministic single-pass rule, mirrored
  *      exactly by the oracle's NOT EXISTS.
  *   5. decontamination (k17): drop docs whose 3-shingle overlap with the
  *      benchmark set reaches 20%.
  *   6. repetition filter (k18): drop docs with duplicate-bigram fraction
  *      >= 0.1.
  *
  * Scan discipline: the caller's documents frame is projected to
  * (doc_id, lang, text) and eagerly localCheckpoint'd ONCE — benchmark
  * branch, corpus branch, and every dedup self-reference replay those
  * blocks, never the parquet (CorpusPrepSpec asserts the final plan holds
  * no file scan). At cluster scale the same shape holds with a reliable
  * checkpoint or a staged table.
  *
  * Everything downstream is keyed shuffles and broadcast joins (benchmark
  * shingle set is eval-suite-sized at any corpus scale): the 100 TB story
  * is each stage's own — see the per-operator scaladocs.
  */
object CorpusPrep {

  val NearDupThreshold = 0.8
  val ContaminationMax = 0.2
  val DupBigramMax = 0.1

  /** Stages 1–2 (shared by the one-shot and incremental forms): quality
    * filter on the raw text, then PII redaction → `(doc_id, lang, txt)`.
    */
  private[ops] def qualityRedact(corpus: DataFrame): DataFrame =
    Text.withQualityMetrics(corpus, "text")
      .filter(Text.qualityKeep)
      .select(col("doc_id"), col("lang"), Text.redactPii(col("text")).as("txt"))

  /** Benchmark reference: distinct 3-shingle hashes of held-out docs. */
  private[ops] def benchShingleHashes(bench: DataFrame): DataFrame =
    bench.select(explode(Dedup.shingleHashes(col("text"), 3)).as("h"))
      .distinct()

  /** Stages 5–6 (shared): decontamination against a benchmark hash set,
    * then the repetition filter — both per-doc given the hash set, which
    * is eval-suite-sized at any corpus scale and broadcast.
    */
  private[ops] def deconRepetition(
      near: DataFrame, benchHashes: DataFrame): DataFrame =
    // 5. decontamination (k17 ratio against the broadcast benchmark set):
    //    one aggregate per doc that carries the doc through, so the doc is
    //    not joined back to its hit count. A doc without shingles explodes
    //    to no row and drops.
    near
      .withColumn("s", Dedup.shingleHashes(col("txt"), 3))
      .select(col("doc_id"), col("lang"), col("txt"), size(col("s")).as("n_sh"),
        explode(col("s")).as("h"))
      .join(broadcast(benchHashes.withColumn("hit", lit(1L))), Seq("h"), "left")
      .groupBy("doc_id", "lang", "txt", "n_sh")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .filter(col("n_hit").cast("double") / col("n_sh") < ContaminationMax)
      // 6. repetition filter (k18 duplicate-bigram rule)
      .withColumn("n_tok", size(Text.tokens(col("txt"))))
      .withColumn("n_bi", size(Dedup.shingleHashes(col("txt"), 2)))
      .filter(lit(1.0) - col("n_bi").cast("double") / (col("n_tok") - 1)
        < DupBigramMax)
      .select(col("doc_id"), col("lang"), col("txt"))

  /** Cleaned corpus `(doc_id, lang, txt)` ready for tokenization. */
  def prepare(docs: DataFrame): DataFrame = {
    // one scan, one materialization; everything below replays blocks
    val base = docs.select(col("doc_id"), col("lang"), col("text"))
      .localCheckpoint(true)

    val benchHashes = benchShingleHashes(base.filter(col("doc_id") % 50 === 0))

    // 1.–2. quality (k8 rules, raw text) then PII redaction (k16)
    val redacted = qualityRedact(base.filter(col("doc_id") % 50 =!= 0))

    // 3. exact dedup (k1 shape: first doc_id per distinct text)
    val exact = Dedup.exactDedup(redacted, Seq("txt"), Seq("doc_id"))
      .localCheckpoint(true) // minhashPairs + anti-join reference it 3×

    // 4. near dedup: drop the greater id of every >= threshold pair
    val dropNear = Dedup
      .minhashPairs(exact, "doc_id", "txt", threshold = NearDupThreshold)
      .select(col("id_b").as("doc_id"))
    // materialized: the frame returned below plans none of the pair search
    val near = exact.join(dropNear, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)

    deconRepetition(near, benchHashes)
  }

  /** Per-language stats of the cleaned corpus — k20's output shape. */
  def stats(cleaned: DataFrame): DataFrame =
    cleaned
      .withColumn("n_tok", size(Text.tokens(col("txt"))).cast("long"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum(length(col("txt")).cast("long")).as("n_chars"))
      .orderBy("lang")

  // --- Incremental corpus prep (k26) ----------------------------------------
  //
  // The production shape at 100 TB: history is processed ONCE and
  // summarized into a persisted prep state; each new day-batch then runs
  // the full chain in O(batch), never re-scanning the corpus. The state is
  //
  //   stateDir/index — [[IncrementalDedup]] MinHash index over history's
  //     POST-EXACT frame (quality → redact → exact of every batch so far).
  //     That frame is BOTH stages 3 and 4's historical surface: its
  //     members' text hashes are exactly the distinct post-redaction texts
  //     (window-min keeps one doc per text), so `__g` membership IS the
  //     exact-dedup predecessor test, and it is the chain's near-dedup
  //     pair population (the drop rule pairs against near-dup-DROPPED
  //     docs too, so the final cleaned corpus would be the wrong index
  //     population).
  //   stateDir/bench — distinct 3-shingle hashes of every held-out
  //     benchmark doc seen so far (`doc_id % 50 == 0`), eval-suite-sized
  //     at any corpus scale; read-side `distinct()` makes duplicate
  //     appends (redelivery) semantically harmless.
  //
  // Decomposition contract: batch-by-batch processing equals the one-shot
  // chain on the union — restricted to the batch — ONLY when every new
  // batch's ids exceed everything indexed (the chain's precedence rules
  // all read "a doc drops iff a SMALLER-id doc …", so history's decisions
  // are final iff later arrivals never carry smaller ids). prepareBatch
  // `require`s that against the index high-water mark and fails loudly;
  // k26's oracle is the one-shot k20 chain over hist ∪ batch restricted
  // to batch ids, so the equivalence is a green hash row, not a claim.

  /** Summarize the historical corpus into the persisted prep state. */
  def buildPrepState(hist: DataFrame, stateDir: String): Unit = {
    val base = hist.select(col("doc_id"), col("lang"), col("text"))
      .localCheckpoint(true)
    val exact = Dedup.exactDedup(
      qualityRedact(base.filter(col("doc_id") % 50 =!= 0)),
      Seq("txt"), Seq("doc_id"))
    // the two state surfaces derive independently from the checkpointed
    // base and land in distinct directories — overlap them (guide §2.6,
    // r20); the state has no cross-surface commit ordering (readers only
    // run after buildPrepState returns)
    graft.Par.run(base.sparkSession, Seq(
      () => IncrementalDedup
        .buildIndex(exact, "doc_id", "txt", s"$stateDir/index"),
      () => benchShingleHashes(base.filter(col("doc_id") % 50 === 0))
        .write.mode("overwrite").parquet(s"$stateDir/bench")))
  }

  /** Run ONE new batch through the full chain against the persisted state
    * → cleaned `(doc_id, lang, txt)`, equal to the one-shot chain on
    * hist ∪ batch restricted to the batch's ids. O(batch) throughout:
    * stages 1–2 and 6 are per-doc; stage 3's historical surface is the
    * column-pruned `__g` set; stage 4 is the pruned index probe (cross
    * pairs always drop the batch side — ids are larger by the ordering
    * contract — and within-batch pairs drop `id_b`, the greater end);
    * stage 5's benchmark set is state ∪ batch hashes, broadcast.
    */
  def prepareBatch(
      spark: SparkSession, stateDir: String, batch: DataFrame,
      excludeTag: String = ""): DataFrame = {
    val idxDir = s"$stateDir/index"
    // r20 (§1 fewer jobs): the batch's min id rides the checkpoint job as
    // an observe() metric (min is retry-idempotent) instead of a separate
    // agg job over the just-materialized base
    val minObs = org.apache.spark.sql.Observation()
    val base = batch.select(col("doc_id"), col("lang"), col("text"))
      .observe(minObs, min(col("doc_id")).as("min_id"))
      .localCheckpoint(true)
    // excludeTag = this batch's own append tag under a streaming caller
    // (the s14 redelivery contract): a REPLAYED batch whose
    // appendBatchToState already committed must see the state as of
    // before that append on ALL THREE surfaces — membership, probe, and
    // high-water mark — or its own texts would exact-drop everything and
    // the hwm require would reject its own ids.
    val hwm = IncrementalDedup.maxMemberId(spark, idxDir, excludeTag)
    val batchMin = minObs.get("min_id")
    require(batchMin != null && batchMin.asInstanceOf[Long] > hwm,
      s"batch ids must exceed the indexed high-water mark $hwm — the " +
        "chain's smaller-id precedence rules are only decomposable " +
        "batch-by-batch in arrival order (see the k26 contract above)")

    val batchBench = benchShingleHashes(base.filter(col("doc_id") % 50 === 0))
    val exact = batchExact(spark, idxDir, base, excludeTag)

    // 4. near dedup through the index probe: every pair has >= 1 batch
    //    endpoint and id_a < id_b, so id_b is always the batch doc to drop
    val dropNear = IncrementalDedup
      .incrementalPairs(spark, idxDir, exact, "doc_id", "txt",
        threshold = NearDupThreshold, excludeTag = excludeTag)
      .select(col("id_b").as("doc_id"))
    // materialized: the frame returned below plans none of the probe
    val near = exact.join(dropNear, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)

    // the bench surface's fixed schema: reading it launches no
    // schema-inference job
    val benchAll = spark.read.schema("h BIGINT").parquet(s"$stateDir/bench")
      .unionAll(batchBench).distinct()
    deconRepetition(near, benchAll)
  }

  /** Stages 1–3 of one batch, materialized: quality and redaction, the
    * first doc per text within the batch, then every text history already
    * carries dropped (any indexed doc has a smaller id). [[prepareBatch]]
    * probes and anti-joins it; [[appendBatchToState]] indexes it. Both run
    * this one plan, so they share its generated classes while Spark's
    * codegen cache still holds them.
    */
  private def batchExact(spark: SparkSession, idxDir: String,
      base: DataFrame, excludeTag: String): DataFrame =
    Dedup.exactDedup(qualityRedact(base.filter(col("doc_id") % 50 =!= 0)),
        Seq("txt"), Seq("doc_id"))
      .join(IncrementalDedup.knownTextHashes(spark, idxDir, excludeTag)
          .select(col("__g").as("__gk")),
        xxhash64(col("txt")) === col("__gk"), "left_anti")
      .localCheckpoint(true)

  /** Fold a processed batch into the state so the NEXT batch sees it:
    * append the batch's POST-EXACT frame to the index (the pair
    * population — NOT the final survivors; see the contract above) and
    * the batch's benchmark hashes. Recomputes stages 1–3 from the raw
    * batch — stateless, O(batch), and therefore redelivery-safe to
    * retry; `tag` rides [[IncrementalDedup.appendToIndex]]'s manifest
    * no-op for exactly-once folding under a streaming caller.
    */
  def appendBatchToState(
      spark: SparkSession, stateDir: String, batch: DataFrame,
      tag: String = ""): Unit = {
    val idxDir = s"$stateDir/index"
    // redelivery no-op up front: skip recomputing stages 1-3 when this
    // tag's append already committed (appendToIndex would no-op anyway;
    // bench-hash duplicates are harmless under the read-side distinct)
    if (tag.nonEmpty && IncrementalDedup
        .committedTags(spark, IncrementalDedup.IndexPaths(idxDir))
        .contains(tag)) return
    val base = batch.select(col("doc_id"), col("lang"), col("text"))
      .localCheckpoint(true)
    IncrementalDedup.appendToIndex(batchExact(spark, idxDir, base, ""),
      "doc_id", "txt", idxDir, tag = tag)
    benchShingleHashes(base.filter(col("doc_id") % 50 === 0))
      .write.mode("append").parquet(s"$stateDir/bench")
  }

  /** Register benchmark docs' shingle hashes into the state WITHOUT
    * flowing them through the corpus chain — benchmark sets are reference
    * data (eval suites), delivered out-of-band AHEAD of the corpus
    * stream: decontamination is against the benchmark set as of
    * processing time, so a benchmark arriving after a batch was cleaned
    * cannot retroactively drop that batch's docs. The streaming composed
    * entry (s16) registers the whole window's benchmark docs first, which
    * is exactly what makes its per-micro-batch union equal the one-shot
    * chain. Duplicate registrations are harmless (read-side distinct).
    */
  def appendBenchToState(
      spark: SparkSession, stateDir: String, docs: DataFrame): Unit =
    benchShingleHashes(docs.filter(col("doc_id") % 50 === 0))
      .write.mode("append").parquet(s"$stateDir/bench")
}
