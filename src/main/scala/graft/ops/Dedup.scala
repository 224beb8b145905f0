package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus prep (SURVEY.md §2.1 K1/K2/J5).
  *
  * All variants are keyed shuffles — no driver collection, no all-pairs
  * cross join — so each survives a 100 TB corpus. The classic LSH failure
  * mode (quadratic within-bucket pairing when byte-identical documents
  * flood one bucket) is closed since r6: exact duplicates are collapsed to
  * one representative per distinct text BEFORE banding/prefix-joining and
  * re-expanded afterwards, and bucket sizes are observed + hard-capped
  * (VERDICT r5 #1) rather than assumed bounded:
  *
  *   - exact: one shuffle on the 64-bit content hash;
  *   - minhash LSH: shuffle on (band, band_hash); candidate pairs are only
  *     generated within capped buckets over unique texts, then
  *     exact-Jaccard verified;
  *   - simhash: embarrassingly parallel signature, one shuffle if paired.
  */
object Dedup {

  // --- K1: exact dedup by content hash -------------------------------------

  /** First row per exact content (xxhash64 of the content columns). */
  def exactDedup(df: DataFrame, content: Seq[String], orderBy: Seq[String]): DataFrame = {
    val w = Window.partitionBy(xxhash64(content.map(col): _*))
      .orderBy(orderBy.map(col): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Content fingerprint (J5): stable 64-bit hash over canonical columns. */
  def fingerprint(cols: Seq[Column]): Column = xxhash64(cols: _*)

  // --- K2: MinHash-LSH near-dedup ------------------------------------------

  /** Distinct word-level shingles of size `n` (H5 higher-order functions:
    * the shingle list is built with transform over an index sequence — no
    * UDF, no explode until the LSH banding step).
    */
  private def shinglesRaw(text: Column, n: Int): Column = {
    val words = split(trim(text), "\\s+")
    // guard: sequence(0, negative) infers step -1 and would slice from the
    // end — docs shorter than one shingle must yield an empty set instead
    when(size(words) >= n,
      transform(
        sequence(lit(0), size(words) - n),
        i => array_join(slice(words, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  def shingles(text: Column, n: Int): Column =
    array_distinct(shinglesRaw(text, n))

  /** Sorted distinct shingle hashes — the working representation for
    * minhash/banding/fingerprinting, via the native
    * [[graft.functions.WordShingleHashes]] kernel. Working on 64-bit hashes
    * instead of shingle strings keeps dedup/compare/shuffle on longs (a
    * collision merging two distinct shingles is ~n²/2⁶⁴ — negligible at the
    * Jaccard thresholds used here), and the native loop replaces
    * interpreted HOF lambdas (measured 15–30 s/query at sf0.1).
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.word_shingle_hashes(text, n)

  /** MinHash signature over pre-hashed shingles: `numHashes` independent
    * min-hashes, each `min_h hashLong(h, seed_i)` — one native loop via
    * [[graft.functions.MinHashSignature]].
    */
  def minhashSignature(shingleHashCol: Column, numHashes: Int): Column =
    graft.functions.GraftFunctions.minhash_signature(shingleHashCol, numHashes)

  /** Monotone id for the per-call `observe()` metric name (observed-metric
    * names must be unique within one query plan — two minhashPairs composed
    * into a single query would otherwise collide at analysis).
    */
  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** Exact-duplicate collapse (VERDICT r5 "What's wrong" #1): one
    * representative row `(__g, id, text)` per distinct text, where `__g` is
    * the 64-bit text hash (the group key for re-expansion) and `id`/`text`
    * come from the group's minimum id — deterministic. m byte-identical
    * documents (boilerplate, mirrored pages — the single most common
    * duplication mode at 100 TB) share every LSH band bucket and would emit
    * ~m²/2 candidates × bands; collapsing them FIRST makes candidate
    * generation O(unique texts) and leaves the true-pair output as the only
    * quadratic term. A 64-bit text-hash collision would merge two distinct
    * texts — the same ~n²/2⁶⁴ risk already accepted for shingle hashes.
    */
  private[graft] def collapsedReps(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .groupBy(xxhash64(col("text")).as("__g"))
      .agg(min("id").as("id"), min_by(col("text"), col("id")).as("text"))

  /** Banding rows actually shuffled by [[minhashPairs]]: `(bucket, id)` per
    * representative per band, AFTER exact-duplicate collapse — row count is
    * `bands × (unique texts with ≥ 1 shingle)` regardless of how duplicated
    * the corpus is (DedupSpec asserts exactly this on a 500-copy corpus).
    */
  private[graft] def lshBandingRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int,
      bands: Int): DataFrame = {
    // Banding rows carry ONLY (bucket, id): carrying the shingle array
    // through the 32-way explode shuffled 32 copies of it per doc (the
    // dominant k2 cost at sf0.1). Candidate pairs re-join the slim shingle
    // table afterwards — two keyed joins over one copy of the sets.
    // Bucket hashes come from the native BandHashes kernel (band index is
    // folded into the hash seed, so the bare hash IS the bucket key); the
    // previous slice→transform(cast string)→concat_ws→xxhash64 pipeline
    // ran interpreted per band — the same HOF trap as round 2's shingling.
    shingledReps(df, idCol, textCol, shingleSize)
      .withColumn("mh", minhashSignature(col("sh"), numHashes))
      .select(
        col("id"),
        explode(graft.functions.GraftFunctions.band_hashes(col("mh"), bands))
          .as("bucket"))
  }

  /** Shingled representatives `(__g, id, sh)` — empty-shingle reps dropped
    * (docs shorter than one shingle are exact-dedup territory, not near-dup).
    */
  private[graft] def shingledReps(
      df: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame =
    collapsedReps(df, idCol, textCol)
      .select(col("__g"), col("id"), shingleHashes(col("text"), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Candidate rep pairs from the banded rows, with bucket-size telemetry
    * and a hard cap: bucket sizes are measured via a named `observe()`
    * (`graft.lsh.buckets.N`: `max_bucket`, `n_dropped_buckets` — readable
    * from `QueryExecution.observedMetrics` / a QueryExecutionListener), and
    * buckets larger than `maxBucket` are EXCLUDED from pair generation (a
    * documented recall valve: after exact-collapse an oversized bucket
    * means band-hash degeneracy, and joining it would be quadratic; the
    * drop is counted, never silent). Size-1 buckets are pruned in the same
    * pass — they cannot produce a pair.
    */
  private[graft] def lshCandidates(
      banded: DataFrame,
      maxBucket: Int,
      requireNewCol: Option[String] = None): DataFrame = {
    val bsz = banded.groupBy("bucket").agg(count(lit(1)).as("__bsz"))
      .observe(s"graft.lsh.buckets.${obsId.incrementAndGet()}",
        max(col("__bsz")).as("max_bucket"),
        sum(when(col("__bsz") > maxBucket, 1L).otherwise(0L))
          .as("n_dropped_buckets"))
    val eligible = banded.join(
      bsz.filter(col("__bsz").between(2, maxBucket)).select("bucket"),
      Seq("bucket"))
    // requireNewCol (incremental probe, [[IncrementalDedup]]): a boolean
    // column marking batch-side rows; pairs must include >= 1 of them, so
    // corpus-internal pairs are never re-derived.
    val newPred = requireNewCol
      .map(c => col(s"a.$c") || col(s"b.$c"))
      .getOrElse(lit(true))
    eligible.as("a")
      .join(eligible.as("b"), col("a.bucket") === col("b.bucket"))
      .filter(col("a.id") < col("b.id") && newPred)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Verification and re-expansion shared by the batch and incremental LSH
    * paths → doc pairs `(id_a, id_b, jaccard)`, `id_a < id_b`.
    *
    *   - Verify: one sorted-merge intersect kernel per candidate rep pair
    *     over the reps' shingle sets (|A∪B| = |A|+|B|−|A∩B| — no union
    *     array is materialized), filtered at `threshold`, jaccard rounded
    *     to 4.
    *   - Re-expand: a rep expands ONLY through its own side's members
    *     (join on `(__g, _s)`), so a text present on two sides — two reps,
    *     identical sets, candidate J = 1.0 — expands across sides once.
    *     Group members share one text, so they inherit their rep's Jaccard.
    *   - Within-group pairs: every `(__g, _s)` of `selfGroups` pairs with
    *     itself at Jaccard 1 and rides the same member expansion, keeping
    *     only `ma < mb` (identical texts, provided the text shingles).
    *
    * `reps` is `(id, __g, sh, _s)`, one row per rep; `members` is
    * `(__g, id, _s)`. Both ends of a pair join the SAME `reps` and
    * `members` plans, so each is exchanged once and reused, and no second
    * copy of the members is joined for the within-group pairs.
    */
  private[graft] def expandPairs(
      candidates: DataFrame, reps: DataFrame, members: DataFrame,
      selfGroups: DataFrame, threshold: Double): DataFrame = {
    val nInt = graft.functions.GraftFunctions
      .sorted_intersect_size(col("a.sh"), col("b.sh"))
    val verified = candidates
      .join(reps.as("a"), col("id_a") === col("a.id"))
      .join(reps.as("b"), col("id_b") === col("b.id"))
      .select(col("a.__g").as("__ga"), col("a._s").as("_sa"),
        col("b.__g").as("__gb"), col("b._s").as("_sb"),
        (nInt.cast("double") / (size(col("a.sh")) + size(col("b.sh")) - nInt))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("__ga"), col("_sa"), col("__gb"), col("_sb"),
        round(col("jaccard"), 4).as("jaccard"), lit(false).as("_self"))
    val self = selfGroups.select(col("__g").as("__ga"), col("_s").as("_sa"),
      col("__g").as("__gb"), col("_s").as("_sb"), lit(1.0).as("jaccard"),
      lit(true).as("_self"))
    verified.unionAll(self)
      .join(members.as("ma"), col("__ga") === col("ma.__g") && col("_sa") === col("ma._s"))
      .join(members.as("mb"), col("__gb") === col("mb.__g") && col("_sb") === col("mb._s"))
      .filter(!col("_self") || col("ma.id") < col("mb.id"))
      .select(
        least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"),
        col("jaccard"))
  }

  /** Near-duplicate pairs by MinHash banding + exact-Jaccard verification.
    *
    * Pipeline: exact-duplicate collapse (one rep per distinct text) →
    * shingle → signature (narrow) → explode `bands` band hashes → shuffle
    * on the band hash → within-bucket REP pairs (bucket-size capped +
    * observed) → verify `|A∩B|/|A∪B| >= threshold` on the true shingle
    * sets → re-expand rep pairs through the exact-hash groups (members of
    * one group are Jaccard-1 pairs; cross-group members inherit their
    * reps' Jaccard exactly, since group members share one text).
    *
    * With `numHashes`=64, `bands`=32 (rows r=2) a pair at Jaccard 0.8 is a
    * candidate with probability 1-(1-0.8²)³² ≈ 1-1e-13 — effectively exact
    * at the verification threshold, while buckets keep the join local.
    * Docs with fewer than `shingleSize` words have no shingles and cannot
    * pair (they are exact-dedup territory, not near-dup) — including exact
    * copies of such docs, matching the un-collapsed pipeline.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.8,
      maxBucket: Int = 1 << 20): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(numHashes / bands > 0, "numHashes must be >= bands")

    // The slim frames below are each referenced 2–5 times by the joins that
    // follow; eager localCheckpoints truncate their lineage ONCE (the
    // k10/Components pattern). Without them every reference re-ran the
    // input scan + collapse shuffle + shingle/minhash kernels — r6 shipped
    // the collapse un-materialized and k2 went 1.1 s → 6.7 s at sf0.1
    // (BENCH_r06); checkpointed it is back around the r5 number, and the
    // materialization happens inside the benched region (Bench times the
    // full query-build + run).
    // r20 (guide §2.6): members and the shingled reps derive independently
    // from df — overlap their materialization jobs; banding follows its
    // shingled input.
    var members: DataFrame = null
    var shingled: DataFrame = null
    graft.Par.run(df.sparkSession, Seq(
      () => members = df
        .select(xxhash64(col(textCol)).as("__g"), col(idCol).as("id"))
        .localCheckpoint(true),
      () => shingled = shingledReps(df, idCol, textCol, shingleSize)
        .localCheckpoint(true)))
    val banded = shingled
      .withColumn("mh", minhashSignature(col("sh"), numHashes))
      .select(
        col("id"),
        explode(graft.functions.GraftFunctions.band_hashes(col("mh"), bands))
          .as("bucket"))
      .localCheckpoint(true)
    val candidates = lshCandidates(banded, maxBucket)
    // one side (_s = 0): every rep re-expands through the exact-hash
    // groups, and every shingled group also yields its within-group pairs
    expandPairs(candidates,
      shingled.select(col("id"), col("__g"), col("sh"), lit(0).as("_s")),
      members.withColumn("_s", lit(0)),
      shingled.select(col("__g"), lit(0).as("_s")),
      threshold)
  }

  // --- Exact similarity join (prefix filtering) ----------------------------

  /** EXACT near-duplicate pairs at `threshold` Jaccard via prefix filtering
    * (the AllPairs/PPJoin family — Bayardo et al. WWW'07, public
    * literature): a pair with J(A,B) ≥ t must share at least one element
    * among each side's first `|S| − ⌈t·|S|⌉ + 1` shingles under any fixed
    * global order (here: the sorted 64-bit shingle hashes). Candidates are
    * generated by a keyed equi-join on those prefix tokens only — no
    * all-pairs stage anywhere — then exact-Jaccard verified on the full
    * sets. Unlike [[minhashPairs]] this has recall exactly 1, at the cost
    * of posting-list-sized candidate sets; at 100 TB the prefix tokens are
    * the rare end of the shingle distribution, so posting lists stay short
    * and the join remains a bounded keyed shuffle.
    */
  def exactJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.9): DataFrame =
    exactJaccardPairsFromShingles(
      df.select(col(idCol).as("id"),
          shingleHashes(col(textCol), shingleSize).as("sh"))
        .filter(size(col("sh")) > 0),
      threshold)

  /** [[exactJaccardPairs]] over an already-shingled `(id, sh)` frame (sh =
    * sorted distinct shingle hashes, non-empty). Callers that also need the
    * shingle sets elsewhere (e.g. k10's node list) shingle ONCE, checkpoint,
    * and pass the frame here instead of paying the kernel twice.
    *
    * Like [[minhashPairs]], identical-set groups are collapsed to one
    * representative before the prefix join (VERDICT r5 #1 — m docs sharing
    * one shingle set share every prefix token and would emit ~m²·p/2
    * candidates) and re-expanded afterwards: within-group pairs are Jaccard
    * exactly 1, cross-group pairs inherit their reps' Jaccard.
    */
  def exactJaccardPairsFromShingles(
      shIn: DataFrame,
      threshold: Double): DataFrame = {
    // Collapse on the shingle SET (a superset of identical-text collapse:
    // `sh` is sorted-distinct, so equal sets hash equal). Same 2⁻⁶⁴
    // collision caveat as everywhere else in this file. `members` and `sh`
    // are referenced 2× and 4× below — eager localCheckpoints truncate the
    // collapse shuffle to one execution (same rationale as minhashPairs;
    // without them each reference re-runs it even off a checkpointed shIn).
    // r20 (guide §2.6): the two materializations derive independently from
    // the (checkpointed) shIn — overlap their jobs from a driver pool
    var members: DataFrame = null
    var sh: DataFrame = null
    graft.Par.run(shIn.sparkSession, Seq(
      () => members = shIn.select(xxhash64(col("sh")).as("__g"), col("id"))
        .localCheckpoint(true),
      () => sh = shIn.select(col("id"), col("sh"))
        .groupBy(xxhash64(col("sh")).as("__g"))
        .agg(min("id").as("id"), min_by(col("sh"), col("id")).as("sh"))
        .localCheckpoint(true)))
    // Prefix filtering is valid under ANY fixed global token order; order
    // by ascending DOCUMENT FREQUENCY (ties by hash) instead of raw hash
    // value so prefixes carry each document's RAREST shingles — the
    // AllPairs refinement (Bayardo et al. WWW'07 §3.1). On the repetitive
    // sf0.1 documents corpus random-hash prefixes generated 949k candidate
    // pairs for 16k true edges; df-ordering plus the two standard
    // necessary-condition filters below cuts that ~20×. The df pass is one
    // extra keyed groupBy + join over the token list — linear, shuffle-
    // bounded, and worth it whenever the corpus has any shingle skew
    // (at 100 TB it always does).
    val tokens = sh.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("h"))
    val dfreq = tokens.groupBy("h").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("id").orderBy("df", "h")
    // pref feeds both sides of the candidate self-join; checkpointing it
    // halves the df-count + rank pipeline (one shuffle chain, not two).
    val pref = tokens.join(dfreq, Seq("h"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
      .select(col("id"), col("h"), col("rk"), col("n"))
      .localCheckpoint(true)

    // Candidate join on shared prefix tokens, with two exact filters that
    // discard pairs which CANNOT reach the threshold (PPJoin, Xiao et al.
    // WWW'08): length — J ≥ t forces t·|A| ≤ |B| ≤ |A|/t; positional — a
    // pair first matching at df-rank (rka, rkb) has overlap at most
    // 1 + min(n_a − rka, n_b − rkb), which must reach ⌈t/(1+t)·(n_a+n_b)⌉.
    // At t = 0.9 the positional bound is what bites: it effectively
    // shrinks a 6-token prefix to ~3 matchable positions.
    val minOverlap =
      ceil(lit(threshold / (1 + threshold)) * (col("a.n") + col("b.n")))
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          col("b.n") >= ceil(col("a.n") * threshold) &&
          col("a.n") >= ceil(col("b.n") * threshold) &&
          (lit(1) + least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk")))
            >= minOverlap)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    // Exact verify: one sorted-merge intersect kernel per surviving pair
    // (|A∪B| = |A|+|B|−|A∩B| — no union array is ever materialized).
    val nInt = graft.functions.GraftFunctions
      .sorted_intersect_size(col("sh_a"), col("sh_b"))
    val repPairs = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        nInt.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - nInt))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

    // Re-expand rep pairs through the identical-set groups (normalizing
    // each expanded pair back to id_a < id_b); within-group pairs are
    // Jaccard exactly 1 — identical sets — matching what the un-collapsed
    // join computed for them.
    val repOf = sh.select(col("id").as("rep"), col("__g"))
    val cross = repPairs
      .join(repOf.select(col("rep").as("id_a"), col("__g").as("__ga")), Seq("id_a"))
      .join(repOf.select(col("rep").as("id_b"), col("__g").as("__gb")), Seq("id_b"))
      .join(members.select(col("__g").as("__ga"), col("id").as("ma")), Seq("__ga"))
      .join(members.select(col("__g").as("__gb"), col("id").as("mb")), Seq("__gb"))
      .select(
        least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"),
        col("jaccard"))
    val within = members.as("x")
      .join(members.as("y"),
        col("x.__g") === col("y.__g") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionAll(within)
  }

  // --- SimHash -------------------------------------------------------------

  /** 64-bit SimHash of a text column: per-token xxhash64, each bit votes
    * ±1, signature bit is the vote sign — one native pass via the
    * [[graft.functions.WordHashes]] → [[graft.functions.SimHash64]]
    * kernels (the HOF formulation ran interpreted per element: 15 s at
    * sf0.1 for what is now sub-second).
    */
  def simhashOf(text: Column): Column =
    graft.functions.GraftFunctions.simhash64(
      graft.functions.GraftFunctions.word_hashes(text))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
