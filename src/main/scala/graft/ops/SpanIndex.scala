package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Persisted SPAN-HASH index — k33's ExactSubstr-style duplicated-span
  * detection made incremental, one of the [[EpochIndex]] kinds next to
  * the text MinHash (k19), sign-LSH cosine (k21) and IVF (k3d) indexes.
  *
  * The index stores ONLY distinct 64-bit window hashes, physically
  * partitioned `spans/epoch=E/pb=P` with `pb = h mod pbuckets` — no text,
  * no ids. That is the minimal state span-dedup needs: a probe position is
  * duplicated iff its hash EXISTS anywhere in the indexed corpus (or
  * recurs within the probe batch itself — the one-shot k33 semantics,
  * which k34's oracle pins as incremental == one-shot). The probe reads
  * only the batch's touched `pb` partitions (PartitionFilters,
  * spec-locked), so probe cost follows the batch, not the corpus.
  *
  * Append never reads the existing index (contrast k19, which anti-joins
  * new reps against known groups): duplicate hashes across epochs are
  * harmless under existence semantics, so an append is a pure write of the
  * batch's distinct hashes — O(batch) with no corpus-sized read at all.
  * Compaction re-distincts across epochs, so the steady state stays tight.
  */
object SpanIndex {

  private def index(dir: String): EpochIndex =
    EpochIndex(dir, Seq("span_n", "pbuckets"), Seq("spans"), "pb", distinct = true)

  private def requireParams(
      spark: SparkSession, dir: String, n: Int): EpochIndex.View = {
    val v = index(dir).view(spark)
    require(v.consts("span_n").toInt == n,
      s"span index at $dir was built with n=${v.consts("span_n")}, called " +
        s"with n=$n — mismatched window length would silently miss every span")
    v
  }

  /** (id, h): one row per window position of every doc (duplicates kept —
    * span semantics). Docs shorter than `n` tokens contribute nothing.
    */
  private[ops] def spanRows(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(GraftFunctions.word_shingle_hashes_pos(col(textCol), n))
        .as("h"))

  /** One epoch's DISTINCT window hashes, laid out by `pb`. `hashes`
    * arrives NON-distinct (raw span rows); the dedup and the pb file
    * layout share ONE Exchange: pb = pmod(h, pbuckets) is a pure function
    * of h, so partitioning by pb already co-locates equal h, and the
    * (pb, h) dedup after it is exchange-free and identical in rows to a
    * distinct on h. Package-visible so SpanIndexSpec can plan-lock the
    * single Exchange.
    */
  private[ops] def epochRows(hashes: DataFrame, pbuckets: Int): DataFrame =
    EpochIndex.layout(withPb(hashes, pbuckets), "pb", distinct = true)

  private def withPb(hashes: DataFrame, pbuckets: Int): DataFrame =
    hashes.withColumn("pb", pmod(col("h"), lit(pbuckets)).cast("int"))

  /** Summarize a corpus into the index (committed epoch 0), replacing any
    * previous index under `dir`. The corpus text is never needed again.
    */
  def buildSpanIndex(
      df: DataFrame, idCol: String, textCol: String, dir: String,
      n: Int = 8, pbuckets: Int = 64): Unit = {
    require(n >= 1 && pbuckets > 0, "bad span-index parameters")
    val spark = df.sparkSession
    val idx = index(dir)
    idx.clear(spark)
    idx.write(spark, 0,
      Seq("spans" -> (() => withPb(spanRows(df, idCol, textCol, n).select("h"), pbuckets))))
    idx.commit(spark, 0,
      Map("span_n" -> n.toString, "pbuckets" -> pbuckets.toString), "tag" -> "")
  }

  /** Fold a batch's window hashes in as one claimed, tag-idempotent epoch.
    * Pure O(batch) write — no index read (duplicate hashes across epochs
    * are harmless under existence semantics; compaction re-distincts).
    * A tagged redelivery returns the ALREADY-committed epoch, so a caller
    * pinning epochs into a LakeTxn gets the same pin twice.
    */
  def appendToSpanIndex(
      batch: DataFrame, idCol: String, textCol: String, dir: String,
      n: Int = 8, tag: String = ""): Int = {
    val spark = batch.sparkSession
    val idx = index(dir)
    val v = requireParams(spark, dir, n)
    v.prior(tag).getOrElse {
      val e = idx.claim(spark, v)
      idx.write(spark, e, Seq("spans" -> (() => withPb(
        spanRows(batch, idCol, textCol, n).select("h"), v.consts("pbuckets").toInt))))
      idx.commit(spark, e, v.consts, "tag" -> tag)
      e
    }
  }

  /** Per-doc span accounting for a probe batch against the index:
    * (id, n_spans, n_dup) — a position is duplicated iff its hash exists
    * in the committed index (minus `excludeTag`'s epochs — the redelivery
    * first-delivery view) or occurs ≥2 times within the batch itself.
    * Docs with < n tokens produce no row (they have no spans). `asOf`
    * pins the index at a committed epoch ([[EpochIndex.view]]).
    *
    * Reads ONLY the touched `pb` partitions: the touched list is bounded
    * by `pbuckets` (a build constant) — driver-resident metadata, not
    * data. A redelivered probe whose excluded epochs were absorbed by a
    * compaction fails loudly (the pre-append view no longer exists).
    */
  def probeSpanStats(
      spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, excludeTag: String = "",
      asOf: Int = Int.MaxValue): DataFrame = {
    val v = index(dir).view(spark, asOf)
    val keep = v.liveExcept(excludeTag)
    // the touched-pb set rides the checkpoint job as an observe() metric
    // instead of a separate distinct().collect() job (collect_set dedups)
    val pbObs = org.apache.spark.sql.Observation()
    val spans = spanRows(batch, idCol, textCol, v.consts("span_n").toInt)
      .observe(pbObs, collect_set(
        pmod(col("h"), lit(v.consts("pbuckets").toInt)).cast("int")).as("pbs"))
      .localCheckpoint(true) // one kernel pass; reused by both arms below
    val touched = pbObs.get("pbs").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Number].intValue).toSeq
    val idx = index(dir).committed(spark, "spans", keep)
      .where(col("pb").isin(touched: _*))
      .select(col("h"), lit(1L).as("__in_idx"))
    val withinDup = spans.groupBy("h").agg(count(lit(1)).as("__bc"))
    spans
      .join(idx.dropDuplicates("h"), Seq("h"), "left")
      .join(withinDup, Seq("h"))
      .withColumn("__dup",
        col("__in_idx").isNotNull || col("__bc") > 1L)
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup"))
  }

  /** Merge every live epoch into one compacted epoch ([[EpochIndex.compact]]).
    * The stored pb is pmod(h, pbuckets) for every epoch, so the write's
    * (pb, h) dedup re-distincts across epochs behind the one layout
    * shuffle.
    */
  def compactSpanIndex(spark: SparkSession, dir: String): Unit =
    index(dir).compact(spark)

  /** Delete absorbed epoch data ([[EpochIndex.vacuum]]). */
  def vacuumSpanIndex(
      spark: SparkSession, dir: String, retainMs: Long = 0L): Unit =
    index(dir).vacuum(spark, retainMs)
}
