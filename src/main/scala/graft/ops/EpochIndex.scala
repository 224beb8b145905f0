package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.IncrementalDedup.Manifest

/** The one lifecycle every persisted index shares: the text MinHash
  * ([[IncrementalDedup]]), span-hash ([[SpanIndex]]), cosine sign-LSH and
  * IVF/IVFPQ ([[Similarity]]) indexes each declare here only their build
  * constants, their surfaces and their partition column, and keep their
  * parameter checks, merge transforms and probes.
  *
  * Layout under `dir`: data surfaces `<surface>/epoch=E/` (partitioned
  * `<part>=P/` when the surface's rows carry the partition column),
  * model-sized surfaces `<model>/epoch=E/`, and the manifest
  * `params/epoch-E.properties` with its claim markers `params/epoch-E.claim`.
  *
  * The protocol, an exactly-once sink in the Structured Streaming sense:
  *   - claim: a writer atomically claims an unused epoch number
  *     ([[Manifest.claimEpoch]], through the [[ClaimStore]] seam) before
  *     it writes anything, so no two writers share an epoch directory;
  *   - data: the epoch's surfaces are written, overlapped through
  *     [[graft.Par.run]]; a retried epoch overwrites its own directories;
  *   - manifest last: one `epoch-E.properties` row carrying the build
  *     constants, renamed into place after every surface landed, is the
  *     commit point. Readers touch only epochs that have a row, so a
  *     claimed epoch whose writer died is invisible, and every row must
  *     agree on the build constants;
  *   - tags: a row may carry a non-empty `tag` (a micro-batch id). A tagged
  *     append whose tag is already committed is a no-op, and a redelivered
  *     probe may exclude its own tag's epochs to reproduce the view its
  *     first delivery saw;
  *   - base: compaction merges every live epoch into one claimed epoch and
  *     commits it with `base` = that epoch. Epochs below the highest `base`
  *     are absorbed: no reader touches them, and excluding a tag whose
  *     epochs were absorbed fails loudly, because the pre-append view no
  *     longer exists;
  *   - retention: vacuum deletes absorbed surface epochs and spent claim
  *     markers only once the base-raising commit is `retainMs` old
  *     ([[Manifest.vacuumEligible]]), so a probe planned before the
  *     compaction finishes on intact files. Manifest rows are never
  *     deleted: they keep the tags that make redelivery a no-op.
  *
  * Compaction is out of contract under a concurrent appender: the
  * appender's epoch would commit below the raised base and be ignored.
  */
private[ops] final case class EpochIndex(
    dir: String,
    consts: Seq[String],     // manifest keys every row must agree on
    surfaces: Seq[String],   // data surfaces; the first is the pin check's
    part: String,            // partition column of the surfaces that carry it
    models: Seq[String] = Nil, // model-sized surfaces, byte-copied forward
    distinct: Boolean = false) { // re-distinct partitioned rows on write
  import EpochIndex._

  def path(surface: String): String = s"$dir/$surface"
  def params: String = path("params")

  private def fs(spark: SparkSession): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One manifest read, as of epoch `asOf` (inclusive): rows above it are
    * invisible and the base is the youngest compaction at or below it.
    * A pinned view whose live epochs a later compaction's vacuum deleted
    * fails loudly: the silent alternative is a probe that reads as "no
    * neighbours".
    */
  def view(spark: SparkSession, asOf: Int = Int.MaxValue): View = {
    val all = Manifest.read(spark, params)
    val rows = all.filter(_._1 <= asOf)
    require(rows.nonEmpty,
      if (all.isEmpty) s"no committed manifest at $params"
      else s"no manifest row at or below asOf=$asOf at $params")
    val agreed = rows.map { case (_, kv) => consts.map(k => k -> kv(k)) }.distinct
    require(agreed.length == 1,
      s"manifest at $params carries conflicting build parameters: " +
        agreed.map(_.map(_._2).mkString("(", ", ", ")")).mkString(", "))
    val v = View(agreed.head.toMap, rows)
    if (asOf != Int.MaxValue) {
      val gone = v.live.filterNot(e =>
        fs(spark).exists(new Path(s"${path(surfaces.head)}/epoch=$e")))
      require(gone.isEmpty,
        s"as-of $asOf pins epochs ${gone.mkString(",")} whose data a later " +
          s"compaction vacuumed at $dir — re-pin or raise the vacuum " +
          "retention past the oldest pinned reader")
    }
    v
  }

  /** Claim the next free epoch above the view's: before any data write. */
  def claim(spark: SparkSession, v: View): Int =
    Manifest.claimEpoch(spark, params, v.epoch + 1)

  /** A surface's rows restricted to `epochs` — a partition filter, so the
    * scan never lists an uncommitted or absorbed epoch.
    */
  def committed(spark: SparkSession, surface: String, epochs: Seq[Int]): DataFrame =
    spark.read.parquet(path(surface)).where(col("epoch").isin(epochs: _*))

  /** Delete the whole index (a build replaces any index under `dir`). */
  def clear(spark: SparkSession): Unit = { fs(spark).delete(new Path(dir), true); () }

  /** Write one epoch's data surfaces, overlapped: they share no data
    * dependency, and only the manifest commit after them is ordered. Each
    * surface's frame is built in its writer's thread, so the reads and
    * analysis behind the frames overlap too.
    */
  def write(spark: SparkSession, epoch: Int,
      rows: Seq[(String, () => DataFrame)]): Unit =
    graft.Par.run(spark, rows.map { case (s, df) =>
      () => writeSurface(spark, s"${path(s)}/epoch=$epoch", df())
    })

  private def writeSurface(spark: SparkSession, out: String, rows: DataFrame): Unit =
    if (!rows.columns.contains(part)) rows.write.mode("overwrite").parquet(out)
    else {
      // co-locate each partition before the dynamic-partition write: ~one
      // file per partition instead of tasks × partitions tiny files
      layout(rows, part, distinct)
        .write.partitionBy(part).mode("overwrite").parquet(out)
      // a dynamic-partitioned write of an empty frame emits no file, which
      // would leave the surface schema-less; the check is a free listing
      if (!hasDataFiles(spark, out))
        rows.drop(part).limit(0).write.mode("overwrite").parquet(s"$out/$part=0")
    }

  private def hasDataFiles(spark: SparkSession, out: String): Boolean = {
    val p = new Path(out)
    fs(spark).exists(p) && {
      val it = fs(spark).listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.startsWith("part-")
      found
    }
  }

  /** Byte-copy unchanged model surfaces (those present at `from`) forward:
    * exact, and zero Spark jobs.
    */
  def copyModels(spark: SparkSession, from: Int, to: Int,
      names: Seq[String] = models): Unit =
    names.filter(m => fs(spark).exists(new Path(s"${path(m)}/epoch=$from")))
      .foreach(m => graft.ModelParquet.copyDir(
        spark, s"${path(m)}/epoch=$from", s"${path(m)}/epoch=$to"))

  /** The commit point: the manifest row, written after every surface. */
  def commit(spark: SparkSession, epoch: Int, constants: Map[String, String],
      fields: (String, String)*): Unit =
    Manifest.write(spark, params, epoch, consts.map(k => k -> constants(k)) ++ fields)

  /** Merge every live epoch into one claimed epoch and commit it with
    * `base` raised to it; a no-op with one live epoch. Each present data
    * surface's live rows pass through `merge(surface, rows)` and are
    * written overlapped; models are byte-copied; `fields` (read after the
    * writes) adds per-kind manifest fields.
    */
  def compact(spark: SparkSession,
      merge: (String, DataFrame) => DataFrame = (_, rows) => rows,
      fields: () => Seq[(String, String)] = () => Nil): Unit = {
    val v = view(spark)
    if (v.live.size <= 1) return
    val e = claim(spark, v)
    write(spark, e, surfaces.filter(s => fs(spark).exists(new Path(path(s))))
      .map(s => s -> (() => merge(s, committed(spark, s, v.live).drop("epoch")))))
    copyModels(spark, v.epoch, e)
    commit(spark, e, v.consts, Seq("tag" -> "", "base" -> e.toString) ++ fields(): _*)
  }

  /** Delete the surface epochs and claim markers below the compaction
    * base once the base-raising commit is `retainMs` old; a no-op before.
    * Each directory is listed once and only what exists is deleted; a
    * crash mid-vacuum leaves garbage for the next pass.
    */
  def vacuum(spark: SparkSession, retainMs: Long): Unit = {
    val v = view(spark)
    if (v.base == 0 || !Manifest.vacuumEligible(spark, params, v.base, retainMs))
      return
    val f = fs(spark)
    for {
      d <- (surfaces ++ models :+ "params").map(s => new Path(path(s)))
      if f.exists(d)
      st <- f.listStatus(d)
    } st.getPath.getName match {
      case Absorbed(e) if e.toInt < v.base => f.delete(st.getPath, true)
      case _ =>
    }
  }
}

private[ops] object EpochIndex {

  /** `epoch=E` data directories and `epoch-E.claim` markers; never a
    * `.properties` manifest row.
    */
  private val Absorbed = "epoch(?:=|-)(\\d+)(?:\\.claim)?".r

  /** One manifest read: the agreed build constants and every committed
    * row at or below the view's pin, ascending by epoch.
    */
  final case class View(consts: Map[String, String],
      rows: Seq[(Int, Map[String, String])]) {
    val epochs: Seq[Int] = rows.map(_._1)
    val epoch: Int = epochs.max
    val base: Int = rows.map(_._2.getOrElse("base", "0").toInt).max
    /** The exact committed epoch set readers may touch. A range
      * `base..epoch` is not enough: a claimed epoch whose writer died sits
      * inside it with data but no row.
      */
    def live: Seq[Int] = epochs.filter(_ >= base)

    /** Every non-empty tag committed. */
    def tags: Set[String] = rows.flatMap(_._2.get("tag")).filter(_.nonEmpty).toSet

    /** The committed epoch carrying `tag`, if any: a tagged redelivery's
      * no-op answer.
      */
    def prior(tag: String): Option[Int] =
      if (tag.isEmpty) None else tagged(tag).maxOption

    /** The epochs a redelivered probe excludes to see its first-delivery
      * view; refused when a compaction absorbed them.
      */
    def exclude(tag: String): Seq[Int] =
      if (tag.isEmpty) Nil
      else {
        val es = tagged(tag)
        require(es.forall(_ >= base),
          s"epochs tagged '$tag' were absorbed by a compaction (base = " +
            s"$base) — the pre-append index state no longer exists, so " +
            "this redelivered probe cannot reproduce its first-delivery " +
            "view; compact only when redelivery of absorbed batches is " +
            "impossible")
        es
      }

    /** [[live]] minus `tag`'s epochs (see [[exclude]]). */
    def liveExcept(tag: String): Seq[Int] = {
      val ex = exclude(tag)
      live.filterNot(ex.contains)
    }

    private def tagged(tag: String): Seq[Int] =
      rows.collect { case (e, kv) if kv.get("tag").contains(tag) => e }
  }

  /** A partitioned surface's write layout: one shuffle by `part`, then,
    * for `distinct`, a dedup on (part, rest) that the shuffle already
    * satisfies (the partition column is a function of the row), so it
    * adds no second Exchange.
    */
  def layout(rows: DataFrame, part: String, distinct: Boolean): DataFrame = {
    val laid = rows.repartition(col(part))
    if (distinct) laid.dropDuplicates(part, rows.columns.filterNot(_ == part).toSeq: _*)
    else laid
  }
}
