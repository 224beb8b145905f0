package graft.etl

import java.io.ByteArrayInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** PER-FILE BLOOM SIDECARS (r17 wave 3) — the point-lookup complement to
  * [[FileStats]]' ordered min/max tier. Range stats prune nothing for a
  * high-cardinality equality (`WHERE user_id = 123...` on an event table:
  * every file's [min,max] straddles every id), which at 100 TB means a
  * full scan for a one-row answer. A per-file bloom of the column's
  * values flips that: the planner probes each candidate file's filter
  * and skips the ~97% that DEFINITELY don't hold the value — the
  * Delta/Iceberg bloom-index shape.
  *
  * Declaration: `TBLPROPERTIES ('bloom' = 'user_id,url')` (CREATE or
  * ALTER SET — later generations pick it up; earlier ones simply have no
  * sidecar and stay unpruned). Eligible column types: string/long/int.
  * Integrals hash WIDENED TO LONG, so an int→bigint ALTER COLUMN TYPE
  * widening stays probe-compatible across old generations.
  *
  * Layout: `data/gen=G/day=D/_bloom.tsv`, one line per (file, column):
  * {{{
  *   part-x.parquet  <physCol>  <fam l|s>  <base64 spark BloomFilter bytes>
  * }}}
  * PER-DAY sidecars deliberately (vs the per-gen `_filestats.tsv`):
  * bloom bytes are ~0.5 B/row — the planner must only ever load the
  * days that survived day pruning, so probe cost follows the pruned
  * listing, never the table. Underscore-hidden files commit, time
  * travel, and VACUUM atomically with their generation, like every
  * sidecar.
  *
  * Build: ONE column-pruned Spark pass over the staged generation
  * (groupBy input file → [[org.apache.spark.sql.catalyst.expressions
  * .aggregate.BloomFilterAggregate]] of the canonical xxhash64), rows
  * repartitioned by day and written EXECUTOR-SIDE — filter bytes never
  * collect through the driver. O(staged batch), paid only by tables
  * that declared bloom columns. Probe: [[provablyAbsent]] recomputes
  * the identical hash from the predicate literal; absent sidecar /
  * family mismatch / non-equality op make NO claim — blooms are an
  * optimization, never a correctness input (pushed filters stay
  * residual above the scan).
  */
object BloomStats {

  /** False-positive rate the sidecar sizes for (~7.3 bits/row at 3%);
    * bits clamp to [2^14, 2^25] — 4 MiB caps the per-file cost, degrading
    * fpp (never correctness) for files beyond ~4.6 M rows.
    */
  private val Fpp = 0.03
  private val MinBits = 1L << 14
  private val MaxBits = 1L << 25

  /** Diagnostic only: base files pruned at planning time by a bloom
    * probe — spec/entry gates assert the skip fires; never read on a
    * correctness path.
    */
  val skippedFiles = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The declared bloom columns of the lake at `dir` (logical names). */
  def declaredColumns(spark: SparkSession, dir: String): Seq[String] =
    graft.sources.GraftCatalog.readCreateProps(spark, dir).get("bloom")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** The lake's logical→physical resolution for write-time bloom
    * surfaces: identity before the first commit, the column mapping
    * after — the same resolution the planner's skip hints use.
    */
  private def physOf(spark: SparkSession, dir: String): String => String =
    if (LakeSnapshot.currentEpoch(spark, dir) >= 0) {
      val st = LakeSnapshot.tableState(spark, dir)
      c => st.physicalFor(c).getOrElse(c)
    } else identity

  /** DataFrameWriter options enabling parquet NATIVE bloom filters on
    * the declared bloom columns (physical names) — the ROW-GROUP
    * granularity twin of the file-level sidecar: within files the
    * planner could not skip, the lake reader probes each block's
    * parquet bloom ([[graft.sources]]' RowIterator) and skips row
    * groups the filter proves value-free. Empty for undeclared tables.
    */
  def writeOptions(spark: SparkSession, dir: String): Map[String, String] = {
    val declared = declaredColumns(spark, dir)
    if (declared.isEmpty) Map.empty
    else {
      val phys = physOf(spark, dir)
      declared.map(phys).distinct
        .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
    }
  }

  /** Diagnostic only: row groups pruned by a parquet-native bloom probe
    * inside a surviving file (the [[writeOptions]] tier).
    */
  val skippedGroups = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Build the per-day bloom sidecars of a freshly staged base
    * generation. No-op (one small properties read) for tables without a
    * bloom declaration. Call AFTER [[FileStats.stage]] — row counts size
    * the filters.
    */
  def stage(spark: SparkSession, dir: String, gen: Int): Unit = {
    val declared = declaredColumns(spark, dir)
    if (declared.isEmpty) return
    val genDir = s"$dir/data/gen=$gen"
    val fs = new Path(genDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(genDir))) return // fully-dropped staging
    val stats = FileStats.read(spark, genDir).getOrElse(return)
    if (stats.isEmpty) return
    // logical -> physical: sidecars key the names the FILES carry, the
    // same resolution the planner's skip hints go through
    val phys = physOf(spark, dir)
    val schema = LakeSnapshot.inferredSchema(spark, genDir)
    val df = spark.read.schema(schema).parquet(genDir)
    val fields = schema.fields.map(f => f.name -> f.dataType).toMap
    val cols: Seq[(String, String)] = declared.map(phys).distinct.flatMap {
      c => fields.get(c) match {
        case Some(StringType) => Some(c -> "s")
        case Some(LongType) | Some(IntegerType) => Some(c -> "l")
        case _ => None // unbloomable type / column not in this gen
      }
    }
    if (cols.isEmpty) return
    // expectedItems clamps under Spark's runtime-filter aggregate bound
    // (4M default); numBits sizes for Fpp and clamps to [2^14, 2^25] —
    // beyond either clamp the fpp degrades, never the correctness
    val maxRows = math.min(
      stats.values.map(_.rows).max.max(1L), 4000000L)
    val numBits = {
      val ideal = math.ceil(
        -maxRows * math.log(Fpp) / (math.log(2) * math.log(2))).toLong
      math.min(MaxBits, math.max(MinBits, ideal))
    }
    // canonical hashes: strings as their UTF-8 bytes, integrals widened
    // to long — xxhash64 seed 42, exactly what provablyAbsent replays
    val hashed = df.select(
      input_file_name().as("__f") +:
        cols.map { case (c, fam) =>
          val in = if (fam == "l") col(c).cast(LongType) else col(c)
          xxhash64(in).as(s"__h_$c")
        }: _*)
    val perFile = hashed.groupBy("__f").agg(
      graft.functions.GraftFunctions
        .bloom_filter_agg(col(s"__h_${cols.head._1}"), maxRows, numBits)
        .as(s"__b_${cols.head._1}"),
      cols.tail.map { case (c, _) =>
        graft.functions.GraftFunctions
          .bloom_filter_agg(col(s"__h_$c"), maxRows, numBits)
          .as(s"__b_$c")
      }: _*)
    // (day, file, col, fam, bytes) rows; sidecars written EXECUTOR-side,
    // one task per day after the repartition — bytes never drive through
    // the driver (at 100 TB a generation's filters outweigh its manifest
    // by orders of magnitude)
    val confMap = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val colNames = cols
    val genDirStr = genDir
    perFile
      .withColumn("__day",
        regexp_extract(col("__f"), "day=([^/]+)/", 1))
      .repartition(col("__day"))
      .foreachPartition {
        (rows: Iterator[org.apache.spark.sql.Row]) =>
        val byDay = rows.toSeq.groupBy(_.getAs[String]("__day"))
        if (byDay.nonEmpty) {
          val c = new Configuration(false)
          confMap.foreach { case (k, v) => c.set(k, v) }
          val enc = java.util.Base64.getEncoder
          byDay.foreach { case (day, dayRows) =>
            val lines = dayRows.flatMap { r =>
              val file = r.getAs[String]("__f")
              val name = file.substring(file.lastIndexOf('/') + 1)
              colNames.map { case (cn, fam) =>
                val bytes = r.getAs[Array[Byte]](s"__b_$cn")
                s"$name\t$cn\t$fam\t${enc.encodeToString(bytes)}"
              }
            }.sorted
            val dayDir = new Path(s"$genDirStr/day=$day")
            val f2 = dayDir.getFileSystem(c)
            val tmp = new Path(dayDir,
              s"._bloom-${java.util.UUID.randomUUID()}")
            val out = f2.create(tmp, true)
            try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
            finally out.close()
            val dst = new Path(dayDir, "_bloom.tsv")
            f2.delete(dst, false) // idempotent re-stage
            require(f2.rename(tmp, dst),
              s"bloom sidecar rename failed: $dst")
          }
        }
      }
  }

  /** The bloom sidecar of one day of a generation, keyed by
    * (fileName, physicalColumn) — None when the day predates bloom
    * declarations (no claim possible). One small read per (gen, day)
    * the planner actually probes; callers cache per scan.
    */
  def read(spark: SparkSession, genDir: String, day: String)
      : Option[Map[(String, String), (String, BloomFilter)]] = {
    val p = new Path(s"$genDir/day=$day", "_bloom.tsv")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val dec = java.util.Base64.getDecoder
    Some(text.linesIterator.filter(_.nonEmpty).map { l =>
      val f = l.split('\t')
      (f(0), f(1)) -> (f(2), BloomFilter.readFrom(
        new ByteArrayInputStream(dec.decode(f(3)))))
    }.toMap)
  }

  /** Bloom-declaration COVERAGE of one day of a generation (r18
    * observability, VERDICT r17 #6): file name → the physical columns a
    * sidecar bloom covers. Names only — the bits are never base64-
    * decoded, so listing coverage over a wide table costs one small TSV
    * read per (gen, day), not megabytes of filter state.
    */
  def coverage(spark: SparkSession, genDir: String, day: String)
      : Map[String, Seq[String]] = {
    val p = new Path(s"$genDir/day=$day", "_bloom.tsv")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.linesIterator.filter(_.nonEmpty).map { l =>
      val f = l.split('\t'); (f(0), f(1))
    }.toSeq.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted).toMap
  }

  /** True when the (fam, filter) entry PROVES no row of the file holds
    * `col = value` — the predicate literal re-hashed exactly as the
    * write side hashed the column. Only plain equality claims (the
    * caller expands IN member-wise); any family mismatch means no claim.
    */
  def provablyAbsent(
      fam: String, filter: BloomFilter, isFloat: Boolean, lv: Long,
      decScale: Int, sv: Array[Byte]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    if (fam == "s" && sv != null)
      !filter.mightContainLong(XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(sv),
        StringType, 42L))
    else if (fam == "l" && sv == null && !isFloat && decScale < 0)
      !filter.mightContainLong(XxHash64Function.hash(lv, LongType, 42L))
    else false
  }
}
