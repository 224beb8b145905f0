package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.SparkSession

/** MANIFEST-CARRIED FILE STATS (round-14 ring c): per-file column
  * min/max recorded once at STAGE time, so planning can skip whole
  * FILES without opening a single footer — the Iceberg/Delta
  * "stats in metadata" shape. Row-group stat skipping (the r13 reader)
  * still prunes WITHIN surviving files executor-side; this layer prunes
  * ABOVE it driver-side, which is what matters at 100 TB: a planner
  * that must open a footer per file to prune does O(files) remote reads
  * before the first task launches, while a stats sidecar is one small
  * read per touched generation.
  *
  * Layout: `data/gen=G/_filestats.tsv`, one line per data file —
  * written while the generation is still invisible (staging), so the
  * sidecar commits, time-travels, and VACUUMs atomically WITH its
  * generation; the underscore prefix hides it from every parquet
  * listing (Spark, the DSv2 reader's `part-` filter, DuckDB). A
  * generation without a sidecar (pre-r13 lakes) simply doesn't
  * file-skip — stats are an optimization, never a correctness input,
  * and the pushed comparison filters stay residual above the scan.
  *
  * Line format (TAB-separated):
  * {{{
  *   day=D/part-x.parquet  <rows>  col:l:<min>:<max>  col2:d:<min>:<max>  col3:n  col4:x
  * }}}
  * families: `l` integral (longs/ints; dates as epoch days; timestamps
  * normalized to MICROS whatever int64 unit the file used), `d`
  * floating, `c:<scale>` decimal unscaled (r17 — same-scale compares
  * only), `s` string (r17 — base64 UTF-8 min/max, recorded only while
  * both fit 64 bytes; compares are unsigned byte order, parquet's own
  * string comparator), `n` present-but-all-null (comparisons never
  * match → always skippable), `x` present but stats-unusable (INT96,
  * missing stats → never skippable). A column ABSENT from a line is
  * absent from the file itself (schema evolution gap) — all-null, so
  * skippable. The executor's row-group tier ([[graft.sources]]) asks
  * the same question of one block: [[blockStat]] folds its chunks the
  * way [[footerStat]] folds a file's, and [[provablyEmpty]] judges both.
  */
object FileStats {

  final case class ColStat(family: String, lmn: Long = 0L, lmx: Long = 0L,
      dmn: Double = 0d, dmx: Double = 0d, scale: Int = -1,
      smn: Array[Byte] = null, smx: Array[Byte] = null,
      // exact per-file null count when every chunk recorded one (r17 —
      // count(col) pushdown = rows - nulls); -1 = unknown (pre-r17
      // sidecar or footer without null counts)
      nulls: Long = -1L)

  /** Unsigned lexicographic byte compare — parquet's UTF-8 string stat
    * order, so Spark string predicates compare against footer min/max
    * under the SAME total order the writer used.
    */
  def cmpUtf8(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  final case class FileStat(rows: Long, cols: Map[String, ColStat])

  /** Diagnostic only: base files pruned at PLANNING time from the
    * sidecar — specs and the p33 layout gate assert the skip fires;
    * never read on a correctness path.
    */
  val skippedFiles = new java.util.concurrent.atomic.AtomicLong(0L)

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Collect per-file stats for every data file under `genDir` and write
    * the `_filestats.tsv` sidecar. Footer reads distribute over the
    * cluster when the generation is wide (one tiny task per slice) —
    * driver-side only for small generations, so local iteration stays
    * cheap and a 100k-file generation never serializes through one node.
    */
  def stage(spark: SparkSession, genDir: String): Unit = {
    val fs = fsOf(spark, genDir)
    val root = new Path(genDir)
    if (!fs.exists(root)) return // a fully-dropped staging (all deletes)
    val files = fs.listStatus(root).filter(_.isDirectory).flatMap { d =>
      fs.listStatus(d.getPath)
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(st => s"${d.getPath.getName}/${st.getPath.getName}")
    }.toSeq.sorted
    if (files.isEmpty) return
    val lines: Seq[String] =
      if (files.size <= 64) {
        val conf = spark.sparkContext.hadoopConfiguration
        files.map(rel => line(rel, footerStat(s"$genDir/$rel", conf)))
      } else {
        val confMap = spark.sparkContext.hadoopConfiguration.asScala
          .map(e => e.getKey -> e.getValue).toMap
        spark.sparkContext
          .parallelize(files, math.min(files.size, 256))
          .map { rel =>
            val c = new Configuration(false)
            confMap.foreach { case (k, v) => c.set(k, v) }
            line(rel, footerStat(s"$genDir/$rel", c))
          }
          .collect().toSeq.sorted // stat lines only: O(files) metadata
      }
    val tmp = new Path(root, s"._filestats-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(root, "_filestats.tsv")
    fs.delete(dst, false) // idempotent re-stage replaces its own sidecar
    require(fs.rename(tmp, dst), s"file-stats sidecar rename failed: $dst")
  }

  /** The sidecar of `genDir`, keyed by day-relative path — None when the
    * generation predates file stats (reader then opens footers as
    * before).
    */
  def read(spark: SparkSession, genDir: String): Option[Map[String, FileStat]] = {
    val fs = fsOf(spark, genDir)
    val p = new Path(genDir, "_filestats.tsv")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Some(text.linesIterator.filter(_.nonEmpty).map { l =>
      val parts = l.split('\t')
      val cols = parts.drop(2).map { ent =>
        val f = ent.split(":", -1)
        // each family's fixed fields, then an OPTIONAL trailing null
        // count (absent in pre-r17 lines → -1 unknown)
        def nl(fixed: Int): Long =
          if (f.length > fixed) f(fixed).toLong else -1L
        f(1) match {
          case "l" => f(0) -> ColStat("l", lmn = f(2).toLong,
            lmx = f(3).toLong, nulls = nl(4))
          case "d" => f(0) -> ColStat("d", dmn = f(2).toDouble,
            dmx = f(3).toDouble, nulls = nl(4))
          case "c" => f(0) -> ColStat("c", lmn = f(3).toLong,
            lmx = f(4).toLong, scale = f(2).toInt, nulls = nl(5))
          case "s" if f.length >= 4 =>
            val dec = java.util.Base64.getDecoder
            f(0) -> ColStat("s", smn = dec.decode(f(2)),
              smx = dec.decode(f(3)), nulls = nl(4))
          case fam => f(0) -> ColStat(fam, nulls = nl(2))
        }
      }.toMap
      parts(0) -> FileStat(parts(1).toLong, cols)
    }.toMap)
  }

  /** True when `st` PROVES no row of the file can satisfy `col op v`
    * (the same conservative semantics as the row-group layer: unknown
    * never skips; all-null and column-absent always skip a comparison).
    */
  def provablyEmpty(st: FileStat, col: String, op: String,
      isFloat: Boolean, lv: Long, dv: Double, decScale: Int = -1,
      sv: Array[Byte] = null): Boolean =
    st.cols.get(col) match {
      // `isnull` (r19) inverts the shared null rule: absent/all-null
      // columns MATCH `IS NULL`, and the skip claim is an exact
      // recorded null count of zero (-1 unknown = no claim)
      case None => op != "isnull"       // column absent from the file
      case Some(c) if c.family == "n" => op != "isnull" // every value null
      case Some(c) if op == "isnull" => c.nulls == 0L
      // IS NOT NULL (r17): only the all-null/absent cases above skip;
      // any present stats family means the file may hold non-nulls
      case Some(_) if op == "notnull" => false
      case Some(c) if c.family == "l" && !isFloat && decScale < 0 &&
          sv == null =>
        emptyRange(op, lv, c.lmn, c.lmx)
      case Some(c) if c.family == "d" && isFloat =>
        emptyRangeD(op, dv, c.dmn, c.dmx)
      // DECIMAL tier (r17, VERDICT r16 #4): same-scale unscaled longs
      // are order-preserving, so a decimal predicate (lv = unscaled
      // value at decScale) compares directly against the file's
      // unscaled min/max — but ONLY when the scales agree; a scale
      // mismatch makes no claim (residual-correct, like any family
      // mismatch)
      case Some(c) if c.family == "c" && decScale >= 0 &&
          c.scale == decScale =>
        emptyRange(op, lv, c.lmn, c.lmx)
      // STRING tier (r17): unsigned-byte-order compare against the
      // recorded UTF-8 min/max — the same comparator parquet used
      case Some(c) if c.family == "s" && sv != null =>
        emptyRangeS(op, sv, c.smn, c.smx)
      case _ => false                   // family mismatch / unusable
    }

  private def emptyRange(op: String, v: Long, mn: Long, mx: Long): Boolean =
    op match {
      case "eq" => v < mn || v > mx
      case "gt" => mx <= v
      case "ge" => mx < v
      case "lt" => mn >= v
      case "le" => mn > v
      case _ => false
    }

  private def emptyRangeD(op: String, v: Double, mn: Double, mx: Double): Boolean =
    op match {
      case "eq" => v < mn || v > mx
      case "gt" => mx <= v
      case "ge" => mx < v
      case "lt" => mn >= v
      case "le" => mn > v
      case _ => false
    }

  private def emptyRangeS(
      op: String, v: Array[Byte], mn: Array[Byte], mx: Array[Byte]): Boolean =
    op match {
      case "eq" => cmpUtf8(v, mn) < 0 || cmpUtf8(v, mx) > 0
      case "gt" => cmpUtf8(mx, v) <= 0
      case "ge" => cmpUtf8(mx, v) < 0
      case "lt" => cmpUtf8(mn, v) >= 0
      case "le" => cmpUtf8(mn, v) > 0
      // LIKE 'prefix%': matches live in [prefix, successor(prefix)) —
      // empty iff every value is below the prefix or at/after the
      // successor (no successor = all-0xff prefix: lower check only)
      case "sw" =>
        cmpUtf8(mx, v) < 0 ||
          prefixSuccessor(v).exists(up => cmpUtf8(mn, up) >= 0)
      case _ => false
    }

  /** The smallest byte string GREATER than every string with prefix `p`
    * — increment the last non-0xff byte and truncate after it; None when
    * every byte is 0xff (no finite successor).
    */
  private[graft] def prefixSuccessor(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && (p(i) & 0xff) == 0xff) i -= 1
    if (i < 0) None
    else {
      val up = java.util.Arrays.copyOf(p, i + 1)
      up(i) = (up(i) + 1).toByte
      Some(up)
    }
  }

  private def line(rel: String, st: FileStat): String = {
    val enc = java.util.Base64.getEncoder
    def nl(c: ColStat): String = if (c.nulls >= 0) s":${c.nulls}" else ""
    val cols = st.cols.toSeq.sortBy(_._1).map {
      case (n, c) if c.family == "l" => s"$n:l:${c.lmn}:${c.lmx}${nl(c)}"
      case (n, c) if c.family == "d" => s"$n:d:${c.dmn}:${c.dmx}${nl(c)}"
      case (n, c) if c.family == "c" =>
        s"$n:c:${c.scale}:${c.lmn}:${c.lmx}${nl(c)}"
      // string bounds persist only while both fit 64 bytes — long text
      // columns stay unusable at the file tier (a truncated bound needs
      // increment logic to stay an upper bound; not worth it for the
      // low-cardinality dimension columns this tier targets)
      case (n, c) if c.family == "s" && c.smn.length <= 64 &&
          c.smx.length <= 64 =>
        s"$n:s:${enc.encodeToString(c.smn)}:${enc.encodeToString(c.smx)}${nl(c)}"
      case (n, c) if c.family == "s" => s"$n:x${nl(c)}"
      case (n, c) => s"$n:${c.family}${nl(c)}"
    }
    (Seq(rel, st.rows.toString) ++ cols).mkString("\t")
  }

  /** One footer read → the file's stat row: [[blockStat]] over all of
    * its row groups.
    */
  private[graft] def footerStat(path: String, conf: Configuration): FileStat = {
    val reader =
      ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val footer = reader.getFooter
      blockStat(footer.getFileMetaData.getSchema,
        footer.getBlocks.asScala.toSeq)
    } finally reader.close()
  }

  /** `blocks`' column chunk stats folded to one min/max per primitive
    * column of `schema`, in the reader's comparison families
    * (timestamps normalized to micros, INT96 marked unusable).
    */
  private[graft] def blockStat(
      schema: MessageType, blocks: Seq[BlockMetaData]): FileStat = {
    val rows = blocks.map(_.getRowCount).sum
    import PrimitiveType.PrimitiveTypeName._
    val cols = schema.getFields.asScala.filter(_.isPrimitive).map { f =>
      val name = f.getName
      val pt = f.asPrimitiveType()
      // the int64 timestamp unit multiplier into micros (1 = already
      // micros or a plain long); NANOS divides instead
      val (mul, nanos) = pt.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => (1000L, false)
            case LogicalTypeAnnotation.TimeUnit.NANOS => (1L, true)
            case _ => (1L, false)
          }
        case _ => (1L, false)
      }
      val chunks = blocks.flatMap(
        _.getColumns.asScala.find(_.getPath.toDotString == name))
      val stats = chunks.map(_.getStatistics)
      val usable = stats.nonEmpty && stats.forall(s => s != null && !s.isEmpty)
      // exact null count when every chunk recorded one (r17 —
      // count(col) = rows - nulls becomes metadata-answerable)
      val nulls: Long =
        if (usable && stats.forall(_.isNumNullsSet))
          stats.map(_.getNumNulls).sum
        else -1L
      def withNulls(kv: (String, ColStat)): (String, ColStat) =
        kv._1 -> kv._2.copy(nulls = nulls)
      withNulls {
      // decimal-annotated stats are UNSCALED integers — within ONE
      // scale they are order-preserving, so they get their own ordered
      // family `c:<scale>` (r17, VERDICT r16 #4): a same-scale decimal
      // predicate skips; any scale mismatch stays residual-only
      val decScale = pt.getLogicalTypeAnnotation match {
        case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          a.getScale
        case _ => -1
      }
      if (!usable) name -> ColStat("x")
      else if (stats.forall(!_.hasNonNullValue)) name -> ColStat("n")
      else {
        val nn = stats.filter(_.hasNonNullValue)
        // a decimal's unscaled value as a Long — int32/int64 directly;
        // BINARY/FIXED as big-endian two's complement when it fits
        def unscaled(v: Any): Option[Long] = v match {
          case n: Number => Some(n.longValue())
          case b: org.apache.parquet.io.api.Binary =>
            val bi = new java.math.BigInteger(b.getBytes)
            if (bi.bitLength < 64) Some(bi.longValue) else None
          case _ => None
        }
        if (decScale >= 0) {
          val mins = nn.map(s => unscaled(s.genericGetMin))
          val maxs = nn.map(s => unscaled(s.genericGetMax))
          if (mins.forall(_.isDefined) && maxs.forall(_.isDefined))
            name -> ColStat("c", lmn = mins.flatten.min,
              lmx = maxs.flatten.max, scale = decScale)
          else name -> ColStat("x") // >63-bit unscaled: no claim
        } else pt.getPrimitiveTypeName match {
          case INT64 | INT32 =>
            def norm(v: Long): Long =
              if (nanos) Math.floorDiv(v, 1000L) else v * mul
            name -> ColStat("l",
              lmn = nn.map(s =>
                norm(s.genericGetMin.asInstanceOf[Number].longValue())).min,
              lmx = nn.map(s =>
                norm(s.genericGetMax.asInstanceOf[Number].longValue())).max)
          case DOUBLE | FLOAT =>
            name -> ColStat("d",
              dmn = nn.map(
                _.genericGetMin.asInstanceOf[Number].doubleValue()).min,
              dmx = nn.map(
                _.genericGetMax.asInstanceOf[Number].doubleValue()).max)
          case BINARY if pt.getLogicalTypeAnnotation
              .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
            // STRING stats (r17): unsigned-byte-order min/max (the
            // sidecar persists them only while both fit 64 bytes)
            val mins = nn.map(s =>
              s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                .getBytes)
            val maxs = nn.map(s =>
              s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                .getBytes)
            name -> ColStat("s",
              smn = mins.reduce((a, b) => if (cmpUtf8(a, b) <= 0) a else b),
              smx = maxs.reduce((a, b) => if (cmpUtf8(a, b) >= 0) a else b))
          case _ => name -> ColStat("x") // INT96, binary, boolean
        }
      }
      }
    }.toMap
    FileStat(rows, cols)
  }
}
