package silviabench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** The silvia benchmark: one workload, one seed, one JVM.
  *
  * Every workload is a closed-loop backlog drain over generated files,
  * one file per micro-batch, the first `Warmup` batches untimed.
  * `silvia_upsert` hands its two streaming queries one file at a time
  * and starts the next batch when both have committed the last one;
  * `corpus_dedup` replays its backlog with `maxFilesPerTrigger=1` and
  * `Trigger.AvailableNow`. A batch's time covers planning, the offset
  * log, the sinks, the commit log and any maintenance run after it; the
  * fixed read set, run after every `ReadEvery`-th batch, is timed on its
  * own and taken out.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--cores K]
  * Prints one result JSON object as the last line of stdout.
  */
object Main {

  /** A workload's size. `batchSeconds` is about one timed batch's wall
    * time on the reference machine: `--seconds` / `batchSeconds` timed
    * batches (at least `minTimed`) make the backlog, so a run measures
    * for about `--seconds`. The backlog is fixed work for a given
    * `--seconds`, the same on every commit.
    */
  final case class Shape(batchSeconds: Double, minTimed: Int, maintainEvery: Int, lines: Int,
      setups: Int)

  val Shapes: Map[String, Shape] = Map(
    "silvia_upsert" -> Shape(batchSeconds = 4.0, minTimed = 4, maintainEvery = 3, lines = 500,
      setups = 5),
    "corpus_dedup" -> Shape(batchSeconds = 12.5, minTimed = 2, maintainEvery = 2, lines = 100,
      setups = 1))

  /** Untimed warm-up batches at the head of every backlog. */
  val Warmup = 1
  /** The read set runs after every `ReadEvery`-th batch, `ReadRepeat`
    * times back to back.
    */
  val ReadEvery = 3
  val ReadRepeat = 2

  /** History docs built into the corpus prep state and IVF index at set-up. */
  val HistDocs = 200
  /** Share of the Snowplow/Adjust feed's good lines that redeliver or
    * correct a key of an earlier batch.
    */
  val Redeliver = 0.3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = opts("work")
    val shape = Shapes.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val timed = math.max(shape.minTimed, math.round(seconds / shape.batchSeconds).toInt)
    val total = Warmup + timed

    val data = s"$work/data/$workload-$seed-$total"
    deleteTree(Paths.get(s"$work/run")) // a killed run's leftovers
    val run = s"$work/run/$workload-$seed-${ProcessHandle.current().pid()}"
    Files.createDirectories(Paths.get(run))
    System.setProperty("derby.system.durability", "test")
    System.setProperty("derby.stream.error.file", s"$run/derby.log")

    // local[k] with k <= nproc; --cores 1 gives the single-threaded reference
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors().min(4))
    val b = SparkSession.builder().master(s"local[$cores]")
      .appName("silviabench")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.default.parallelism", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.sc = spark.sparkContext
    Trace.runId = s"$workload-$seed-${if (traced) "traced" else "timed"}"
    if (traced) {
      sys.addShutdownHook(Trace.writeSpans(s"$work/traces/${Trace.runId}.jsonl"))
      spark.sparkContext.addSparkListener(Trace.Listener)
      CountingDriver.register()
    }

    val result =
      try new Runner(spark, workload, shape, seed, timed, traced, data, run).go()
      finally spark.stop()
    deleteTree(Paths.get(run))
    println(result)
    System.out.flush()
    // idle pool threads would otherwise hold the JVM open for their keep-alive
    System.exit(0)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))

  def dirBytes(dirs: Seq[String]): (Long, Long) = {
    var n, bytes = 0L
    dirs.map(Paths.get(_)).filter(Files.exists(_)).foreach { d =>
      Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        n += 1; bytes += Files.size(f)
      }
    }
    (n, bytes)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  /** The highest whole percentile with at least ten samples above it.
    * A run with too few batches for one reports p90, interpolated: with six
    * timed batches that is the mean of the two slowest.
    */
  def tailPercentile(n: Int): Int =
    if (n <= 10) 90 else math.floor(100.0 * (1 - 10.0 / n)).toInt

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "0" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case other => json(other.toString)
  }
}

/** One run of one workload. */
final class Runner(spark: SparkSession, workload: String, shape: Main.Shape, seed: Long,
    timed: Int, traced: Boolean, data: String, run: String) {
  import Main._

  private val total = Warmup + timed
  private val silviaW = workload.startsWith("silvia")
  private val inDir = s"$data/in"
  private val histFile = s"$data/hist.json"

  private val batchEnd = new Array[Long](total)
  private val readTime = new Array[Long](total)
  private val readSamples = mutable.ArrayBuffer.empty[Double]
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  private var pendingDeltas = 0L
  private var replayNoop = false

  private def batchFiles: Seq[String] =
    (0 until total).map(i => if (silviaW) f"$inDir/b-$i%05d.txt" else f"$inDir/d-$i%05d.json")

  /** Inputs are cached by (workload, seed, size): generate only once. */
  private def generate(): (Option[Gen.FeedTruth], Option[Gen.CorpusTruth]) = {
    val marker = Paths.get(s"$data/_truth")
    if (!Files.exists(marker)) {
      deleteTree(Paths.get(data))
      val tmp = s"$data.tmp"
      deleteTree(Paths.get(tmp))
      if (silviaW) {
        val t = Gen.writeFeed(s"$tmp/in", seed, Gen.FeedSpec(total, shape.lines, Redeliver))
        Files.writeString(Paths.get(s"$tmp/_truth"),
          (Seq(t.snowLines, t.adjLines, t.redelivered).mkString(",") +: t.badByReason.toSeq.sorted
            .map { case (k, v) => s"$k=$v" }).mkString("\n"))
      } else {
        val t = Gen.writeCorpus(tmp, seed, Gen.CorpusSpec(HistDocs, total, shape.lines))
        Files.writeString(Paths.get(s"$tmp/_truth"),
          t.plantedSemantic.toSeq.sorted.mkString(","))
      }
      Files.move(Paths.get(tmp), Paths.get(data))
    }
    val lines = Files.readAllLines(marker).asScala.toSeq
    if (silviaW) {
      val Array(s, a, r) = lines.head.split(",").map(_.toLong)
      val bad = lines.tail.map { l => val Array(k, v) = l.split("="); k -> v.toLong }.toMap
      (Some(Gen.FeedTruth(s, a, bad, r)), None)
    } else {
      val ids = lines.headOption.filter(_.nonEmpty).map(_.split(",").map(_.toLong).toSet)
        .getOrElse(Set.empty[Long])
      (None, Some(Gen.CorpusTruth(ids)))
    }
  }

  private val born = ManagementFactory.getRuntimeMXBean.getStartTime
  private def phase(n: String): Unit =
    System.err.println(f"[phase] $n at ${(System.currentTimeMillis() - born) / 1e3}%.1fs")

  def go(): String = {
    phase("session")
    val (feedTruth, corpusTruth) = generate()
    phase("inputs")

    // --- set-up: table/index creation and history build, several times --
    val setupTimes = (1 to shape.setups).map { i =>
      val root = s"$run/sys-$i"
      val t0 = System.nanoTime()
      if (silviaW) new Silvia(spark, root, traced).createTables()
      else new Corpus(spark, root).setup(histFile, batchFiles)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[setup $i] $dt%.2fs")
      dt
    }
    (1 until shape.setups).foreach(i => deleteTree(Paths.get(s"$run/sys-$i")))
    phase("setup")
    val root = s"$run/sys-${shape.setups}"
    val silvia = if (silviaW) Some(new Silvia(spark, root, traced)) else None
    val corpus = if (silviaW) None else Some(new Corpus(spark, root))

    // the point lookup's key: a good event of batch 0
    val probeId = if (silviaW) graft.etl.SnowplowParser.parseLines(spark.read.text(batchFiles.head)
      .filter(!col("value").startsWith("{"))).good.select("event_id").head().getString(0) else ""
    val queries = if (silviaW) Nil else corpus.get.read(histFile).orderBy("doc_id").limit(3)
      .collect().map(_.getSeq[Double](3).toArray).toSeq

    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        // idle triggers report progress too; only batches that read input count
        if (e.progress.numInputRows > 0) progress.synchronized(progress += ((e.progress.batchId,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)))
    }
    spark.streams.addListener(listener)

    val streamStart = System.nanoTime()
    // batch 0's time starts when the queries are started
    def endBefore(i: Int): Long = if (i == 0) streamStart else batchEnd(i - 1)
    /** The read set and maintenance after batch `id`, then its log line.
      * The read set runs first, so every read set sees the same number of
      * uncompacted batches.
      */
    def afterBatch(id: Int): Unit = {
      val n = id + 1
      if (n % ReadEvery == 0 && id >= Warmup) {
        if (traced) silvia.foreach { s =>
          pendingDeltas += graft.etl.LakeSnapshot.fragmentedDays(spark, s.lake, 1).size
        }
        (1 to ReadRepeat).foreach { _ =>
          val r0 = System.nanoTime()
          silvia.foreach(_.reads(probeId))
          corpus.foreach(_.reads(queries))
          val r1 = System.nanoTime()
          readTime(id) += r1 - r0
          readSamples += (r1 - r0) / 1e9
        }
      }
      if (shape.maintainEvery > 0 && n % shape.maintainEvery == 0) {
        silvia.foreach(_.maintain())
        corpus.foreach(_.maintain())
      }
      batchEnd(id) = System.nanoTime()
      val prev = endBefore(id)
      val parts = Trace.allSpans.filter(_.start >= prev).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, ss) => f"$n=${ss.map(s => s.end - s.start).sum / 1e9}%.2f" }
      System.err.println(f"[batch $id] ${(batchEnd(id) - prev) / 1e9}%.2fs ${parts.mkString(" ")}")
    }

    silvia.foreach { s =>
      Trace.untracked = Seq("/in-lake", "/in-jdbc")
      s.start()
      try (0 until total).foreach { id =>
        Trace.recording = id >= Warmup
        s.batch(batchFiles(id), id)
        if (id == Warmup - 1) {
          // redelivery of the last warm-up batch through the lake checkpoint;
          // the time-travel read is pinned at the lake as it stood then
          replayNoop = s.redeliver(id)
          s.pinnedEpoch = graft.etl.LakeSnapshot.currentEpoch(spark, s.lake)
        }
        afterBatch(id)
      } finally s.stop()
    }
    corpus.foreach { c =>
      spark.readStream.schema(Corpus.Schema).option("maxFilesPerTrigger", "1").json(inDir)
        .writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          Trace.recording = id >= Warmup
          c.batch(df, id)
          afterBatch(id.toInt)
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/checkpoint")
        .start()
        .awaitTermination()
    }
    phase("stream")
    Trace.recording = false
    spark.streams.removeListener(listener)
    require(batchEnd.forall(_ > 0), s"expected $total micro-batches, " +
      s"${batchEnd.count(_ > 0)} ran")

    // --- end-to-end figures over the timed batches -----------------------
    val w = Warmup
    val intervals = (w until total).map(i => (batchEnd(i) - endBefore(i) - readTime(i)) / 1e9)
    val busy = intervals.sum
    val rowsTimed = timed.toLong * shape.lines
    val tailP = tailPercentile(intervals.size)
    val storedDirs = silvia.map(_.storedDirs).getOrElse(corpus.get.storedDirs)
    val committedRows = total.toLong * shape.lines
    val stored = dirBytes(storedDirs)._2
    val w0 = endBefore(w)
    val w1 = batchEnd(total - 1)

    // --- correctness gate --------------------------------------------------
    val checks =
      if (silviaW) ("redelivered batch is a no-op" -> replayNoop) +: silvia.get.check(batchFiles, feedTruth.get)
      else corpus.get.check(histFile, batchFiles)
    phase("check")
    checks.foreach { case (n, ok) => System.err.println(s"[check] ${if (ok) "PASS" else "FAIL"} $n") }
    val correct = checks.forall(_._2)

    val e2e = Seq(
      ("rows_per_s", rowsTimed / busy, "rows/s", intervals.size),
      ("batch_p50_s", median(intervals), "s", intervals.size),
      ("batch_tail_s", quantile(intervals, tailP / 100.0), "s", intervals.size),
      ("read_p50_s", median(readSamples.toSeq), "s", readSamples.size),
      ("setup_s", median(setupTimes), "s", setupTimes.size),
      ("stored_bytes_per_row", stored.toDouble / committedRows, "B/row", 1))
    System.err.println(f"[$workload seed=$seed] $timed timed batches of ${shape.lines} " +
      f"(+$Warmup warm-up), tail = p$tailP, correct=$correct")
    e2e.foreach { case (n, v, u, k) => println(f"  $n%-22s $v%14.6f $u%-6s n=$k") }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e.map { case (n, v, u, _) => (n, v, u) }
      else layerMetrics(w0, w1, intervals, rowsTimed, silvia, corpus, corpusTruth)

    phase("metrics")
    val attempted = timed + readSamples.size
    json(Map(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> (if (correct) 0 else attempted),
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap))
  }

  private def layerMetrics(t0: Long, t1: Long, intervals: Seq[Double], rowsTimed: Long,
      silvia: Option[Silvia], corpus: Option[Corpus],
      corpusTruth: Option[Gen.CorpusTruth]): Seq[(String, Double, String)] = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    val jobs = Trace.jobsIn(t0, t1)
    def jobsOf(span: String) = jobs.filter(_.span == span)
    val jobIv = jobs.map(j => (math.max(j.submitted, t0), if (j.ended < 0) t1 else math.min(j.ended, t1)))
    val wall = t1 - t0
    val prog = progress.synchronized(progress.toList).filter(_._1 >= Warmup)
    def dur(k: String) = prog.map(_._2.getOrElse(k, 0L)).sum / 1e3
    val known = Seq("addBatch", "queryPlanning", "walCommit")
    val overhead = prog.map { case (_, d) =>
      d.getOrElse("triggerExecution", 0L) - known.map(d.getOrElse(_, 0L)).sum
    }.sum / 1e3
    def self(n: String) = Trace.selfSeconds(n, t0, t1)
    def fs(n: String) = Trace.count(s"fs_ops:$n").toDouble
    def opens(n: String) = Trace.count(s"fs_open_parquet:$n").toDouble
    val w = Warmup
    val deadRows = silvia.map(s => spark.read.parquet(s.dead).filter(col("batch") >= w).count())
      .getOrElse(0L)
    val parseRows = if (silvia.isDefined) rowsTimed.toDouble else 0.0
    val upd = Trace.count("jdbc.update_stmts").toDouble
    val ins = Trace.count("jdbc.insert_stmts").toDouble
    val keptRows = corpus.map(c => spark.read.parquet(c.kept).filter(col("batch") >= w).count())
      .getOrElse(0L)
    val semDropped = corpus.map(c => spark.read.parquet(c.dropped).filter(col("batch") >= w).count())
      .getOrElse(0L)
    val (idxEpochs, idxBytes) = corpus.map { c =>
      val epochs = Seq(s"${c.state}/index/members", s"${c.ivf}/assigned").map(Paths.get(_))
        .filter(Files.exists(_)).map(d => Files.list(d).iterator().asScala
          .count(_.getFileName.toString.startsWith("epoch="))).sum
      (epochs.toDouble, dirBytes(c.storedDirs)._2.toDouble)
    }.getOrElse((0.0, 0.0))
    val corpusRows = if (corpus.isDefined) rowsTimed.toDouble else 0.0
    Seq(
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.tasks", jobs.map(_.tasks).sum.toDouble, "count"),
      ("spark.exec_run_s", jobs.map(_.runMs).sum / 1e3, "s"),
      ("spark.exec_cpu_s", jobs.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.gc_s", jobs.map(_.gcMs).sum / 1e3, "s"),
      ("spark.shuffle_bytes", jobs.map(_.shuffleBytes).sum.toDouble, "bytes"),
      ("spark.driver_s", (wall - Trace.covered(jobIv)) / 1e9, "s"),
      ("streaming.batches", prog.size.toDouble, "count"),
      ("streaming.planning_s", dur("queryPlanning"), "s"),
      ("streaming.wal_s", dur("walCommit"), "s"),
      ("streaming.add_batch_s", dur("addBatch"), "s"),
      ("streaming.overhead_s", overhead, "s"),
      ("etl.parse.self_s", self("etl.parse"), "s"),
      ("etl.parse.exec_cpu_s", jobsOf("etl.parse").map(_.cpuNs).sum / 1e9, "s"),
      ("etl.parse.rows", parseRows, "count"),
      ("etl.parse.bad_rows", deadRows.toDouble, "count"),
      ("etl.parse.good_share", if (parseRows > 0) 1 - deadRows / parseRows else 0.0, "ratio"),
      ("etl.shred.self_s", self("etl.shred"), "s"),
      ("etl.shred.rows_out", Trace.count("shred.rows_out").toDouble, "count"),
      ("etl.jdbc.self_s", self("etl.jdbc"), "s"),
      ("etl.jdbc.jobs", jobsOf("etl.jdbc").size.toDouble, "count"),
      ("etl.jdbc.rows", upd, "count"),
      ("etl.jdbc.stmts", Trace.count("jdbc.stmts").toDouble, "count"),
      ("etl.jdbc.commits", Trace.count("jdbc.commits").toDouble, "count"),
      ("etl.jdbc.update_share", if (upd > 0) (upd - ins) / upd else 0.0, "ratio"),
      // the lake query's own parse and mapping, measured by its prefix
      // materialisations (the lake span's children), are taken out too
      ("lake.commit.self_s", self("lake.commit") - Trace.childSeconds("lake.commit", t0, t1), "s"),
      ("lake.commit.files_added", Trace.count("fs_create_parquet:lake.commit").toDouble, "count"),
      ("lake.commit.bytes_added", Trace.count("fs_bytes_parquet:lake.commit").toDouble, "bytes"),
      ("lake.commit.fs_ops", fs("lake.commit"), "count"),
      ("lake.maintain.self_s", self("lake.maintain"), "s"),
      ("lake.maintain.bytes_rewritten", Trace.count("fs_bytes_parquet:lake.maintain").toDouble, "bytes"),
      ("lake.maintain.fs_ops", fs("lake.maintain"), "count"),
      ("lake.read.self_s", self("lake.read"), "s"),
      ("lake.read.jobs", jobsOf("lake.read").size.toDouble, "count"),
      ("lake.read.files_planned", opens("lake.read"), "count"),
      ("lake.read.pending_deltas", pendingDeltas.toDouble, "count"),
      ("ops.prep.self_s", self("ops.prep"), "s"),
      ("ops.prep.jobs", jobsOf("ops.prep").size.toDouble, "count"),
      ("ops.prep.kept_share", if (corpusRows > 0) keptRows / corpusRows else 0.0, "ratio"),
      ("ops.semdedup.self_s", self("ops.semdedup"), "s"),
      ("ops.semdedup.jobs", jobsOf("ops.semdedup").size.toDouble, "count"),
      ("ops.semdedup.dropped", semDropped.toDouble, "count"),
      ("ops.semdedup.planted_recall",
        corpus.map(_.plantedRecall(corpusTruth.get.plantedSemantic)).getOrElse(0.0), "ratio"),
      ("ops.index.maintain_s", self("ops.index"), "s"),
      ("ops.index.epochs_live", idxEpochs, "count"),
      ("ops.index.bytes", idxBytes, "bytes"),
      ("ops.probe.self_s", self("ops.probe"), "s"),
      ("ops.probe.files_planned", opens("ops.probe"), "count"),
      ("trace.rows_per_s", rowsTimed / intervals.sum, "rows/s"),
      ("trace.batch_p50_s", median(intervals), "s"))
  }
}
