package silviabench

import java.io.FilterOutputStream
import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One recorded span: a layer call made from the benchmark's own code. */
final case class Span(name: String, start: Long, end: Long, parent: String, run: String)

/** Per-job totals, attributed to the span that launched the job. */
final class JobStats(val span: String, val submitted: Long) {
  @volatile var ended: Long = -1L
  var tasks, runMs, cpuNs, gcMs, shuffleBytes = 0L
}

/** Spans, Spark job attribution and filesystem/JDBC counters.
  *
  * Spans are cheap and always on: the untimed and timed phases use the same
  * code. The listener, the counting filesystem and the counting JDBC driver
  * are installed only for a traced run (`--trace 1`). A job belongs to the
  * span that was innermost on the submitting thread, carried to the job as
  * the `silviabench.span` local property, which Spark hands to each task
  * too, so executor-side filesystem calls are attributed the same way.
  */
object Trace {
  val SpanProp = "silviabench.span"
  @volatile var runId = ""
  /** Counters count only while set: the timed batches of a run. */
  @volatile var recording = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[String]] { override def initialValue = Nil }

  def span[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val outer = stack.get
    val prev = sc.getLocalProperty(SpanProp)
    stack.set(name :: outer)
    sc.setLocalProperty(SpanProp, name)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      sc.setLocalProperty(SpanProp, prev)
      spans.synchronized(spans += Span(name, t0, t1, outer.headOption.getOrElse(""), runId))
    }
  }

  /** The span a call on this thread belongs to: the task's span on an
    * executor thread, else the innermost open span, else the span a
    * streaming query's thread inherited when the query was started.
    */
  def currentSpan: String = {
    val tc = TaskContext.get()
    if (tc != null) Option(tc.getLocalProperty(SpanProp)).getOrElse("")
    else stack.get.headOption
      .orElse(Option(sc).flatMap(c => Option(c.getLocalProperty(SpanProp)))).getOrElse("")
  }
  @volatile var sc: SparkContext = _

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Write every span as one JSON line (times in ns of the JVM's clock). */
  def writeSpans(path: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), allSpans.map { s =>
      s"""{"name":"${s.name}","start":${s.start},"end":${s.end},"parent":"${s.parent}","run":"${s.run}"}"""
    }.asJava)
  }

  /** Self time of every span named `name` inside [t0, t1]: its duration
    * minus the part of it covered by its child spans.
    */
  def selfSeconds(name: String, t0: Long, t1: Long): Double = {
    val all = allSpans.filter(s => s.start >= t0 && s.end <= t1)
    all.filter(_.name == name).map { s =>
      val kids = all.filter(c => c.parent == name && c.start >= s.start && c.end <= s.end)
      (s.end - s.start) - covered(kids.map(c => (c.start, c.end)))
    }.sum / 1e9
  }

  /** Time covered by the direct children of the spans named `name`
    * inside [t0, t1].
    */
  def childSeconds(name: String, t0: Long, t1: Long): Double = {
    val all = allSpans.filter(s => s.start >= t0 && s.end <= t1)
    all.filter(_.name == name).map { s =>
      covered(all.filter(c => c.parent == name && c.start >= s.start && c.end <= s.end)
        .map(c => (c.start, c.end)))
    }.sum / 1e9
  }

  def covered(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }

  // --- Spark jobs -------------------------------------------------------------

  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  object Listener extends SparkListener {
    // listener-bus times are wall-clock ms; spans are nanoTime: convert once
    private val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).getOrElse("")
      jobs.put(e.jobId, new JobStats(span, e.time * 1000000L + offset))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.ended = e.time * 1000000L + offset)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).map(jobs.get).orNull
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def jobsIn(t0: Long, t1: Long): Seq[JobStats] =
    jobs.values.asScala.filter(j => j.submitted >= t0 && j.submitted <= t1).toSeq

  // --- counters ---------------------------------------------------------------

  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  def inc(name: String, by: Long = 1L): Unit = if (recording)
    counts.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(by)
  def count(name: String): Long = Option(counts.get(name)).map(_.get).getOrElse(0L)

  /** Count one filesystem operation against the current span. */
  def fsOp(f: Path): Unit =
    if (recording && !untracked.exists(f.toString.contains)) inc(s"fs_ops:$currentSpan")
  /** Path parts whose operations are not counted: a stream source's
    * input directories, which an idle query lists at wall-clock intervals.
    */
  @volatile var untracked: Seq[String] = Nil

  /** Count one created file against the current span, and a parquet
    * file also by the bytes written to it, counted when it is closed.
    */
  def fsCreate(f: Path, file: FSDataOutputStream): FSDataOutputStream =
    if (!recording) file
    else {
      fsOp(f)
      if (!f.getName.endsWith(".parquet")) file
      else {
        val span = currentSpan
        inc(s"fs_create_parquet:$span")
        new FSDataOutputStream(new FilterOutputStream(file) {
          override def write(b: Array[Byte], off: Int, len: Int): Unit = file.write(b, off, len)
          override def close(): Unit = {
            val n = file.getPos
            file.close()
            inc(s"fs_bytes_parquet:$span", n)
          }
        }, null)
      }
    }

  /** Count one open of a parquet data file against the current span. */
  def fsOpen(f: Path): Unit = if (recording) {
    fsOp(f)
    if (f.getName.endsWith(".parquet")) inc(s"fs_open_parquet:$currentSpan")
  }
}

/** `fs.file.impl` for a traced run: the local filesystem, counting every
  * operation the lake, the indexes and the stream checkpoint issue.
  */
class CountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { Trace.fsOpen(f); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    Trace.fsCreate(f, super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  }
  override def rename(src: Path, dst: Path): Boolean = { Trace.fsOp(src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { Trace.fsOp(f); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { Trace.fsOp(f); super.mkdirs(f, permission) }
  override def listStatus(f: Path): Array[FileStatus] = { Trace.fsOp(f); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { Trace.fsOp(f); super.getFileStatus(f) }
}

/** `jdbc:counting:<url>` → the Derby URL behind it, with every statement
  * added, every commit, and UPDATE/INSERT row statements counted.
  */
class CountingDriver extends Driver {
  private val Prefix = "jdbc:counting:"
  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
  override def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else wrap(DriverManager.getConnection(url.stripPrefix(Prefix)), classOf[Connection])
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger = java.util.logging.Logger.getGlobal
  override def getPropertyInfo(url: String, info: java.util.Properties): Array[DriverPropertyInfo] =
    Array.empty

  private def wrap[T](target: AnyRef, iface: Class[T], sql: String = ""): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          m.getName match {
            case "commit" => Trace.inc("jdbc.commits")
            case "addBatch" | "executeUpdate" =>
              Trace.inc("jdbc.stmts")
              if (sql.startsWith("UPDATE")) Trace.inc("jdbc.update_stmts")
              if (sql.startsWith("INSERT")) Trace.inc("jdbc.insert_stmts")
            case _ => ()
          }
          val r =
            try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
            catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
          if (m.getName == "prepareStatement")
            wrap(r, classOf[PreparedStatement], args(0).toString.trim.toUpperCase)
          else r
        }
      }).asInstanceOf[T]
}

object CountingDriver {
  def register(): Unit = DriverManager.registerDriver(new CountingDriver)
  def url(derbyUrl: String): String = "jdbc:counting:" + derbyUrl
}
