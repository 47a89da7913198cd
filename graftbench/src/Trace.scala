package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Filesystem counters at a span boundary: Hadoop `FileSystem.Statistics`
  * bytes summed over every scheme, plus the operation counts the counting
  * local filesystem below records. */
final case class FsSnap(readBytes: Long, writeBytes: Long, readOps: Long, writeOps: Long, listOps: Long) {
  def -(o: FsSnap): FsSnap = FsSnap(readBytes - o.readBytes, writeBytes - o.writeBytes,
    readOps - o.readOps, writeOps - o.writeOps, listOps - o.listOps)
}

object FsSnap {
  val Zero: FsSnap = FsSnap(0, 0, 0, 0, 0)

  @scala.annotation.nowarn("cat=deprecation")
  def now(): FsSnap = {
    val stats = FileSystem.getAllStatistics.asScala
    FsSnap(stats.map(_.getBytesRead).sum, stats.map(_.getBytesWritten).sum,
      CountingLocalFs.opens.get, CountingLocalFs.writes.get, CountingLocalFs.lists.get)
  }
}

/** `file:` filesystem used by traced runs (`spark.hadoop.fs.file.impl`):
  * the stock local filesystem, counting opens, listings and
  * create/rename/delete/mkdirs calls. Untraced runs use the stock class. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int) = { opens.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long, progress: org.apache.hadoop.util.Progressable) = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
}

object CountingLocalFs {
  val opens = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong
}

/** In-memory span recorder plus a SparkListener. Spans are opened by the
  * benchmark around each operation and each public graft call it makes;
  * the span id rides a thread-local Spark property, so every job a span
  * submits is attributed to it. Nothing is written until the run ends
  * ([[Report.spansJson]]). */
final class Trace(sc: SparkContext, moduleOf: Map[String, String]) extends SparkListener {
  import Trace._

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  /** Wall clock in microseconds since the epoch on a monotonic base. */
  def nowMicros(): Long = t0Millis * 1000L + (System.nanoTime() - t0Nanos) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stagePeakMem = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execModule = new ConcurrentHashMap[Long, String]()

  def span[A](name: String, kind: String, op: Int)(body: => A): A = {
    val parent = stack.headOption
    val s = Span(spans.size, name, kind, parent.map(_.id).getOrElse(-1),
      if (op >= 0) op else parent.map(_.op).getOrElse(-1), nowMicros(), FsSnap.now())
    spans += s
    stack = s :: stack
    val before = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = nowMicros()
      s.fs1 = FsSnap.now()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, before)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(SpanProp).map(_.toInt).getOrElse(-1)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    val exec = prop("spark.sql.execution.id").map(_.toLong)
    jobs.put(e.jobId, Job(e.jobId, span, e.time * 1000L, e.stageIds, site, exec))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  /** A SQL execution's call stack names the graft frame that triggered it;
    * its jobs (AQE stage jobs included, whose own call site is a thread
    * pool) take that frame's module. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      GraftFrame.findFirstMatchIn(x.details).map(_.group(1)).foreach(m => execModule.put(x.executionId, m))
    case _ => ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000L)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      stagePeakMem.merge(e.stageId, m.peakExecutionMemory, (a, b) => java.lang.Long.max(a, b))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, Stage(i.stageId, i.name, i.numTasks,
      m.executorCpuTime, m.executorRunTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Module of a job: the innermost graft frame of its SQL execution's
    * call stack, else its call-site source file (the `at Lake.scala:NNN`
    * of the stage name) mapped to the graft package holding it, else (the
    * benchmark's own files collecting a result) the module of the span
    * that submitted it. Packages outside the reported ones count as
    * `other`. */
  def moduleOfJob(j: Job): String = {
    val m = j.exec.flatMap(id => Option(execModule.get(id)))
      .orElse(SiteRe.findFirstMatchIn(j.site).flatMap(x => moduleOf.get(x.group(1))).filter(_ != "graft"))
      .orElse(Option(j.span).filter(_ >= 0).map(s => spans(s).name.takeWhile(_ != '.')))
      .getOrElse("other")
    if (Reported.contains(m)) m else "other"
  }

  def jobOfStage(id: Int): Option[Int] = Option(stageJob.get(id)).map(_.intValue)
  def peakMemOfStage(id: Int): Long = Option(stagePeakMem.get(id)).map(_.longValue).getOrElse(0L)
}

object Trace {
  val SpanProp = "graftbench.span"
  val Reported = Seq("core", "meta", "etl", "dv", "queries")
  val Modules: Seq[String] = Reported :+ "other"
  private val SiteRe = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r
  /** First stack line in a graft sub-package: `graft.<module>.Class...`. */
  private val GraftFrame = """(?m)^\s*(?:at )?graft\.([a-z]+)\.[A-Z]""".r

  final case class Span(id: Int, name: String, kind: String, parent: Int, op: Int, start: Long, fs0: FsSnap) {
    var end: Long = -1L
    var fs1: FsSnap = FsSnap.Zero
    def fs: FsSnap = fs1 - fs0
  }
  final case class Job(id: Int, span: Int, start: Long, stageIds: Seq[Int], site: String, exec: Option[Long]) {
    var end: Long = -1L
  }
  final case class Stage(id: Int, name: String, tasks: Int, cpuNanos: Long, runMillis: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
