package graft.tools

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerDrain, SparkContext}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** The per-stage execution record of what a session runs: task metrics
  * keyed by stage, the graft call site of every job and stage (a job run
  * from a Spark-internal thread, e.g. a broadcast or AQE stage, gets the
  * call site of the SQL execution it belongs to), and the
  * engine's `durationMs` split of every streaming micro-batch (progress
  * events reach the Spark listener bus too). [[reset]] before the measured
  * work; every read drains the listener bus first, so it sees every event
  * the work posted. [[close]] detaches the listener. */
final class StageRecorder(sc: SparkContext) extends SparkListener {
  import StageRecorder._

  private val stageMap = mutable.TreeMap.empty[Int, Stage]
  private val jobLines = mutable.ArrayBuffer.empty[String]
  private val batchLines = mutable.ArrayBuffer.empty[String]
  private val sqlSites = mutable.HashMap.empty[String, String] // SQL execution id -> call site
  private val stageSites = mutable.HashMap.empty[Int, String] // stage id -> its job's call site
  sc.addSparkListener(this)

  def reset(): Unit = {
    drain()
    synchronized { Seq(stageMap, jobLines, batchLines, sqlSites, stageSites).foreach(_.clear()) }
  }
  def stages: Seq[Stage] = { drain(); synchronized(stageMap.values.toList) }
  def jobs: Seq[String] = { drain(); synchronized(jobLines.toList) }
  def batches: Seq[String] = { drain(); synchronized(batchLines.toList) }
  def close(): Unit = sc.removeSparkListener(this)
  private def drain(): Unit = GraftListenerDrain.drain(sc)
  private def stage(id: Int): Stage = stageMap.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(j.properties).flatMap(p => Option(p.getProperty(k)))
    val site = graftFrame(j.stageInfos.map(_.details))
      .orElse(prop("spark.sql.execution.id").flatMap(sqlSites.get))
      .orElse(prop("callSite.short")).getOrElse("")
    j.stageIds.foreach(stageSites(_) = site)
    jobLines += s"job ${j.jobId}: stages=${j.stageIds.mkString(",")} $site"
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    val info = s.stageInfo
    stage(info.stageId).name = graftFrame(Seq(info.details))
      .orElse(stageSites.get(info.stageId).filter(_.nonEmpty))
      .getOrElse(info.name.takeWhile(_ != '\n'))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null) synchronized(stage(t.stageId).add(t.taskMetrics))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      val site = graftFrame(Seq(x.details)).getOrElse(x.description)
      synchronized(sqlSites(x.executionId.toString) = site)
    case q: QueryProgressEvent =>
      val p = q.progress
      val d = p.durationMs.asScala.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=${v}ms" }
      val st = p.stateOperators.toSeq.map(o => s"state.${o.operatorName}.commit=${o.commitTimeMs}ms")
      synchronized(batchLines += s"batch ${p.batchId}: rows=${p.numInputRows} ${(d ++ st).mkString(" ")}")
    case _ => ()
  }
}

object StageRecorder {
  /** Task totals of one stage, plus every task's run time for skew checks.
    * `deserCpuNs` is the CPU tasks spent deserializing their task before it
    * ran (`executorDeserializeCpuTime`, outside `cpuNs`): a write task
    * deserializes its job's Hadoop configuration there, so the fixed cost
    * of a task shows in it. */
  final class Stage(val id: Int) {
    var name = ""
    var tasks, runMs, cpuNs, deserCpuNs, maxTaskMs, inputBytes, shuffleReadBytes,
      maxTaskShuffleReadBytes, shuffleWriteBytes, memSpillBytes, diskSpillBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]

    def add(m: TaskMetrics): Unit = {
      val read = m.shuffleReadMetrics.totalBytesRead
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      deserCpuNs += m.executorDeserializeCpuTime
      maxTaskMs = math.max(maxTaskMs, m.executorRunTime)
      inputBytes += m.inputMetrics.bytesRead
      shuffleReadBytes += read
      maxTaskShuffleReadBytes = math.max(maxTaskShuffleReadBytes, read)
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      memSpillBytes += m.memoryBytesSpilled
      diskSpillBytes += m.diskBytesSpilled
      taskMs += m.executorRunTime
    }

    def medianTaskMs: Long = { val s = taskMs.sorted; if (s.isEmpty) 0L else s(s.size / 2) }

    def line: String =
      f"stage $id%4d: tasks=$tasks%5d run=${runMs / 1e3}%8.2f s cpu=${cpuNs / 1e9}%8.2f s " +
        f"deserCpu=${deserCpuNs / 1e9}%6.2f s " +
        f"maxTask=${maxTaskMs / 1e3}%6.2f s input=${mb(inputBytes)}%8.1f MB " +
        f"shufRead=${mb(shuffleReadBytes)}%8.1f MB shufWrite=${mb(shuffleWriteBytes)}%8.1f MB " +
        f"spillMem=${mb(memSpillBytes)}%7.1f MB spillDisk=${mb(diskSpillBytes)}%7.1f MB  $name"
  }

  def mb(bytes: Long): Double = bytes / 1048576.0

  /** The first graft frame below Spark in a call-site stack, skipping the
    * tools that drive the run. */
  private def graftFrame(details: Seq[String]): Option[String] =
    details.iterator.flatMap(_.linesIterator).map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.tools."))
}
