package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of the closed loop. */
final case class Op(id: Int, kind: String, startNs: Long, endNs: Long, ok: Boolean, items: Long,
    cpuS: Double, gcS: Double) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Op {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  /** Process CPU seconds so far: the client thread, Spark's task threads,
    * and the JIT compiler and collector threads. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9
  /** Process CPU seconds and total GC seconds so far. */
  def counters(): (Double, Double) = {
    var gc = 0L
    gcs.forEach(b => gc += math.max(0L, b.getCollectionTime))
    (cpuS(), gc / 1e3)
  }
  /** Memory the program still holds, in MB: heap in use after full
    * collections, and non-heap in use (class metadata, compiled code).
    * Spark's ContextCleaner drops the blocks, shuffles and broadcasts of
    * collected plans on its own thread, so the heap is read after a second
    * collection that follows that cleanup. */
  def retainedMb(): (Double, Double) = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    (mem.getHeapMemoryUsage.getUsed / 1048576.0, mem.getNonHeapMemoryUsage.getUsed / 1048576.0)
  }
}

/** One public graft call made inside a timed operation: its wall time and
  * the process CPU burnt meanwhile. `key` is the call name, with a label
  * where calls of one function differ in cost (one flow per source). */
final case class Call(op: Int, key: String, seconds: Double, cpuS: Double)

/** Run state shared by the workloads: the session, the run's directories,
  * the recorded operations, calls and failed checks, and the optional
  * trace. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val trace: Option[Trace]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val calls = mutable.ArrayBuffer.empty[Call]
  private var currentOp = -1
  val failures = mutable.ArrayBuffer.empty[String]
  /** Extra per-layer values a workload measures itself (name -> value). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var inputFingerprint = ""
  var inputBytes = 0L

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }

  /** Time `body` as one operation of `kind`; it returns (ok, items). A
    * throw counts as a failed operation. */
  def op(kind: String)(body: => (Boolean, Long)): Op = {
    val id = ops.size
    val (cpu0, gc0) = Op.counters()
    val t0 = System.nanoTime()
    currentOp = id
    val (ok, items) =
      try trace.fold(body)(_.span(kind, "op", id)(body))
      catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"$kind #$id threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}"
          (false, 0L)
      } finally currentOp = -1
    val t1 = System.nanoTime()
    val (cpu1, gc1) = Op.counters()
    val o = Op(id, kind, t0, t1, ok, items, cpu1 - cpu0, gc1 - gc0)
    ops += o
    o
  }

  /** One public graft call: timed when inside an operation, and a span
    * when traced. Calls made during set-up are not recorded. */
  def call[A](name: String, label: String = "")(body: => A): A = {
    val cpu0 = Op.cpuS()
    val t0 = System.nanoTime()
    try trace.fold(body)(_.span(name, "call", -1)(body))
    finally if (currentOp >= 0)
      calls += Call(currentOp, if (label.isEmpty) name else s"$name/$label", (System.nanoTime() - t0) / 1e9,
        Op.cpuS() - cpu0)
  }

  def fail(msg: String): Boolean = { failures += msg; false }
}

trait Workload {
  /** Operation kind behind `op_p50_s`, and the one behind `aux_p50_s`. */
  def mainOp: String
  def auxOp: String
  /** Operation kinds whose items count toward `rows_per_s`. */
  def itemOps: Set[String]
  def generate(ctx: Ctx): Unit
  /** Warm-up and the state the timed loop starts from. */
  def setup(ctx: Ctx): Unit
  def loop(ctx: Ctx, deadlineNs: Long): Unit
  /** Post-run correctness checks; appends to ctx.failures. */
  def check(ctx: Ctx): Unit
}

object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val moduleOf = readModules(opts.get("modules"))

    val w: Workload = workload match {
      case "vault_ingest" => new IngestWorkload
      case "corpus_dedup" => new DedupWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val b = graft.core.Sessions.localBuilder(cpus, cpus)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config(graft.core.Scratch.ConfKey, new File(work, "scratch").getAbsolutePath)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) {
      val t = new Trace(spark.sparkContext, moduleOf)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, work, seed, trace)

    val g0 = System.nanoTime()
    val gCpu0 = Op.cpuS()
    w.generate(ctx)
    val genS = (System.nanoTime() - g0) / 1e9
    val genCpuS = Op.cpuS() - gCpu0

    val s0 = System.nanoTime()
    w.setup(ctx)
    val setupS = (System.nanoTime() - s0) / 1e9
    // process CPU from JVM start to the first timed operation, input generation left out
    val setupCpuS = Op.cpuS() - genCpuS
    val firstOpWallS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genS

    val loopStart = System.nanoTime()
    w.loop(ctx, loopStart + (seconds * 1e9).toLong)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val retainedMb = Op.retainedMb()
    w.check(ctx)
    trace.foreach(_ => org.apache.spark.BenchDrain.drain(spark.sparkContext))

    val result = Report.build(w, ctx, workload, seed, seconds, cpus, sessionS, setupS, setupCpuS, genS,
      firstOpWallS, loopS, retainedMb, spark)
    Files.write(new File(opts("out")).toPath, result.getBytes(StandardCharsets.UTF_8))
    trace.foreach { t =>
      Files.write(new File(opts("spans")).toPath, Report.spansJson(t, ctx).getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }

  private def readModules(path: Option[String]): Map[String, String] =
    path.map { p =>
      scala.io.Source.fromFile(p, "UTF-8").getLines().flatMap { l =>
        l.split('\t') match { case Array(f, m) => Some(f -> m); case _ => None }
      }.toMap
    }.getOrElse(Map.empty)
}
