package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Json.str

/** Turns a finished run into the result JSON the launcher reads. */
object Report {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value), or None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10).map { p =>
      p -> s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1))
    }
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** Every `spark.graft.*` key the library defines (the `*Key` constants of
    * graft.core.Confs) with the value in effect, or "default". */
  private def graftConfs(spark: SparkSession): Seq[(String, String)] = {
    val declared = graft.core.Confs.getClass.getMethods.toSeq
      .filter(m => m.getName.endsWith("Key") && m.getParameterCount == 0 && m.getReturnType == classOf[String])
      .map(_.invoke(graft.core.Confs).asInstanceOf[String])
    val set = spark.conf.getAll.keys.filter(_.startsWith("spark.graft."))
    (declared ++ set ++ Seq(graft.core.Lake.BucketsKey)).distinct.sorted
      .map(k => k -> str(spark.conf.getOption(k).getOrElse("default")))
  }

  /** Wall time (or, with `cpu`, process CPU) of a typical operation of
    * `kind`: for every call key made in those operations, its calls per
    * operation times its median, summed. A run holds few operations of a
    * kind, so a median per call keeps one slow call from deciding the run.
    * An operation kind without calls counts by the median of its own. */
  def typical(ctx: Ctx, kind: String, cpu: Boolean = false): Double = {
    val ops = ctx.ops.filter(_.kind == kind)
    val ids = ops.map(_.id).toSet
    val calls = ctx.calls.filter(c => ids(c.op))
    if (calls.isEmpty) median(ops.map(o => if (cpu) o.cpuS else o.seconds).toSeq)
    else calls.groupBy(_.key).values.map { g =>
      g.size.toDouble / ops.size * median(g.map(c => if (cpu) c.cpuS else c.seconds).toSeq)
    }.sum
  }

  def build(w: Workload, ctx: Ctx, workload: String, seed: Long, seconds: Double, cpus: String,
      sessionS: Double, workloadSetupS: Double, setupCpuS: Double, genS: Double, firstOpWallS: Double, loopS: Double,
      retainedMb: (Double, Double), spark: SparkSession): String = {
    val byKind = ctx.ops.groupBy(_.kind)
    def lat(kind: String) = byKind.getOrElse(kind, Nil).map(_.seconds).toSeq
    // items of a typical operation per second of its typical latency
    val itemKinds = w.itemOps.toSeq.filter(byKind.contains)
    val rowsPerS = itemKinds.map(k => byKind(k).map(_.items).sum.toDouble / byKind(k).size).sum /
      itemKinds.map(typical(ctx, _)).sum.max(1e-9)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics("setup_s") = (setupCpuS, "s")
    metrics("op_cpu_s") = (typical(ctx, w.mainOp, cpu = true), "s")
    metrics("aux_cpu_s") = (typical(ctx, w.auxOp, cpu = true), "s")
    metrics("retained_mb") = (retainedMb._1, "MB")

    // wall-clock latency and throughput: reported, not gated (README)
    val info = mutable.LinkedHashMap.empty[String, (Double, String)]
    info("op_p50_s") = (typical(ctx, w.mainOp), "s")
    info("aux_p50_s") = (typical(ctx, w.auxOp), "s")
    info("rows_per_s") = (rowsPerS, "rows/s")
    Seq(w.mainOp -> "op", w.auxOp -> "aux").foreach { case (kind, label) =>
      tail(lat(kind)).foreach { case (p, v) =>
        info(s"${label}_tail_s") = (v, "s")
        info(s"${label}_tail_pct") = (p.toDouble, "pct")
      }
      info(s"${label}_n") = (lat(kind).size.toDouble, "count")
    }
    byKind.keys.toSeq.sorted.foreach { k => info(s"$k.p50_s") = (median(lat(k)), "s") }
    ctx.calls.groupBy(_.key).toSeq.sortBy(_._1).foreach { case (k, cs) =>
      info(s"call.$k.p50_s") = (median(cs.map(_.seconds).toSeq), "s")
      info(s"call.$k.n") = (cs.size.toDouble, "count")
    }
    info("setup_wall_s") = (sessionS + workloadSetupS, "s")
    info("setup_session_s") = (sessionS, "s")
    info("setup_workload_s") = (workloadSetupS, "s")
    info("setup_first_op_wall_s") = (firstOpWallS, "s")
    info("input_gen_s") = (genS, "s")
    info("input_mb") = (ctx.inputBytes / 1e6, "MB")
    info("loop_s") = (loopS, "s")
    info("error_rate") = (ctx.ops.count(!_.ok).toDouble / ctx.ops.size.max(1), "ratio")

    val layer: Seq[(String, Double, String)] = ctx.trace.map(t => Layers.compute(t, ctx, w)).getOrElse(Nil) ++
      ctx.layer.toSeq.map { case (k, v) => (k, v, Layers.unitOf(k)) }

    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    info("peak_rss_mb") = (rss, "MB")
    info("retained_nonheap_mb") = (retainedMb._2, "MB")

    val env = Seq(
      "nproc" -> num(Runtime.getRuntime.availableProcessors),
      "cpus" -> str(cpus),
      "master" -> str(spark.sparkContext.master),
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> str(spark.version),
      "jdk" -> str(System.getProperty("java.runtime.version")),
      "graft_confs" -> obj(graftConfs(spark)))
    def mset(m: Iterable[(String, (Double, String))]) =
      obj(m.toSeq.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
    obj(Seq(
      "workload" -> str(workload), "seed" -> num(seed.toDouble), "seconds" -> num(seconds),
      "traced" -> (if (ctx.trace.isDefined) "true" else "false"),
      "env" -> obj(env),
      "input_fingerprint" -> str(ctx.inputFingerprint),
      "attempted" -> num(ctx.ops.size.toDouble),
      "failed" -> num(ctx.ops.count(!_.ok).toDouble),
      "failures" -> ctx.failures.take(50).map(str).mkString("[", ",", "]"),
      "ops" -> ctx.ops.map(o => obj(Seq("kind" -> str(o.kind), "seconds" -> num(o.seconds), "cpu_s" -> num(o.cpuS),
        "gc_s" -> num(o.gcS), "ok" -> (if (o.ok) "true" else "false")))).mkString("[", ",", "]"),
      "metrics" -> mset(metrics),
      "info" -> mset(info),
      "layer" -> mset(layer.map { case (k, v, u) => k -> (v, u) })))
  }

  /** Every span, job and stage of a traced run, for offline analysis. */
  def spansJson(t: Trace, ctx: Ctx): String = {
    val spans = t.spans.map { s =>
      obj(Seq("id" -> num(s.id), "name" -> str(s.name), "kind" -> str(s.kind), "parent" -> num(s.parent),
        "op" -> num(s.op), "start_us" -> num(s.start.toDouble), "end_us" -> num(s.end.toDouble),
        "fs" -> obj(Seq("read_bytes" -> num(s.fs.readBytes.toDouble), "write_bytes" -> num(s.fs.writeBytes.toDouble),
          "read_ops" -> num(s.fs.readOps.toDouble), "write_ops" -> num(s.fs.writeOps.toDouble),
          "list_ops" -> num(s.fs.listOps.toDouble)))))
    }
    val jobs = t.jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      // a job is a child span of the span that submitted it
      obj(Seq("id" -> num(j.id), "parent_span" -> num(j.span), "site" -> str(j.site),
        "module" -> str(t.moduleOfJob(j)), "sql_execution" -> num(j.exec.getOrElse(-1L).toDouble),
        "start_us" -> num(j.start.toDouble), "end_us" -> num(j.end.toDouble),
        "stages" -> j.stageIds.map(i => num(i.toDouble)).mkString("[", ",", "]")))
    }
    val stages = t.stages.values.asScala.toSeq.sortBy(_.id).map { s =>
      obj(Seq("id" -> num(s.id), "name" -> str(s.name), "tasks" -> num(s.tasks),
        "cpu_s" -> num(s.cpuNanos / 1e9), "run_s" -> num(s.runMillis / 1e3),
        "shuffle_read_bytes" -> num(s.shuffleRead.toDouble), "shuffle_write_bytes" -> num(s.shuffleWrite.toDouble),
        "spill_bytes" -> num(s.spill.toDouble), "peak_task_exec_mem_bytes" -> num(t.peakMemOfStage(s.id).toDouble)))
    }
    val ops = ctx.ops.map(o => obj(Seq("id" -> num(o.id), "kind" -> str(o.kind), "seconds" -> num(o.seconds),
      "ok" -> (if (o.ok) "true" else "false"), "items" -> num(o.items.toDouble))))
    obj(Seq("ops" -> ops.mkString("[", ",", "]"), "spans" -> spans.mkString("[", ",", "]"),
      "jobs" -> jobs.mkString("[", ",", "]"), "stages" -> stages.mkString("[", ",", "]")))
  }
}
