package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Counters are totals over the timed
  * loop divided by its number of cycles (a day for vault_ingest, a crawl
  * and a curated pass for corpus_dedup);
  * public-call spans report their median self time per call (0 when the
  * workload never makes that call). */
object Layers {
  /** Public graft calls the workloads wrap in spans. */
  val CallSpans = Seq("etl.executeFlow", "core.compact", "core.lookup", "core.sql", "dv.currentView", "dv.pitTable",
    "queries.textQuality", "queries.dedupExact", "queries.dedupMinhash", "queries.dedupNgramJaccard",
    "queries.dedupClusters", "queries.corpusDecontaminate", "queries.corpusPack")

  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("jobs") || name.endsWith("stages") || name.endsWith("tasks") || name.endsWith("_ops") ||
      name.endsWith("days_loaded")) "count"
    else "ratio"

  def compute(t: Trace, ctx: Ctx, w: Workload): Seq[(String, Double, String)] = {
    val loopOps = ctx.ops.map(_.id).toSet
    val n = ctx.ops.count(_.kind == w.mainOp).max(1).toDouble
    val opSpan = t.spans.filter(_.kind == "op").map(s => s.op -> s).toMap
    val jobs = t.jobs.values.asScala.toSeq.filter { j =>
      j.span >= 0 && loopOps(t.spans(j.span).op)
    }
    val jobIds = jobs.map(_.id).toSet
    val stages = t.stages.values.asScala.toSeq.filter(s => t.jobOfStage(s.id).exists(jobIds))
    def stageModule(s: Trace.Stage) = t.jobOfStage(s.id).map(id => t.moduleOfJob(t.jobs.get(id))).getOrElse("other")
    val out = Seq.newBuilder[(String, Double, String)]
    def put(name: String, v: Double) = out += ((name, v, unitOf(name)))

    put("spark.jobs", jobs.size / n)
    put("spark.stages", stages.size / n)
    put("spark.tasks", stages.map(_.tasks).sum / n)
    put("spark.exec_cpu_s", stages.map(_.cpuNanos).sum / 1e9 / n)
    put("spark.exec_run_s", stages.map(_.runMillis).sum / 1e3 / n)
    put("spark.shuffle_read_mb", stages.map(_.shuffleRead).sum / 1e6 / n)
    put("spark.shuffle_write_mb", stages.map(_.shuffleWrite).sum / 1e6 / n)
    put("spark.spill_mb", stages.map(_.spill).sum / 1e6 / n)
    put("spark.peak_exec_mem_mb",
      (t.stages.keySet.asScala.map(i => t.peakMemOfStage(i)) + 0L).max / 1e6)
    val gaps = loopOps.toSeq.flatMap(opSpan.get).map { s =>
      val iv = jobs.filter(j => t.spans(j.span).op == s.op && j.end > 0)
        .map(j => (math.max(j.start, s.start), math.min(j.end, s.end))).filter(x => x._2 > x._1)
      (s.end - s.start - Trace.unionLength(iv)) / 1e6
    }
    put("driver.gap_s", gaps.sum / n)

    Trace.Modules.foreach { m =>
      val mj = jobs.filter(j => t.moduleOfJob(j) == m)
      put(s"$m.jobs", mj.size / n)
      put(s"$m.job_s", mj.filter(_.end > 0).map(j => j.end - j.start).sum / 1e6 / n)
      put(s"$m.cpu_s", stages.filter(s => stageModule(s) == m).map(_.cpuNanos).sum / 1e9 / n)
    }

    val fs = loopOps.toSeq.flatMap(opSpan.get).map(_.fs)
    put("fs.read_ops", fs.map(_.readOps).sum / n)
    put("fs.write_ops", fs.map(_.writeOps).sum / n)
    put("fs.list_ops", fs.map(_.listOps).sum / n)
    put("fs.read_mb", fs.map(_.readBytes).sum / 1e6 / n)
    put("fs.write_mb", fs.map(_.writeBytes).sum / 1e6 / n)

    // self time: a span's duration minus the part its child call spans cover
    val children = t.spans.filter(_.parent >= 0).groupBy(_.parent)
    def self(s: Trace.Span): Double = {
      val iv = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      (s.end - s.start - Trace.unionLength(iv.toSeq)) / 1e6
    }
    CallSpans.foreach { name =>
      put(s"${name}_s", Report.median(t.spans.filter(s => s.kind == "call" && s.name == name && s.op >= 0).map(self).toSeq))
    }
    val lookups = t.spans.filter(s => s.kind == "call" && s.name == "core.lookup" && s.op >= 0)
    put("core.read_mb_per_lookup", lookups.map(_.fs.readBytes).sum / 1e6 / lookups.size.max(1))
    put("trace.op_p50_s", Report.typical(ctx, w.mainOp))
    put("trace.aux_p50_s", Report.typical(ctx, w.auxOp))
    out.result()
  }
}
