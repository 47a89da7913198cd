package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.core.{Json, Sessions}

/** Profiles registered [[graft.SparkEntry]] queries in the session Bench
  * builds ([[Sessions.benchSession]]), so the plan profiled is the plan
  * Bench runs. For every rep and query it prints the wall time, each Spark
  * job with its graft call site, a per-stage task-metrics table, one
  * `durationMs` line per streaming micro-batch, and one JSON row of totals.
  *
  * Usage: `runMain graft.tools.Prof [--explain <dir> <suffix>] [query ...]`
  * (no query names = every registered query). `--explain` first writes each
  * query's formatted plan, as the base side builds it, to
  * `<dir>/<query>_<suffix>.txt`. Environment:
  *   - `SPARK_GRAFT_SF_DIR` (required), `SPARK_GRAFT_CPUS` (default 4),
  *     `SPARK_GRAFT_PROF_REPS` (default 3);
  *   - `SPARK_GRAFT_EXTRA_CONF` (`k=v;k2=v2`, as in Bench): set on both sides;
  *   - `SPARK_GRAFT_AB_CONF` (`k=v;k2=v2`): every rep runs a base side, then
  *     a conf side with these set, restoring the session conf after it, so
  *     both sides share one noise window.
  *
  * `codegen_compiles` counts the Janino compiles during the query (the
  * JVM-wide `CodegenMetrics` compile count, so a concurrent query in the
  * same JVM is counted too): 0 on a warm rep means every generated class
  * came from Spark's compiled-class cache. */
object Prof {
  type Query = (SparkSession, String) => DataFrame

  /** One query on one side of one rep: wall time, failure, job count, the
    * Janino compiles it caused and the per-stage record. */
  final case class Row(query: String, side: String, rep: Int, sec: Double, err: Option[String],
      jobs: Int, compiles: Long, stages: Seq[StageRecorder.Stage]) {
    def tasks: Long = stages.map(_.tasks).sum

    def json: String = {
      def sum(f: StageRecorder.Stage => Long): Long = stages.map(f).sum
      def max(f: StageRecorder.Stage => Long): Long = stages.map(f).maxOption.getOrElse(0L)
      def mb(f: StageRecorder.Stage => Long): String = f"${StageRecorder.mb(sum(f))}%.1f"
      f"""{"q":${Json.str(query)},"side":"$side","rep":$rep,"sec":$sec%.3f,"ok":${err.isEmpty}""" +
        f""","jobs":$jobs,"codegen_compiles":$compiles,"stages":${stages.size},"tasks":$tasks""" +
        f""","run_s":${sum(_.runMs) / 1e3}%.2f,"cpu_s":${sum(_.cpuNs) / 1e9}%.2f""" +
        s""","input_mb":${mb(_.inputBytes)},"shuffle_write_mb":${mb(_.shuffleWriteBytes)}""" +
        s""","shuffle_read_mb":${mb(_.shuffleReadBytes)},"spill_mem_mb":${mb(_.memSpillBytes)}""" +
        s""","spill_disk_mb":${mb(_.diskSpillBytes)}""" +
        f""","max_task_shuffle_read_mb":${StageRecorder.mb(max(_.maxTaskShuffleReadBytes))}%.1f""" +
        f""","max_task_sec":${max(_.maxTaskMs) / 1e3}%.2f""" +
        err.fold("}")(e => s""","err":${Json.str(e)}}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val (explain, names) = args.toList match {
      case "--explain" :: dir :: suffix :: rest => (Some((dir, suffix)), rest)
      case rest => (None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("SPARK_GRAFT_SF_DIR is required"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "3").toInt
    val ab = sys.env.get("SPARK_GRAFT_AB_CONF").fold(Seq.empty[(String, String)])(Sessions.parseConf)
    val registered = graft.SparkEntry.queries
    val unknown = names.filterNot(registered.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val queries = (if (names.isEmpty) registered.keys.toSeq.sorted else names).map(q => q -> registered(q))
    val spark = Sessions.benchSession(cpus, cpus)
    try {
      spark.sparkContext.setLogLevel("WARN")
      explain.foreach { case (dir, suffix) => writePlans(spark, sfDir, queries, dir, suffix) }
      // untimed warm-up: page cache and codegen first hits land here
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_name").count().write.format("noop").mode("overwrite").save()
      run(spark, sfDir, queries, reps, ab)
    } finally spark.stop()
  }

  /** Runs every query `reps` times on `spark`, a base side and, when `ab`
    * is non-empty, a conf side per rep, printing through `out`. Leaves the
    * session running, with its conf as it found it. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)], reps: Int,
      ab: Seq[(String, String)], out: String => Unit = println): Seq[Row] = {
    val rec = new StageRecorder(spark.sparkContext)
    def side(rep: Int, name: String): Seq[Row] = queries.map { case (q, fn) =>
      rec.reset()
      val c0 = compiles()
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      val sec = (System.nanoTime() - t0) / 1e9
      val jobs = rec.jobs
      val row = Row(q, name, rep, sec, err, jobs.size, compiles() - c0, rec.stages)
      out(f"[prof] $q side=$name rep=$rep wall=$sec%.3f s jobs=${jobs.size} codegen_compiles=${row.compiles}")
      (jobs ++ row.stages.map(_.line) ++ rec.batches).foreach(l => out(s"[prof]   $l"))
      out(s"[prof] ${row.json}")
      row
    }
    try (1 to reps).flatMap { rep =>
      side(rep, "base") ++ (if (ab.isEmpty) Nil else withConf(spark, ab)(side(rep, "conf")))
    } finally rec.close()
  }

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` with `kvs` set on the session, then puts back each key's
    * previous value, or unsets it if it had none. */
  private def withConf[A](spark: SparkSession, kvs: Seq[(String, String)])(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { Sessions.applyConf(spark, kvs); body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def writePlans(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      dir: String, suffix: String): Unit = {
    val outDir = Files.createDirectories(Paths.get(dir))
    for ((q, fn) <- queries) {
      val text = fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(s"${q}_$suffix.txt"), text)
      println(s"[prof] wrote ${q}_$suffix.txt (${text.length} chars)")
    }
  }
}
