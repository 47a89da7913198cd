package graftbench

import java.io.File
import java.util.SplittableRandom

import graft.Graft

/** vault_ingest: metadata-driven incremental loading of daily batches
  * through `Graft.executeFlow`, with the vault read back after every day.
  *
  * Set-up loads day 1 (the backfill) into a fresh lake and reads it back
  * once, untimed, so the timed calls are compiled. The closed loop then
  * processes one day at a time as two operations:
  *  - `write`: the three source flows of the day, the previous day's
  *    orders file submitted again (it must come back skipped) and the
  *    compaction of one satellite (each is compacted every second day);
  *  - `read`: a point-lookup pair and one set of analytic scans
  *    ([[Reads]]), checked against the generator's state for that day.
  * Reads therefore see one freshly compacted satellite and one with a
  * compacted generation plus appended files. */
final class IngestWorkload extends Workload {
  val mainOp = "write"
  val auxOp = "read"
  val itemOps = Set("write")

  private var gen: VaultGen = _
  private var files: Seq[VaultGen.DayFiles] = Nil
  private var g: Graft = _
  private var reads: Reads = _
  private var lastDay = 0
  private var flows = 0
  private var skipped = 0
  private var inserted = 0L
  private var staged = 0L
  private var compactWritten = 0L
  private var compactTableBytes = 0L
  private var backfillS = 0.0
  private val Compacted = Seq("hsat_customer", "hsat_order")

  def generate(ctx: Ctx): Unit = {
    gen = new VaultGen(ctx.seed, Sizes.Customers, Sizes.Orders, Sizes.IngestDays)
    files = gen.writeAll(ctx.dir("inputs"))
    Inputs.record(ctx, ctx.dir("inputs"))
    Inputs.writeTruth(new File(ctx.dir("inputs"), "truth.json"), gen)
  }

  def setup(ctx: Ctx): Unit = {
    g = Vault.open(ctx.spark, ctx.dir("lake").getAbsolutePath)
    reads = new Reads(ctx, g, gen, new SplittableRandom(ctx.seed * 31 + 7))
    val t0 = System.nanoTime()
    loadDay(ctx, files.head)
    backfillS = (System.nanoTime() - t0) / 1e9
    lastDay = 1
    // warm the read paths too: one untimed lookup pair and scan set
    reads.lookup(1)
    reads.scans(1)
  }

  private def loadDay(ctx: Ctx, f: VaultGen.DayFiles): Boolean =
    Vault.Sources.map { s =>
      val r = ctx.call("etl.executeFlow", s)(Vault.flow(g, s, Vault.fileOf(f, s), f.day))
      flows += 1
      inserted += r.loaded.values.sum
      r.status == "success" || ctx.fail(s"flow $s day ${f.day}: ${r.status} ${r.errors.mkString("; ")}")
    }.forall(identity)

  def loop(ctx: Ctx, deadlineNs: Long): Unit = {
    flows = 0; inserted = 0L
    var day = 2
    while (day <= files.size && System.nanoTime() < deadlineNs) {
      val f = files(day - 1)
      val prev = files(day - 2)
      // one satellite per day, each every second day: every write compacts once
      val compacted = Compacted(day % Compacted.size)
      val size = Inputs.du(new File(g.lake.tablePath("dv", compacted)))
      val w = ctx.op("write") {
        val loaded = loadDay(ctx, f)
        staged += f.rows
        val r = ctx.call("etl.executeFlow", "resubmitted")(Vault.flow(g, "stg_orders", prev.orders, prev.day))
        flows += 1
        if (r.skipped) skipped += 1
        val skipOk = r.skipped || ctx.fail(s"resubmitted ${prev.orders} came back ${r.status}")
        ctx.call("core.compact")(g.compact("dv", compacted))
        (loaded && skipOk, f.rows)
      }
      ctx.trace.foreach { t =>
        compactWritten += t.spans.filter(s => s.op == w.id && s.name == "core.compact").map(_.fs.writeBytes).sum
        compactTableBytes += size
      }
      lastDay = day
      ctx.op("read") {
        val a = reads.lookup(day)
        val b = reads.scans(day)
        (a._1 && b._1, a._2 + b._2)
      }
      day += 1
    }
  }

  def check(ctx: Ctx): Unit = {
    Vault.checkVault(g, gen.truth(lastDay - 1)).foreach(ctx.fail)
    val lakeBytes = Inputs.du(new File(g.lakeRoot, "dv"))
    val inputBytes = files.take(lastDay).map(f =>
      Seq(f.customer, f.orders, f.lineitem).map(p => new File(p).length).sum).sum
    ctx.layer("backfill_s") = backfillS
    ctx.layer("core.stored_bytes_per_input_byte") = lakeBytes.toDouble / inputBytes
    ctx.layer("dv.inserted_per_staged") = inserted.toDouble / staged.max(1L)
    ctx.layer("etl.skip_ratio") = skipped.toDouble / flows.max(1)
    ctx.layer("core.compact_rewrite_ratio") = compactWritten.toDouble / compactTableBytes.max(1L)
    ctx.layer("core.files_per_table") =
      Vault.Tables.map(t => Inputs.dataFiles(g.lake.dataPath("dv", t))).sum.toDouble / Vault.Tables.size
    ctx.layer("days_loaded") = lastDay
  }
}
