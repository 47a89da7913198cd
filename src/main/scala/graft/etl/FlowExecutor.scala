package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.core.Lake
import graft.dv.{DvOps, HashGen, HashView, LoadContext}
import graft.meta.{MetaStore, Transition}

/** One vault-load flow outcome. Errors are typed ([[DvError]]) so callers
  * dispatch on the failure kind like the reference's DVException handlers. */
final case class FlowResult(
    runId: Long, // 0 = skipped (no run started); -1 = failed before a run id was allocated
    status: String, // success | failure | skipped
    skipped: Boolean,
    errors: Seq[DvError],
    loaded: Map[String, Long] // target table -> rows appended
)

/** Flow orchestration — the Spark re-expression of the reference's
  * FlowExecutor (mallarddv/etl/flow_executor.py:60-252) over a [[Lake]]:
  *
  *   idempotency check (skip a file already ingested with status=success)
  *   → run_id allocation (max over the runinfo ledger + 1)
  *   → runinfo(start)
  *   → stage load (file → typed staging table, truncate-and-load)
  *   → hash view (metadata-driven, graft.dv.HashView)
  *   → hub loads → link loads → satellite loads (delta / full)
  *   → runinfo(success | failure).
  *
  * Targets are discovered from the transitions exactly like the reference:
  * hubs = target_table `hub_*` grouped by (target, group); links = `link_*` /
  * `nhl_*`; satellites = one per `sat_delta` / `sat_full` transition whose
  * group names the `f` payload group (satellite_manager.py:236-267).
  * [[streamFlow]] runs the same hash view and loads on each micro-batch
  * of a stream.
  *
  * Scale: the ledger is the only driver-side state (tiny: one aggregate
  * read and two appends per flow); every load is a pure DataFrame
  * pipeline appended bucketed-by-hk, so increments shuffle only on
  * uniformly distributed hash keys.
  */
final class FlowExecutor(
    val lake: Lake,
    val meta: MetaStore,
    val algo: HashGen.Algo = HashGen.Sha1
) {
  import FlowExecutor.TargetLoad

  private def spark: SparkSession = lake.spark

  val runinfoSchema: StructType = StructType(Seq(
    StructField("source_table", StringType),
    StructField("run_id", LongType),
    StructField("log_date", TimestampType),
    StructField("source_file", StringType),
    StructField("status", StringType),
    StructField("message", StringType)
  ))

  def runinfo: DataFrame = lake.readOr("metadata", "runinfo", runinfoSchema)

  /** Reference GET_RUN_ID: coalesce(max(run_id), 0) + 1. Pure ledger read —
    * the id a run would get, NOT an allocation (see [[allocateRunId]]). */
  def nextRunId(): Long = ledgerState("", None)._2

  /** Allocate a run id safely under the concurrency the ingestion claim
    * supports: [[nextRunId]] is check-then-act over the ledger, so two
    * flows over DIFFERENT files can both read max+1 before either writes
    * its start row and stamp every vault audit column with the same
    * run_id. The candidate id, starting at `from` (a [[nextRunId]] read),
    * is therefore claimed (a permanent run-id marker, [[Lake.tryClaim]]);
    * losers walk forward. A crash between claim and ledger start-row
    * leaves a marker with no ledger row — later allocations skip that id
    * rather than reuse one that may have partially stamped vault rows. */
  private[graft] def allocateRunId(from: Long = nextRunId()): Long = {
    var id = from
    while (!lake.tryClaim(lake.runIdClaimPath(id), "run-id")) id += 1
    id
  }

  /** Reference CHECK_INGESTION: any ledger row for (file, table, status). */
  def alreadyIngested(sourceTable: String, filePath: String, status: String = "success"): Boolean =
    ledgerState(sourceTable, Some(filePath), status)._1

  /** One aggregate over the ledger, two Spark jobs: whether `filePath` of
    * `sourceTable` has a `status` row (false for None), and [[nextRunId]]'s
    * id. A flow reads both at once. The file, table and status are
    * literals the generated code binds by reference, so a read with
    * another file compiles nothing (FlowExecutorSpec). */
  private[graft] def ledgerState(
      sourceTable: String, filePath: Option[String], status: String = "success"): (Boolean, Long) = {
    val hit = filePath.fold(lit(false))(fp =>
      col("source_file") === fp && col("source_table") === sourceTable && col("status") === status)
    val r = runinfo.agg(max(hit), coalesce(max(col("run_id")), lit(0L)) + 1L).head()
    (!r.isNullAt(0) && r.getBoolean(0), r.getLong(1))
  }

  private def logRun(sourceTable: String, runId: Long, filePath: Option[String], status: String, message: String = ""): Unit = {
    val row = Row(sourceTable, runId, new Timestamp(System.currentTimeMillis()), filePath.orNull, status, message)
    // Serialized JVM-wide: concurrent flows (different files/entities — the
    // concurrency the claim model supports) would otherwise run two append
    // jobs against the SAME runinfo path, and FileOutputCommitter's shared
    // `_temporary/0` staging dir lets one job's cleanup delete the other's
    // in-flight task files. The ledger write is a single tiny row, so the
    // lock costs nothing; cross-PROCESS ledger appends remain the
    // deployment's one-ledger-writer-per-cluster concern.
    FlowExecutor.ledgerLock.synchronized {
      lake.append(
        spark.createDataFrame(java.util.Collections.singletonList(row), runinfoSchema),
        "metadata", "runinfo")
    }
  }

  /** Execute one complete load flow; mirrors execute_flow's contract. */
  def executeFlow(
      sourceTable: String,
      recordSource: String,
      filePath: Option[String] = None,
      loadDtsOverwrite: Option[Timestamp] = None,
      forceLoad: Boolean = false
  ): FlowResult = {
    // The ledger is read once, before the ingestion claim: the run id it
    // names is only where allocateRunId starts walking, so a flow that
    // allocates in between costs a step, never a duplicate id. A read that
    // throws (a corrupt or unreachable ledger) is a failure before any run
    // id exists.
    val (ingested, firstRunId) =
      try ledgerState(sourceTable, filePath.filterNot(_ => forceLoad))
      catch {
        case scala.util.control.NonFatal(e) =>
          return FlowResult(-1L, "failure", skipped = false,
            Seq(DvError.from(e, s"flow $sourceTable: ledger read")), Map.empty)
      }
    if (ingested) return FlowResult(0L, "skipped", skipped = true, Nil, Map.empty)
    // Ingestion claim between the ledger check and any load work: the
    // check is check-then-act, so of two flows racing past it exactly one
    // proceeds and the loser reports a typed skip, not a double-ingest.
    // The marker is kept on success (a durable second line of defense
    // beside the ledger row) and released on a caught failure so the file
    // can be retried. A hard crash leaves it behind; recovery is
    // forceLoad = true (which bypasses ledger AND claim) or deleting the
    // marker. A claim that THROWS (filesystem down) is a typed failure,
    // not a raw escape — flows log-and-continue rather than unwind.
    if (!forceLoad && filePath.isDefined) {
      val claimed =
        try lake.tryClaim(lake.ingestionClaimPath(sourceTable, filePath.get), "ingestion",
          filePath.get.getBytes("UTF-8"))
        catch {
          case scala.util.control.NonFatal(e) =>
            return FlowResult(-1L, "failure", skipped = false,
              Seq(DvError.from(e, s"flow $sourceTable: ingestion claim")), Map.empty)
        }
      if (!claimed)
        return FlowResult(0L, "skipped", skipped = true,
          Seq(DvError.Concurrency(
            s"flow $sourceTable: another flow holds the ingestion claim for ${filePath.get} " +
              "(concurrent load in progress, or a crashed run left a stale claim — " +
              "retry with forceLoad=true or remove the metadata/.flow_claims marker)")),
          Map.empty)
    }

    // runId allocation and the start-ledger row do lake I/O — they live
    // INSIDE the try so a throw there still releases the ingestion claim
    // (a leaked claim permanently blocks the file until forceLoad/manual
    // marker delete, even though no run ever touched the vault).
    // -1 = "no run id was ever allocated" — distinct from the run-id-0
    // sentinel skipped results carry, so an allocation failure can neither
    // write a ledger row attributed to a run that never existed nor be
    // confused with a skip by callers inspecting FlowResult.runId.
    var runId = -1L
    try {
      runId = allocateRunId(firstRunId)
      logRun(sourceTable, runId, filePath, "start")
      val ctx = ctxOf(runId, recordSource, loadDtsOverwrite)

      // Stage (truncate-and-load) when a file is given and the source is a
      // staging table (reference CHECK_SOURCE_FOR_INGESTION). A non-stg
      // source (stg_vw view) is read from the session catalog instead —
      // flows can run off curated views exactly like the reference.
      // DELIBERATE reference parity: a filePath passed with a VIEW source
      // is not staged and the flow still records success carrying the path
      // ("source view X will not be loaded with new data",
      // flow_executor.py:122-147 — the reference proceeds identically); the
      // path rides the ledger row as provenance of the triggering file, not
      // as an ingestion claim of its contents.
      val isStgTable = meta.getTables(Some(sourceTable), Some("stg")).nonEmpty
      def stageAndLoad(): Map[String, Long] = {
        filePath.foreach { fp =>
          if (isStgTable) {
            lake.overwrite(Staging.loadFile(spark, meta, sourceTable, fp), "stg", sourceTable)
          }
        }
        load(stagingDf(sourceTable), meta.getTransitions(sourceTable), ctx)(allTargets)
      }
      // Per-SOURCE flow claim around staging + loads (Lake.withFlowClaim):
      // the ingestion claim lets two flows of one source with DIFFERENT
      // files both proceed, and the second one's truncate-and-load would
      // swap the staging data under the first. The per-TARGET load claims
      // (keyedTargets) nest inside, because flows of DIFFERENT sources
      // sharing a hub serialize only on that hub. View-backed sources skip
      // the claim: nothing stages, and the view is the user's to manage.
      val loaded =
        if (isStgTable) lake.withFlowClaim(sourceTable) { stageAndLoad() }
        else stageAndLoad()
      logRun(sourceTable, runId, filePath, "success",
        loaded.map { case (k, v) => s"$k:$v" }.mkString(", "))
      FlowResult(runId, "success", skipped = false, Nil, loaded)
    } catch {
      case e: Exception =>
        // Release the claim FIRST so the file can be retried (the ledger
        // check only skips on status=success) — ordered before the
        // failure-ledger write, which itself does lake I/O and must not be
        // able to leak the claim by throwing. Best-effort: a throwing
        // release (filesystem down) must not escape the catch and mask the
        // original load error — the in-process registry entry is removed
        // before the marker delete, so a later retry resolves through the
        // fs marker as a typed skip. forceLoad never claimed.
        if (!forceLoad)
          filePath.foreach(fp => scala.util.Try(lake.releaseClaim(lake.ingestionClaimPath(sourceTable, fp))))
        // Best-effort: when the lake is down the failure row can't land
        // anyway — the caller still gets the original error in the result.
        // No ledger row at all when allocateRunId() itself threw (runId still
        // -1): there is no run to attribute the failure to.
        if (runId >= 0)
          scala.util.Try(logRun(sourceTable, runId, filePath, "failure",
            Option(e.getMessage).getOrElse(e.getClass.getName).take(4095)))
        FlowResult(runId, "failure", skipped = false, Seq(DvError.from(e, s"flow $sourceTable")), Map.empty)
    }
  }

  /** The staging relation a flow reads: the lake's `stg` table when the
    * metadata declares one, otherwise a session-catalog view (flows can run
    * off curated stg_vw views exactly like the reference). The `stg` table
    * is read with the schema [[Staging.loadFile]] writes, so no Spark job
    * infers it from the part-file footers. Not [[Lake.readOr]]: a staging
    * table that was never written must fail the flow, not read as an empty
    * batch that a full-load satellite would turn into a tombstone for
    * every key. */
  def stagingDf(sourceTable: String): DataFrame = {
    val cols = meta.getTables(Some(sourceTable), Some("stg"))
    if (cols.nonEmpty) spark.read.schema(Staging.schemaFor(cols)).parquet(lake.dataPath("stg", sourceTable))
    else spark.table(sourceTable)
  }

  /** Load just the hubs fed by `stgTable` — the reference's standalone
    * `load_related_hubs(stg_table, run_id, record_source, load_date)`
    * (mallarddv.py:189-215, hub_manager.py). Callable on its own for
    * incremental/partial loads. */
  def loadRelatedHubs(
      stgTable: String,
      runId: Long,
      recordSource: String,
      loadDts: Option[Timestamp] = None
  ): Map[String, Long] =
    loadRelated(stgTable, runId, recordSource, loadDts)(hubTargets)

  /** Standalone link loads (reference load_related_links, mallarddv.py:215-240). */
  def loadRelatedLinks(
      stgTable: String,
      runId: Long,
      recordSource: String,
      loadDts: Option[Timestamp] = None
  ): Map[String, Long] =
    loadRelated(stgTable, runId, recordSource, loadDts)(linkTargets)

  /** Standalone satellite loads (reference load_related_sats, mallarddv.py:240-262). */
  def loadRelatedSats(
      stgTable: String,
      runId: Long,
      recordSource: String,
      loadDts: Option[Timestamp] = None
  ): Map[String, Long] =
    loadRelated(stgTable, runId, recordSource, loadDts)(satTargets)

  private def loadRelated(stgTable: String, runId: Long, recordSource: String, loadDts: Option[Timestamp])(
      plan: Seq[Transition] => Seq[TargetLoad]): Map[String, Long] =
    load(stagingDf(stgTable), meta.getTransitions(stgTable), ctxOf(runId, recordSource, loadDts))(plan)

  private def ctxOf(runId: Long, recordSource: String, loadDts: Option[Timestamp]): LoadContext =
    LoadContext(loadDts.getOrElse(new Timestamp(System.currentTimeMillis())), recordSource, runId)

  /** Streams `staged` (a streaming DataFrame of `sourceTable`'s rows) into
    * the vault: one query, one checkpoint, one scan of the source. Each
    * micro-batch runs the load routine [[executeFlow]] runs after staging —
    * the hash view from `sourceTable`'s transitions, then every hub, link
    * and satellite load, each under its own load claim — stamped
    * `LoadContext(loadDts or now, recordSource, batchId)`, so `run_id` is
    * the micro-batch id. No ledger row is written. `trigger` defaults to
    * AvailableNow (drain what the source holds at start, then stop); pass
    * `Trigger.ProcessingTime(...)` to keep ingesting an unbounded source.
    *
    * A `sat_full` transition is refused before the query starts, with a
    * typed [[DvError.Configuration]] naming the satellite: delete detection
    * over one micro-batch would tombstone every key absent from the batch.
    *
    * Crash recovery: the appends are not transactional. A crash after a
    * batch's appends landed but before Spark wrote the batch's commit-log
    * entry re-delivers the whole batch on restart (same batchId, same data;
    * the offset log pins the range). Every load is idempotent under that
    * replay: re-delivered hub/link keys anti-join away against the rows the
    * crashed attempt wrote, and re-delivered satellite rows equal the latest
    * hash_diff and insert nothing. So the recovered vault is row-identical
    * to a clean run, `run_id` included. Pass `loadDts` for bit-stable audit
    * columns across a restart; with the wall-clock default a replayed batch
    * stamps a new load_dts on the rows it still inserts, but no second
    * version row appears either way. Pinned by StreamingSpec's two crash
    * tests. */
  def streamFlow(
      sourceTable: String,
      staged: DataFrame,
      recordSource: String,
      checkpoint: String,
      loadDts: Option[Timestamp] = None,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    val transitions = meta.getTransitions(sourceTable)
    transitions.find(_.transferType == "sat_full").foreach { t =>
      throw new DvException(DvError.Configuration(
        s"streamFlow($sourceTable): satellite ${t.targetTable} is sat_full — delete detection " +
          "on a micro-batch would tombstone every key absent from the batch; load it with executeFlow"))
    }
    staged.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        load(batch, transitions, ctxOf(batchId, recordSource, loadDts))(allTargets)
        afterBatchHook(batchId)
      }
      .start()
  }

  /** The one load routine of [[executeFlow]], the `loadRelated*` calls and
    * [[streamFlow]]: builds the hash view of `staged` from `transitions`
    * and runs the target loads `plan` picks, in order, summing rows per
    * table. The hash view is cached only when it is read more than once —
    * two or more loads, or a `sat_full` load (insert, then delete
    * detection); a single read is the load's own job, where a cache only
    * adds a materialization. Unpersisted in the finally, so a failing load
    * cannot leak the cached copy. */
  private def load(staged: DataFrame, transitions: Seq[Transition], ctx: LoadContext)(
      plan: Seq[Transition] => Seq[TargetLoad]): Map[String, Long] = {
    val targets = plan(transitions)
    val hv = HashView.build(staged, transitions, algo)
    val shared = targets.map(_.reads).sum > 1
    if (shared) hv.cache()
    try targets.foldLeft(Map.empty[String, Long]) { (loaded, t) =>
      loaded + (t.table -> (loaded.getOrElse(t.table, 0L) + t.run(hv, ctx)))
    } finally if (shared) hv.unpersist()
  }

  /** Hubs, then links, then satellites. */
  private def allTargets(transitions: Seq[Transition]): Seq[TargetLoad] =
    hubTargets(transitions) ++ linkTargets(transitions) ++ satTargets(transitions)

  /** Hubs: bk transitions into `hub_*`, grouped by (target_table, group_name). */
  private def hubTargets(transitions: Seq[Transition]): Seq[TargetLoad] =
    keyedTargets(transitions, "hubLoad", Set("bk"), Seq("hub_"))

  /** Links: ll/dk transitions into `link_*`/`nhl_*`, grouped likewise. */
  private def linkTargets(transitions: Seq[Transition]): Seq[TargetLoad] =
    keyedTargets(transitions, "linkLoad", Set("ll", "dk"), Seq("link_", "nhl_"))

  /** One anti-join load per (target_table, group_name) of the `types`
    * transitions into tables named with one of `prefixes`; several groups
    * may feed one target (self-referencing entities). The prefixes,
    * stripped in order, name the target's `<base>_hk`. An `ll` leg reads
    * its hub's `<source>_hk` column, every other field its source column
    * (the shared row builder is [[DvOps.newKeyedRows]]). */
  private def keyedTargets(
      transitions: Seq[Transition], claim: String, types: Set[String], prefixes: Seq[String]): Seq[TargetLoad] =
    transitions
      .filter(t => types(t.transferType) && prefixes.exists(t.targetTable.startsWith))
      .groupBy(t => (t.targetTable, t.groupName)).toSeq.sortBy(_._1)
      .map { case ((target, group), fields) =>
        val hkName = s"${prefixes.foldLeft(target)(_ stripPrefix _)}_hk"
        val attrFields = fields.sortBy(_.position).map { f =>
          if (f.transferType == "ll") s"${f.sourceField}_hk" -> f.targetField
          else f.sourceField -> f.targetField
        }
        TargetLoad(target, 1, (hv, ctx) =>
          // Per-table LOAD claim around probe + append: two processes flowing
          // DIFFERENT files into one hub could otherwise both pass the
          // anti-join probe and double-insert a business key (the reference's
          // DuckDB serializes its transactions; Lake.withLoadClaim is the
          // Spark-side serializer). The claim must open BEFORE the probe is
          // built — its file listing pins at construction.
          lake.withLoadClaim("dv", target, claim) {
            insideLoadClaimHook(target)
            val existing = lake.readOrProbe("dv", target,
              StructType(StructField(hkName, StringType) :: Nil), hv, col(s"${group}_hk"))
            val rows = DvOps.newKeyedRows(hv, existing, group, attrFields, hkName, ctx)
            lake.appendBucketed(rows, "dv", target, hkName)
          })
      }

  /** Satellites: one per sat_delta / sat_full transition; the transition's
    * source_field is the hash-view hk column, target_field the sat key
    * base, group_name the `f` payload group. */
  private def satTargets(transitions: Seq[Transition]): Seq[TargetLoad] =
    transitions.filter(t => t.transferType == "sat_delta" || t.transferType == "sat_full").map { satT =>
      val satName = satT.targetTable
      val satHk = s"${satT.targetField}_hk"
      val full = satT.transferType == "sat_full"
      val fields = transitions
        .filter(t => t.targetTable == satName && t.groupName == satT.groupName && t.transferType == "f")
        .sortBy(_.position).map(f => f.sourceField -> f.targetField)
      val hashdiffField =
        if (fields.nonEmpty) s"${satT.groupName}_hashdiff" else satT.sourceField
      TargetLoad(satName, if (full) 2 else 1, (hv, ctx) => {
        val satSchema =
          // Payload types from the hash view (what the writes actually carry,
          // e.g. BIGINT staging columns stay LongType) — readOr now IMPOSES
          // this schema on the scan, so a declared-vs-written mismatch would
          // fail the read instead of being silently reconciled.
          graft.dv.VaultSchemas.satFromFields(satHk, fields.map { case (s, t) => t -> hv.schema(s).dataType })
        // ONE load claim around BOTH append phases (keyedTargets; reentrant,
        // so the inner appends under a future claim-at-append refactor can't
        // self-deadlock): a concurrent loader interleaving between a
        // sat_full's insert and delete-detection phases would feed the
        // tombstone scan a vault state neither run staged.
        lake.withLoadClaim("dv", satName, "satLoad") {
          insideLoadClaimHook(satName)
          // DELTA probe: bucket-pruned above the gate. The sat_full delete
          // detection below stays UNPRUNED by design — absent keys are its
          // signal (Lake.readOrProbe doc).
          val existing = lake.readOrProbe("dv", satName, satSchema, hv, col(satT.sourceField))
          val newRows = DvOps.satNewRows(hv, existing, satT.sourceField, hashdiffField, fields, satHk, ctx)
          var m = lake.appendBucketed(newRows, "dv", satName, satHk)
          if (full) {
            // Delete detection must see the vault INCLUDING this run's inserts
            // (reference runs the two INSERTs sequentially on the same table).
            val afterNew = lake.readOr("dv", satName, satSchema)
            val delRows = DvOps.satDeleteRows(hv, afterNew, satT.sourceField, fields.map(_._2), satHk, ctx)
            m += lake.appendBucketed(delRows, "dv", satName, satHk)
          }
          m
        }
      })
    }

  /** Test seam for the concurrent-loader race proof: invoked with the
    * target table name INSIDE that table's load claim, after acquire and
    * before the probe is built — i.e. at the point where a second loader
    * must be excluded. No-op in production. */
  private[graft] var insideLoadClaimHook: String => Unit = _ => ()

  /** Test seam for the crash-recovery proof: invoked with the batch id
    * after a [[streamFlow]] micro-batch's last append and before Spark
    * writes the batch's commit-log entry. No-op in production. */
  private[graft] var afterBatchHook: Long => Unit = _ => ()
}

object FlowExecutor {
  /** Serializes same-process runinfo appends (see logRun). */
  private val ledgerLock = new Object

  /** One target load the transitions call for: its vault table, how many
    * times it reads the hash view, and the load. */
  private final case class TargetLoad(table: String, reads: Int, run: (DataFrame, LoadContext) => Long)
}
