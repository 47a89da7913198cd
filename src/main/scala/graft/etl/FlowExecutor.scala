package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
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
  *
  * Scale: the ledger is the only driver-side state (tiny, two actions per
  * flow); every load is a pure DataFrame pipeline appended bucketed-by-hk,
  * so increments shuffle only on uniformly distributed hash keys.
  */
final class FlowExecutor(
    val lake: Lake,
    val meta: MetaStore,
    val algo: HashGen.Algo = HashGen.Sha1
) {
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
  def nextRunId(): Long =
    runinfo.agg(coalesce(max(col("run_id")), lit(0L)) + 1L).head().getLong(0)

  /** Allocate a run id safely under the concurrency the ingestion claim
    * supports: [[nextRunId]] is check-then-act over the ledger, so two
    * flows over DIFFERENT files can both read max+1 before either writes
    * its start row and stamp every vault audit column with the same
    * run_id. The candidate id is therefore claimed (a permanent run-id
    * marker, [[Lake.tryClaim]]); losers walk forward. A crash between
    * claim and ledger start-row leaves a marker with no ledger row — later
    * allocations skip that id rather than reuse one that may have
    * partially stamped vault rows. */
  private[graft] def allocateRunId(): Long = {
    var id = nextRunId()
    while (!lake.tryClaim(lake.runIdClaimPath(id), "run-id")) id += 1
    id
  }

  /** Reference CHECK_INGESTION: any ledger row for (file, table, status). */
  def alreadyIngested(sourceTable: String, filePath: String, status: String = "success"): Boolean =
    runinfo
      .filter(col("source_file") === filePath && col("source_table") === sourceTable && col("status") === status)
      .limit(1).count() > 0

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
    if (!forceLoad && filePath.exists(alreadyIngested(sourceTable, _)))
      return FlowResult(0L, "skipped", skipped = true, Nil, Map.empty)
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
    // sentinel skipped results carry, so a nextRunId() failure can neither
    // write a ledger row attributed to a run that never existed nor be
    // confused with a skip by callers inspecting FlowResult.runId.
    var runId = -1L
    try {
      runId = allocateRunId()
      logRun(sourceTable, runId, filePath, "start")
      val ctx = LoadContext(
        loadDtsOverwrite.getOrElse(new Timestamp(System.currentTimeMillis())),
        recordSource, runId)

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
        val transitions = meta.getTransitions(sourceTable)
        val hv = HashView.build(stagingDf(sourceTable), transitions, algo)
        // The hash view feeds every hub/link/sat load below — materialize it
        // once instead of recomputing the projection per target. Unpersisted
        // in the finally so a failing load can't leak the cached copy.
        hv.cache()
        try merge(hubLoads(hv, transitions, ctx),
          merge(linkLoads(hv, transitions, ctx), satLoads(hv, transitions, ctx)))
        finally hv.unpersist()
      }
      // Per-SOURCE flow claim around staging + loads (Lake.withFlowClaim):
      // the ingestion claim lets two flows of one source with DIFFERENT
      // files both proceed, and the second one's truncate-and-load would
      // swap the staging data under the first. The per-TARGET load claims
      // (hubLoads doc) nest inside, because flows of DIFFERENT sources
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
        // No ledger row at all when nextRunId() itself threw (runId still
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
    * (mallarddv.py:189-215, hub_manager.py). Used by executeFlow and
    * callable on its own for incremental/partial loads. */
  def loadRelatedHubs(
      stgTable: String,
      runId: Long,
      recordSource: String,
      loadDts: Option[Timestamp] = None
  ): Map[String, Long] =
    withHashView(stgTable) { (hv, transitions) =>
      hubLoads(hv, transitions, ctxOf(runId, recordSource, loadDts))
    }

  /** Standalone link loads (reference load_related_links, mallarddv.py:215-240). */
  def loadRelatedLinks(
      stgTable: String,
      runId: Long,
      recordSource: String,
      loadDts: Option[Timestamp] = None
  ): Map[String, Long] =
    withHashView(stgTable) { (hv, transitions) =>
      linkLoads(hv, transitions, ctxOf(runId, recordSource, loadDts))
    }

  /** Standalone satellite loads (reference load_related_sats, mallarddv.py:240-262). */
  def loadRelatedSats(
      stgTable: String,
      runId: Long,
      recordSource: String,
      loadDts: Option[Timestamp] = None
  ): Map[String, Long] =
    withHashView(stgTable) { (hv, transitions) =>
      satLoads(hv, transitions, ctxOf(runId, recordSource, loadDts))
    }

  private def ctxOf(runId: Long, recordSource: String, loadDts: Option[Timestamp]): LoadContext =
    LoadContext(loadDts.getOrElse(new Timestamp(System.currentTimeMillis())), recordSource, runId)

  private def withHashView[A](stgTable: String)(f: (DataFrame, Seq[Transition]) => A): A = {
    val transitions = meta.getTransitions(stgTable)
    val hv = HashView.build(stagingDf(stgTable), transitions, algo)
    hv.cache()
    try f(hv, transitions) finally hv.unpersist()
  }

  private def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.foldLeft(a) { case (acc, (k, v)) => acc + (k -> (acc.getOrElse(k, 0L) + v)) }

  /** Hubs: bk transitions grouped by (target_table, group_name). */
  private def hubLoads(hv: DataFrame, transitions: Seq[Transition], ctx: LoadContext): Map[String, Long] = {
    var loaded = Map.empty[String, Long]
    val hubGroups = transitions
      .filter(t => t.transferType == "bk" && t.targetTable.startsWith("hub_"))
      .groupBy(t => (t.targetTable, t.groupName)).toSeq.sortBy(_._1)
    hubGroups.foreach { case ((target, group), fields) =>
      val hkName = s"${target.stripPrefix("hub_")}_hk"
      val bkFields = fields.sortBy(_.position).map(f => f.sourceField -> f.targetField)
      val existingSchema = StructType(StructField(hkName, StringType) :: Nil)
      // Per-table LOAD claim around probe + append: two processes flowing
      // DIFFERENT files into one hub could otherwise both pass the
      // anti-join probe and double-insert a business key (the reference's
      // DuckDB serializes its transactions; Lake.withLoadClaim is the
      // Spark-side serializer). The claim must open BEFORE the probe is
      // built — its file listing pins at construction.
      val n = lake.withLoadClaim("dv", target, "hubLoad") {
        insideLoadClaimHook(target)
        // ONE span computation serves the bucket-pruned probe scan AND the
        // counted append's listing diff (Lake.readOrProbeWithSpan doc): new
        // hub keys ⊆ staged keys, so the span covers every bucket the append
        // writes.
        val (existing, span) =
          lake.readOrProbeWithSpan("dv", target, existingSchema, hv, col(s"${group}_hk"))
        val rows = DvOps.newHubRows(hv, existing, group, bkFields, hkName, ctx)
        appendCounted(rows, target, hkName, span)
      }
      // several bk groups may feed one hub (self-referencing entities) —
      // accumulate, don't overwrite
      loaded += target -> (loaded.getOrElse(target, 0L) + n)
    }
    loaded
  }

  /** Links: ll/dk transitions grouped by (target_table, group_name). */
  private def linkLoads(hv: DataFrame, transitions: Seq[Transition], ctx: LoadContext): Map[String, Long] = {
    var loaded = Map.empty[String, Long]
    val linkGroups = transitions
      .filter(t =>
        (t.transferType == "ll" || t.transferType == "dk") &&
          (t.targetTable.startsWith("link_") || t.targetTable.startsWith("nhl_")))
      .groupBy(t => (t.targetTable, t.groupName)).toSeq.sortBy(_._1)
    linkGroups.foreach { case ((target, group), fields) =>
      val base = target.stripPrefix("link_").stripPrefix("nhl_")
      val hkName = s"${base}_hk"
      val legFields = fields.sortBy(_.position).map { f =>
        if (f.transferType == "ll") s"${f.sourceField}_hk" -> f.targetField
        else f.sourceField -> f.targetField
      }
      // load claim spanning probe construction + append (hubLoads doc)
      val n = lake.withLoadClaim("dv", target, "linkLoad") {
        insideLoadClaimHook(target)
        // shared span: probe scan + counted-append listing
        // (Lake.readOrProbeWithSpan doc)
        val (existing, span) = lake.readOrProbeWithSpan("dv", target,
          StructType(StructField(hkName, StringType) :: Nil), hv, col(s"${group}_hk"))
        val rows = DvOps.newLinkRows(hv, existing, group, legFields, hkName, ctx)
        appendCounted(rows, target, hkName, span)
      }
      loaded += target -> (loaded.getOrElse(target, 0L) + n)
    }
    loaded
  }

  /** Satellites: one per sat_delta / sat_full transition; the transition's
    * source_field is the hash-view hk column, target_field the sat key
    * base, group_name the `f` payload group. */
  private def satLoads(hv: DataFrame, transitions: Seq[Transition], ctx: LoadContext): Map[String, Long] = {
    var loaded = Map.empty[String, Long]
    val sats = transitions.filter(t => t.transferType == "sat_delta" || t.transferType == "sat_full")
    sats.foreach { satT =>
      val satName = satT.targetTable
      val satHk = s"${satT.targetField}_hk"
      val fields = transitions
        .filter(t => t.targetTable == satName && t.groupName == satT.groupName && t.transferType == "f")
        .sortBy(_.position).map(f => f.sourceField -> f.targetField)
      val hashdiffField =
        if (fields.nonEmpty) s"${satT.groupName}_hashdiff" else satT.sourceField
      val satSchema =
        // Payload types from the hash view (what the writes actually carry,
        // e.g. BIGINT staging columns stay LongType) — readOr now IMPOSES
        // this schema on the scan, so a declared-vs-written mismatch would
        // fail the read instead of being silently reconciled.
        graft.dv.VaultSchemas.satFromFields(satHk, fields.map { case (s, t) => t -> hv.schema(s).dataType })
      // ONE load claim around BOTH append phases (hubLoads doc; reentrant,
      // so the inner appends under a future claim-at-append refactor can't
      // self-deadlock): a concurrent loader interleaving between a
      // sat_full's insert and delete-detection phases would feed the
      // tombstone scan a vault state neither run staged.
      val n = lake.withLoadClaim("dv", satName, "satLoad") {
        insideLoadClaimHook(satName)
        // DELTA probe: bucket-pruned above the gate, span shared with the
        // counted append's listing diff. The sat_full delete detection below
        // stays UNPRUNED by design — absent keys are its signal
        // (Lake.readOrProbe doc).
        val (existing, span) =
          lake.readOrProbeWithSpan("dv", satName, satSchema, hv, col(satT.sourceField))
        val newRows = DvOps.satNewRows(hv, existing, satT.sourceField, hashdiffField, fields, satHk, ctx)
        var m = appendCounted(newRows, satName, satHk, span)
        if (satT.transferType == "sat_full") {
          // Delete detection must see the vault INCLUDING this run's inserts
          // (reference runs the two INSERTs sequentially on the same table).
          // NO listing span here: tombstone keys come from the VAULT side
          // (keys absent from the batch), so their buckets can lie outside
          // the staged span — Lake.appendIncrementBucketed contract.
          val afterNew = lake.readOr("dv", satName, satSchema)
          val delRows = DvOps.satDeleteRows(hv, afterNew, satT.sourceField, fields.map(_._2), satHk, ctx)
          m += appendCounted(delRows, satName, satHk)
        }
        m
      }
      loaded += satName -> (loaded.getOrElse(satName, 0L) + n)
    }
    loaded
  }

  private def appendCounted(
      rows: DataFrame, target: String, keyCol: String,
      listingSpan: Option[Array[Long]] = None): Long =
    lake.appendIncrementBucketed(rows, "dv", target, keyCol, listingSpan)

  /** Test seam for the concurrent-loader race proof: invoked with the
    * target table name INSIDE that table's load claim, after acquire and
    * before the probe is built — i.e. at the point where a second loader
    * must be excluded. No-op in production. */
  private[graft] var insideLoadClaimHook: String => Unit = _ => ()
}

object FlowExecutor {
  /** Serializes same-process runinfo appends (see logRun). */
  private val ledgerLock = new Object
}
