package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.Lake
import graft.dv.{DvOps, HashGen, HashView, LoadContext}
import graft.meta.Transition

/** Streaming Data Vault ingestion (SURVEY §2 #16, #39).
  *
  * The reference is batch-only; the Spark-native engine extends the same
  * load semantics to Structured Streaming:
  *
  *  - [[hubSink]]: micro-batch incremental hub load — each batch runs the
  *    standard hash-view → anti-join-against-existing-hub → bucketed-append
  *    pipeline via foreachBatch, so a stream and a batch backfill produce
  *    byte-identical vault state. Exactly-once per key comes from the
  *    anti-join (idempotent re-delivery: duplicate keys never re-insert),
  *    NOT from sink transactionality — safe under at-least-once delivery.
  *
  *  - [[windowedCounts]]: event-time windowed aggregation with a watermark
  *    bounding state (late rows beyond the watermark are dropped, state for
  *    closed windows is evicted — the 100 TB stream posture).
  *
  * CRASH RECOVERY (foreachBatch replay): the appends are NOT transactional
  * writes — a crash after a batch's append lands but before Spark writes
  * the batch's commit-log entry re-delivers the WHOLE batch on restart
  * (same batchId, same data; the offset log pins the range). All three DV
  * sinks are EFFECTIVELY idempotent under that replay, which is what makes
  * them exactly-once in vault state despite at-least-once delivery:
  * re-delivered hub/link keys anti-join away against the rows the crashed
  * attempt already wrote, and re-delivered satellite rows compare equal to
  * the latest hash_diff (which the crashed append just updated) and insert
  * nothing. The recovered vault is row-identical — run_id included, since
  * run_id = the replayed batchId and load_dts is the caller's pinned value
  * (pass `loadDts` in production restarts for bit-stable audit columns; a
  * wall-clock default would differ on the retry, a second version row
  * would NOT be created either way). Pinned by StreamingSpec "crash
  * between append and checkpoint commit". The plain parquet batch sinks
  * (e.g. [[windowedCounts]]'s) have no such probe and are NOT
  * replay-idempotent — they rely on the query completing.
  */
object StreamingDv {

  /** Test seam for the crash-recovery proof: invoked after a DV sink's
    * append has landed, BEFORE foreachBatch returns — i.e. before Spark
    * writes the batch's commit-log entry. A throw here IS the mid-batch
    * crash window (append durable, checkpoint not). No-op in production. */
  private[graft] var afterAppendHook: (String, Long) => Unit = (_, _) => ()

  /** Per-stream shuffle/state partition sizing for the micro-batch plans.
    * Streaming tasks pay a FIXED per-task setup (state/codegen init, commit
    * files) that dominates under-filled partitions: BASELINE.md's r12 A/B
    * ladder measured the session default (32) wasting ~25× the needed setup
    * on a 40k-key replay — 8 partitions cut the streaming family floor
    * 18.2 → 13.0 s with identical results. Size to the stream's KEY
    * CARDINALITY (aim ≥ ~10⁵ keys or ≥ tens of MB of state per partition),
    * not to the cluster's core count. Applied inside foreachBatch on the
    * stream's CLONED session (Structured Streaming snapshots the session at
    * start), so it scopes to this query and never leaks to the caller's
    * session. None (default) keeps the session conf. */
  private def sizeBatch(batch: DataFrame, statePartitions: Option[Int]): Unit =
    statePartitions.foreach { n =>
      require(n > 0, s"statePartitions must be > 0, got $n")
      batch.sparkSession.conf.set("spark.sql.shuffle.partitions", n)
    }

  /** The micro-batch scaffolding all three DV sinks share — ONE definition
    * of the per-batch protocol so a fix to it cannot silently diverge the
    * sinks' cost or correctness:
    *  - per-batch shuffle sizing ([[sizeBatch]]);
    *  - hash view per batch; the sink SCHEMA resolved once per stream
    *    (`schemaOf` on batch 0's hash view — the stream's source schema is
    *    fixed, and re-resolving forced a driver analyzer pass per batch);
    *  - the probe gate evaluated once per batch and MONOTONE across
    *    batches (appends only grow the sink table — once it clears, later
    *    batches skip the optimizer-pass stats walk);
    *  - the hash view cached ONLY above the gate, where the bucket
    *    distinct-collect is a second ACTION over the batch; under the gate
    *    the append is the only action and a cache is pure overhead
    *    (Lake.probeWouldEngage doc); unpersisted in the finally;
    *  - bucket-pruned existing-probe (Lake.readOrProbe doc), row builder,
    *    bucketed append, crash-window test hook. */
  private def dvSink(
      lake: Lake,
      staged: DataFrame,
      transitions: Seq[Transition],
      table: String,
      keyColName: String,
      probeKey: String,
      recordSource: String,
      checkpoint: String,
      algo: HashGen.Algo,
      loadDts: Option[Timestamp],
      statePartitions: Option[Int],
      trigger: Trigger,
      schemaOf: DataFrame => StructType)(
      rows: (DataFrame, DataFrame, LoadContext) => DataFrame): StreamingQuery = {
    var schema: StructType = null
    var gateOn = false
    staged.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sizeBatch(batch, statePartitions)
        val ctx = LoadContext(loadDts.getOrElse(new Timestamp(System.currentTimeMillis())), recordSource, batchId)
        val hv = HashView.build(batch, transitions, algo)
        if (schema == null) schema = schemaOf(hv)
        if (!gateOn) gateOn = lake.probeWouldEngage("dv", table, schema)
        val cacheHv = gateOn
        if (cacheHv) { hv.cache(); () }
        try {
          // Same per-table load claim as the flow executor's targets
          // (Lake.withLoadClaim): a stream and a flow (or two streams)
          // loading one vault table could otherwise both pass the probe
          // and double-insert a key. Uncontended cost is one marker
          // create+delete per micro-batch — noise against the batch's own
          // jobs (the per-batch checkpoint machinery alone is ~0.13 s).
          lake.withLoadClaim("dv", table, "streamSink") {
            val existing = lake.readOrProbe("dv", table, schema,
              hv, org.apache.spark.sql.functions.col(probeKey), gate = Some(cacheHv))
            lake.appendBucketed(rows(hv, existing, ctx), "dv", table, keyColName)
          }
          afterAppendHook(table, batchId)
        } finally if (cacheHv) { hv.unpersist(); () }
        ()
      }
      .start()
  }

  /** Wire a streaming staged source into an incremental hub load. Returns a
    * started query writing to `dv/<hubTable>` in the lake.
    * `statePartitions`: see [[sizeBatch]]. `trigger` defaults to
    * AvailableNow — drain what the source holds at start, then stop (the
    * batch-parity/backfill posture every test pins); pass
    * `Trigger.ProcessingTime(...)` for a continuously-running ingest over
    * an unbounded source, which would otherwise stop after the initial
    * snapshot. */
  def hubSink(
      lake: Lake,
      staged: DataFrame,
      transitions: Seq[Transition],
      hubTable: String,
      groupName: String,
      bkFields: Seq[(String, String)],
      recordSource: String,
      checkpoint: String,
      algo: HashGen.Algo = HashGen.Sha1,
      loadDts: Option[Timestamp] = None,
      statePartitions: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    val hkName = s"${hubTable.stripPrefix("hub_")}_hk"
    dvSink(lake, staged, transitions, hubTable, hkName, s"${groupName}_hk",
      recordSource, checkpoint, algo, loadDts, statePartitions, trigger,
      _ => StructType(StructField(hkName, StringType) :: Nil)) {
      (hv, existing, ctx) => DvOps.newHubRows(hv, existing, groupName, bkFields, hkName, ctx)
    }
  }

  /** Streaming link sink: micro-batch incremental link load — hash view →
    * anti-join-against-existing-link → bucketed append (reference link/nhl
    * semantics, link_manager.py:110-192, extended to streams). `legFields`
    * maps hash-view columns (`<hubgroup>_hk` legs or degenerate-key fields)
    * to link columns; idempotency is the hk anti-join, same as [[hubSink]],
    * so at-least-once delivery and overlapping batches never duplicate a
    * relationship. Serves both `link` and `nhl` tables — the reference
    * loads them with the same INSERT pattern. */
  def linkSink(
      lake: Lake,
      staged: DataFrame,
      transitions: Seq[Transition],
      linkTable: String,
      groupName: String,
      legFields: Seq[(String, String)],
      hkName: String,
      recordSource: String,
      checkpoint: String,
      algo: HashGen.Algo = HashGen.Sha1,
      loadDts: Option[Timestamp] = None,
      statePartitions: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    dvSink(lake, staged, transitions, linkTable, hkName, s"${groupName}_hk",
      recordSource, checkpoint, algo, loadDts, statePartitions, trigger,
      _ => StructType(StructField(hkName, StringType) :: Nil)) {
      (hv, existing, ctx) => DvOps.newLinkRows(hv, existing, groupName, legFields, hkName, ctx)
    }

  /** Streaming satellite (SCD2) sink: each micro-batch runs hash view →
    * latest-row hashdiff compare → bucketed append, so re-delivered or
    * unchanged rows never create duplicate versions (the anti-join is the
    * idempotency mechanism, same as [[hubSink]]). */
  def satSink(
      lake: Lake,
      staged: DataFrame,
      transitions: Seq[Transition],
      satTable: String,
      hkSource: String,
      hashdiffField: String,
      fields: Seq[(String, String)],
      satHk: String,
      recordSource: String,
      checkpoint: String,
      algo: HashGen.Algo = HashGen.Sha1,
      loadDts: Option[Timestamp] = None,
      statePartitions: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    // Payload types from the HASH VIEW (what the writes actually carry),
    // exactly like FlowExecutor.satLoads: a transition `transformation` can
    // retype a payload field, and a schema built from the raw staged stream
    // would then disagree with the written parquet — the imposed-schema
    // read of the NEXT batch's probe would fail on the type mismatch.
    // The probe is the DELTA probe only (latest-per-key where the key is
    // staged), so the bucket-pruned read is semantics-identical
    // (Lake.readOrProbe doc); delete detection must never use this.
    dvSink(lake, staged, transitions, satTable, satHk, hkSource,
      recordSource, checkpoint, algo, loadDts, statePartitions, trigger,
      hv => graft.dv.VaultSchemas.satFromFields(
        satHk, fields.map { case (s, t) => t -> hv.schema(s).dataType })) {
      (hv, existing, ctx) =>
        DvOps.satNewRows(hv, existing, hkSource, hashdiffField, fields, satHk, ctx)
    }

  /** One finalized gap session. */
  final case class SessionOut(
      user_id: Long, n_events: Long, session_start: Timestamp, session_end: Timestamp)

  /** One pending session interval: event-time bounds in microseconds + count. */
  final case class SessionAgg(startUs: Long, endUs: Long, n: Long)

  /** Per-user state: every session the watermark has not yet finalized. */
  final case class SessionBuf(sessions: Seq[SessionAgg])

  private def micros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Gap-based streaming sessionization — custom per-key state via
    * `flatMapGroupsWithState` (the stream twin of the batch
    * `events_sessions` query). Input needs columns (user_id, ts, event_id);
    * `ts` must carry the watermark.
    *
    * FINALITY IS THE WATERMARK'S, not "a newer event opened the next
    * session": an event admissible under the watermark can still arrive
    * late and extend a session — or bridge two of them — so a session is
    * emitted only once the event-time watermark passes its end + gap
    * (nothing the stream will ever accept can touch it after that; late
    * events beyond the watermark are dropped upstream). Eager emission on
    * gap-exceeded-within-a-batch — the previous shape — diverged from the
    * batch twin whenever a late-but-in-watermark event landed inside an
    * already-emitted session (Append mode cannot retract). State therefore
    * buffers every not-yet-final session: bounded by sessions per user
    * within the watermark horizon (horizon/gap at worst), the price of
    * exactly-batch semantics; one open session was only enough when
    * emission could be eager. */
  def sessionize(events: DataFrame, gapMinutes: Int, delayThreshold: String): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    events
      .selectExpr("user_id", "ts", "event_id")
      .withWatermark("ts", delayThreshold)
      .as[(Long, Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionBuf, SessionOut](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Timestamp, Long)], state: GroupState[SessionBuf]) =>
          // Merge pending intervals with this batch's events (each event is
          // a [ts,ts] interval): one sorted pass, order-of-arrival free —
          // out-of-order events before, inside, or after a pending session
          // produce exactly the sessions the batch lag-window query would.
          val intervals =
            (state.getOption.map(_.sessions).getOrElse(Seq.empty) ++
              rows.map { case (_, ts, _) => val t = micros(ts); SessionAgg(t, t, 1) })
              .sortBy(s => (s.startUs, s.endUs))
          if (intervals.isEmpty) { state.remove(); Iterator.empty }
          else {
            var merged = List.empty[SessionAgg]
            var cur = intervals.head
            intervals.tail.foreach { iv =>
              if (iv.startUs - cur.endUs <= gapUs)
                cur = SessionAgg(cur.startUs, math.max(cur.endUs, iv.endUs), cur.n + iv.n)
              else { merged ::= cur; cur = iv }
            }
            merged ::= cur
            // final ⟺ watermark strictly past end+gap: any admissible
            // future event has ts ≥ watermark > end+gap and can neither
            // extend this session nor bridge anything into it.
            val wmMs = state.getCurrentWatermarkMs()
            val (done, pending) =
              merged.reverse.partition(s => Math.floorDiv(s.endUs, 1000L) + gapMs < wmMs)
            if (pending.isEmpty) state.remove()
            else {
              state.update(SessionBuf(pending))
              // earliest possible finalization; kept ⇒ end+gap ≥ wm, and
              // setTimeoutTimestamp requires strictly-greater — hence +1
              state.setTimeoutTimestamp(
                pending.map(s => Math.floorDiv(s.endUs, 1000L) + gapMs).min + 1L)
            }
            done.iterator.map(s => SessionOut(user, s.n, fromMicros(s.startUs), fromMicros(s.endUs)))
          }
      }
  }

  /** Event-time tumbling-window counts with a watermark. `tsCol` must be a
    * timestamp column; state is bounded by `delayThreshold`. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      windowDuration: String,
      delayThreshold: String,
      keyCols: String*
  ): DataFrame =
    events
      .withWatermark(tsCol, delayThreshold)
      .groupBy((window(col(tsCol), windowDuration) +: keyCols.map(col)).toIndexedSeq: _*)
      .agg(count(lit(1)).as("n_events"))
      .select(
        (Seq(col("window.start").as("window_start"), col("window.end").as("window_end")) ++
          keyCols.map(col) :+ col("n_events")).toIndexedSeq: _*)
}
