package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over event streams (SURVEY §2 #16, #39):
  *
  *  - [[windowedCounts]]: event-time windowed aggregation with a watermark
  *    bounding state (late rows beyond the watermark are dropped, state for
  *    closed windows is evicted — the 100 TB stream posture).
  *  - [[sessionize]]: gap sessions finalized by the watermark.
  *
  * Streaming Data Vault loads are `graft.etl.FlowExecutor.streamFlow`: one
  * query per source through the same loads a batch flow runs. A plain
  * parquet sink over these operators (e.g. [[windowedCounts]]'s) has no
  * existing-row probe and is NOT replay-idempotent — it relies on the
  * query completing.
  */
object StreamingDv {

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
