package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.job.ExtractJob
import graft.model.Turn

/** Structured Streaming surface for the reference's incremental semantics
  * (SURVEY.md §2.10):
  *
  *  - T1/S10: the periodic re-crawl / webhook batch-upsert path becomes a
  *    file-source stream → per-micro-batch extraction → append sink
  *    (`Trigger.AvailableNow` = one catch-up run, the re-crawl analog)
  *  - A6/T6: sliding-window rate counting with a watermark
  *  - T7: gateway sessions (TTL 300 s — gateway-session.js:9-33) as
  *    `mapGroupsWithState` with a processing-time timeout
  */
object StreamOps {

  /** Processing-time expiry when `ttlMs` > 0; `ttlMs = 0` is NoTimeout
    * (deterministic tests). */
  private def ttlTimeout(ttlMs: Long): GroupStateTimeout =
    if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

  /** Restarts a group's idle clock under [[ttlTimeout]]. */
  private def renewTtl(state: GroupState[_], ttlMs: Long): Unit =
    if (ttlMs > 0) state.setTimeoutDuration(ttlMs)

  /** Streaming extraction: every new transcript file is extracted exactly
    * once; checkpointed offsets make the stream resumable (the streaming
    * twin of ExtractJob's lineage-based batch resume). */
  def extractionStream(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val turns = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Turn]].schema)
      .parquet(inDir)
      .as[Turn]
    val extracted = ExtractJob.extract(turns)
    extracted.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
  }

  /** A6/T6: events per (user, endpoint) per sliding 60 s window (10 s
    * slide), flagging buckets over their ENDPOINT-CLASS limit —
    * `_get_endpoint_limit` of `/root/reference/sidecar/rate_limiter.py:
    * 145-162` with the {default 100, search 30, discover 100, sync 60,
    * webhook 10} rpm map (overridable via `cfg`, the RATE_LIMIT_*_RPM
    * env knobs). The watermark bounds state: late events beyond 2 min
    * drop. This is the monitoring VIEW (which windows ran hot); exact
    * per-request admission is [[rateLimitDecisions]] /
    * `graft.query.RateLimits.simulate`. */
  def rateLimitWindows(events: DataFrame,
      cfg: graft.query.RateLimits.Config = graft.query.RateLimits.Config())
      : DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "60 seconds", "10 seconds"),
        col("user_id"), col("endpoint"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > graft.query.RateLimits.endpointLimit(col("endpoint"), cfg))
      .select(col("window.start").as("window_start"), col("user_id"),
        col("endpoint"), col("n"))

  /** Exact streaming admission — `check_rate_limit`
    * (rate_limiter.py:164-218) as flatMapGroupsWithState: one decision
    * row per request with the allow/deny verdict, remaining, reset_ts and
    * retry_after; group state per `Req.bucket` (ip, endpoint, epoch) —
    * the batch walk's key — is just the allowed timestamps still inside
    * the 60 s window — AT MOST `limit` longs, the same bound the
    * reference's cleanup keeps. Within a micro-batch requests sort by
    * (sec, event_id); exactness across batches needs bucket-monotonic
    * arrival (the ingestion contract, as for turn positions).
    *
    * State is BOUNDED in both dimensions: per-bucket size (≤ limit
    * timestamps) AND bucket count — a bucket idle past `ttlMs` of
    * processing time is evicted, mirroring the reference's stale-bucket
    * sweep (rate_limiter.py:133-144, `is_stale` after the 300 s cleanup
    * interval). Eviction is EXACT, not lossy, whenever arrival keeps
    * rough pace with processing: a bucket whose 60 s window has drained
    * is indistinguishable from fresh state, and `ttlMs` ≥ the window
    * guarantees event-time drain under that pacing assumption. When
    * ingestion lags processing by more than `ttlMs`, an evicted bucket
    * may still hold in-window timestamps and a re-created bucket would
    * re-admit — that case is OBSERVABLE, not silent: evictions of
    * non-empty state increment the named accumulator
    * `rateLimitDecisions.nonEmptyStateEvictions`. Read it from the
    * driver-side handle or the Spark UI's stage accumulator tables (it
    * is NOT a StreamingQueryProgress field), and treat it as a
    * should-be-zero SIGNAL rather than an exact meter — accumulator
    * updates inside a transformation re-apply on task retries, so it
    * can over-count under failures (never under-count). A nonzero value
    * distinguishes possibly-lossy eviction from routine drained-bucket
    * expiry. Without the TTL, web traffic's unbounded
    * client-IP cardinality grows the state store monotonically forever.
    * `ttlMs = 0` uses NoTimeout (deterministic tests — with a positive
    * TTL the engine runs timer batches, so tests must poll the sink
    * instead of `processAllAvailable()`).
    *
    * HEAP BOUND of the per-group sort: `batch.toVector.sortBy` below
    * materializes ONE (ip, endpoint) bucket's requests from ONE
    * micro-batch in a single task's heap — O(hottest bucket's arrivals
    * per trigger), NOT unbounded history like the pre-r5 batch path.
    * Size triggers so that (hottest bucket rate × trigger interval)
    * fits an executor's task heap: a 10 kreq/s hot IP on a 10 s trigger
    * is ~10⁵ tiny rows ≈ a few MB — fine; a 10 MINUTE trigger on the
    * same bucket is 6×10⁶ rows and the trigger, not this operator, is
    * what must shrink. The batch-mode twin (RateLimits.simulate)
    * streams with O(limit) state and has no such bound to size. */
  def rateLimitDecisions(reqs: Dataset[graft.query.RateLimits.Req],
      ttlMs: Long = 300000L)
      : Dataset[graft.query.RateLimits.Decision] = {
    import reqs.sparkSession.implicits._
    val nonEmptyEvictions = reqs.sparkSession.sparkContext
      .longAccumulator("rateLimitDecisions.nonEmptyStateEvictions")
    reqs.groupByKey(_.bucket)
      .flatMapGroupsWithState[Seq[Long], graft.query.RateLimits.Decision](
        OutputMode.Append, ttlTimeout(ttlMs)) {
        (_: (Long, String, Int), batch: Iterator[graft.query.RateLimits.Req],
            state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) {
            // timestamps still recorded at expiry ⇒ possibly-lossy evict
            // (the 60 s window may not have drained in EVENT time if
            // ingestion lags) — count it so it is observable
            if (state.getOption.exists(_.nonEmpty)) nonEmptyEvictions.add(1)
            state.remove(); Iterator.empty
          }
          else {
            val q = scala.collection.mutable.ArrayDeque.from(
              state.getOption.getOrElse(Seq.empty))
            val out = batch.toVector.sortBy(r => (r.sec, r.event_id))
              .map(graft.query.RateLimits.decideOne(_, q))
            state.update(q.toSeq)
            renewTtl(state, ttlMs)
            out.iterator
          }
      }
  }

  /** Streaming stable turn ordering (W2's streaming twin): per-conversation
    * positions assigned incrementally ACROSS micro-batches. State = one
    * long per live conversation (the running turn count); within a batch,
    * turns sort by (turn_idx, ts) exactly like the batch window. Positions
    * stay contiguous as long as a conversation's turns arrive in
    * batch-monotonic order (the webhook ingestion contract); each turn is
    * extracted via the tool-dispatched pipeline on the way through.
    *
    * State is BOUNDED: a conversation idle past `ttlMs` of processing time
    * is evicted (its running count is recoverable from the batch pages
    * table — `max(turn_pos)` per conv — if it ever resumes), so the state
    * store holds only live conversations instead of one entry per conv_id
    * ever seen: at 10^9 historical conversations the difference is ~10s of
    * GB of state that never evicts. `ttlMs = 0` disables expiry
    * (deterministic tests; with a positive TTL the engine keeps running
    * timer micro-batches, so `noNewData` never latches and
    * `processAllAvailable()` blocks forever — production uses a real
    * trigger interval, tests poll the sink).
    *
    * HEAP BOUND: the per-group `batch.toVector.sortBy` holds one
    * conversation's turns from ONE micro-batch in one task's heap —
    * bounded by (per-conversation arrival rate × trigger interval).
    * Turn payloads are KB-sized, so the trigger must keep the hottest
    * conversation's per-trigger volume in task-heap range; the batch
    * path (ExtractJob.withTurnPos) has no such bound — it window-sorts
    * distributedly. */
  def streamingExtractWithTurnPos(turns: Dataset[Turn], ttlMs: Long = 300000L)
      : Dataset[graft.model.ExtractedTurn] = {
    import turns.sparkSession.implicits._
    turns.groupByKey(_.conv_id)
      .flatMapGroupsWithState[Long, graft.model.ExtractedTurn](
        OutputMode.Append, ttlTimeout(ttlMs)) {
        (_: String, batch: Iterator[Turn], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = batch.toVector.sortBy(t => (t.turn_idx, t.ts.getTime))
            var pos = state.getOption.getOrElse(0L)
            val out = sorted.map { t =>
              pos += 1
              ExtractJob.extractOne(t).copy(turn_pos = pos)
            }
            state.update(pos)
            renewTtl(state, ttlMs)
            out.iterator
          }
      }
  }

  /** Streaming twin of [[graft.query.Analytics.rollup]]: the same
    * `Analytics.RollupMeasures` per bot_family × endpoint over
    * watermarked 1-day tumbling windows, keyed by `day_start`. The
    * watermark bounds state exactly like the rate limiter's (late events
    * beyond 1 day drop; closed windows emit once in Append mode). Input: a
    * typed event stream with (ts, bot_family, endpoint, event_type,
    * duration_ms) — e.g. `Analytics.deriveEvents` applied to a streaming
    * request log (deriveEvents is pure column transforms, so it composes
    * with readStream unchanged). */
  def analyticsRollupStream(events: DataFrame): DataFrame = {
    val measures = graft.query.Analytics.RollupMeasures
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("bot_family"), col("endpoint"))
      .agg(measures.head, measures.tail: _*)
      .select(col("window.start").as("day_start"), col("*"))
      .drop("window")
  }

  final case class GwEvent(session_id: String, kind: String, path: String,
      detected_type: String, answer_intent: Option[String],
      ts: java.sql.Timestamp)
  final case class GwSessionState(path: String, detectedType: String)
  final case class GwOut(session_id: String, status: String, intent: String,
      path: String, detected_type: String)

  /** Mode-1 dialogue routing (gateway.js:347-453, LLM-GATEWAY.md:175-341):
    * `cold_start` creates a 300 s session and emits `created`; a `respond`
    * within the TTL emits `tailored` (answers defaulted per
    * extractIntentData, gateway.js:430-436) and deletes the session;
    * a `respond` with no live session emits `session_expired` (the
    * SESSION_EXPIRED error path). State = one tiny row per open session,
    * dropped on answer or timeout — bounded like the reference's swept
    * Map. `ttlMs = 0` uses NoTimeout (deterministic tests).
    *
    * HEAP BOUND: the per-group `batch.toVector.sortBy` holds one
    * SESSION's events from one micro-batch in one task's heap. A
    * session is a single dialogue (a handful of cold_start/respond
    * events), so any sane trigger keeps this in bytes — the bound is
    * per session id, not per IP or per site. */
  def dialogueSessions(events: Dataset[GwEvent], ttlMs: Long = 300000L)
      : Dataset[GwOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.session_id)
      .flatMapGroupsWithState[GwSessionState, GwOut](OutputMode.Append, ttlTimeout(ttlMs)) {
        (sid: String, batch: Iterator[GwEvent], state: GroupState[GwSessionState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = Vector.newBuilder[GwOut]
            batch.toVector.sortBy(_.ts.getTime).foreach { e =>
              e.kind match {
                case "cold_start" =>
                  state.update(GwSessionState(e.path, e.detected_type))
                  renewTtl(state, ttlMs)
                  out += GwOut(sid, "created", "", e.path, e.detected_type)
                case "respond" =>
                  state.getOption match {
                    case Some(s) =>
                      state.remove()
                      out += GwOut(sid, "tailored",
                        e.answer_intent.getOrElse("answer-question"),
                        s.path, s.detectedType)
                    case None =>
                      out += GwOut(sid, "session_expired", "", e.path, e.detected_type)
                  }
                case _ => ()
              }
            }
            out.result().iterator
          }
      }
  }

  final case class SessionEvent(session_id: String, ts: java.sql.Timestamp)
  final case class SessionSummary(session_id: String, events: Long, expired: Boolean)

  /** T7: gateway session store with TTL — one state entry per session id,
    * expired after `ttlMs` of processing-time inactivity (the reference
    * sweeps a Map every 60 s, TTL 300 s — state timeouts are the
    * Spark-native form). `ttlMs = 0` disables expiry (NoTimeout), which is
    * also what deterministic tests use: pending processing-time timeouts
    * keep a zero-interval trigger spinning empty micro-batches. */
  def sessionSummaries(events: Dataset[SessionEvent], ttlMs: Long = 300000L)
      : Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.session_id)
      .mapGroupsWithState[Long, SessionSummary](ttlTimeout(ttlMs)) {
        (sid: String, batch: Iterator[SessionEvent], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.getOption.getOrElse(0L)
            state.remove()
            SessionSummary(sid, n, expired = true)
          } else {
            val n = state.getOption.getOrElse(0L) + batch.size
            state.update(n)
            renewTtl(state, ttlMs)
            SessionSummary(sid, n, expired = false)
          }
      }
  }
}
