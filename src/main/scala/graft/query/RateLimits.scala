package graft.query

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions._

/** The sidecar's per-(ip, endpoint) sliding-window rate limiter
  * (`/root/reference/sidecar/rate_limiter.py`) as a distributed batch/
  * streaming operator with EXACT admission sequencing.
  *
  * Reference semantics mirrored here:
  *
  *  - endpoint classification (`_get_endpoint_limit`,
  *    rate_limiter.py:145-162): `"?q=" in endpoint` → search_rpm; else on
  *    the pre-`?` base path: `".well-known"` → discover_rpm, `"webhook"`
  *    or `"update"` → webhook_rpm, `"sync"` → sync_rpm, else default_rpm
  *    (substring containment, first match wins, exactly that order);
  *  - config defaults {default 100, search 30, discover 100, sync 60,
  *    webhook 10} rpm (RateLimitConfig, rate_limiter.py:28-52 — each
  *    overridable via RATE_LIMIT_*_RPM in the reference, hence the
  *    [[Config]] parameters here);
  *  - admission (`check_rate_limit`, rate_limiter.py:164-218): a request
  *    is allowed iff the count of PREVIOUSLY ALLOWED requests of its
  *    bucket in the trailing 60 s window is < limit — denied requests are
  *    NOT recorded (only `bucket.add_request()` on allow), which makes
  *    the process stateful/greedy rather than a pure window count;
  *  - headers: X-RateLimit-Remaining = max(0, limit − count-before);
  *    X-RateLimit-Reset = oldest-windowed-allowed + 60 on denial
  *    (rate_limiter.py:196-203), now + 60 on allow (rate_limiter.py:215);
  *    the 429 body's `retry_after` is the ABSOLUTE reset timestamp string
  *    (main.py:253 copies X-RateLimit-Reset).
  *
  * Scale shape: buckets are independent → hash-partition by (ip,
  * endpoint) and walk each bucket sequentially (the reference's
  * per-bucket lock is the same serialization); in-flight state per
  * bucket is ≤ limit timestamps. The batch entry point never
  * materializes a bucket in memory: requests are repartitioned on the
  * bucket key, sorted WITHIN partitions by (ip, endpoint, epoch, sec,
  * event_id) — Spark's external sort, which spills — and walked by a
  * streaming `mapPartitions` that resets its O(limit) window state at
  * each bucket boundary. A hot bucket (one bot IP hammering one
  * endpoint — exactly the workload a limiter replay exists to analyze)
  * therefore costs disk spill, not task heap.
  */
object RateLimits {

  /** rate_limiter.py:28-40 defaults. */
  final case class Config(defaultRpm: Int = 100, searchRpm: Int = 30,
    discoverRpm: Int = 100, syncRpm: Int = 60, webhookRpm: Int = 10)

  /** `_get_endpoint_limit` (rate_limiter.py:145-162) as a codegen'd
    * when-chain. */
  def endpointLimit(endpoint: Column, cfg: Config = Config()): Column = {
    val base = substring_index(endpoint, "?", 1)
    when(endpoint.contains("?q="), cfg.searchRpm)
      .when(base.contains(".well-known"), cfg.discoverRpm)
      .when(base.contains("webhook") || base.contains("update"), cfg.webhookRpm)
      .when(base.contains("sync"), cfg.syncRpm)
      .otherwise(cfg.defaultRpm)
  }

  /** One request. `epoch` numbers the quota resets of its bucket
    * (`RateLimiter.reset_quota`, rate_limiter.py:276-294): a fresh epoch
    * is a recreated bucket with an empty window. 0 for a log without
    * resets. */
  final case class Req(ip: Long, endpoint: String, sec: Long, event_id: Long,
      limit_rpm: Int, epoch: Int = 0) {
    /** The limiter bucket: the key of both the batch walk and its
      * streaming twin. */
    def bucket: (Long, String, Int) = (ip, endpoint, epoch)
  }
  final case class Decision(ip: Long, endpoint: String, event_id: Long,
    sec: Long, limit_rpm: Int, allowed: Boolean, remaining: Int,
    reset_ts: Long, retry_after: Option[Long])

  /** Exact `check_rate_limit` sequencing over a batch request log: one
    * decision row per request with the allow/deny verdict and the
    * X-RateLimit header values. Distributed across buckets (hash
    * repartition on (ip, endpoint)); within a bucket the walk is
    * inherently sequential — the same serialization the reference's
    * per-bucket lock imposes — but it STREAMS: `sortWithinPartitions`
    * time-orders each partition with Spark's spilling external sort, and
    * the partition walk detects bucket boundaries on the fly, so the only
    * in-heap state is the ≤ limit_rpm allowed-timestamp window (the
    * reference's `RateLimitInfo.requests` after cleanup). A single
    * (ip, endpoint) bucket with 10⁹ requests never lands in one task's
    * memory.
    *
    * The repartition is on the PARENT key (ip, endpoint), never on the
    * epoch: every epoch bucket is a subset of its parent bucket, so
    * parent clustering suffices, and when the input already comes
    * hash-partitioned by exactly (ip, endpoint) — e.g. the rn-capped
    * request synthesis, whose row_number window exchanges by that key —
    * EnsureRequirements drops the repartition as redundant and the log
    * shuffles once. The planner proves that clustering; PlanSpec pins
    * the single exchange on the quota queries. */
  def simulate(reqs: Dataset[Req]): Dataset[Decision] = {
    import reqs.sparkSession.implicits._
    reqs.repartition(col("ip"), col("endpoint"))
      .sortWithinPartitions("ip", "endpoint", "epoch", "sec", "event_id")
      .mapPartitions { it =>
        var cur: (Long, String, Int) = null
        val q = scala.collection.mutable.ArrayDeque.empty[Long]
        it.map { r =>
          if (r.bucket != cur) { cur = r.bucket; q.clear() }
          decideOne(r, q)
        }
      }
  }

  /** Decide one request against its bucket's window state `q` (the
    * allowed timestamps still inside the window — the reference's
    * `RateLimitInfo.requests` after cleanup), mutating `q`. Shared by the
    * streaming partition walk in [[simulate]] and the structured-streaming
    * twin (which carries `q` across micro-batches as group state). */
  def decideOne(r: Req,
      q: scala.collection.mutable.ArrayDeque[Long]): Decision = {
    // cleanup (rate_limiter.py:65-69): keep ts with now - ts < 60
    while (q.nonEmpty && q.head < r.sec - 59) q.removeHead()
    val cnt = q.size
    val allowed = cnt < r.limit_rpm
    val remaining = math.max(r.limit_rpm - cnt, 0)
    // denial with an EMPTY recorded window (possible when limit_rpm <= 0,
    // the RATE_LIMIT_*_RPM=0 override) falls back to now + 60, exactly
    // like the reference's `if bucket.requests: ... else now + 60`
    // (rate_limiter.py:196-203)
    val reset = if (allowed || q.isEmpty) r.sec + 60 else q.head + 60
    if (allowed) q.append(r.sec)
    Decision(r.ip, r.endpoint, r.event_id, r.sec, r.limit_rpm, allowed,
      remaining, reset, if (allowed) None else Some(reset))
  }
}
