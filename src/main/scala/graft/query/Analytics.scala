package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's analytics event surface re-expressed as batch column
  * transforms — `/root/reference/sidecar/analytics_provider.py:16-191`
  * (BOT_FAMILIES / detect_bot / the typed events) under the EXACT
  * middleware + handler emission rules, each pinned to its reference call
  * site (`/root/reference/sidecar/main.py`):
  *
  *  - internal endpoints (`/healthz`, `/.well-known/openfeeder.json`)
  *    skip the rate limiter entirely and track `api.request`
  *    unconditionally — even for a 5xx (main.py:206-225);
  *  - otherwise a rate-limited request emits ONLY `api.ratelimit`
  *    (the 429 early return at main.py:231-256 — no api.request for it);
  *  - otherwise the middleware emits `api.request` when status < 500
  *    (main.py:269-280) plus `api.bot` when the UA resolves to a known
  *    bot family (main.py:283-291 — non-internal path only);
  *  - the `/openfeeder` GET handler ADDITIONALLY tracks its own
  *    APIRequestEvent with a `request_type` of index/search/single/stats
  *    (track_openfeeder_request, main.py:363-389; call sites 480, 524,
  *    562, 600, 613; the sync handler's inline track at 455-470 with
  *    request_type="stats") — so a feed request that reaches a handler
  *    terminal (200, or the search/single 404 paths) emits `api.request`
  *    TWICE, exactly as the reference double-tracks it;
  *  - `api.search` fires for BOTH the 200 success (main.py:548-558) and
  *    the zero-result 404 (main.py:510-522 — SearchEvent(results_count=0)
  *    is tracked before the 404 returns);
  *  - `api.sync` fires on sync-mode 200s (main.py:444-452).
  *
  * There is deliberately NO `api.error` event: ErrorEvent exists in
  * analytics_provider.py:176-191 but no request handler ever calls
  * `track_error` (zero call sites outside provider plumbing and tests).
  *
  * Everything is codegen'd expressions (when-chains + one explode); the
  * event fan-out is bounded (≤ 5 events per request), so the derived event
  * table is O(requests) and the rollup shuffles only its narrow grouping
  * keys.
  */
object Analytics {

  /** analytics_provider.py:16-30 — BOT_FAMILIES, insertion-ordered. */
  val BotFamilies: Seq[(String, String)] = Seq(
    "GPTBot" -> "openai", "ChatGPT-User" -> "openai",
    "ClaudeBot" -> "anthropic", "anthropic-ai" -> "anthropic",
    "PerplexityBot" -> "perplexity", "Google-Extended" -> "google",
    "Googlebot" -> "google", "CCBot" -> "common-crawl",
    "cohere-ai" -> "cohere", "FacebookBot" -> "meta",
    "Amazonbot" -> "amazon", "YouBot" -> "you", "Bytespider" -> "bytedance")

  /** detect_bot (analytics_provider.py:33-41): first pattern whose
    * lowercase form is a substring of the lowercase UA wins, in dict
    * insertion order; empty/null UA → ("unknown", "unknown"); no match →
    * ("human-or-unknown", "unknown"). Returns a (bot_name, bot_family)
    * struct column. */
  def detectBot(ua: Column): Column = {
    def pair(name: String, family: String): Column =
      struct(lit(name).as("bot_name"), lit(family).as("bot_family"))
    val lowered = lower(ua)
    val chain = BotFamilies.foldLeft(
      when(ua.isNull || ua === "", pair("unknown", "unknown"))) {
      case (acc, (pat, fam)) =>
        acc.when(lowered.contains(pat.toLowerCase(java.util.Locale.ROOT)),
          pair(pat, fam))
    }
    chain.otherwise(pair("human-or-unknown", "unknown"))
  }

  /** The two endpoints the middleware exempts from rate limiting and
    * tracks unconditionally (main.py:206-208). */
  val InternalEndpoints: Seq[String] = Seq("/healthz", "/.well-known/openfeeder.json")

  /** Derive the typed event stream from a request log carrying
    * (path, method, ua, status_code, duration_ms, rate_limited, q_term,
    * is_sync, url_param, day). One input row fans out to its event rows
    * (explode of a bounded when-array of (event_type, request_type)
    * structs, nulls compacted); every emission rule mirrors a specific
    * reference call site — see the object Scaladoc for the line-by-line
    * mapping. Passes through all request columns plus `event_type`,
    * `request_type` (null except on handler-side api.request rows),
    * `bot_name`, `bot_family`, `endpoint` (the first path segment — the
    * reference rolls up on endpoint, analytics dashboards don't want
    * per-page cardinality). */
  def deriveEvents(requests: DataFrame): DataFrame = {
    val bot = detectBot(col("ua"))
    val internal = col("path").isin(InternalEndpoints: _*)
    // main.py:206-208 — internal endpoints never reach the limiter, so a
    // synthetic rate_limited flag on them is a no-op, as in the reference
    val limited = col("rate_limited") && !internal
    val isFeed = col("path") === "/openfeeder" && col("method") === "GET"
    // handler mode precedence, main.py:394 (sync: since/until and not q),
    // 475 (index: no url, no q), 502 (search: q), 593 (single: url)
    val mode = when(col("is_sync") && col("q_term").isNull, "stats")
      .when(col("url_param").isNull && col("q_term").isNull, "index")
      .when(col("q_term").isNotNull, "search")
      .otherwise("single")
    // handler-side tracking happens at the 200 terminals of all four
    // modes and at the search/single 404 paths (main.py:524/600); 400s
    // return before any tracking, 5xx means the handler threw
    val handlerTracked = isFeed && !limited &&
      (col("status_code") === 200 ||
        (col("status_code") === 404 && mode.isin("search", "single")))
    def ev(t: String): Column = struct(lit(t).as("event_type"),
      lit(null).cast("string").as("request_type"))
    val events = array(
      when(limited, ev("api.ratelimit")),
      when(!limited && (internal || col("status_code") < 500), ev("api.request")),
      when(!limited && !internal && col("status_code") < 500 &&
        col("bot_family") =!= "unknown", ev("api.bot")),
      when(isFeed && !limited && col("q_term").isNotNull &&
        col("status_code").isin(200, 404), ev("api.search")),
      when(isFeed && !limited && col("status_code") === 200 &&
        col("q_term").isNull && col("is_sync"), ev("api.sync")),
      when(handlerTracked,
        struct(lit("api.request").as("event_type"), mode.as("request_type"))))
    requests
      .withColumn("bot_name", bot.getField("bot_name"))
      .withColumn("bot_family", bot.getField("bot_family"))
      .withColumn("endpoint", regexp_extract(col("path"), "^/[^/]*", 0))
      .withColumn("ev", explode(array_compact(events)))
      .withColumn("event_type", col("ev.event_type"))
      .withColumn("request_type", col("ev.request_type"))
      .drop("ev")
  }

  /** The headline rollup's measures, shared by the batch [[rollup]] and
    * its streaming twin `StreamOps.analyticsRollupStream`: event count,
    * the api.request and api.bot subsets, and total duration. */
  private[graft] val RollupMeasures: Seq[Column] = Seq(
    count(lit(1)).as("n_events"),
    sum(when(col("event_type") === "api.request", 1L).otherwise(0L)).as("n_requests"),
    sum(when(col("event_type") === "api.bot", 1L).otherwise(0L)).as("n_bot"),
    sum(col("duration_ms")).as("sum_duration_ms"))

  /** The ANALYTICS.md headline rollup: [[RollupMeasures]] by bot_family ×
    * endpoint × day. Map-side combinable; shuffles only (bot_family,
    * endpoint, day). */
  def rollup(events: DataFrame): DataFrame =
    events.groupBy("bot_family", "endpoint", "day")
      .agg(RollupMeasures.head, RollupMeasures.tail: _*)
}
