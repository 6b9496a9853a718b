package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.job.Transcripts

class StreamOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("stream-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming extraction: file source -> extraction -> parquet sink, resumable") {
    import spark.implicits._
    val in = Files.createTempDirectory("stream-in").toString
    val out = Files.createTempDirectory("stream-out").toString
    val cp = Files.createTempDirectory("stream-cp").toString

    Transcripts.generate(spark, 20).write.mode("append").parquet(in)
    val q1 = StreamOps.extractionStream(spark, in, out, cp)
    q1.awaitTermination()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == Transcripts.expectedCount(20))

    // new files arrive; AvailableNow catch-up processes ONLY the delta
    Transcripts.generate(spark, 45)
      .filter(expr("CAST(substr(conv_id, 6) AS INT) >= 20"))
      .write.mode("append").parquet(in)
    val q2 = StreamOps.extractionStream(spark, in, out, cp)
    q2.awaitTermination()
    val total = spark.read.parquet(out)
    assert(total.count() == Transcripts.expectedCount(45))
    assert(total.select("conv_id", "turn_idx").distinct().count() ==
      Transcripts.expectedCount(45))
    // extracted output matches the batch path per turn
    val one = total.filter($"conv_id" === "conv-0" && $"turn_idx" === 0)
      .select("title", "n_chunks").collect().head
    val batch = graft.job.ExtractJob.extractOne(Transcripts.mkTurn(0, 0, "conv-"))
    assert(one.getString(0) == batch.title && one.getInt(1) == batch.n_chunks)
  }

  test("rate-limit sliding windows flag per-endpoint-class limits") {
    import spark.implicits._
    val in = Files.createTempDirectory("rl-in").toString + "/data"
    // user 1 fires 12 search events in one minute (over the scaled search
    // limit), user 2 fires 12 default-endpoint events (under default 100)
    val rows = (0 until 12).map(i =>
      (1L, "/openfeeder?q=term", new java.sql.Timestamp(1700000000000L + i * 5000L))) ++
      (0 until 12).map(i =>
        (2L, "/openfeeder", new java.sql.Timestamp(1700000000000L + i * 5000L)))
    rows.toDF("user_id", "endpoint", "ts").write.parquet(in)
    val stream = spark.readStream
      .schema("user_id LONG, endpoint STRING, ts TIMESTAMP")
      .parquet(in)
    // Complete mode: the rate limiter asks "who is over the limit right
    // now" — no need to wait for the watermark to close windows (append
    // mode would hold back unclosed windows within a single catch-up run)
    val q = StreamOps.rateLimitWindows(stream,
        graft.query.RateLimits.Config(searchRpm = 10))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("rl")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val flagged = spark.sql("SELECT DISTINCT user_id, endpoint FROM rl").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(flagged.toSet == Set((1L, "/openfeeder?q=term")),
      "only the search bucket exceeds its class limit")
  }

  test("streaming admission decisions carry bucket window state across micro-batches") {
    import spark.implicits._
    import graft.query.RateLimits.{Decision, Req}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Req]
    // ttlMs = 0 (NoTimeout): with a positive TTL the engine keeps running
    // timer batches and processAllAvailable() never returns
    val q = StreamOps.rateLimitDecisions(source.toDS(), ttlMs = 0L)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("rldec")
      .start()
    // webhook-class bucket, limit 1: first allowed, second denied with
    // reset = oldest allowed + 60 (rate_limiter.py:196-203)
    source.addData(Req(1L, "/webhook/update", 0L, 1L, 1),
      Req(1L, "/webhook/update", 10L, 2L, 1))
    q.processAllAvailable()
    // next batch: sec 30 still inside the window of the sec-0 allow →
    // denied (state survived the batch boundary); sec 80 → the sec-0
    // entry aged out, allowed again
    source.addData(Req(1L, "/webhook/update", 30L, 3L, 1),
      Req(1L, "/webhook/update", 80L, 4L, 1))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT event_id, allowed, reset_ts, retry_after FROM rldec ORDER BY event_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, true, 60L, -1L),   // allowed: reset = now + 60
      (2L, false, 60L, 60L),  // denied: reset = oldest(0) + 60, retry_after absolute
      (3L, false, 60L, 60L),  // state crossed the micro-batch boundary
      (4L, true, 140L, -1L))) // window drained → allowed again
  }

  test("streaming admission keys buckets by (ip, endpoint, epoch), like the batch walk") {
    import spark.implicits._
    import graft.query.RateLimits
    import graft.query.RateLimits.Req
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // limit 1: within one epoch the second request is denied; a new epoch
    // (a quota reset) is a fresh bucket and admits again
    val reqs = Seq(Req(1L, "/webhook/update", 0L, 1L, 1),
      Req(1L, "/webhook/update", 10L, 2L, 1),
      Req(1L, "/webhook/update", 20L, 3L, 1, epoch = 1),
      Req(1L, "/webhook/update", 30L, 4L, 1, epoch = 1))
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Req]
    val q = StreamOps.rateLimitDecisions(source.toDS(), ttlMs = 0L)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("rlepoch")
      .start()
    source.addData(reqs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("rlepoch").as[RateLimits.Decision].collect().sortBy(_.event_id)
    val batch = RateLimits.simulate(reqs.toDS()).collect().sortBy(_.event_id)
    assert(streamed.map(_.allowed).toSeq == Seq(true, false, true, false))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming analytics rollup: watermarked day windows per bot_family x endpoint") {
    import spark.implicits._
    val in = Files.createTempDirectory("an-in").toString + "/data"
    def ts(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-0$day $h%02d:00:00")
    // day 1: 2 anthropic /docs requests + 1 openai /search; day 2: 1 anthropic
    Seq(
      (ts(1, 1), "anthropic", "/docs", "api.request", 10L),
      (ts(1, 2), "anthropic", "/docs", "api.bot", 10L),
      (ts(1, 3), "openai", "/search", "api.request", 20L),
      (ts(2, 1), "anthropic", "/docs", "api.request", 30L))
      .toDF("ts", "bot_family", "endpoint", "event_type", "duration_ms")
      .write.parquet(in)
    val stream = spark.readStream
      .schema("ts TIMESTAMP, bot_family STRING, endpoint STRING, event_type STRING, duration_ms LONG")
      .parquet(in)
    val q = StreamOps.analyticsRollupStream(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("anroll")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.sql(
      "SELECT day_start, bot_family, endpoint, n_events, n_requests, sum_duration_ms FROM anroll")
      .collect().map(r => (r.getTimestamp(0).toString.take(10), r.getString(1),
        r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == Set(
      ("2024-01-01", "anthropic", "/docs", 2L, 1L, 20L),
      ("2024-01-01", "openai", "/search", 1L, 1L, 20L),
      ("2024-01-02", "anthropic", "/docs", 1L, 1L, 30L)))
  }

  test("streaming analytics rollup equals Analytics.rollup row for row, n_bot included") {
    import spark.implicits._
    import graft.query.Analytics
    val in = Files.createTempDirectory("an-parity").toString + "/data"
    val rnd = new scala.util.Random(18)
    val paths = Seq("/openfeeder", "/healthz", "/docs/a", "/search/x",
      "/.well-known/openfeeder.json")
    val uas = Seq("GPTBot/1.0", "ClaudeBot/1.0", "Mozilla/5.0 (human)", "", "Googlebot/2.1")
    // a seeded request log over three UTC days, through the batch event
    // derivation, so both rollups read the same typed events
    val reqs = (0 until 400).map { _ =>
      (if (rnd.nextInt(10) == 0) "POST" else "GET", paths(rnd.nextInt(paths.size)),
        uas(rnd.nextInt(uas.size)), Seq(200, 404, 500)(rnd.nextInt(3)),
        rnd.nextInt(100).toLong, rnd.nextInt(8) == 0,
        if (rnd.nextBoolean()) Some("term") else None, rnd.nextInt(4) == 0,
        if (rnd.nextInt(3) == 0) Some("/a") else None,
        new java.sql.Timestamp(1704067200000L + rnd.nextInt(3 * 86400) * 1000L))
    }.toDF("method", "path", "ua", "status_code", "duration_ms", "rate_limited",
      "q_term", "is_sync", "url_param", "ts")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val events = Analytics.deriveEvents(reqs)
    events.write.parquet(in)
    val q = StreamOps.analyticsRollupStream(
        spark.readStream.schema(events.schema).parquet(in))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("anparity")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batch = Analytics.rollup(events)
    val measures = batch.columns.toSeq.filterNot(Set("bot_family", "endpoint", "day"))
    assert(measures.contains("n_bot"))
    val streamed = spark.table("anparity")
    assert(streamed.columns.toSeq == Seq("day_start", "bot_family", "endpoint") ++ measures)
    def byKey(df: org.apache.spark.sql.DataFrame, day: org.apache.spark.sql.Column) =
      df.select(day +: (Seq("bot_family", "endpoint") ++ measures).map(col): _*)
        .collect().map(r => r.toSeq.take(3) -> r.toSeq.drop(3)).toSeq
    val got = byKey(streamed, date_format(col("day_start"), "yyyy-MM-dd"))
    val want = byKey(batch, col("day"))
    assert(got.map(_._1).distinct.size == got.size)
    assert(got.toMap == want.toMap && got.size == want.size)
    assert(want.exists(_._2(measures.indexOf("n_bot")) != 0L),
      "the fixture must produce api.bot events")
  }

  test("gateway session state with TTL via mapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamOps.SessionEvent]
    val q = StreamOps.sessionSummaries(source.toDS(), ttlMs = 0L)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("sess")
      .start()
    source.addData(
      StreamOps.SessionEvent("gw_a", new java.sql.Timestamp(1L)),
      StreamOps.SessionEvent("gw_a", new java.sql.Timestamp(2L)),
      StreamOps.SessionEvent("gw_b", new java.sql.Timestamp(3L)))
    q.processAllAvailable()
    // second batch accumulates into existing session state
    source.addData(StreamOps.SessionEvent("gw_a", new java.sql.Timestamp(4L)))
    q.processAllAvailable()
    val got = spark.sql("SELECT session_id, events, expired FROM sess")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    q.stop()
    assert(got.toSet.contains(("gw_a", 2L, false)))
    assert(got.toSet.contains(("gw_b", 1L, false)))
    assert(got.toSet.contains(("gw_a", 3L, false))) // state carried across batches
  }

  test("streaming turn_pos is contiguous across micro-batches and matches batch extraction") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def mk(conv: String, idx: Int) = graft.model.Turn(conv, idx, "user",
      s"<p>turn $idx of $conv with enough characters to chunk</p>", "browser",
      new java.sql.Timestamp((graft.job.Transcripts.EpochStart + idx * 60L) * 1000L))
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.model.Turn]
    val q = StreamOps.streamingExtractWithTurnPos(source.toDS(), ttlMs = 0L)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ord")
      .start()
    // batch 1: conv A turns 0-2 (out of order), conv B turn 0
    source.addData(mk("A", 2), mk("A", 0), mk("A", 1), mk("B", 0))
    q.processAllAvailable()
    // batch 2: conv A turns 3-4 — positions must CONTINUE from 3
    source.addData(mk("A", 4), mk("A", 3))
    q.processAllAvailable()
    val got = spark.sql("SELECT conv_id, turn_idx, turn_pos, n_chunks FROM ord")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getInt(3))).toMap
    q.stop()
    assert(got(("A", 0))._1 == 1L && got(("A", 1))._1 == 2L && got(("A", 2))._1 == 3L)
    assert(got(("A", 3))._1 == 4L && got(("A", 4))._1 == 5L) // continuity across batches
    assert(got(("B", 0))._1 == 1L)
    // extraction ran the real pipeline on the way through
    assert(got.values.forall(_._2 == 1))
    // equals the batch path's ordering semantics for the same turns
    val batchTurns = Seq(mk("A", 0), mk("A", 1), mk("A", 2), mk("A", 3), mk("A", 4), mk("B", 0))
    val viaBatch = graft.job.ExtractJob.withTurnPos(
        graft.job.ExtractJob.extract(batchTurns.toDS())).collect()
      .map(e => (e.conv_id, e.turn_idx) -> e.turn_pos).toMap
    assert(viaBatch == got.view.mapValues(_._1).toMap)
  }

  test("streaming turn_pos state evicts idle conversations after the TTL") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def mk(conv: String, idx: Int) = graft.model.Turn(conv, idx, "user",
      s"<p>turn $idx of $conv with enough characters to chunk</p>", "browser",
      new java.sql.Timestamp((graft.job.Transcripts.EpochStart + idx * 60L) * 1000L))
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.model.Turn]
    val q = StreamOps.streamingExtractWithTurnPos(source.toDS(), ttlMs = 500L)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("evict")
      .start()
    // NOTE: with ProcessingTimeTimeout the engine keeps running empty
    // micro-batches to fire timers, so `noNewData` never latches and
    // processAllAvailable would block forever — poll the sink instead.
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000L
      while (spark.sql("SELECT count(*) FROM evict").head.getLong(0) < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(100L)
      assert(spark.sql("SELECT count(*) FROM evict").head.getLong(0) >= n,
        s"sink never reached $n rows")
    }
    source.addData(mk("A", 0), mk("A", 1))
    awaitRows(2)
    // let A's processing-time deadline pass; the continuously-running
    // timer batches sweep the timed-out state
    Thread.sleep(1500L)
    source.addData(mk("B", 0))
    awaitRows(3)
    // A's counter was evicted: a late turn restarts at position 1 (the
    // documented contract — positions are resumable from the batch table)
    source.addData(mk("A", 2))
    awaitRows(4)
    val got = spark.sql("SELECT conv_id, turn_idx, turn_pos FROM evict")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    q.stop()
    assert(got(("A", 0)) == 1L && got(("A", 1)) == 2L)
    assert(got(("B", 0)) == 1L)
    assert(got(("A", 2)) == 1L, "state for idle conversation A should have been evicted")
  }

  test("gateway mode-1 dialogue: cold start -> respond within session; expired respond errors") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamOps.GwEvent]
    val q = StreamOps.dialogueSessions(source.toDS(), ttlMs = 0L)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("gw")
      .start()
    // batch 1: two cold starts
    source.addData(
      StreamOps.GwEvent("gw_1", "cold_start", "/blog/post-1", "article", None, ts(1)),
      StreamOps.GwEvent("gw_2", "cold_start", "/products/x", "product", None, ts(2)))
    q.processAllAvailable()
    // batch 2: gw_1 answers (tailored, context comes from the stored
    // session, not the respond event); gw_9 answers with no session
    source.addData(
      StreamOps.GwEvent("gw_1", "respond", "/ignored", "ignored", Some("fact-check"), ts(3)),
      StreamOps.GwEvent("gw_9", "respond", "/late", "page", Some("summarize"), ts(4)))
    q.processAllAvailable()
    // batch 3: gw_1 answers AGAIN -> its session was deleted on answer
    source.addData(
      StreamOps.GwEvent("gw_1", "respond", "/again", "page", Some("summarize"), ts(5)))
    q.processAllAvailable()
    val got = spark.sql("SELECT session_id, status, intent, path FROM gw")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    q.stop()
    assert(got.contains(("gw_1", "created", "", "/blog/post-1")))
    assert(got.contains(("gw_2", "created", "", "/products/x")))
    assert(got.contains(("gw_1", "tailored", "fact-check", "/blog/post-1")))
    assert(got.contains(("gw_9", "session_expired", "", "/late")))
    assert(got.contains(("gw_1", "session_expired", "", "/again")))
  }

  test("group-sort heap bound: cross-batch state stays O(limit) even for a hot bucket") {
    // The scaladoc'd heap bound of the flatMapGroupsWithState operators
    // rests on one assumption: the per-TRIGGER batch Vector is the ONLY
    // term proportional to traffic — everything CARRIED across triggers
    // is O(limit). Pin that: replay a 50k-request hot-bucket micro-batch
    // through the same decideOne the streaming operator maps and
    // assert the carried window queue never exceeds the bucket limit.
    import graft.query.RateLimits
    val limit = 60
    val reqs = (0 until 50000).map { i =>
      RateLimits.Req(ip = 167772161L, endpoint = "/api/search",
        sec = (i / 100).toLong, event_id = i.toLong, limit_rpm = limit)
    }
    val q = scala.collection.mutable.ArrayDeque.empty[Long]
    val out = reqs.map(RateLimits.decideOne(_, q))
    assert(out.size == 50000)
    assert(q.size <= limit) // carried state: at most `limit` timestamps
    // and the window bound held throughout: per 60 s window, exactly
    // `limit` admissions
    assert(out.count(_.allowed) == (reqs.last.sec / 60 + 1) * limit)
  }

  test("wp shortcode strip (C7)") {
    import graft.extract.AdapterChunker
    val content = "[gallery ids=\"1,2\"]\nReal paragraph one stays.\n\n" +
      "[video src=\"x\"]ignored body[/video]\n" +
      "<!-- wp:navigation {\"ref\":4} -->\n[unknown_tag attr=1]\n" +
      "Real paragraph two stays."
    val cleaned = AdapterChunker.cleanWp(content)
    assert(cleaned.contains("Real paragraph one stays."))
    assert(cleaned.contains("Real paragraph two stays."))
    assert(!cleaned.contains("gallery") && !cleaned.contains("ignored body"))
    assert(!cleaned.contains("wp:navigation"))
    // core strip_shortcodes consults the REGISTERED tag table:
    // unregistered markers survive the faithful WP clean verbatim
    assert(cleaned.contains("[unknown_tag attr=1]"))
  }
}
