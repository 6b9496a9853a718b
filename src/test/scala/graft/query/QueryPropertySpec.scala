package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the query-layer operators added in round 4:
  *
  *  - the distributed rate-limiter admission ([[RateLimits.simulate]]) is
  *    compared decision-for-decision against an INDEPENDENT driver-side
  *    transliteration of the reference's `check_rate_limit` /
  *    `RateLimitInfo.cleanup` (rate_limiter.py:65-69,164-218) on random
  *    request streams — not against its own logic;
  *  - keyset sync pagination chains without gaps or overlaps: walking
  *    cursor pages reassembles exactly the full ordered change window.
  */
class QueryPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("query-property-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def forAll[A](g: Gen[A], minSuccessful: Int)(f: A => Unit): Unit = {
    var produced = 0
    var seed = 4242L
    while (produced < minSuccessful) {
      g.apply(Gen.Parameters.default, Seed(seed)) match {
        case Some(a) => f(a); produced += 1
        case None => ()
      }
      seed += 1
    }
  }

  /** Direct transliteration of the reference limiter (driver-side, one
    * mutable list per bucket — structurally the Python, not the Spark
    * operator): cleanup keeps `now - ts < 60`; allow iff count < limit;
    * only allowed requests are recorded; reset = oldest + 60 on denial,
    * now + 60 on allow. */
  private def referenceSimulate(reqs: Seq[RateLimits.Req])
      : Map[Long, (Boolean, Int, Long, Option[Long])] = {
    val buckets = scala.collection.mutable.Map
      .empty[(Long, String), scala.collection.mutable.ListBuffer[Long]]
    reqs.groupBy(r => (r.ip, r.endpoint)).flatMap { case (key, rs) =>
      val bucket = buckets.getOrElseUpdate(key,
        scala.collection.mutable.ListBuffer.empty[Long])
      rs.sortBy(r => (r.sec, r.event_id)).map { r =>
        val kept = bucket.filter(ts => r.sec - ts < 60)
        bucket.clear(); bucket ++= kept
        val count = bucket.size
        val allowed = count < r.limit_rpm
        val remaining = math.max(0, r.limit_rpm - count)
        // Python: `if bucket.requests: oldest + 60 else now + 60`
        // (rate_limiter.py:196-203) — the empty-bucket denial is reachable
        // when a limit is overridden to 0 (RATE_LIMIT_*_RPM=0)
        val reset =
          if (allowed || bucket.isEmpty) r.sec + 60 else bucket.head + 60
        if (allowed) bucket += r.sec
        r.event_id -> ((allowed, remaining, reset,
          if (allowed) None else Some(reset)))
      }
    }
  }

  private val reqStream: Gen[Seq[RateLimits.Req]] = for {
    n <- Gen.choose(20, 80)
    // webhook limit spans {0, 1}: 0 models the RATE_LIMIT_WEBHOOK_RPM=0
    // override, whose every denial takes the empty-bucket reset fallback
    webhookLimit <- Gen.oneOf(0, 1)
    rows <- Gen.listOfN(n, for {
      ip <- Gen.choose(0L, 2L)
      ep <- Gen.oneOf("/openfeeder?q=x", "/openfeeder/sync",
        "/webhook/update", "/openfeeder")
      sec <- Gen.choose(0L, 240L)
    } yield (ip, ep, sec))
  } yield rows.zipWithIndex.map { case ((ip, ep, sec), i) =>
    val lim = RateLimits.Config(defaultRpm = 3, searchRpm = 2,
      discoverRpm = 3, syncRpm = 2, webhookRpm = webhookLimit)
    val limit = ep match {
      case e if e.contains("?q=") => lim.searchRpm
      case e if e.contains("webhook") => lim.webhookRpm
      case e if e.contains("sync") => lim.syncRpm
      case _ => lim.defaultRpm
    }
    RateLimits.Req(ip, ep, sec, i.toLong, limit)
  }

  test("distributed admission == reference transliteration on random streams") {
    val s = spark; import s.implicits._
    forAll(reqStream, 8) { reqs =>
      val expected = referenceSimulate(reqs)
      val got = RateLimits.simulate(reqs.toDS()).collect()
      assert(got.length == reqs.size)
      got.foreach { d =>
        val (allowed, remaining, reset, retry) = expected(d.event_id)
        assert(d.allowed == allowed, s"event ${d.event_id} allowed")
        assert(d.remaining == remaining, s"event ${d.event_id} remaining")
        assert(d.reset_ts == reset, s"event ${d.event_id} reset")
        assert(d.retry_after == retry, s"event ${d.event_id} retry_after")
      }
      // global invariant: within any bucket, the allowed requests in any
      // trailing 60 s window never exceed that bucket's limit
      got.filter(_.allowed).groupBy(d => (d.ip, d.endpoint)).foreach {
        case (_, ds) =>
          val secs = ds.map(_.sec).sorted
          secs.foreach { t =>
            val inWindow = secs.count(x => x <= t && t - x < 60)
            assert(inWindow <= ds.head.limit_rpm,
              s"window at $t holds $inWindow > limit ${ds.head.limit_rpm}")
          }
      }
    }
  }

  test("epoch-column walk on window-clustered input == simulate on the epoch-suffixed key it replaced") {
    val s = spark; import s.implicits._
    forAll(reqStream, 4) { reqs =>
      // shape the input like rateLimitRequests does: a row_number window
      // partitioned by exactly (ip, endpoint), narrow ops after it — the
      // clustering that lets the planner drop simulate's own repartition
      def clustered = reqs.toDS().toDF()
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
          .Window.partitionBy("ip", "endpoint").orderBy("sec", "event_id")))
        .filter(col("rn") >= 1).drop("rn")
      val plain = RateLimits.simulate(clustered.as[RateLimits.Req])
      val plan = plain.queryExecution.executedPlan.toString
      assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
        "the window's exchange must be the walk's only one:\n" + plan.take(1500))
      val pub = RateLimits.simulate(reqs.toDS()).collect().sortBy(_.event_id)
      assert(plain.collect().sortBy(_.event_id).toSeq == pub.toSeq)
      // the x_quota_reset shape: an epoch column set AFTER the window
      // splits each bucket; the form it replaced folded the epoch into
      // the key ("endpoint#epoch") and stripped the suffix after the walk
      val epochs = RateLimits.simulate(clustered
          .withColumn("epoch", pmod(col("sec"), lit(2)).cast("int"))
          .as[RateLimits.Req])
        .collect().sortBy(_.event_id)
      val suffixed = reqs.map(r => r.copy(endpoint = s"${r.endpoint}#${r.sec % 2}"))
      val viaSuffix = RateLimits.simulate(suffixed.toDS()).collect().sortBy(_.event_id)
        .map(d => d.copy(endpoint = d.endpoint.takeWhile(_ != '#')))
      assert(epochs.toSeq == viaSuffix.toSeq)
    }
  }

  test("limit 0 override: every request denied with the now+60 empty-bucket reset") {
    val s = spark; import s.implicits._
    // rate_limiter.py:196-203: denial with bucket.requests empty (nothing
    // was ever allowed) resets at now + 60, not oldest + 60
    val reqs = Seq(RateLimits.Req(1L, "/webhook/update", 10L, 0L, 0),
      RateLimits.Req(1L, "/webhook/update", 25L, 1L, 0))
    val got = RateLimits.simulate(reqs.toDS()).collect().sortBy(_.event_id)
    got.zip(Seq(70L, 85L)).foreach { case (d, expectedReset) =>
      assert(!d.allowed)
      assert(d.remaining == 0)
      assert(d.reset_ts == expectedReset)
      assert(d.retry_after.contains(expectedReset))
    }
  }

  test("keyset sync pages chain into exactly the full ordered window") {
    val s = spark; import s.implicits._
    val sinceTs = lit("2024-01-10 00:00:00").cast("timestamp")
    val untilTs = lit("2024-01-20 00:00:00").cast("timestamp")
    val win = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(concat(lit("/page/"), col("event_id")).as("url"), col("ts"))
      .filter(col("ts") >= sinceTs && col("ts") <= untilTs)
    val full = win.select("url").orderBy("url").collect().map(_.getString(0)).toSeq
    val pageSize = 37
    var cursor = ""
    val assembled = Seq.newBuilder[String]
    var pages = 0
    var done = false
    while (!done) {
      val page = win.filter(col("url") > cursor).orderBy("url").limit(pageSize)
        .collect().map(_.getString(0)).toSeq
      assembled ++= page
      pages += 1
      if (page.size < pageSize) done = true else cursor = page.last
      assert(pages <= full.size / pageSize + 2, "cursor walk must terminate")
    }
    val got = assembled.result()
    assert(got == full, "concatenated pages must equal the full ordered window (no gaps, no overlaps)")
    // the cursor walk only stops on a short page, so an exact-multiple
    // window costs one extra (empty) page: pages = size/pageSize + 1
    // for every size, including 0
    assert(pages == full.size / pageSize + 1, s"pages=$pages size=${full.size}")
  }
}
