package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** Physical-plan assertions: the plans the engine relies on at 100 TB must
  * actually materialize at test scale — predicate pushdown into the parquet
  * scan, column pruning, broadcast joins for small dims, whole-stage
  * codegen on the relational surface, and no shuffle in the extraction
  * stage. */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("plan-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** A shuffle on exactly the rate-limit bucket key (ip, endpoint). */
  private val bucketExchange = """Exchange hashpartitioning\(ip#\d+L?, endpoint#\d+, \d+\)""".r

  test("filters push down to the parquet scan (p12 product filters)") {
    val p = plan("p12_product_filters")
    assert(p.contains("PushedFilters:"), p.take(500))
    assert(p.contains("p_retailprice") && p.contains("GreaterThanOrEqual"),
      "price range must reach the scan:\n" + p.take(1200))
  }

  test("column pruning: scan reads only needed columns (p7)") {
    val p = plan("p7_excluded_prefix")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("source"))
    assert(!readSchema.contains("text"), s"text must be pruned: $readSchema")
  }

  test("small dim side broadcasts (j1)") {
    val p = plan("j1_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("anti-join stays a real anti-join with pushed dim filter (j3)") {
    val p = plan("j3_anti_join")
    assert(p.contains("LeftAnti"), p.take(800))
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,350000.0)]")
      || p.contains("GreaterThan(o_totalprice"), p.take(1500))
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort (p10)") {
    val p = plan("p10_topk_min_score")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("pagination plans as ordered offset+limit, never a global window (p3)") {
    val p = plan("p3_pagination")
    assert(!p.contains("Window"), "p3 must not use a single-partition window:\n" + p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("tombstone FIFO cap plans as top-k, never a global window (w4)") {
    val p = plan("w4_tombstone_fifo")
    assert(!p.contains("Window"), "w4 must not use a single-partition window:\n" + p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("search meta join broadcasts the top-k side (x_search_end_to_end)") {
    val p = plan("x_search_end_to_end")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("whole-stage codegen spans the relational surface (q1)") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect() // AQE finalizes the plan on execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    // "*(n)" prefixes mark WholeStageCodegen stages in the final plan string
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p.take(1200))
    assert(p.contains("HashAggregate"))
  }

  test("extraction stage is shuffle-free (map-only scan)") {
    val turns = graft.job.Transcripts.generate(spark, 10)
    val p = graft.job.ExtractJob.extract(turns).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "extraction must not shuffle:\n" + p.take(1200))
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"))
  }

  test("ordering window shuffles exactly once, after extraction") {
    val turns = graft.job.Transcripts.generate(spark, 10)
    val p = graft.job.ExtractJob.withTurnPos(graft.job.ExtractJob.extract(turns))
      .queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one hash exchange, got $exchanges:\n" + p.take(1500))
    assert(p.contains("Window"))
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    // the 100 TB story for repeated conv_id/orderkey joins: bucket both
    // sides once at write time, join with zero shuffle forever after
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    s2.read.parquet(s"$sf/lineitem.parquet")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").mode("overwrite").saveAsTable("li_b")
    s2.read.parquet(s"$sf/orders.parquet")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/o_b").mode("overwrite").saveAsTable("o_b")
    val joined = s2.table("li_b").join(s2.table("o_b"),
      col("l_orderkey") === col("o_orderkey"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("Exchange"), "bucketed join must not shuffle:\n" + p.take(1500))
  }

  test("AQE splits a skewed join partition at runtime") {
    // mega-conversation-style skew: 90% of the fact side hits one key.
    // With thresholds scaled to test data, AQE's OptimizeSkewedJoin must
    // split the hot partition instead of letting one task carry it.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    import s2.implicits._
    val fact = s2.range(200000)
      .select(when($"id" % 10 === 0, lit("hot")).otherwise(concat(lit("k"), $"id"))
        .as("key"), $"id".as("v"))
    val dim = (Seq("hot") ++ (0 until 2000).map(i => s"k$i")).toDF("key")
      .withColumn("d", lit(1))
    val joined = fact.join(dim, "key")
    joined.collect() // materialize THIS queryExecution (count() would plan anew)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("skew=true"), "AQE should mark the skewed join:\n" + p.take(1500))
  }

  test("exact dedup shuffles hashes, not text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.ops.TextOps.exactDedup(docs).queryExecution.executedPlan.toString
    // partial aggregation before the exchange = map-side combine
    val exIdx = p.indexOf("Exchange hashpartitioning")
    val aggIdx = p.indexOf("HashAggregate")
    assert(exIdx >= 0 && aggIdx >= 0 && aggIdx < exIdx,
      "expected partial HashAggregate above the exchange:\n" + p.take(1500))
  }

  test("batch limiter walk streams: partition-local sort, no grouped materialization") {
    val s = spark; import s.implicits._
    val reqs = spark.range(100).select(
        pmod(col("id"), lit(3)).as("ip"),
        when(col("id") < 30, "/openfeeder").otherwise("/openfeeder/sync").as("endpoint"),
        col("id").as("sec"), col("id").as("event_id"), lit(5).as("limit_rpm"),
        (col("id") >= 50).cast("int").as("epoch"))
      .as[RateLimits.Req]
    val p = RateLimits.simulate(reqs).queryExecution.executedPlan.toString
    // bucket distribution = one hash exchange on the PARENT bucket key
    // (epoch buckets subdivide it partition-locally)…
    assert(bucketExchange.findAllIn(p).size == 1, p.take(1500))
    // …then a PARTITION-LOCAL external sort (global=false ⇒ spillable,
    // no second exchange) feeding the streaming mapPartitions walk
    assert(p.contains("Sort [ip") && p.contains("false, 0"),
      "expected a partition-local Sort:\n" + p.take(1500))
    assert(!p.contains("Exchange rangepartitioning"),
      "a global sort would add a range shuffle:\n" + p.take(1500))
    // the round-4 shape (groupByKey + flatMapGroups) materialized each
    // bucket in one task's heap — that operator must be gone
    assert(!p.contains("FlatMapGroups"),
      "hot buckets must stream, not materialize per-group:\n" + p.take(1500))
  }

  test("quota walks reuse the rn window's exchange: one (ip, endpoint) hash exchange, no repartition") {
    // the a6 request synthesis hash-exchanges by (ip, endpoint) for its
    // row_number cap; simulate's own repartition on that key must be
    // dropped by EnsureRequirements (shuffle the request log once), in
    // every query that walks it — including x_quota_reset, whose epoch
    // column refines the buckets without touching the exchange key.
    // Totals match plans/r07/*_after.txt.
    Seq("a6_rate_window" -> 2, "a9_quota_view" -> 3,
        "x_quota_envelope" -> 4, "x_quota_reset" -> 3).foreach { case (q, total) =>
      val p = plan(q)
      assert(!p.contains("REPARTITION_BY_COL"),
        s"$q: simulate's repartition must be planned away:\n" + p.take(3000))
      assert(bucketExchange.findAllIn(p).size == 1,
        s"$q: expected one hashpartitioning(ip, endpoint) exchange:\n" + p.take(3000))
      val exchanges = p.linesIterator.count(_.matches(""".*[-+:] Exchange .*"""))
      assert(exchanges == total, s"$q: $exchanges exchanges, want $total:\n" + p.take(3000))
    }
  }

  test("library dedup/fingerprint operators carry no sort (ordering is the query layer's)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // a range-partitioned Sort inside a library operator is a full extra
    // shuffle for every consumer at 10^9 docs; none of these may embed one
    // (SortMergeJoin/SortAggregate sorts are partition-local — the killer
    // is "Exchange rangepartitioning", which only a global orderBy plans)
    def assertNoGlobalSort(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("rangepartitioning"),
        s"$name must not embed a global sort:\n" + p.take(1500))
    }
    assertNoGlobalSort("exactDedup", graft.ops.TextOps.exactDedup(docs))
    assertNoGlobalSort("fingerprint", graft.ops.TextOps.fingerprint(docs))
    assertNoGlobalSort("simHash", graft.ops.TextOps.simHash(docs))
    assertNoGlobalSort("simHash(portable)", graft.ops.TextOps.simHash(docs, portable = true))
    assertNoGlobalSort("simHashPairs", graft.ops.TextOps.simHashPairs(docs))
    assertNoGlobalSort("ngramJaccardPairs",
      graft.ops.TextOps.ngramJaccardPairs(docs, n = 3, thresholdX1000 = 300, maxDfPct = Some(5)))
    assertNoGlobalSort("minHashPairs",
      graft.ops.Dedup.minHashPairs(docs, n = 3, k = 16, bands = 4, minEstJaccardX1000 = 500))
    assertNoGlobalSort("embeddingNearDups",
      graft.ops.Dedup.embeddingNearDups(emb, dim = 64, thresholdX10000 = 3500, nPlanes = 6))
    // the stricter no-Sort-at-all shape still holds for the two scalar ops
    val pd = graft.ops.TextOps.exactDedup(docs).queryExecution.executedPlan.toString
    assert(!pd.contains("Sort "), "exactDedup must not embed any sort:\n" + pd.take(1200))
    val pf = graft.ops.TextOps.fingerprint(docs).queryExecution.executedPlan.toString
    assert(!pf.contains("Sort "), "fingerprint must not embed any sort:\n" + pf.take(1200))
  }

  test("inner MinHash plan: sh exchange + df window, cap count, doc_id signatures, pair distinct") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (frame, sigs) = graft.ops.Dedup.minHashPairsPlanned(docs, n = 3, k = 16,
      bands = 4, minEstJaccardX1000 = 250, maxDfPct = Some(5))
    try {
      // formatted mode prints each numbered node once, so an exchange under
      // the signature cache counts once however many scans reuse it
      val p = frame.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val nodes = p.split("\n\n").toSeq.map(_.trim)
        .filter(_.matches("""(?s)\(\d+\) .*"""))
      def args(name: String): Seq[String] = nodes
        .filter(_.linesIterator.next().matches(s"""\\(\\d+\\) $name"""))
        .flatMap(_.linesIterator.find(_.startsWith("Arguments: ")))
      val exchanges = args("Exchange")
      def one(what: String, re: String): scala.util.matching.Regex.Match = {
        val hits = exchanges.flatMap(re.r.findFirstMatchIn)
        assert(hits.size == 1, s"want one $what exchange, got ${hits.size}:\n" + p.take(6000))
        hits.head
      }
      val sh = one("shingle", """^Arguments: hashpartitioning\((sh#\d+), \d+\)""").group(1)
      assert(args("Window").exists(_.endsWith(s"[$sh]")),
        s"the df window must partition by the exchanged $sh:\n" + p.take(6000))
      one("cap count", """^Arguments: SinglePartition,""")
      one("signature", """^Arguments: hashpartitioning\(doc_id#\d+L?, \d+\)""")
      one("candidate distinct",
        """^Arguments: hashpartitioning\(doc_a#\d+L?, doc_b#\d+L?, \d+\)""")
      assert(exchanges.size == 4, s"want 4 exchanges, got $exchanges:\n" + p.take(6000))
    } finally sigs.unpersist()
  }

  test("sync envelope composes as one plan: no window, partial collect aggs, 1-row join") {
    val p = plan("x_sync_envelope")
    assert(!p.contains("Window"), "envelope must not use window functions:\n" + p.take(1500))
    // collect_list aggregates run partial-then-final (map-side combine)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p.take(1500))
    // the two 1-row aggregate branches cross-join via broadcast
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("keyset sync page plans as top-k: no window, no full-window collect") {
    val p = plan("x_sync_page")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("Window"), "keyset pagination must not use a window:\n" + p.take(1500))
    assert(!p.toLowerCase.contains("collect_list"),
      "the paginated feed must not build the single-row envelope:\n" + p.take(1500))
  }

  test("ANN store layouts prune partitions: IVF by cell, LSH by signature") {
    import graft.ops.VectorOps
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // the documented 100 TB layout: assign once, write partitioned by the
    // coarse key, probe with partition pruning instead of a full scan
    val ivfDir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    VectorOps.ivfAssign(emb, VectorOps.deterministicCentroids(16, 64))
      .write.mode("overwrite").partitionBy("cell").parquet(ivfDir)
    val probed = spark.read.parquet(ivfDir)
      .filter(col("cell").isin(1, 3, 5))
    val p1 = probed.queryExecution.executedPlan.toString
    assert(p1.contains("PartitionFilters") && p1.contains("cell"),
      "IVF probe must prune cell partitions at the scan:\n" + p1.take(1500))

    val lshDir = java.nio.file.Files.createTempDirectory("graft-lsh").toString
    VectorOps.lshSignature(emb, dim = 64, nPlanes = 6)
      .write.mode("overwrite").partitionBy("lsh_sig").parquet(lshDir)
    val bucketed = spark.read.parquet(lshDir).filter(col("lsh_sig") === 9L)
    val p2 = bucketed.queryExecution.executedPlan.toString
    assert(p2.contains("PartitionFilters") && p2.contains("lsh_sig"),
      "LSH bucket read must prune signature partitions:\n" + p2.take(1500))
  }

  test("product envelope pushes the partkey filter into both scans (p15)") {
    val p = plan("p15_product_envelope")
    assert(p.contains("LessThanOrEqual(p_partkey,500)"), p.take(2000))
    assert(p.contains("LessThanOrEqual(l_partkey,500)"), p.take(2000))
    assert(!p.contains("Window"), p.take(1500))
  }
}
