package graft.tools

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: the round-3 scale smoke — a corpus ~10× the per-round bench
  * (≈15M turns; mega-conversation included) through extraction + the
  * stable-ordering window end-to-end, plus the dedup pipeline (production
  * xxhash64 minhash + n-gram jaccard with the in-job df cap) over a 10×
  * documents table with a genuinely larger vocabulary (each replica
  * rewrites doc ids into its text so shingles diverge). Validates spill
  * behavior and the df-cap at a bigger-vocabulary scale than sf0.1.
  *
  * Run: `sbt "runMain graft.tools.ScaleSmoke"`; results land in NOTES.md
  * by hand. Env: SPARK_GRAFT_SMOKE_CONVS (default 1,280,000 ≈ 15.4M
  * turns), SPARK_GRAFT_SMOKE_REPLICAS (default 10).
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_CONVS", "1280000").toLong
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SMOKE_REPLICAS", "10").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-scale-smoke")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (8 << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SMOKE $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    // ---- extraction + ordering at ~15M turns (10× the bench corpus) ----
    val inputPath = s"/tmp/graft_smoke_input_$nConvs"
    val fs = new org.apache.hadoop.fs.Path(inputPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(inputPath)))
      timed("generate+write corpus")(
        graft.job.Transcripts.generate(spark, nConvs, megaTurns = 200000)
          .repartition(512).write.mode(SaveMode.Overwrite).parquet(inputPath))
    val turns = spark.read.parquet(inputPath).as[graft.model.Turn]
    val total = timed("extract (map-only)")(
      graft.job.ExtractJob.extract(turns).count())
    println(s"SMOKE turns extracted: $total")
    val ordered = timed("extract + ordering window")(
      graft.job.ExtractJob.withTurnPos(graft.job.ExtractJob.extract(turns)).count())
    require(ordered == total)

    // ---- dedup pipeline at 10× documents, larger vocabulary ----
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs0 = docs0.count()
    val docs = docs0
      .crossJoin(spark.range(replicas).select(col("id").as("rep")))
      .select(
        (col("doc_id") * replicas + col("rep")).as("doc_id"),
        // rewrite the replica id INTO the text so replica shingles diverge
        // (vocabulary actually grows ~10×; a plain copy would only test
        // duplicate collapse, not df-cap behavior under a wider vocab)
        concat(col("text"), lit(" replica-token-"), col("rep"),
          lit(" doc-token-"), col("doc_id") * replicas + col("rep")).as("text"))
    println(s"SMOKE documents: ${nDocs0 * replicas} (${nDocs0} × $replicas)")
    val mh = timed("minhash pairs (production xxhash64, df-cap 5%)")(
      graft.query.Queries.minHashPairs(docs, portable = false).count())
    println(s"SMOKE minhash pairs: $mh")
    val nj = timed("ngram jaccard pairs (df-cap 5%)")(
      graft.query.Queries.ngramJaccardPairs(docs).count())
    println(s"SMOKE jaccard pairs: $nj")

    // connected components over the full 10×-scale pair graph: each
    // original doc's replica fan must collapse to one cluster
    val clusters = timed("connected components over minhash pairs")(
      graft.query.Queries.neardupClusters(docs, portable = false))
    val nClusters = clusters.select("cluster_id").distinct().count()
    val nLabeled = clusters.count()
    println(s"SMOKE cc clusters: $nClusters over $nLabeled labeled docs")
    // ---- deep-chain connected components: a 10⁵-node path graph (the
    // worst case for diameter-bound label propagation — 10⁵+1 rounds
    // there) must converge in ~2·log₂(n) star-contraction rounds
    val chainN = sys.env.getOrElse("SPARK_GRAFT_SMOKE_CHAIN", "100000").toLong
    val chain = spark.range(chainN)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (chainLabels, chainRounds) = timed(s"star CC over a depth-$chainN chain")(
      graft.ops.Dedup.starRounds(chain, maxIters = 80))
    val chainClusters = chainLabels.select("cluster_id").distinct().count()
    println(s"SMOKE chain CC: $chainRounds rounds (~2·log2 bound = " +
      s"${2 * (math.log(chainN.toDouble) / math.log(2)).ceil.toInt}), " +
      s"$chainClusters cluster(s)")
    require(chainClusters == 1, "chain must collapse to one component")
    require(chainRounds <= 2 * (math.log(chainN.toDouble) / math.log(2)).ceil.toInt + 2,
      s"star contraction took $chainRounds rounds on a depth-$chainN chain")

    // ---- hot-bucket rate-limiter replay: one (ip, endpoint) bucket with
    // ~10⁶ requests (a bot hammering one endpoint — the workload a limiter
    // replay analyzes). The batch walk must stream it (external sort +
    // O(limit) window state), never materialize the bucket in one task
    // heap. Invariant checked: allowed count == one admission per window
    // slot (limit per rolling 60 s) plus a background bucket for contrast.
    val hotN = sys.env.getOrElse("SPARK_GRAFT_SMOKE_HOT_REQS", "1000000").toLong
    val hotReqs = spark.range(hotN).select(
        lit(7L).as("ip"), lit("/openfeeder?q=bot").as("endpoint"),
        (col("id") / lit(100)).cast("long").as("sec"), // ~100 req/s for ~10⁴ s
        col("id").as("event_id"), lit(30).as("limit_rpm"), lit(0).as("epoch"))
      .unionByName(spark.range(500).select(
        lit(8L).as("ip"), lit("/openfeeder").as("endpoint"),
        (col("id") * 7).cast("long").as("sec"), col("id").as("event_id"),
        lit(100).as("limit_rpm"), lit(0).as("epoch")))
    val hotDecisions = timed(s"rate-limiter replay, hot bucket ($hotN reqs)")(
      graft.query.RateLimits.simulate(hotReqs.as[graft.query.RateLimits.Req])
        .filter(col("ip") === 7L && col("allowed")).count())
    // 30 rpm over 10⁴ s of requests → ~30 per 60 s window
    val expectedAllowed = (hotN / 100 / 60 + 1) * 30
    println(s"SMOKE hot-bucket allowed: $hotDecisions (≈ $expectedAllowed)")
    require(hotDecisions <= expectedAllowed,
      s"hot bucket admitted $hotDecisions > window bound $expectedAllowed")

    // ---- adapter chunker variants: row-local throughput ----------------
    // All seven variants are pure per-row functions (no shuffle, no
    // state), so 100 TB readiness is purely a per-core-throughput
    // question. Synthesize ~200k multi-paragraph posts (~1.4 kB each,
    // <pre>-wrapped for the WP path so its packer actually packs) and
    // measure each variant's chunking rate.
    val postN = sys.env.getOrElse("SPARK_GRAFT_SMOKE_POSTS", "200000").toLong
    val posts = spark.range(postN).select(col("id"),
      concat_ws("\n\n",
        concat(lit("Paragraph one about topic "), col("id"),
          lit(" with some repeated filler words to reach realistic size. "
            + ("lorem ipsum dolor sit amet " * 8))),
        concat(lit("Second paragraph for post "), col("id"), lit(". "
          + ("content body text goes here " * 8))),
        concat(lit("- bullet a\n- bullet b\n- bullet "), col("id")),
        lit("Closing words. " * 20)).as("body"))
      .select(col("id"), col("body"),
        concat(lit("<pre>"), col("body"), lit("</pre>")).as("preBody"))
      .cache()
    posts.count()
    import graft.extract.AdapterChunker
    import graft.extract.AdapterChunker.Variant
    for ((name, v) <- Seq("express" -> Variant.Express, "wp" -> Variant.Wp,
        "fastapi" -> Variant.FastApi, "joomla" -> Variant.Joomla,
        "woo" -> Variant.Woo, "drupal" -> Variant.Drupal)) {
      val colIn = if (v == Variant.Wp) col("preBody") else col("body")
      val n = timed(s"chunker variant $name ($postN posts)")(
        posts.select(col("id"), colIn.as("c")).as[(Long, String)]
          .flatMap { case (id, c) =>
            AdapterChunker.chunkContent(c, s"/post/$id", v).map(_.chunkType) }
          .count())
      println(s"SMOKE chunker $name: $n chunks")
    }
    posts.unpersist()

    println("SMOKE done; cacheManager empty = " +
      spark.sharedState.cacheManager.isEmpty)
    spark.stop()
  }
}
