package graft.job

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.extract.ChunkHtml
import graft.model.{ExtractedTurn, Turn}

/** Distributed == local oracle (FIXTURES.md §2 item 3), stable ordering,
  * salting, scalable rank equality, and checkpoint/resume. */
class ExtractJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("extract-job-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("generator is deterministic and distributed") {
    val a = Transcripts.generate(spark, 50).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = Transcripts.generate(spark, 50).collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.toSeq == b.toSeq)
    assert(a.length == Transcripts.expectedCount(50))
  }

  test("distributed extraction equals single-JVM reference implementation per turn") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 40)
    val got = ExtractJob.extract(turns).collect()
      .map(e => (e.conv_id, e.turn_idx) -> e).toMap
    val local = turns.collect()
    assert(local.nonEmpty)
    local.foreach { t =>
      val e = got((t.conv_id, t.turn_idx))
      // tool-dispatched local reference: render/pdf -> raw-fallback spans,
      // everything else -> full HTML pipeline
      val expected = t.tool match {
        case "render" | "pdf" =>
          graft.extract.SpanFlatten.flatten(t.text).chunks
            .map(c => (c.text, c.chunkType))
        case _ =>
          ChunkHtml(s"${t.conv_id}#${t.turn_idx}", t.text).chunks
            .map(c => (c.text, c.chunkType))
      }
      // per-turn text equality under stable chunk order (the north rule)
      assert(e.chunks.map(c => (c.text, c.chunk_type)) == expected,
        s"turn ${t.conv_id}#${t.turn_idx} diverged")
      assert(e.chunks.map(_.chunk_index) == e.chunks.indices.map(identity))
      assert(e.n_chunks == e.chunks.length)
    }
  }

  test("tool dispatch: render/pdf flatten to spans with the 50 KB cap") {
    val ts0 = new java.sql.Timestamp(Transcripts.EpochStart * 1000L)
    // HTML payload through the render path: tags stripped, spans emitted,
    // no metadata chain, no 20-char minimum
    val html = "<html><body><h1>Title here</h1><p>First paragraph body.</p>\n\n" +
      "<p>Second paragraph body.</p></body></html>"
    val r = ExtractJob.extractOne(Turn("c", 0, "tool", html, "render", ts0))
    assert(r.chunks.nonEmpty && r.chunks.forall(_.chunk_type == "span"))
    assert(r.title == "" && r.metadata.meta_type == "raw")
    // same payload through the default path produces typed HTML chunks
    val h = ExtractJob.extractOne(Turn("c", 0, "tool", html, "browser", ts0))
    assert(h.chunks.map(_.chunk_type).contains("paragraph"))
    assert(h.title == "Title here")

    // pdf routes like render: the same HTML turn differs only in its tool
    val rp = ExtractJob.extractOne(Turn("c", 0, "tool", html, "pdf", ts0))
    assert(rp == r.copy(tool = "pdf"))
    val p = ExtractJob.extractOne(Turn("c", 1, "tool", "plain text span", "pdf", ts0))
    assert(p.chunks.map(_.text) == Seq("plain text span"))
    assert(p.chunks.head.chunk_type == "span")
    assert(p.summary == "plain text span")

    // 50 KB cap: a 60k-char payload is truncated at exactly 50,000 UTF-16
    // units before flattening (JS resp.text.slice(0, 50_000) parity)
    val big = "x" * 60000
    val capped = ExtractJob.extractOne(Turn("c", 2, "tool", big, "render", ts0))
    assert(capped.chunks.map(_.text.length).sum == 50000)
    // and long flattened text still repacks at the 1500-char chunk budget
    val sentences = ("Sentence number one ends here. " * 200).trim
    val packed = ExtractJob.extractOne(Turn("c", 3, "tool", sentences, "render", ts0))
    assert(packed.chunks.length > 1)
    assert(packed.chunks.forall(c => c.text.length <= 1500))
  }

  test("withTurnPos assigns contiguous 1-based positions per conversation") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 30)
    val out = ExtractJob.withTurnPos(ExtractJob.extract(turns)).collect()
    out.groupBy(_.conv_id).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r.turn_idx, r.ts.getTime))
      assert(sorted.map(_.turn_pos).toSeq == (1L to rows.length).toSeq)
    }
  }

  test("scalableTurnPos equals window turn_pos under mega-conversation skew") {
    val turns = Transcripts.generate(spark, 20, megaTurns = 3000, nMega = 1)
    val ex = ExtractJob.extract(turns)
    val viaWindow = ExtractJob.withTurnPos(ex).collect()
      .map(e => (e.conv_id, e.turn_idx) -> e.turn_pos).toMap
    val viaScalable = ExtractJob.scalableTurnPos(ex, partitions = 8).collect()
      .map(e => (e.conv_id, e.turn_idx) -> e.turn_pos).toMap
    assert(viaWindow == viaScalable)
    // the operator owns its intermediate storage: nothing left in the
    // session cacheManager after consumption (no caller-side clearCache)
    assert(spark.sharedState.cacheManager.isEmpty,
      "scalableTurnPos must not leave cacheManager entries behind")
  }

  test("scalableTurnPos computes offsets distributively (broadcast join, no driver collect)") {
    val turns = Transcripts.generate(spark, 10)
    val out = ExtractJob.scalableTurnPos(ExtractJob.extract(turns), partitions = 4)
    val p = out.queryExecution.executedPlan.toString
    // the offsets table joins back via broadcast; the only window runs on
    // the tiny per-(partition, conv) counts, partitioned by conv_id
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CollectLimit"), p.take(1500))
    out.count() // executes without driver-side materialization of offsets
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("crawl BFS: min-depth levels, page cap, robots pre-filter composition") {
    import spark.implicits._
    // a -> b -> c -> d, a -> c (shortcut), e isolated, d -> a (cycle)
    val links = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "a"),
      ("e", "e")).toDF("src", "dst")
    val out = graft.job.Crawl.bfs(links, Seq("a").toDF("url"), maxDepth = 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // shortcut wins: c is depth 1 (min), not 2; cycle terminates; e absent
    assert(out == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
    assert(spark.sharedState.cacheManager.isEmpty)
    // page cap cuts by (depth, url): top-3 = a, then b/c at depth 1
    val capped = graft.job.Crawl.capPages(
      graft.job.Crawl.bfs(links, Seq("a").toDF("url"), maxDepth = 10), maxPages = 3)
      .collect().map(_.getString(0)).toSet
    assert(capped == Set("a", "b", "c"))
    // robots composition: disallowing page b on the SOURCE side means b is
    // discovered but never expands (dequeue-gate semantics); c keeps depth
    // 1 via the a->c shortcut, d is now depth 2 only via c
    val rules = graft.extract.Robots.parse("User-agent: *\nDisallow: /b\n")
    val gated = links
      .filter(rules.allowedColumn("OpenFeeder-Sidecar", concat(lit("/"), col("src"))))
    val out2 = graft.job.Crawl.bfs(gated, Seq("a").toDF("url"), maxDepth = 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out2 == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
  }

  test("crawl BFS materializes per-level deltas, not the whole visited set per level") {
    import spark.implicits._
    // depth-20 chain: n0 -> n1 -> ... -> n20
    val chain = (0 until 20).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("src", "dst")
    val out = graft.job.Crawl.bfs(chain, Seq("n00").toDF("url"), maxDepth = 25)
    val got = out.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == (0 to 20).map(i => f"n$i%02d" -> i).toMap)
    // the result is the union of the 21 checkpointed level deltas — one
    // ExistingRDD scan per level. A visited set re-checkpointed per level
    // (the O(depth·V) storage-write shape this test guards against) would
    // collapse the plan to a single ExistingRDD.
    val scans = out.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("ExistingRDD"))
    assert(scans >= 21, s"expected >=21 level-delta scans, got $scans")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("sitemapSeeds resolves index recursion, cuts cycles, skips missing children") {
    import spark.implicits._
    def idx(children: String*) =
      "<?xml version=\"1.0\"?><sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        children.map(c => s"<sitemap><loc>$c</loc></sitemap>").mkString + "</sitemapindex>"
    def urlset(urls: String*) =
      "<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        urls.map(u => s"<url><loc>$u</loc></url>").mkString + "</urlset>"
    val sitemaps = Seq(
      // root: one child index + one urlset + one url the table lacks
      // (fetch-failure analog) + a cycle back to itself
      ("http://s/sitemap.xml", idx("http://s/child.xml", "http://s/pages.xml",
        "http://s/missing.xml", "http://s/sitemap.xml")),
      ("http://s/child.xml", urlset("http://s/a", "http://s/b")),
      ("http://s/pages.xml", urlset("http://s/b", "http://s/c"))
    ).toDF("url", "xml")
    val seeds = graft.job.Crawl.sitemapSeeds(sitemaps, "http://s/sitemap.xml")
      .collect().map(_.getString(0)).toSet
    assert(seeds == Set("http://s/a", "http://s/b", "http://s/c"))
  }

  test("salted repartition preserves rows and spreads a mega-conversation") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 5, megaTurns = 2000, nMega = 1)
    val salted = ExtractJob.saltedByConv(turns, partitions = 8, salts = 8)
    assert(salted.count() == turns.count())
    val perPartition = salted
      .filter($"conv_id" === "mega-0")
      .mapPartitions(it => Iterator.single(it.length)).collect().filter(_ > 0)
    assert(perPartition.length > 1, "mega conversation should span multiple partitions")
  }

  test("salting composes as run's input: the bucket filter pushes below the salted repartition") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 30, megaTurns = 300, nMega = 1)
    val inGroup = ExtractJob.bucketOf(8).isin(0, 1, 2, 3)
    // the form run used to build per group (slice, then salt) vs the one a
    // caller gets by passing saltedByConv(turns, ...) to run (salt, then slice)
    val old = ExtractJob.saltedByConv(turns.filter(inGroup).as[Turn], 8, 8)
    val composed = ExtractJob.saltedByConv(turns, 8, 8).filter(inGroup).as[Turn]
    assert(old.queryExecution.optimizedPlan == composed.queryExecution.optimizedPlan,
      s"${old.queryExecution.optimizedPlan}\nvs\n${composed.queryExecution.optimizedPlan}")
    def sorted(ds: org.apache.spark.sql.Dataset[Turn]) =
      ds.collect().sortBy(t => (t.conv_id, t.turn_idx)).toSeq
    assert(sorted(old).nonEmpty && sorted(old) == sorted(composed))

    val dirPlain = Files.createTempDirectory("graft-plain").toString
    val dirSalted = Files.createTempDirectory("graft-salted").toString
    ExtractJob.run(turns, ExtractJob.Config(dirPlain, buckets = 8, groups = 2))
    ExtractJob.run(ExtractJob.saltedByConv(turns, 8, 8),
      ExtractJob.Config(dirSalted, buckets = 8, groups = 2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(ExtractJob.readPages(spark, dirSalted)) ==
      rows(ExtractJob.readPages(spark, dirPlain)))
    assert(rows(ExtractJob.readChunks(spark, dirSalted)) ==
      rows(ExtractJob.readChunks(spark, dirPlain)))
  }

  test("scale smoke: 50k-turn mega-conversation through the full ordered pipeline") {
    val turns = Transcripts.generate(spark, 5, megaTurns = 50000, nMega = 1)
    val out = ExtractJob.withTurnPos(ExtractJob.extract(turns))
    val mega = out.filter(org.apache.spark.sql.functions.col("conv_id") === "mega-0")
    val agg = mega.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.min("turn_pos"),
      org.apache.spark.sql.functions.max("turn_pos"),
      org.apache.spark.sql.functions.countDistinct("turn_pos")).collect().head
    assert(agg.getLong(0) == 50000L)
    assert(agg.getLong(1) == 1L && agg.getLong(2) == 50000L)
    assert(agg.getLong(3) == 50000L) // positions contiguous & unique under skew
  }

  test("run + resume: no recompute of completed buckets, identical final output") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 60)
    val dirFull = Files.createTempDirectory("graft-full").toString
    val dirResume = Files.createTempDirectory("graft-resume").toString

    val cfgFull = ExtractJob.Config(dirFull, buckets = 8, groups = 4, runId = "full")
    ExtractJob.run(turns, cfgFull)

    // simulate a crash after 2 of 4 groups
    val cfgA = ExtractJob.Config(dirResume, buckets = 8, groups = 4, runId = "a")
    ExtractJob.run(turns, cfgA, stopAfterGroups = 2)
    val doneAfterCrash = ExtractJob.completedBuckets(spark, dirResume)
    assert(doneAfterCrash.nonEmpty && doneAfterCrash.size < 8)

    // resume with a different runId: only remaining buckets processed
    val cfgB = ExtractJob.Config(dirResume, buckets = 8, groups = 4, runId = "b")
    ExtractJob.run(turns, cfgB)
    val lineage = spark.read.parquet(s"$dirResume/lineage").as[graft.model.LineageRow].collect()
    // no bucket appears under both run ids (nothing recomputed)
    val byBucket = lineage.groupBy(_.conv_bucket)
    byBucket.foreach { case (b, rows) =>
      assert(rows.map(_.run_id).distinct.length == 1, s"bucket $b recomputed")
    }
    assert(byBucket.keySet == (0 until 8).toSet)

    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "turn_idx", "turn_pos", "title", "summary", "n_chunks")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(key(ExtractJob.readPages(spark, dirResume)) sameElements
      key(ExtractJob.readPages(spark, dirFull)))
    val cFull = ExtractJob.readChunks(spark, dirFull)
    val cRes = ExtractJob.readChunks(spark, dirResume)
    assert(cFull.count() == cRes.count())
    assert(cFull.select("chunk_id", "text").collect().map(_.toSeq).sortBy(_.toString)
      sameElements cRes.select("chunk_id", "text").collect().map(_.toSeq).sortBy(_.toString))
  }

  test("metrics side table: exact sums per bucket") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 25)
    val dir = Files.createTempDirectory("graft-metrics").toString
    ExtractJob.run(turns, ExtractJob.Config(dir, buckets = 4, groups = 1, runId = "m"))
    val metrics = spark.read.parquet(s"$dir/metrics")
    val totals = metrics.agg(sum("rows_out"), sum("chunks_emitted"),
      sum("bytes_in")).collect().head
    val expected = ExtractJob.extract(turns).collect()
    assert(totals.getLong(0) == expected.length)
    assert(totals.getLong(1) == expected.map(_.n_chunks.toLong).sum)
    assert(totals.getLong(2) == expected.map(_.bytes_in).sum)
    assert(expected.forall(e => e.blocks_kept + e.blocks_dropped >= e.blocks_kept))
  }

  test("metrics stay exact when a crash lands between metrics and lineage writes") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 25)
    val dir = Files.createTempDirectory("graft-metrics-crash").toString
    val cfg = ExtractJob.Config(dir, buckets = 4, groups = 2, runId = "mc")
    ExtractJob.run(turns, cfg, stopAfterGroups = 1)
    // simulate dying AFTER the group-0 metrics write but BEFORE lineage:
    // wipe lineage so the resume re-runs group 0 from scratch
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/lineage"), true)
    ExtractJob.run(turns, cfg) // full re-run, including group 0 again
    val metrics = spark.read.parquet(s"$dir/metrics")
    // dynamic overwrite keyed by (run_id, group_id) => no duplicate rows
    val n = metrics.count()
    val distinct = metrics.select("run_id", "group_id", "conv_bucket").distinct().count()
    assert(n == distinct, s"duplicate metric rows after resume: $n vs $distinct")
    val totals = metrics.agg(sum("rows_out")).collect().head
    assert(totals.getLong(0) == turns.count())
  }

  /** Both ways empty under `exceptAll`, on rows as JSON: set operations
    * reject the map column `metadata.extra`. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def json(df: DataFrame) = df.select(to_json(struct(df.columns.map(col): _*)))
    json(a).exceptAll(json(b)).isEmpty && json(b).exceptAll(json(a)).isEmpty
  }

  test("pipelined groups: 8 groups write the rows of 1, and leave no staging behind") {
    val turns = Transcripts.generate(spark, 60)
    val dir8 = Files.createTempDirectory("graft-groups8").toString
    val dir1 = Files.createTempDirectory("graft-groups1").toString
    assert(ExtractJob.run(turns, ExtractJob.Config(dir8, buckets = 16, groups = 8)) ==
      ExtractJob.run(turns, ExtractJob.Config(dir1, buckets = 16, groups = 1)))
    assert(ExtractJob.completedBuckets(spark, dir8) == (0 until 16).toSet)
    assert(ExtractJob.readPages(spark, dir8).count() == Transcripts.expectedCount(60))
    assert(sameRows(ExtractJob.readPages(spark, dir8), ExtractJob.readPages(spark, dir1)))
    assert(sameRows(ExtractJob.readChunks(spark, dir8), ExtractJob.readChunks(spark, dir1)))
    for (dir <- Seq(dir8, dir1); table <- Seq("pages", "chunks", "metrics", "lineage")) {
      val left = Files.walk(Paths.get(dir, table)).iterator().asScala.map(_.getFileName.toString)
        .filter(n => n == "_temporary" || n.startsWith(".spark-staging-")).toSeq
      assert(left.isEmpty, s"$dir/$table: $left")
    }
    // bucketOf and the window's hashpartitioning(conv_id, 4) share one
    // Murmur3 hash, and 4 divides 16: each bucket is one partition, so each
    // group writes one file per bucket and table
    for (table <- Seq("pages", "chunks")) {
      val perBucket = new java.io.File(s"$dir8/$table").listFiles()
        .filter(_.getName.startsWith("conv_bucket="))
        .map(d => d.getName -> d.list().count(_.endsWith(".parquet"))).toSeq
      assert(perBucket.size ==
        spark.read.parquet(s"$dir8/$table").select("conv_bucket").distinct().count())
      assert(perBucket.forall(_._2 == 1), s"$table: $perBucket")
    }
  }

  test("a failing group: earlier lineage only, no job left running, resume completes") {
    import spark.implicits._
    val turns = Transcripts.generate(spark, 60)
    val cfg = ExtractJob.Config(Files.createTempDirectory("graft-fail").toString,
      buckets = 8, groups = 4, runId = "a")
    // bucket 2 is in group 1 (buckets 2 and 3)
    val bad = turns.filter(ExtractJob.bucketOf(8) === 2).select("conv_id").as[String]
      .collect().toSet
    assert(bad.nonEmpty)
    // a deterministic column map: run's bucket filter is pushed below it, so
    // only group 1's jobs meet these conversations (a typed map would sit
    // above the filter and fail every group)
    val boom = udf { (conv: String, text: String) =>
      if (bad(conv)) throw new IllegalStateException(s"bad conversation $conv") else text }
    val failing = turns.withColumn("text", boom($"conv_id", $"text")).as[Turn]
    // jobs of the failing run carry a scope: none may start after it returns
    val sc = spark.sparkContext
    val scoped = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.scope") == "failing"))
          scoped.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.scope", "failing")
    val e = try intercept[Exception](ExtractJob.run(failing, cfg))
      finally sc.setLocalProperty("graft.test.scope", null)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.toString.contains("bad conversation")), e)
    ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    val startedBeforeReturn = scoped.get
    assert(ExtractJob.completedBuckets(spark, cfg.outDir) == Set(0, 1))

    ExtractJob.run(turns, cfg.copy(runId = "b"))
    val clean = Files.createTempDirectory("graft-fail-clean").toString
    ExtractJob.run(turns, ExtractJob.Config(clean, buckets = 8, groups = 4, runId = "a"))
    assert(sameRows(ExtractJob.readPages(spark, cfg.outDir), ExtractJob.readPages(spark, clean)))
    assert(sameRows(ExtractJob.readChunks(spark, cfg.outDir), ExtractJob.readChunks(spark, clean)))
    ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    assert(scoped.get == startedBeforeReturn, "a job of the failed run started after it threw")
  }

  test("run's jobs inherit the caller's local properties, and 4 groups run 32 jobs") {
    val turns = Transcripts.generate(spark, 60)
    val dir = Files.createTempDirectory("graft-jobs").toString
    val sc = spark.sparkContext
    val key = "graft.test.scope"
    val scopes = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        scopes.add(Option(e.properties).flatMap(p => Option(p.getProperty(key))))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "extract-run")
    try ExtractJob.run(turns, ExtractJob.Config(dir, buckets = 8, groups = 4))
    finally {
      sc.setLocalProperty(key, null)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    val seen = scopes.asScala.toSeq
    assert(seen.forall(_.contains("extract-run")), seen)
    // the job count of the sequential run on this input (8 per group)
    assert(seen.size == 32)
  }

  test("per-turn recipe fixture end-to-end via Spark row") {
    val t = Turn("conv-x", 0, "user", graft.extract.Fixtures.RECIPE_HTML_SINGLE_QUOTE,
      "browser", new java.sql.Timestamp(Transcripts.EpochStart * 1000L))
    val e: ExtractedTurn = ExtractJob.extractOne(t)
    assert(e.title == "Pâté chinois classique")
    assert(e.language == "fr-CA")
    assert(e.chunks.map(_.chunk_type) ==
      Seq("ingredients", "instructions", "heading", "paragraph"))
    assert(e.metadata.meta_type == "recipe")
    assert(e.metadata.extra("prepTime") == "20 min")
    assert(e.updated == "2026-01-01T00:00:00+00:00")
    assert(e.page_id.length == 16 && e.chunks.head.id.length == 16)
  }
}
