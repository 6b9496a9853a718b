package perfbench

import java.io.File
import java.util.concurrent.Executors
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import Main.{Ctx, Metric, Result}

/** The `analytics` workload over the registry (`graft.SparkEntry.queries`):
  * 19 exchange-, window- and loop-heavy queries. One query is timed from
  * the registry call through `collect()`; one op is a round, the whole set
  * once in a seeded order. Input is the project's sf0.01 test tables,
  * committed under `perfbench/data/sf0.01`, so every run checks against
  * the same recorded results (`expected.tsv`). */
object QueryBench {

  /** The analytics set by family; each family is one per-layer metric. */
  val AnalyticsFamilies: Seq[(String, Seq[String])] = Seq(
    "ops.dedup_s" -> Seq("x_curation_neardup", "x_curation_pipeline", "x_ngram_jaccard",
      "x_neardup_clusters", "x_minhash_pairs", "x_simhash"),
    "crawl.s" -> Seq("s1_crawl_bfs", "x_sitemap_crawl", "s2_sitemap_parse"),
    "ops.vector_s" -> Seq("x_embedding_neardup", "x_search_end_to_end", "x_embedding_ivf",
      "x_embedding_lsh"),
    "ops.multimodal_s" -> Seq("x_multimodal_decode"),
    "quota.s" -> Seq("a6_rate_window", "a9_quota_view", "x_quota_reset", "x_quota_envelope",
      "x_quota_ip_view"))
  val AnalyticsSet: Seq[String] = AnalyticsFamilies.flatMap(_._2)

  /** The other registry queries: the `serve_queries` workload of the
    * benchmark's design, not run yet (see NOTES.md). Kept so that the
    * coverage guard assigns every registry query to exactly one set. */
  val ServeSet: Seq[String] = Seq(
    "q1_agg", "p1_index_projection", "p3_pagination", "p9_search_substring",
    "p10_topk_min_score", "p7_excluded_prefix", "p8_visibility", "p12_product_filters",
    "p15_product_envelope", "p13_bot_classify", "p14_url_context", "g1_gateway_route",
    "g2_gateway_tailored", "g3_gateway_coldstart", "d1_discovery", "w2_stable_order",
    "w4_tombstone_fifo", "a1_pagination_totals", "a3_last_modified", "a4_chunk_count",
    "x_admin_auth", "x_webhook_auth", "x_update_envelope", "x_sync_validation", "x_ops_status",
    "a7_analytics_events", "a8_analytics_rollup", "c1_conditional_cache", "x_auth_gate",
    "t2_sync_window", "j5_sync_buckets", "t3_sync_token", "x_sync_envelope", "x_sync_page",
    "j1_broadcast_join", "j3_anti_join", "j6_union_dedup", "s11_json_envelope",
    "s4_robots_gate", "p6_url_sanitize", "j7_collect_variants", "x_token_count", "x_quality",
    "x_langid", "x_exact_dedup", "x_fingerprint", "x_embedding_topk", "p11_single_page",
    "e_extract_turns", "e_extract_chunks", "e_extract_docs_oracle", "e_extract_html_oracle",
    "e_adapter_chunks", "e_adapter_docs_oracle", "x_adapter_drupal", "x_search_express_family",
    "x_search_drupal_scored", "x_search_joomla_sql", "x_search_wp_native",
    "x_sync_express_static", "x_sync_wp_diff", "x_page_chunk_clamp", "x_static_build",
    "x_limit_parse_matrix", "v_validate")

  /** Registry coverage guard: every registry query is in exactly one of
    * the two sets. Fails the run otherwise. */
  def checkCoverage(): Unit = {
    val registry = graft.SparkEntry.queries.keySet
    val both = ServeSet.toSet intersect AnalyticsSet.toSet
    val neither = registry -- ServeSet -- AnalyticsSet
    val unknown = (ServeSet ++ AnalyticsSet).toSet -- registry
    require(both.isEmpty && neither.isEmpty && unknown.isEmpty &&
      ServeSet.distinct.size == ServeSet.size && AnalyticsSet.distinct.size == AnalyticsSet.size,
      s"registry coverage: in both sets ${both.mkString(",")}; in neither " +
        s"${neither.mkString(",")}; not in the registry ${unknown.mkString(",")}")
  }

  /** The function timed for a query: graft.Bench's production-hash twin
    * where one exists, else the registry entry. */
  def fnOf(name: String): (SparkSession, String) => DataFrame =
    graft.query.Queries.benchProductionOverrides.getOrElse(name, graft.SparkEntry.queries(name))

  /** Row count and order-insensitive checksum per query, as recorded by
    * [[Record]] from this tree. */
  lazy val expected: Map[String, (Long, Long)] = {
    val in = getClass.getResourceAsStream("/perfbench/expected.tsv")
    require(in != null, "expected.tsv missing from the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, sum) = l.split("\t")
        n -> (rows.toLong, sum.toLong)
      }.toMap
    finally in.close()
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
  }

  final case class Op(name: String, ms: Double, buildMs: Double, planMs: Double,
      execMs: Double, exchanges: Int, ok: Boolean)

  /** One op: registry call, (traced: explicit planning), collect; then the
    * result check, outside the timed section. */
  def runOp(ctx: Ctx, dir: String, name: String, traced: Boolean, opId: Long): Op = {
    val fn = fnOf(name)
    def ms(a: Long, b: Long) = (b - a) / 1e6
    def body(): Op = {
      val t0 = System.nanoTime()
      try {
        val df = if (traced) ctx.tracer.span("build", opId)(fn(ctx.spark, dir)) else fn(ctx.spark, dir)
        val t1 = System.nanoTime()
        if (traced) ctx.tracer.span("plan", opId)(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val rows = if (traced) ctx.tracer.span("exec", opId)(df.collect()) else df.collect()
        val t3 = System.nanoTime()
        val got = (rows.length.toLong, Checksum.of(rows))
        val ok = expected.get(name).contains(got)
        if (!ok) System.err.println(s"perfbench: FAILED $name returned $got, expected ${expected.get(name)}")
        val ex = if (traced) Plans.exchanges(df.queryExecution.executedPlan) else 0
        Op(name, ms(t0, t3), ms(t0, t1), ms(t1, t2), ms(t2, t3), ex, ok)
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: FAILED $name threw $e")
          Op(name, Double.PositiveInfinity, 0, 0, 0, 0, ok = false)
      }
    }
    if (traced) ctx.tracer.span(s"graft.query:$name", opId, s"query:$name")(body()) else body()
  }

  def run(ctx: Ctx): Result = {
    checkCoverage()
    val set = AnalyticsSet
    val dir = ctx.dataDir
    require(new File(s"$dir/documents.parquet").exists(), s"query tables not found in $dir")
    expected // fail before timing if the recorded results are missing

    // warm-up: one concurrent pass (JIT, codegen and plan caches), in setup_s
    val pool = Executors.newFixedThreadPool(ctx.cores)
    try set.map(n => pool.submit(() => runOp(ctx, dir, n, traced = false, -1L))).foreach(_.get())
    finally pool.shutdown()
    val setupS = ctx.sinceStartS

    val heap = new HeapPeak
    heap.sample() // the warm-up's garbage must not be collected inside the first op
    val ops = ArrayBuffer.empty[Op]
    val tracedOps = ArrayBuffer.empty[Op]
    var passes = 0
    // passes until the timed time of the untraced ops reaches --seconds
    do {
      val order = new Random(ctx.seed * 7919L + passes).shuffle(set)
      order.zipWithIndex.foreach { case (n, i) =>
        val opId = passes * 1000L + i
        if (!ctx.traced) ops += runOp(ctx, dir, n, traced = false, opId)
        else {
          // each query once with and once without the listener and spans,
          // alternating which goes first: the tracing overhead
          val tracedFirst = i % 2 == 0
          def traced(): Unit = {
            ctx.attach(true); tracedOps += runOp(ctx, dir, n, traced = true, opId); ctx.attach(false)
          }
          if (tracedFirst) traced()
          ops += runOp(ctx, dir, n, traced = false, opId)
          if (!tracedFirst) traced()
        }
      }
      passes += 1
      heap.sample()
    } while (ops.map(_.ms).sum / 1000.0 < ctx.seconds)
    val heapMb = heap.peakMb
    val all = ops ++ tracedOps
    val failed = all.count(!_.ok).toLong
    val attempted = all.size.toLong

    if (!ctx.traced) {
      val lat = ops.map(o => if (o.ok) o.ms else Double.PositiveInfinity).toSeq
      // the op is a round (analytics_round_s); the median of 19 unlike
      // queries spread 15% between runs
      val opS = Stats.median(lat.grouped(set.size).map(_.sum).toSeq) / 1000.0
      return Result(attempted, failed, failed == 0, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_s", opS, "s"),
        Metric("throughput_per_s", ops.count(_.ok) / (ops.filter(_.ok).map(_.ms).sum / 1000.0), "1/s"),
        Metric("heap_live_peak_mb", heapMb, "MB")))
    }

    // ---- traced run: per-layer metrics ----
    val tr = tracedOps.toSeq
    val n = tr.size.toDouble
    val agg = ctx.counters.total(ctx.spark.sparkContext)(_.startsWith("query:"))
    val layer = ArrayBuffer.empty[Metric]
    layer += Metric("failed_op_share", failed.toDouble / attempted, "ratio")
    layer += Metric("trace.overhead_share", tr.map(_.ms).sum / ops.map(_.ms).sum - 1.0, "ratio")
    layer ++= Seq(
      Metric("query.build_ms_p50", Stats.median(tr.map(_.buildMs)), "ms"),
      Metric("query.plan_ms_p50", Stats.median(tr.map(_.planMs)), "ms"),
      Metric("query.exec_ms_p50", Stats.median(tr.map(_.execMs)), "ms"),
      Metric("query.jobs_per_op", agg.jobs / n, "count"),
      Metric("query.tasks_per_op", agg.tasks / n, "count"),
      Metric("query.exchanges_per_op", tr.map(_.exchanges).sum / n, "count"),
      Metric("query.shuffle_bytes_per_op", agg.shuffleWriteBytes / n, "bytes"))
    val perPass = passes.toDouble
    val byName = tr.groupBy(_.name)
    layer ++= AnalyticsFamilies.map { case (m, names) =>
      Metric(m, names.flatMap(byName.getOrElse(_, Nil)).map(_.ms).sum / 1000.0 / perPass, "s")
    }
    layer ++= Seq(
      Metric("analytics.jobs", agg.jobs / perPass, "count"),
      Metric("analytics.exchanges", tr.map(_.exchanges).sum / perPass, "count"),
      Metric("analytics.shuffle_write_bytes", agg.shuffleWriteBytes / perPass, "bytes"),
      Metric("analytics.spill_bytes", agg.spillBytes / perPass, "bytes"),
      Metric("analytics.task_skew", agg.taskSkew, "ratio"),
      Metric("analytics.gc_ms", agg.gcMs / perPass, "ms"))
    layer ++= AnalyticsSet.map(q => Metric(s"q.${q}_ms", Stats.median(byName(q).map(_.ms)), "ms"))
    val extra = tr.map(o => s""""${o.name}":{"ms":${Stats.fmt(o.ms)},"build_ms":${Stats.fmt(o.buildMs)},""" +
      s""""plan_ms":${Stats.fmt(o.planMs)},"exec_ms":${Stats.fmt(o.execMs)},"exchanges":${o.exchanges}}""")
      .mkString("{", ",\n", "}")
    Main.writeTrace(ctx, "analytics", extra)
    Result(attempted, failed, failed == 0, Main.fillPerLayer(layer.toSeq))
  }

  val perLayerUnits: Seq[(String, String)] = Seq(
    "query.build_ms_p50" -> "ms", "query.plan_ms_p50" -> "ms", "query.exec_ms_p50" -> "ms",
    "query.jobs_per_op" -> "count", "query.tasks_per_op" -> "count",
    "query.exchanges_per_op" -> "count", "query.shuffle_bytes_per_op" -> "bytes") ++
    AnalyticsFamilies.map(_._1 -> "s") ++ Seq(
      "analytics.jobs" -> "count", "analytics.exchanges" -> "count",
      "analytics.shuffle_write_bytes" -> "bytes", "analytics.spill_bytes" -> "bytes",
      "analytics.task_skew" -> "ratio", "analytics.gc_ms" -> "ms") ++
    AnalyticsSet.map(q => s"q.${q}_ms" -> "ms")
}

/** Order-insensitive result checksum: the sum of a 32-bit hash of each
  * row's canonical text, with doubles rounded to 9 significant digits so
  * that float summation order cannot flip it. */
object Checksum {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  def of(rows: Array[Row]): Long =
    rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(canon(r)) & 0xFFFFFFFFL).sum
}

/** Records `expected.tsv`: runs every analytics query once on the query
  * tables and prints `name<TAB>rows<TAB>checksum`. Usage:
  * `perfbench.Record <work dir> <tables dir>`; re-record only when a change
  * to the program is meant to change query results. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(workDir, dir) = args.map(new File(_).getAbsolutePath)
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), workDir)
    QueryBench.checkCoverage()
    println("# rows and checksum per analytics query on perfbench/data/sf0.01")
    QueryBench.AnalyticsSet.sorted.foreach { n =>
      val rows = QueryBench.fnOf(n)(spark, dir).collect()
      println(s"$n\t${rows.length}\t${Checksum.of(rows)}")
    }
    spark.stop()
  }
}
