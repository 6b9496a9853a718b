package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.extract.{AdapterChunker, SyncCodec, TextUtil}

/** ISO-8601 duration humanizer (M12) as a native Catalyst expression with
  * code generation — stays inside whole-stage codegen instead of breaking
  * the stage the way a Scala UDF would. Semantics:
  * `/root/reference/sidecar/chunker.py:108-133`. */
case class IsoDurationHumanize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "of_iso_duration"

  override protected def nullSafeEval(input: Any): Any =
    IsoDurationHumanize.evalUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IsoDurationHumanize.evalUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): IsoDurationHumanize =
    copy(child = newChild)
}

object IsoDurationHumanize {
  /** called from generated code — must be a static-reachable method */
  def evalUtf8(s: UTF8String): UTF8String =
    UTF8String.fromString(TextUtil.parseIsoDuration(s.toString))
}

/** Registered function surface (SURVEY.md §2.11): the extraction scalar/
  * table functions usable from SQL. `of_iso_duration` is a native
  * codegen'd expression; the rest are Scala UDFs over the pure extraction
  * core. */
object Functions {

  final case class SqlChunk(id: String, text: String, `type`: String)

  /** Sidecar chunks as SQL rows numbered by [[graft.job.ExtractJob.chunkId]]. */
  private def sqlChunks(url: String,
      chunks: Vector[graft.extract.ChunkHtml.Chunk]): Vector[SqlChunk] =
    chunks.zipWithIndex.map { case (c, i) =>
      SqlChunk(graft.job.ExtractJob.chunkId(url, i), c.text, c.chunkType)
    }

  /** NULL in, NULL out: `f` runs only on a non-null argument. */
  private def nullSafe[R >: Null](f: String => R): String => R =
    a => if (a == null) null else f(a)

  /** Two-argument [[nullSafe]]: NULL when either argument is NULL. */
  private def nullSafe2[R >: Null](f: (String, String) => R): (String, String) => R =
    (a, b) => if (a == null || b == null) null else f(a, b)

  def registerAll(spark: SparkSession): Unit = {
    // native expression → expression registry (codegen-friendly)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "of_iso_duration",
      (exprs: Seq[Expression]) => IsoDurationHumanize(exprs.head),
      "built-in")

    // of_etag(body) — the express adapter's makeEtag (etag.js:11-13):
    // quoted 16-hex md5 prefix of the serialized body. Composed from
    // built-in catalyst expressions, so it stays inside codegen. This is
    // the expression-level twin of graft.query.Caching.etag (the Column
    // API can't be unwrapped here — ExpressionUtils is private[sql] in
    // Spark 4); FunctionsSpec pins the two encodings equal on ASCII and
    // non-ASCII bodies so they cannot drift silently.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "of_etag",
      { (exprs: Seq[Expression]) =>
        import org.apache.spark.sql.catalyst.expressions.{Cast, Concat, Literal, Md5, Substring}
        Concat(Seq(Literal("\""),
          Substring(Md5(Cast(exprs.head, org.apache.spark.sql.types.BinaryType)),
            Literal(1), Literal(16)),
          Literal("\"")))
      },
      "built-in")

    // Scala UDFs over the pure extraction core; a NULL argument gives a
    // NULL result instead of a task-killing NPE
    spark.udf.register("of_clean_html", udf(nullSafe(AdapterChunker.cleanHtml)))
    spark.udf.register("of_clean_wp", udf(nullSafe(AdapterChunker.cleanWp)))
    // a NULL `words` (a primitive Int) already yields NULL
    spark.udf.register("of_summarise",
      udf((html: String, words: Int) =>
        if (html == null) null else AdapterChunker.summarise(html, words)))
    spark.udf.register("of_word_count",
      udf((text: String) => Option(text).map(AdapterChunker.countWords)))
    spark.udf.register("of_detect_type",
      udf(nullSafe(t => AdapterChunker.detectType(t))))
    spark.udf.register("of_chunk500",
      udf(nullSafe2((html, url) =>
        AdapterChunker.chunkContent(html, url)
          .map(c => SqlChunk(c.id, c.text, c.chunkType)))))
    spark.udf.register("of_sync_token", udf(nullSafe(SyncCodec.encodeSyncToken)))
    spark.udf.register("of_parse_since",
      udf((raw: String) => Option(raw).flatMap(SyncCodec.parseSince)))
    spark.udf.register("of_extract_summary",
      udf(nullSafe2((url, html) => graft.extract.ChunkHtml(url, html).summary)))
    // §2.11 `of_extract`: the sidecar chunk pipeline from SQL (typed
    // mapPartitions remains the bulk path; this is the ad-hoc surface)
    spark.udf.register("of_extract_chunks",
      udf(nullSafe2((url, html) =>
        sqlChunks(url, graft.job.ExtractJob.chunksFor(url, html, null)))))
    // tool-dispatched variant — shares ExtractJob.RawFallbackTools routing
    // (render/pdf -> 50 KB-capped flatten-to-spans, else HTML pipeline);
    // null text yields an empty chunk list rather than a task-killing NPE
    spark.udf.register("of_extract_turn",
      udf((url: String, text: String, tool: String) =>
        sqlChunks(url, graft.job.ExtractJob.chunksFor(url, text, tool))))
    // gateway helpers (shared constants with graft.query.Gateway)
    spark.udf.register("of_is_llm_bot",
      udf((ua: String) =>
        ua != null && graft.query.Gateway.LlmAgents.exists(ua.contains)))
    // analytics bot taxonomy (analytics_provider.py detect_bot semantics)
    spark.udf.register("of_detect_bot",
      udf((ua: String) => graft.query.Analytics.detectBotLocal(ua)._1))
    spark.udf.register("of_bot_family",
      udf((ua: String) => graft.query.Analytics.detectBotLocal(ua)._2))
    // JS encodeURIComponent parity (gateway.js URL synthesis)
    spark.udf.register("of_encode_uri",
      udf((s: String) =>
        if (s == null) null else graft.query.Gateway.encodeUriComponentLocal(s)))
    // crawl-side parsers (crawler.py sitemap/robots semantics); for bulk
    // gating parse once and use Robots.Rules.allowedColumn instead
    spark.udf.register("of_sitemap_locs",
      graft.extract.Sitemap.locs)
    spark.udf.register("of_robots_allowed",
      udf((content: String, agent: String, url: String) =>
        // null url/agent can't be gated — answer false (don't crawl the
        // unknown) instead of NPE-killing the task
        url != null && agent != null &&
          graft.extract.Robots.parse(if (content == null) "" else content)
            .canFetch(agent, url)))
  }
}
