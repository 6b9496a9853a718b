package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, SparkSession, classic}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, udf}
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
  * codegen'd expression; `of_etag`, `of_is_llm_bot`, `of_detect_bot`,
  * `of_bot_family` and `of_encode_uri` run the library's own column rules;
  * the rest are Scala UDFs over the pure extraction core. */
object Functions {

  final case class SqlChunk(id: String, text: String, `type`: String)

  /** Sidecar chunks as SQL rows numbered by [[graft.job.ExtractJob.chunkId]];
    * a NULL url numbers them as "", as [[graft.job.ExtractJob.chunksFor]]
    * reads it. */
  private def sqlChunks(url: String,
      chunks: Vector[graft.extract.ChunkHtml.Chunk]): Vector[SqlChunk] =
    chunks.zipWithIndex.map { case (c, i) =>
      SqlChunk(graft.job.ExtractJob.chunkId(if (url == null) "" else url, i), c.text, c.chunkType)
    }

  /** NULL in, NULL out: `f` runs only on a non-null argument. */
  private def nullSafe[R >: Null](f: String => R): String => R =
    a => if (a == null) null else f(a)

  /** Two-argument [[nullSafe]]: NULL when either argument is NULL. */
  private def nullSafe2[R >: Null](f: (String, String) => R): (String, String) => R =
    (a, b) => if (a == null || b == null) null else f(a, b)

  /** Registers `build` as the SQL function `name` over exactly `arity`
    * arguments; a call with any other count fails analysis with
    * `WRONG_NUM_ARGS`, naming the function and its arity. */
  private def registerBuilder(spark: SparkSession, name: String, arity: Int)(
      build: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
      (args: Seq[Expression]) =>
        if (args.size == arity) build(args)
        else throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
          "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
          "actualNum" -> args.size.toString,
          "docroot" -> org.apache.spark.SPARK_DOC_ROOT)),
      "built-in")

  /** Registers the library column rule `rule` as the SQL function `name`
    * over `arity` arguments. The rule is converted once over placeholder
    * columns; each call swaps the placeholders for its argument
    * expressions, so SQL runs the rule's own native expression tree. */
  private def registerRule(spark: SparkSession, name: String, arity: Int)(
      rule: Seq[Column] => Column): Unit = {
    val params = Seq.tabulate(arity)(i => s"${name}_arg$i")
    val body = spark.asInstanceOf[classic.SparkSession].expression(rule(params.map(col)))
    registerBuilder(spark, name, arity) { args =>
      val bound = params.zip(args).toMap
      body.transformUp {
        case a: UnresolvedAttribute if bound.contains(a.name) => bound(a.name)
      }
    }
  }

  def registerAll(spark: SparkSession): Unit = {
    // native expression → expression registry (codegen-friendly)
    registerBuilder(spark, "of_iso_duration", 1)(args => IsoDurationHumanize(args.head))
    // the express adapter's makeEtag (etag.js:11-13)
    registerRule(spark, "of_etag", 1)(args => graft.query.Caching.etag(args.head))
    // gateway and analytics rules (shared with graft.query.Gateway/Analytics)
    registerRule(spark, "of_is_llm_bot", 1)(args => graft.query.Gateway.isLlmBot(args.head))
    registerRule(spark, "of_detect_bot", 1)(args =>
      graft.query.Analytics.detectBot(args.head).getField("bot_name"))
    registerRule(spark, "of_bot_family", 1)(args =>
      graft.query.Analytics.detectBot(args.head).getField("bot_family"))
    // JS encodeURIComponent parity (gateway.js URL synthesis)
    registerRule(spark, "of_encode_uri", 1)(args =>
      graft.query.Gateway.encodeUriComponent(args.head))

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
