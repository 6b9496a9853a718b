package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LLM-Gateway request routing + context detection + tailored-response
  * synthesis, re-expressed as batch column transforms over a request-log
  * table — `/root/reference/adapters/express/src/gateway.js:1-468`,
  * `/root/reference/spec/LLM-GATEWAY.md:175-341`.
  *
  * The reference serves three HTTP modes; here each becomes a row-level
  * classification/synthesis (pure codegen'd expressions), and the stateful
  * Mode-1 dialogue (cold start → respond within a 300 s session) lives in
  * [[graft.streaming.StreamOps.dialogueSessions]].
  */
object Gateway {

  /** gateway.js:6-11 — known LLM crawler UA substrings. */
  val LlmAgents: Seq[String] = Seq(
    "GPTBot", "ChatGPT-User", "ClaudeBot", "anthropic-ai",
    "PerplexityBot", "Google-Extended", "cohere-ai", "CCBot",
    "FacebookBot", "Amazonbot", "YouBot", "Bytespider")

  /** gateway.js:13 (STATIC_EXTS) */
  val StaticExts: String =
    "(?i)\\.(js|css|png|jpg|jpeg|gif|webp|svg|ico|woff|woff2|ttf|eot|map|json)$"

  /** gateway.js:14 (OPENFEEDER_PATHS) */
  val OpenfeederPaths: String = "^/(openfeeder|\\.well-known/openfeeder)"

  /** gateway.js:18-21 — substring match over the UA. */
  def isLlmBot(ua: Column): Column =
    coalesce(LlmAgents.map(ua.contains(_): Column).reduce(_ || _), lit(false))

  /** Mode routing, exactly the middleware's early-return order
    * (gateway.js:319-346): non-GET, static asset, openfeeder path, and
    * non-LLM UAs pass through; requests carrying intent (headers or
    * `_of_*` params, collapsed into an `intent` column) get Mode 2
    * (direct/warm); the rest get Mode 1 round 1 (cold start). */
  def routeRequests(requests: DataFrame): DataFrame =
    requests.withColumn("route",
      when(col("method") =!= "GET", "passthrough_method")
        .when(col("path").rlike(StaticExts), "passthrough_static")
        .when(col("path").rlike(OpenfeederPaths), "passthrough_openfeeder")
        .when(!isLlmBot(col("ua")), "passthrough_not_bot")
        .when(col("intent").isNotNull && length(col("intent")) > 0, "mode2_direct")
        .otherwise("mode1_cold_start"))

  /** JS `s.replace(/[-_]/g, " ").replace(/\b\w/g, c => c.toUpperCase())`:
    * separators to spaces, then uppercase the first word-char of each
    * token (rest of each token untouched — NOT initcap, which lowercases).
    * Documented delta: JS's `\b\w` also fires after in-token non-word
    * chars (apostrophes, dots: "o'reilly" → "O'Reilly"), which SQL cannot
    * express without a callback replace; this version (and its DuckDB
    * oracle mirror) uppercases only at space boundaries — identical for
    * the common `[a-z0-9-_]` URL-slug alphabet. */
  private def titleCase(s: Column): Column = {
    val spaced = regexp_replace(s, "[-_]", " ")
    concat_ws(" ", transform(split(spaced, " "),
      w => concat(upper(substring(w, 1, 1)), expr_substr2(w))))
  }
  private def expr_substr2(w: Column): Column = w.substr(lit(2), length(w))

  /** The path split both gateway.js functions share: the non-empty
    * segments after one trailing `/` is dropped, and the second segment
    * (null when absent). */
  private def pathSegments(path: Column): (Column, Column) = {
    val clean = regexp_replace(path, "/$", "")
    val segments = filter(split(clean, "/"), s => length(s) > 0)
    (segments, when(size(segments) >= 2, element_at(segments, 2)))
  }

  /** detectContext (gateway.js:28-75): path → (detected_type,
    * detected_topic). */
  def detectContext(path: Column): Column = {
    val (segments, seg1) = pathSegments(path)
    val seg0 = element_at(segments, 1)
    val lastSeg = element_at(segments, -1)
    val productRe = "(?i)^(product|products|shop|store|item|catalogue|catalog)$"
    val categoryRe = "(?i)^(category|cat|collection|collections|tag|brand|department)$"
    val articleRe = "(?i)^(blog|post|posts|article|articles|news|press)$"
    when(size(segments) === 0,
        struct(lit("home").as("detected_type"), lit(null).cast("string").as("detected_topic")))
      .when(seg0.rlike(productRe),
        struct(lit("product").as("detected_type"),
          when(seg1.isNotNull, titleCase(seg1)).as("detected_topic")))
      .when(seg0.rlike(categoryRe),
        struct(lit("category").as("detected_type"),
          coalesce(when(seg1.isNotNull, titleCase(seg1)), seg0).as("detected_topic")))
      .when(seg0.rlike("(?i)^search$"),
        struct(lit("search").as("detected_type"), lit(null).cast("string").as("detected_topic")))
      .when(seg0.rlike(articleRe),
        struct(lit("article").as("detected_type"),
          when(seg1.isNotNull, titleCase(seg1)).as("detected_topic")))
      .when(size(segments) === 1,
        struct(lit("page").as("detected_type"), titleCase(seg0).as("detected_topic")))
      .otherwise(
        // multi-segment fallback: last segment, separators spaced, NO
        // title-casing (gateway.js:73 only replaces)
        struct(lit("page").as("detected_type"),
          regexp_replace(lastSeg, "[-_]", " ").as("detected_topic")))
  }

  /** `df` plus [[detectContext]] of its `path` as the top-level
    * `detected_type` and `detected_topic` columns. The detection is
    * materialized once; every use site reads the two attributes instead
    * of re-inlining the when-chain. */
  def withContext(df: DataFrame): DataFrame =
    df.withColumn("_ctx", detectContext(col("path")))
      .withColumn("detected_type", col("_ctx").getField("detected_type"))
      .withColumn("detected_topic", col("_ctx").getField("detected_topic"))
      .drop("_ctx")

  /** JS `encodeURIComponent` parity (gateway.js:79,237-270 encodes BOTH the
    * query and the requested path — `/a/b` → `%2Fa%2Fb`): percent-encode
    * every byte of the UTF-8 form except `A-Za-z0-9 - _ . ! ~ * ' ( )`.
    * Built on the codegen'd `url_encode` (java.net.URLEncoder semantics)
    * plus fixups for the 6 places URLEncoder diverges: space (`+` vs `%20`;
    * safe because URLEncoder has already turned literal `+` into `%2B`) and
    * the five marks URLEncoder escapes but encodeURIComponent keeps. */
  def encodeUriComponent(c: Column): Column =
    Seq("+" -> "%20", "%21" -> "!", "%7E" -> "~", "%27" -> "'",
        "%28" -> "(", "%29" -> ")")
      .foldLeft(url_encode(c)) { case (acc, (from, to)) =>
        replace(acc, lit(from), lit(to)) }

  /** Mode-1 Round-1 (cold start) question synthesis —
    * `buildQuestions` (gateway.js:77-205): per detected context type, the
    * suggested next actions an LLM agent can take, each as
    * {question, intent, action, returns}. Mirrored quirks: the product
    * "compare" action uses the SECOND path segment (the product slug) as
    * the category value with `[-_]` → `+`; category actions fall back to
    * `?q=topic` when the site has no e-commerce; topics embed in questions
    * with JS template quoting; spaces in topics become `+` in query
    * actions; the `search` context type falls through to the default arm
    * (no case of its own).
    *
    * Reads the `detected_type`/`detected_topic` columns of
    * [[withContext]] at its ~10 type/topic use sites. */
  private def coldStartQuestions(path: Column, baseUrl: String,
      hasEcommerce: Boolean): Column = {
    val dtype = col("detected_type")
    val topic = col("detected_topic")
    val seg1 = pathSegments(path)._2
    val encPath = encodeUriComponent(path)
    val topicPlus = regexp_replace(topic, " ", "+")
    val b = baseUrl
    def q(question: Column, intent: String, action: Column, returns: String): Column =
      struct(question.as("question"), lit(intent).as("intent"),
        action.as("action"), lit(returns).as("returns"))

    val product = array(
      q(when(topic.isNotNull,
          concat(lit("Do you want the full details of \""), topic, lit("\"?")))
          .otherwise(lit("Do you want the full details of this product?")),
        "single_product",
        concat(lit(s"GET $b/openfeeder/products?url="), encPath),
        "Full description, price, variants, availability, stock status"),
      when(seg1.isNotNull && length(seg1) > 0,
        q(lit("Are you comparing this with similar products?"),
          "category_browse",
          concat(lit(s"GET $b/openfeeder/products?category="),
            regexp_replace(seg1, "[-_]", "+")),
          "All products in the same category with pricing and availability")),
      q(lit("Are you looking for products in a specific price range?"),
        "price_filter",
        lit(s"GET $b/openfeeder/products?in_stock=true"),
        "All in-stock products (add &min_price=X&max_price=Y to filter by budget)"),
      q(lit("Are you searching for a product by feature or keyword?"),
        "keyword_search",
        lit(s"GET $b/openfeeder/products?q=your+keywords"),
        "Products matching your search terms"))

    val catBrowseAction =
      if (hasEcommerce)
        concat(lit(s"GET $b/openfeeder/products?category="), coalesce(seg1, lit("")))
      else concat(lit(s"GET $b/openfeeder?q="), coalesce(topicPlus, lit("")))
    val category = array(
      q(when(topic.isNotNull,
          concat(lit("Do you want all products in the \""), topic, lit("\" category?")))
          .otherwise(lit("Do you want to browse products in this category?")),
        "category_browse", catBrowseAction,
        "Paginated product list with pricing and availability"),
      q(lit("Are you looking for in-stock items only?"), "availability_filter",
        if (hasEcommerce)
          concat(lit(s"GET $b/openfeeder/products?category="),
            coalesce(seg1, lit("")), lit("&in_stock=true"))
        else concat(lit(s"GET $b/openfeeder?q="), coalesce(topicPlus, lit(""))),
        "Only available products in this category"),
      q(lit("Are you looking for items on sale?"), "sale_filter",
        if (hasEcommerce) lit(s"GET $b/openfeeder/products?on_sale=true")
        else lit(s"GET $b/openfeeder?q=sale"),
        "Discounted products currently on sale"))

    val articlePage = array(
      q(when(topic.isNotNull,
          concat(lit("Do you want the full content of \""), topic, lit("\"?")))
          .otherwise(lit("Do you want the full content of this page?")),
        "single_page",
        concat(lit(s"GET $b/openfeeder?url="), encPath),
        "Full article text split into semantic chunks, ready for LLM processing"),
      when(topic.isNotNull && length(topic) > 0,
        q(concat(lit("Are you looking for more content related to \""), topic,
            lit("\"?")),
          "topic_search",
          concat(lit(s"GET $b/openfeeder?q="), topicPlus),
          "All content related to this topic, ranked by relevance")),
      q(lit("Do you want to browse all available content?"), "index_browse",
        lit(s"GET $b/openfeeder"),
        "Paginated index of all articles with summaries"))

    val homeBase = Seq(
      q(lit("Do you want to browse all available content?"), "index_browse",
        lit(s"GET $b/openfeeder"),
        "Paginated index of all content with summaries"),
      q(lit("Are you searching for something specific?"), "search",
        lit(s"GET $b/openfeeder?q=your+search+query"),
        "Content matching your search query"))
    val home = array(homeBase ++ (if (hasEcommerce) Seq(
      q(lit("Are you looking for products?"), "products_browse",
        lit(s"GET $b/openfeeder/products"),
        "Full product catalog with pricing and availability")) else Seq.empty): _*)

    val fallback = array(
      q(lit("Do you want the content of this page?"), "single_page",
        concat(lit(s"GET $b/openfeeder?url="), encPath),
        "Page content in structured chunks"),
      q(lit("Are you looking for something specific on this site?"), "search",
        lit(s"GET $b/openfeeder?q=your+search+query"),
        "Relevant content matching your query"))

    array_compact(
      when(dtype === "product", product)
        .when(dtype === "category", category)
        .when(dtype === "article" || dtype === "page", articlePage)
        .when(dtype === "home", home)
        .otherwise(fallback))
  }

  /** Mode-1 Round-1 envelope, the PURE parts (gateway.js:329-336,355-405):
    * the `context` section (page_requested, detected type/topic,
    * site_capabilities), the per-context `questions`, the `endpoints`
    * block, and `next_steps`. The stateful `dialog` block (session_id,
    * 300 s expiry, the 4 fixed intake questions) lives in the streaming
    * path ([[graft.streaming.StreamOps.dialogueSessions]]) — sessions are
    * runtime state, not a batch-derivable column. The detected context
    * lives only inside `context`: `df` must not carry its own
    * `detected_type`/`detected_topic` columns. */
  def coldStartEnvelope(df: DataFrame, baseUrl: String,
      hasEcommerce: Boolean): DataFrame = {
    val caps =
      if (hasEcommerce) Seq("content", "search", "products")
      else Seq("content", "search")
    withContext(df)
      .withColumn("context", struct(
        col("path").as("page_requested"),
        col("detected_type"),
        col("detected_topic"),
        typedlit(caps).as("site_capabilities")))
      .withColumn("questions", coldStartQuestions(col("path"), baseUrl, hasEcommerce))
      .drop("detected_type", "detected_topic")
      .withColumn("endpoints", struct(
        lit(s"$baseUrl/openfeeder").as("content"),
        lit(s"$baseUrl/.well-known/openfeeder.json").as("discovery")))
      .withColumn("next_steps", array(
        lit("Answer the dialog questions via POST /openfeeder/gateway/respond for a tailored response."),
        lit("Or choose an action from the questions above and make that GET request."),
        lit(s"Or search directly: GET $baseUrl/openfeeder?q=describe+what+you+need"),
        lit(s"Start from the discovery doc: GET $baseUrl/.well-known/openfeeder.json")))
  }

  /** extractIntentData defaults (gateway.js:214-224). */
  def withIntentDefaults(df: DataFrame): DataFrame = df
    .withColumn("depth", coalesce(col("depth"), lit("standard")))
    .withColumn("format", coalesce(col("format"), lit("full-text")))
    .withColumn("query", coalesce(col("query"), lit("")))
    .withColumn("language", coalesce(col("language"), lit("en")))

  /** buildTailoredResponse's recommended endpoints + query hints +
    * current_page block (gateway.js:230-290) for Mode-2 rows. Expects
    * `intent`, `query`, `format`, `depth`, `path` and the [[withContext]]
    * columns `detected_type`, `detected_topic`. The query AND the
    * requested path are percent-encoded exactly like the reference's
    * `encodeURIComponent(query)` / `encodeURIComponent(context.page_requested)`
    * — a path `/a/b` renders as `url=%2Fa%2Fb`. */
  def tailoredResponse(df: DataFrame, baseUrl: String): DataFrame = {
    val hasQuery = length(col("query")) > 0
    val encQ = encodeUriComponent(col("query"))
    val encPath = encodeUriComponent(col("path"))
    val searchEp = struct(
      concat(lit(s"$baseUrl/openfeeder?q="), encQ,
        lit("&format="), col("format")).as("url"),
      lit("high").as("relevance"),
      lit("Content filtered to match your specific question").as("description"))
    val pageEp = struct(
      when(col("detected_type").isin("product", "category"),
          concat(lit(s"$baseUrl/openfeeder/products?url="), encPath))
        .otherwise(concat(lit(s"$baseUrl/openfeeder?url="), encPath)).as("url"),
      when(hasQuery, "medium").otherwise("high").as("relevance"),
      when(col("detected_type").isin("product", "category"),
          lit("Product details for the requested page"))
        .otherwise(lit("Full content of the requested page")).as("description"))
    val browseEp = struct(
      lit(s"$baseUrl/openfeeder").as("url"), lit("low").as("relevance"),
      lit("Browse all available content").as("description"))
    // with a query: [search, page]; without: [page, browse] — the search
    // endpoint only exists when a query is present (gateway.js:233-245)
    val endpoints =
      when(hasQuery, array(searchEp, pageEp))
        .otherwise(array(pageEp, browseEp))
    val hints =
      when(hasQuery, array(
        concat(lit("GET /openfeeder?q="), encQ),
        concat(lit("GET /openfeeder?q="), encQ,
          lit("&format="), col("format"), lit("&depth="), col("depth"))))
      .otherwise(array(concat(lit("GET /openfeeder?url="), encPath)))
    // current_page block (gateway.js:281-285): title = topic or null,
    // summary = "<type> page" (detected_type is never null, so the JS
    // falsy-guard reduces to the concat)
    val currentPage = struct(
      concat(lit(s"$baseUrl/openfeeder?url="), encPath).as("openfeeder_url"),
      col("detected_topic").as("title"),
      concat(col("detected_type"), lit(" page")).as("summary"))
    df.withColumn("recommended_endpoints", endpoints)
      .withColumn("query_hints", hints)
      .withColumn("current_page", currentPage)
      .withColumn("tailored", lit(true))
  }
}
