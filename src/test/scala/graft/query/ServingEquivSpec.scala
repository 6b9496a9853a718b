package graft.query

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.job.Sinks

/** Equivalence of the serving rules that now have one body each against
  * verbatim copies of the forms they replace: `Sinks.syncEnvelope` over
  * the shared `Sinks.syncWindow`, and the gateway's cold-start envelope
  * and tailored response over the one `Gateway.withContext`. */
class ServingEquivSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("serving-equiv-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("syncEnvelope equals the inline window on bounds and NULL timestamps") {
    val s = spark; import s.implicits._
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val since = ts(600); val until = ts(900)
    // instants on, just inside and just outside both bounds, and NULL
    val instants: Seq[Option[Timestamp]] =
      Seq(None, Some(ts(599)), Some(since), Some(ts(601)), Some(ts(750)),
        Some(ts(899)), Some(until), Some(ts(901)))
    val rnd = new scala.util.Random(18)
    def pick() = instants(rnd.nextInt(instants.size))
    val pages = (0 until 300).map(i => (s"/p$i", s"title $i", pick(), pick()))
      .toDF("url", "title", "first_indexed_at", "indexed_at")
    val tombs = (0 until 60).map(i => (s"/gone$i", pick())).toDF("url", "deleted_at")
    val got = Sinks.syncEnvelope(pages, tombs, since, until)
    val want = SyncEnvelopeParent(pages, tombs, since, until)
    Seq(got._1 -> want._1, got._2 -> want._2, got._3 -> want._3)
      .foreach { case (g, w) =>
        assert(g.schema == w.schema)
        assert(rows(g) == rows(w))
      }
    assert(got._5 == want._5)
    // the counts are the sizes of the parent's own added and updated
    // lists; its counts frame also bucketed a NULL first_indexed_at as
    // updated
    assert(got._4.schema == want._4.schema)
    val listSizes = Seq("added" -> want._1.count(), "updated" -> want._2.count())
      .filter(_._2 > 0).toMap
    assert(got._4.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == listSizes)
    // the fixture reaches every bucket and a windowed NULL first_indexed_at
    assert(rows(got._1).nonEmpty && rows(got._2).nonEmpty && rows(got._3).nonEmpty)
    assert(pages.filter(col("indexed_at") === lit(since) &&
      col("first_indexed_at").isNull).count() > 0)
  }

  /** Paths: root, the search type, trailing slashes, one and many
    * segments, every context family. */
  private val paths = Seq("/", "//", "/search", "/search/", "/Search/query-x",
    "/products/blue-widget", "/products/blue-widget/", "/product", "/products/",
    "/category/shoes_and-boots", "/category", "/tag/", "/collections/summer/sale",
    "/blog/my-great_post", "/news/", "/about-us", "/about-us/", "/page//double",
    "/docs/guides/getting_started-now", "/a/b/c/", "/Shop/X_y")

  test("coldStartEnvelope equals its inline-context form") {
    val s = spark; import s.implicits._
    val df = paths.zipWithIndex.toDF("path", "doc_id")
    for (ecom <- Seq(true, false)) {
      val got = Gateway.coldStartEnvelope(df, "https://x.example", ecom)
      val want = GatewayParent.coldStartEnvelope(df, "https://x.example", ecom)
      assert(got.schema == want.schema)
      assert(rows(got) == rows(want))
    }
  }

  test("tailoredResponse over withContext equals the inline-context form") {
    val s = spark; import s.implicits._
    val df = paths.zipWithIndex.map { case (p, i) =>
      (i, p, if (i % 2 == 0) Some("spark & café tuning") else None,
        if (i % 3 == 0) Some("summary") else None)
    }.toDF("doc_id", "path", "query", "depth")
      .withColumn("intent", lit("answer-question"))
      .withColumn("format", lit(null).cast("string"))
      .withColumn("language", lit(null).cast("string"))
    val got = Gateway.tailoredResponse(
      Gateway.withIntentDefaults(Gateway.withContext(df)), "https://x.example")
    val want = GatewayParent.tailoredResponse(Gateway.withIntentDefaults(
      df.withColumn("_ctx", Gateway.detectContext(col("path")))
        .withColumn("detected_type", col("_ctx").getField("detected_type"))
        .withColumn("detected_topic", col("_ctx").getField("detected_topic"))),
      "https://x.example").drop("_ctx")
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
  }
}

/** Verbatim copy of the replaced `Sinks.syncEnvelope` body. */
private object SyncEnvelopeParent {
  def apply(pages: DataFrame, tombstones: DataFrame,
      since: java.sql.Timestamp, until: java.sql.Timestamp)
      : (DataFrame, DataFrame, DataFrame, DataFrame, String) = {
    val inWindow = pages.filter(
      col("indexed_at") >= lit(since) && col("indexed_at") <= lit(until))
    val added = inWindow.filter(col("first_indexed_at") >= lit(since))
    val updated = inWindow.filter(col("first_indexed_at") < lit(since))
    val deleted = Sinks.tombstonesSince(tombstones, since)
    val counts = inWindow
      .withColumn("bucket",
        when(col("first_indexed_at") >= lit(since), "added").otherwise("updated"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    // SyncCodec.toIsoUtc pads whole-minute timestamps to ":00" seconds like
    // Python's isoformat (LocalDateTime.toString would drop them)
    val asOfIso = graft.extract.SyncCodec.toIsoUtc(until.getTime / 1000.0)
    (added, updated, deleted, counts, graft.extract.SyncCodec.encodeSyncToken(asOfIso))
  }
}

/** Verbatim copies of the replaced gateway bodies: the cold-start
  * envelope with its struct-reading question builder, and the tailored
  * response (its body is unchanged; the copy pins it with its inputs). */
private object GatewayParent {
  import Gateway.{detectContext, encodeUriComponent}

  private def pathSegments(path: Column): (Column, Column) = {
    val clean = regexp_replace(path, "/$", "")
    val segments = filter(split(clean, "/"), s => length(s) > 0)
    (segments, when(size(segments) >= 2, element_at(segments, 2)))
  }

  def coldStartQuestionsFrom(path: Column, ctx: Column, baseUrl: String,
      hasEcommerce: Boolean): Column = {
    val dtype = ctx.getField("detected_type")
    val topic = ctx.getField("detected_topic")
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

  def coldStartEnvelope(df: DataFrame, baseUrl: String,
      hasEcommerce: Boolean): DataFrame = {
    val caps =
      if (hasEcommerce) Seq("content", "search", "products")
      else Seq("content", "search")
    // detection computed ONCE into a struct column; everything downstream
    // reads attribute references instead of re-inlining the when-chain
    df.withColumn("_ctx", detectContext(col("path")))
      .withColumn("context", struct(
        col("path").as("page_requested"),
        col("_ctx").getField("detected_type").as("detected_type"),
        col("_ctx").getField("detected_topic").as("detected_topic"),
        typedlit(caps).as("site_capabilities")))
      .withColumn("questions",
        coldStartQuestionsFrom(col("path"), col("_ctx"), baseUrl, hasEcommerce))
      .drop("_ctx")
      .withColumn("endpoints", struct(
        lit(s"$baseUrl/openfeeder").as("content"),
        lit(s"$baseUrl/.well-known/openfeeder.json").as("discovery")))
      .withColumn("next_steps", array(
        lit("Answer the dialog questions via POST /openfeeder/gateway/respond for a tailored response."),
        lit("Or choose an action from the questions above and make that GET request."),
        lit(s"Or search directly: GET $baseUrl/openfeeder?q=describe+what+you+need"),
        lit(s"Start from the discovery doc: GET $baseUrl/.well-known/openfeeder.json")))
  }

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
