package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.job.{ExtractJob, Sinks, Transcripts}
import graft.ops.{Dedup, Multimodal, TextOps, VectorOps}

/** The query surface: every read-side operator from SURVEY.md §2.4-§2.10,
  * plus the training-data-pipeline operators (dedup / similarity / text
  * analysis / multimodal), each as a `(SparkSession, sfDir) => DataFrame`
  * with an ANSI-SQL DuckDB oracle where expressible.
  *
  * Conventions for bit-exact oracle parity:
  *  - money/score aggregates in integer cents (`CAST(round(x*100) AS BIGINT)`)
  *    so sums are exact in both engines;
  *  - timestamps rendered with `date_format`/`strftime` to strings;
  *  - every query totally ordered;
  *  - counts/ranks cast to BIGINT (DuckDB returns int64).
  */
object Queries {

  final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** integer cents of a double money column — exact in any engine */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  // ======================================================================
  // §2.4 projections / filters / predicates  +  §2.8 windows / top-k
  // ======================================================================

  /** P1+P2+W3: index projection, newest-first string sort with "0000"
    * null-sentinel (indexer.py:283-292). */
  private val p1IndexProjection = Q(
    (s, dir) => rd(s, dir, "orders")
      .select(col("o_orderkey").as("url_key"), col("o_orderpriority").as("title"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("published"))
      .orderBy(coalesce(col("published"), lit("0000")).desc, col("url_key").asc)
      .limit(500),
    Some("""SELECT o_orderkey AS url_key, o_orderpriority AS title,
      strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS published FROM orders
      ORDER BY coalesce(published, '0000') DESC, url_key ASC LIMIT 500"""))

  /** P3+P4: pagination page=3, limit=20 (indexer.py:294-297). Expressed as
    * sort + offset + limit — Catalyst plans a TakeOrderedAndProject (each
    * task keeps its top 60, driver merges), NOT a single-partition global
    * row_number window: at 100 TB every row would funnel through one task. */
  private val p3Pagination = Q(
    (s, dir) => rd(s, dir, "orders")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
      .offset(40).limit(20)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate FROM (
      SELECT o_orderkey, o_orderdate FROM orders
      ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 20 OFFSET 40) t
      ORDER BY o_orderkey"""))

  /** The modeled `?q=` after the express sanitize (content.js:144):
    * tags stripped, capped at 200 chars, first word, lower case. The raw
    * term is > 200 chars before the sanitize. */
  private val sanitizedSearchTerm: String = ("<b>MERGE</b>" + " pad" * 100)
    .replaceAll("<[^>]*>", "").take(200).takeWhile(_ != ' ').toLowerCase

  /** P5+P9: sanitized case-insensitive substring search
    * (content.js:144,317-323). */
  private val p9Search = Q(
    (s, dir) => rd(s, dir, "documents")
      .filter(lower(col("text")).contains(sanitizedSearchTerm))
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("SELECT doc_id, lang FROM documents WHERE lower(text) LIKE '%merge%' ORDER BY doc_id"))

  /** P10+W1: relevance scoring (term occurrences), min_score filter,
    * top-k (main.py:504-505, indexer.py:195-199). */
  private val p10TopK = Q(
    (s, dir) => rd(s, dir, "documents")
      .select(col("doc_id"), TextOps.occurrences(col("text"), "merge").cast("long").as("occ"))
      .filter(col("occ") >= 2)
      .orderBy(col("occ").desc, col("doc_id").asc)
      .limit(25),
    Some("""SELECT doc_id, (length(text) - length(replace(text, 'merge', ''))) // 5 AS occ
      FROM documents WHERE (length(text) - length(replace(text, 'merge', ''))) // 5 >= 2
      ORDER BY occ DESC, doc_id ASC LIMIT 25"""))

  /** P7: excluded-path prefix filter (content.js:77-80). */
  private val p7ExcludedPrefix = Q(
    (s, dir) => rd(s, dir, "documents")
      .filter(!col("source").startsWith("src1"))
      .select("doc_id", "source")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, source FROM documents WHERE source NOT LIKE 'src1%'
      ORDER BY doc_id"""))

  /** P8: visibility predicates (class-content-api.php:194-199,308-336). */
  private val p8Visibility = Q(
    (s, dir) => rd(s, dir, "events")
      .filter(!col("event_type").isin("error", "view") && col("value") > 50.0)
      .select(col("event_id"), col("event_type"), cents(col("value")).as("value_cents"))
      .orderBy("event_id"),
    Some("""SELECT event_id, event_type, CAST(round(value*100) AS BIGINT) AS value_cents
      FROM events WHERE event_type NOT IN ('error','view') AND value > 50.0
      ORDER BY event_id"""))

  /** P12: product predicates — price range + type + brand
    * (class-products-api.php:103-151). */
  private val p12ProductFilters = Q(
    (s, dir) => rd(s, dir, "part")
      .filter(col("p_retailprice").between(920.0, 980.0) &&
        col("p_type").isin("ECONOMY", "SMALL") && col("p_size") >= 10)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        cents(col("p_retailprice")).as("price_cents"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey, p_name, p_brand, CAST(round(p_retailprice*100) AS BIGINT) AS price_cents
      FROM part WHERE p_retailprice BETWEEN 920.0 AND 980.0
      AND p_type IN ('ECONOMY','SMALL') AND p_size >= 10 ORDER BY p_partkey"""))

  /** P13: bot detection/classification — when-chain dimension mapping
    * (analytics_provider.py:16-41). */
  private val p13BotClassify = Q(
    (s, dir) => rd(s, dir, "documents")
      .withColumn("bot_family",
        when(col("source").isin("src0", "src5", "src10", "src15"), "search_crawler")
          .when(col("lang") === "en", "ai_assistant")
          .when(col("lang").isin("fr", "de"), "ai_training")
          .otherwise("unknown"))
      .groupBy("bot_family").agg(count(lit(1)).as("n"))
      .orderBy("bot_family"),
    Some("""SELECT CASE WHEN source IN ('src0','src5','src10','src15') THEN 'search_crawler'
      WHEN lang = 'en' THEN 'ai_assistant' WHEN lang IN ('fr','de') THEN 'ai_training'
      ELSE 'unknown' END AS bot_family, count(*) AS n FROM documents
      GROUP BY 1 ORDER BY bot_family"""))

  /** P14: URL-context classification + title-cased topic (gateway.js:28-72). */
  private val p14UrlContext = Q(
    (s, dir) => rd(s, dir, "documents")
      .withColumn("context",
        when(col("source") === "src0", "home")
          .when(col("source").startsWith("src1"), "product")
          .when(col("source").isin("src2", "src3"), "category")
          .otherwise("page"))
      .withColumn("topic",
        concat(upper(substring(col("source"), 1, 1)), expr("substr(source, 2)")))
      .select("doc_id", "context", "topic")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, CASE WHEN source = 'src0' THEN 'home'
      WHEN source LIKE 'src1%' THEN 'product' WHEN source IN ('src2','src3') THEN 'category'
      ELSE 'page' END AS context,
      upper(substr(source,1,1)) || substr(source,2) AS topic
      FROM documents ORDER BY doc_id"""))

  /** The crawl queries' link graph over `documents`: page `/p/i` links
    * to `/p/((2i+1) mod N)` and `/p/((3i+2) mod N)`. The corpus size N is
    * computed in-job via a broadcast 1-row count (no plan-construction
    * driver count). */
  private def pageLinks(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents").select(col("doc_id"))
    val base = docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("_n"))))
    def page(c: Column): Column = concat(lit("/p/"), c)
    base.select(page(col("doc_id")).as("src"),
        page(pmod(col("doc_id") * 2 + 1, col("_n"))).as("dst"))
      .unionByName(base.select(page(col("doc_id")).as("src"),
        page(pmod(col("doc_id") * 3 + 2, col("_n"))).as("dst")))
  }

  /** S1: the crawl's BFS reachability over [[pageLinks]], seeded at the
    * root like crawler.py:156-160. The oracle is a DuckDB RECURSIVE CTE
    * computing min-depth reachability — a genuinely independent BFS
    * implementation. */
  private val s1CrawlBfs = Q(
    (s, dir) => {
      import s.implicits._
      graft.job.Crawl.bfs(pageLinks(s, dir), Seq("/p/0").toDF("url"), maxDepth = 6)
        .orderBy("url")
    },
    Some("""WITH RECURSIVE e AS (
        SELECT '/p/' || doc_id AS src,
               '/p/' || ((doc_id*2+1) % (SELECT count(*) FROM documents)) AS dst
        FROM documents
        UNION ALL
        SELECT '/p/' || doc_id,
               '/p/' || ((doc_id*3+2) % (SELECT count(*) FROM documents))
        FROM documents
      ), bfs(url, depth) AS (
        SELECT '/p/0', 0
        UNION
        SELECT e.dst, b.depth + 1 FROM bfs b JOIN e ON e.src = b.url
        WHERE b.depth < 6
      )
      SELECT url, CAST(min(depth) AS INT) AS depth FROM bfs
      GROUP BY url ORDER BY url"""))

  /** S2: sitemap.xml parse (crawler.py:63-81 ElementTree semantics) over
    * synthesized per-document sitemaps: index docs (doc_id % 4 = 0) carry
    * two child-sitemap locs, page docs carry three url locs — one
    * whitespace-padded (`.strip()` parity), one with an XML entity
    * (`&amp;` decode parity). The parse is row-local by nature (one XML
    * document in, its loc entries out), so it runs as a UDF over the scan
    * like the `of_extract` family — zero shuffles before the final
    * presentation sort. */
  private val s2SitemapParse = Q(
    (s, dir) => {
      val xml =
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(
            lit("<?xml version=\"1.0\"?><sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
              "<sitemap><loc>http://site/"), col("doc_id"),
            lit("/sm-1.xml</loc></sitemap><sitemap><loc> http://site/"), col("doc_id"),
            lit("/sm-2.xml </loc></sitemap></sitemapindex>")))
        .otherwise(
          concat(
            lit("<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
              "<url><lastmod>2024-01-01</lastmod><loc>http://site/"), col("doc_id"),
            lit("/page-0</loc></url><url><loc> http://site/"), col("doc_id"),
            lit("/page-1?a=1&amp;b=2 </loc></url><url><loc>http://site/"), col("doc_id"),
            lit("/page-2</loc></url></urlset>")))
      rd(s, dir, "documents")
        .select(col("doc_id"), explode(graft.extract.Sitemap.locs(xml)).as("e"))
        .select(col("doc_id"), col("e._1").as("kind"), col("e._2").as("loc"))
        .orderBy("doc_id", "loc")
    },
    Some("""WITH e AS (
        SELECT doc_id, 'sitemap' AS kind,
          'http://site/' || doc_id || '/sm-1.xml' AS loc
        FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id, 'sitemap', 'http://site/' || doc_id || '/sm-2.xml'
        FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id, 'url', 'http://site/' || doc_id || '/page-0'
        FROM documents WHERE doc_id % 4 <> 0
        UNION ALL
        SELECT doc_id, 'url', 'http://site/' || doc_id || '/page-1?a=1&b=2'
        FROM documents WHERE doc_id % 4 <> 0
        UNION ALL
        SELECT doc_id, 'url', 'http://site/' || doc_id || '/page-2'
        FROM documents WHERE doc_id % 4 <> 0
      )
      SELECT doc_id, kind, loc FROM e ORDER BY doc_id, loc"""))

  /** S1+S2 composed end-to-end — the reference's full crawl seeding seam
    * (crawler.py:62-81 sitemap recursion feeding crawler.py:151-162 BFS):
    * a sitemap INDEX resolves through [[graft.job.Crawl.sitemapSeeds]]
    * into its two child urlsets' page urls, the root page is always
    * included, and [[graft.job.Crawl.bfs]] walks [[pageLinks]] from
    * that distributed seed set under the `max_pages` cap. The oracle
    * re-derives the same seeds set-theoretically and replays the BFS as
    * a RECURSIVE CTE — an independent implementation of both halves. */
  private val xSitemapCrawl = Q(
    (s, dir) => {
      import s.implicits._
      val docs = rd(s, dir, "documents").select(col("doc_id"))
      // sitemap tree: one index → two child urlsets over disjoint slices
      def urlset(mod: Int): DataFrame = docs
        .filter(pmod(col("doc_id"), lit(10)) === mod)
        .select(concat(lit("<url><loc>http://site/p/"), col("doc_id"),
          lit("</loc></url>")).as("u"))
        .agg(concat_ws("", sort_array(collect_list(col("u")))).as("body"))
        .select(lit(s"http://site/sm-$mod.xml").as("url"),
          concat(lit("<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
            col("body"), lit("</urlset>")).as("xml"))
      val index = Seq(("http://site/sitemap.xml",
        "<?xml version=\"1.0\"?><sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          "<sitemap><loc>http://site/sm-1.xml</loc></sitemap>" +
          "<sitemap><loc>http://site/sm-2.xml</loc></sitemap></sitemapindex>"))
        .toDF("url", "xml")
      val sitemaps = index.unionByName(urlset(1)).unionByName(urlset(2))
      val seeds = graft.job.Crawl
        .sitemapSeeds(sitemaps, "http://site/sitemap.xml")
        .select(regexp_replace(col("url"), "^http://site", "").as("url"))
        .unionByName(Seq("/").toDF("url")) // root always enters the queue
      val edges = pageLinks(s, dir)
        .unionByName(Seq(("/", "/p/0")).toDF("src", "dst"))
      graft.job.Crawl.capPages(
        graft.job.Crawl.bfs(edges, seeds, maxDepth = 4), maxPages = 200)
    },
    Some("""WITH RECURSIVE seeds AS (
        SELECT DISTINCT '/p/' || doc_id AS url FROM documents
        WHERE doc_id % 10 IN (1, 2)
        UNION SELECT '/'
      ), e AS (
        SELECT '/p/' || doc_id AS src,
               '/p/' || ((doc_id*2+1) % (SELECT count(*) FROM documents)) AS dst
        FROM documents
        UNION ALL
        SELECT '/p/' || doc_id,
               '/p/' || ((doc_id*3+2) % (SELECT count(*) FROM documents))
        FROM documents
        UNION ALL SELECT '/', '/p/0'
      ), bfs(url, depth) AS (
        SELECT url, 0 FROM seeds
        UNION
        SELECT e.dst, b.depth + 1 FROM bfs b JOIN e ON e.src = b.url
        WHERE b.depth < 4
      ), r AS (
        SELECT url, CAST(min(depth) AS INT) AS depth FROM bfs GROUP BY url
      )
      SELECT url, depth FROM r ORDER BY depth, url LIMIT 200"""))

  /** The reference's robots fixture for S4 (crawler.py:101-127 gates with
    * urllib.robotparser + agent "OpenFeeder-Sidecar"). */
  private val robotsFixture: String =
    """User-agent: *
      |Disallow: /private/
      |Allow: /private/public/
      |Disallow: /tmp
      |
      |User-agent: OpenFeeder-Sidecar
      |Disallow: /search
      |Allow: /search/docs
      |Disallow:
      |""".stripMargin

  /** S4: the robots.txt gate as a compiled first-match-wins when-chain
    * (rules parsed once on the driver — they are per-site constants — and
    * the gate is a pure codegen'd boolean expression over the path column;
    * no UDF, pushes through Catalyst). Two agents exercise both the named
    * group and the `*` default group; the oracle re-derives the expected
    * urllib decisions independently per path family. */
  private val s4RobotsGate = Q(
    (s, dir) => {
      val rules = graft.extract.Robots.parse(robotsFixture)
      val path =
        when(pmod(col("doc_id"), lit(6)) === 0, concat(lit("/private/x-"), col("doc_id")))
          .when(pmod(col("doc_id"), lit(6)) === 1, concat(lit("/private/public/x-"), col("doc_id")))
          .when(pmod(col("doc_id"), lit(6)) === 2, lit("/search"))
          .when(pmod(col("doc_id"), lit(6)) === 3, concat(lit("/search/docs-"), col("doc_id")))
          .when(pmod(col("doc_id"), lit(6)) === 4, concat(lit("/tmp-"), col("doc_id")))
          .otherwise(concat(lit("/docs/page-"), col("doc_id")))
      rd(s, dir, "documents")
        .select(col("doc_id"), path.as("path"))
        .withColumn("allowed_sidecar",
          rules.allowedColumn("OpenFeeder-Sidecar", col("path")))
        .withColumn("allowed_other",
          rules.allowedColumn("SomeBot", col("path")))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
        CASE doc_id % 6
          WHEN 0 THEN '/private/x-' || doc_id
          WHEN 1 THEN '/private/public/x-' || doc_id
          WHEN 2 THEN '/search'
          WHEN 3 THEN '/search/docs-' || doc_id
          WHEN 4 THEN '/tmp-' || doc_id
          ELSE '/docs/page-' || doc_id END AS path,
        -- OpenFeeder-Sidecar group: Disallow /search first-match;
        -- the bare "Disallow:" tail allows everything else
        (doc_id % 6 <> 2 AND doc_id % 6 <> 3) AS allowed_sidecar,
        -- * group: Disallow /private/ shadows the later Allow
        -- /private/public/ (urllib is first-match, not longest-match);
        -- Disallow /tmp is a pure prefix (catches /tmp-N)
        (doc_id % 6 <> 0 AND doc_id % 6 <> 1 AND doc_id % 6 <> 4) AS allowed_other
      FROM documents ORDER BY doc_id"""))

  /** P15: the FULL WooCommerce product envelope —
    * `class-products-api.php:224-278` item shape (url/title/sku/price/
    * regular_price/sale_price/on_sale/availability/stock_quantity/
    * categories/tags/summary/variants/images) with `get_variants`
    * (305-348: sku + cleaned attributes map + price + availability per
    * variation) and `get_availability` (289-297). Prices are
    * `DecimalType(18,2)`-backed and rendered as 2-decimal STRINGS at the
    * edge, exactly like `wc_format_decimal(p, 2)`; absent sale_price /
    * stock_quantity render as JSON null (PHP null). The DuckDB mirror
    * renders prices from exact integer cents (`c//100 || '.' || lpad`),
    * identical to the decimal cast for 2-decimal inputs, because DuckDB's
    * double→DECIMAL rounding diverges from Spark's HALF_UP near ties.
    * Chunks are deliberately omitted — the adapter chunker has its own
    * oracle (e_adapter_docs_oracle).
    *
    * Plan shape: lineitem variants aggregate once (map-side combinable,
    * shuffles (partkey, narrow struct)), then joins the filtered part dim;
    * parts without variant rows get `[]` like PHP's simple products. */
  private val p15ProductEnvelope = Q(
    (s, dir) => {
      val variantType = "array<struct<sku:string,attributes:struct<status:string," +
        "flag:string>,price:string,availability:string>>"
      val part = rd(s, dir, "part").filter(col("p_partkey") <= 500)
      // variable products (partkey % 3 = 0) get their lineitems as variants
      val variants = rd(s, dir, "lineitem")
        .filter(col("l_partkey") <= 500 && pmod(col("l_partkey"), lit(3)) === 0)
        .select(col("l_partkey"), struct(
          concat(col("l_partkey"), lit("-"), col("l_orderkey"), lit("-"),
            col("l_linenumber")).as("sku"),
          struct(col("l_linestatus").as("status"), col("l_returnflag").as("flag"))
            .as("attributes"),
          col("l_extendedprice").cast("decimal(18,2)").cast("string").as("price"),
          when(col("l_quantity") < 10, "out_of_stock")
            .when(col("l_quantity") > 40, "on_backorder")
            .otherwise("in_stock").as("availability")).as("v"))
        .groupBy("l_partkey")
        .agg(sort_array(collect_list(col("v"))).as("variants"))
      val priceDec = col("p_retailprice").cast("decimal(18,2)")
      val onSale = pmod(col("p_partkey"), lit(4)) === 0
      // sale = 90% in EXACT integer-cents arithmetic (floor division both
      // engines — `div` here, `//` in the mirror); a double multiply would
      // hit engine-specific rounding at half-cent boundaries
      val saleCents = expr(
        "(CAST(round(p_retailprice * 100) AS BIGINT) * 9) div 10")
      val saleStr = concat(expr("_sale_cents div 100"), lit("."),
        lpad(pmod(col("_sale_cents"), lit(100)).cast("string"), 2, "0"))
      part.withColumn("_sale_cents", saleCents)
        .join(variants, part("p_partkey") === variants("l_partkey"), "left")
        .select(
          col("p_partkey"),
          priceDec.cast("string").as("price"),
          when(onSale, saleStr).as("sale_price"),
          onSale.as("on_sale"),
          to_json(struct(
            concat(lit("/product/p-"), col("p_partkey")).as("url"),
            col("p_name").as("title"),
            concat(col("p_brand"), lit("-"), col("p_partkey")).as("sku"),
            priceDec.cast("string").as("price"),
            priceDec.cast("string").as("regular_price"),
            when(onSale, saleStr).as("sale_price"),
            onSale.as("on_sale"),
            when(col("p_size") < 5, "out_of_stock")
              .when(col("p_size") > 40, "on_backorder")
              .otherwise("in_stock").as("availability"),
            when(pmod(col("p_partkey"), lit(2)) === 0, col("p_size") * 10)
              .as("stock_quantity"),
            array(col("p_brand"), col("p_type")).as("categories"),
            split(col("p_type"), " ").as("tags"),
            col("p_name").as("summary"),
            coalesce(col("variants"), expr(s"CAST(array() AS $variantType)"))
              .as("variants"),
            array(concat(lit("/img/p-"), col("p_partkey"), lit(".jpg")))
              .as("images")),
            Map("ignoreNullFields" -> "false")).as("envelope"))
        .orderBy("p_partkey")
    },
    Some("""WITH vr AS (
        SELECT l_partkey, struct_pack(
            sku := l_partkey || '-' || l_orderkey || '-' || l_linenumber,
            attributes := struct_pack(status := l_linestatus, flag := l_returnflag),
            price := (CAST(round(l_extendedprice*100) AS BIGINT) // 100) || '.'
              || lpad(CAST(CAST(round(l_extendedprice*100) AS BIGINT) % 100 AS VARCHAR), 2, '0'),
            availability := CASE WHEN l_quantity < 10 THEN 'out_of_stock'
              WHEN l_quantity > 40 THEN 'on_backorder' ELSE 'in_stock' END) AS v
        FROM lineitem WHERE l_partkey <= 500 AND l_partkey % 3 = 0
      ), v AS (
        -- ORDER BY the whole struct (sku can tie when the synthetic
        -- lineitem repeats an (orderkey, linenumber) pair): matches
        -- Spark's sort_array whole-struct lexicographic order
        SELECT l_partkey, list(v ORDER BY v) AS variants
        FROM vr GROUP BY l_partkey
      ), p AS (
        SELECT *,
          CAST(round(p_retailprice*100) AS BIGINT) AS cents,
          (CAST(round(p_retailprice*100) AS BIGINT) * 9) // 10 AS sale_cents,
          p_partkey % 4 = 0 AS on_sale
        FROM part WHERE p_partkey <= 500
      )
      SELECT p_partkey,
        (cents // 100) || '.' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS price,
        CASE WHEN on_sale THEN (sale_cents // 100) || '.'
          || lpad(CAST(sale_cents % 100 AS VARCHAR), 2, '0') END AS sale_price,
        on_sale,
        to_json(struct_pack(
          url := '/product/p-' || p_partkey,
          title := p_name,
          sku := p_brand || '-' || p_partkey,
          price := (cents // 100) || '.' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0'),
          regular_price := (cents // 100) || '.' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0'),
          sale_price := CASE WHEN on_sale THEN (sale_cents // 100) || '.'
            || lpad(CAST(sale_cents % 100 AS VARCHAR), 2, '0') END,
          on_sale := on_sale,
          availability := CASE WHEN p_size < 5 THEN 'out_of_stock'
            WHEN p_size > 40 THEN 'on_backorder' ELSE 'in_stock' END,
          stock_quantity := CASE WHEN p_partkey % 2 = 0 THEN p_size * 10 END,
          categories := [p_brand, p_type],
          tags := string_split(p_type, ' '),
          summary := p_name,
          variants := coalesce(v.variants, []),
          images := ['/img/p-' || p_partkey || '.jpg'])) AS envelope
      FROM p LEFT JOIN v ON v.l_partkey = p.p_partkey
      ORDER BY p_partkey"""))

  /** W2: stable in-group ordering — row_number per conversation analog
    * (indexer.py:117,246-247). */
  private val w2StableOrder = Q(
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      rd(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .withColumn("rn", row_number().over(w).cast("long"))
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, o_orderkey,
      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders WHERE o_custkey <= 50 ORDER BY o_custkey, rn"""))

  /** W4: tombstone FIFO cap — newest 1000 by deleted_at
    * (sync_utils.py:76-79). Top-k = sort + limit, so Catalyst plans a
    * TakeOrderedAndProject (per-partition heap, driver merge of 1000-row
    * heads) instead of a single-partition global window. */
  private val w4TombstoneFifo = Q(
    (s, dir) => rd(s, dir, "events")
      .filter(col("event_type") === "error")
      .orderBy(col("ts").desc, col("event_id").asc)
      .limit(1000)
      .select("event_id")
      .orderBy("event_id"),
    Some("""SELECT event_id FROM (
      SELECT event_id FROM events WHERE event_type = 'error'
      ORDER BY ts DESC, event_id ASC LIMIT 1000) t ORDER BY event_id"""))

  // ======================================================================
  // §2.6 aggregations  +  §2.10 sync semantics
  // ======================================================================

  /** A1: count-then-page totals — ceil(total/limit)
    * (class-products-api.php:153-166). */
  private val a1PaginationTotals = Q(
    (s, dir) => rd(s, dir, "part")
      .groupBy("p_brand").agg(count(lit(1)).as("total"))
      .withColumn("total_pages", greatest(ceil(col("total") / 20.0).cast("long"), lit(1L)))
      .orderBy("p_brand"),
    Some("""SELECT p_brand, count(*) AS total,
      greatest(CAST(ceil(count(*) / 20.0) AS BIGINT), 1) AS total_pages
      FROM part GROUP BY p_brand ORDER BY p_brand"""))

  /** A3: Last-Modified = max(published) (content.js:30-35). */
  private val a3LastModified = Q(
    (s, dir) => rd(s, dir, "events")
      .agg(date_format(max(col("ts")), "yyyy-MM-dd'T'HH:mm:ss").as("last_modified"),
        count(lit(1)).as("total")),
    Some("""SELECT strftime(max(ts), '%Y-%m-%dT%H:%M:%S') AS last_modified,
      count(*) AS total FROM events"""))

  /** A4: chunk_count per page analog (indexer.py:141). */
  private val a4ChunkCount = Q(
    (s, dir) => rd(s, dir, "lineitem")
      .groupBy("l_orderkey").agg(count(lit(1)).as("n_items"))
      .orderBy("l_orderkey")
      .limit(1000),
    Some("""SELECT l_orderkey, count(*) AS n_items FROM lineitem
      GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 1000"""))

  /** The capped request log (ip, endpoint, sec, event_id, limit_rpm,
    * epoch) shared by a6/a9/x_quota_reset; epoch 0 (no quota resets).
    * Request times land in per-ip BANDS so every bucket-lifecycle verdict
    * exists at the a9 snapshot (t = 600):
    * ips 0-2 only in [0, 250) (stale — swept before the snapshot), ips
    * 3-4 only in (600, 1101) (not yet seen), ips 5-7 in [310, 560)
    * (alive but mostly outside the 60 s count window — the live count-0
    * row), ips 8-13 in [480, 600) (alive with active counts), ips 14-19
    * across the whole [0, 1200) burst (long multi-window walks). */
  private def rateLimitRequests(s: SparkSession, dir: String): DataFrame = {
      val endpoint = when(pmod(col("event_id"), lit(5)) === 0, "/openfeeder?q=term")
        .when(pmod(col("event_id"), lit(5)) === 1, "/openfeeder/sync")
        .when(pmod(col("event_id"), lit(5)) === 2, "/webhook/update")
        .when(pmod(col("event_id"), lit(5)) === 3, "/.well-known/openfeeder.json")
        .otherwise("/openfeeder")
      val ip = pmod(col("user_id"), lit(20))
      val base = pmod(col("event_id") * 7, lit(1200))
      val sec = when(ip < 3, pmod(base, lit(250)))
        .when(ip < 5, lit(601) + pmod(base, lit(500)))
        .when(ip < 8, lit(310) + pmod(base, lit(250)))
        .when(ip < 14, lit(480) + pmod(base, lit(120)))
        .otherwise(base)
      rd(s, dir, "events").select(
          ip.as("ip"), endpoint.as("endpoint"),
          sec.cast("long").as("sec"),
          col("event_id"))
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("ip", "endpoint").orderBy("sec", "event_id")))
        .filter(col("rn") <= 40).drop("rn")
        .withColumn("limit_rpm", RateLimits.endpointLimit(col("endpoint"), rateLimitConfig))
        .withColumn("epoch", lit(0))
  }

  /** The limiter config of every rate-limit query: the reference's
    * RATE_LIMIT_*_RPM knobs scaled so both verdicts appear at test scale. */
  private val rateLimitConfig = RateLimits.Config(defaultRpm = 4, searchRpm = 2,
    discoverRpm = 4, syncRpm = 3, webhookRpm = 1)

  /** The admission decision log of [[rateLimitRequests]] through
    * [[RateLimits.simulate]]; `epoch`, when given, replaces the request
    * log's epoch 0 (quota resets). */
  private def rateLimitDecisions(s: SparkSession, dir: String,
      epoch: Option[Column] = None): DataFrame = {
      import s.implicits._
      val reqs = rateLimitRequests(s, dir)
      RateLimits.simulate(epoch.fold(reqs)(reqs.withColumn("epoch", _))
        .as[RateLimits.Req]).toDF()
  }

  /** The DuckDB mirror of [[rateLimitRequests]]' banded synthesis
    * (`keyed` + `reqs` CTE bodies) — ONE copy, interpolated into every
    * limiter oracle so the request log can never drift between a6/a9
    * and x_quota_reset. */
  private val rateLimitRequestsSqlCtes: String = """keyed AS (
        SELECT ip, endpoint,
          CAST(CASE WHEN ip < 3 THEN base % 250
            WHEN ip < 5 THEN 601 + base % 500
            WHEN ip < 8 THEN 310 + base % 250
            WHEN ip < 14 THEN 480 + base % 120
            ELSE base END AS BIGINT) AS sec,
          event_id
        FROM (
          SELECT user_id % 20 AS ip,
            CASE event_id % 5 WHEN 0 THEN '/openfeeder?q=term'
              WHEN 1 THEN '/openfeeder/sync' WHEN 2 THEN '/webhook/update'
              WHEN 3 THEN '/.well-known/openfeeder.json' ELSE '/openfeeder' END AS endpoint,
            (event_id * 7) % 1200 AS base,
            event_id
          FROM events)
      ), reqs AS (
        SELECT * FROM (
          SELECT ip, endpoint, sec, event_id,
            row_number() OVER (PARTITION BY ip, endpoint
              ORDER BY sec, event_id) AS rn
          FROM keyed)
        WHERE rn <= 40
      )"""

  /** The matching DuckDB decision-log SELECT (no final ORDER BY) —
    * shared by the a6 oracle and the a9 quota-view oracle. */
  private def rateLimitDecisionsSql: String = s"""WITH RECURSIVE $rateLimitRequestsSqlCtes, lim AS (
        SELECT *, CASE WHEN contains(endpoint, '?q=') THEN 2
          WHEN contains(split_part(endpoint, '?', 1), '.well-known') THEN 4
          WHEN contains(split_part(endpoint, '?', 1), 'webhook')
            OR contains(split_part(endpoint, '?', 1), 'update') THEN 1
          WHEN contains(split_part(endpoint, '?', 1), 'sync') THEN 3
          ELSE 4 END AS limit_rpm
        FROM reqs
      ), sim AS (
        SELECT ip, endpoint, rn, sec, event_id, limit_rpm,
          TRUE AS allowed, limit_rpm AS remaining, sec + 60 AS reset_ts,
          CAST(NULL AS BIGINT) AS retry_after, [sec] AS q
        FROM lim WHERE rn = 1
        UNION ALL
        SELECT r.ip, r.endpoint, r.rn, r.sec, r.event_id, r.limit_rpm,
          len(pq) < r.limit_rpm AS allowed,
          greatest(r.limit_rpm - len(pq), 0) AS remaining,
          CASE WHEN len(pq) < r.limit_rpm THEN r.sec + 60 ELSE pq[1] + 60 END AS reset_ts,
          CASE WHEN len(pq) < r.limit_rpm THEN NULL ELSE pq[1] + 60 END AS retry_after,
          CASE WHEN len(pq) < r.limit_rpm THEN list_append(pq, r.sec) ELSE pq END AS q
        FROM sim s JOIN lim r ON r.ip = s.ip AND r.endpoint = s.endpoint AND r.rn = s.rn + 1,
        LATERAL (SELECT list_filter(s.q, x -> x >= r.sec - 59) AS pq) t
      )
      SELECT ip, endpoint, event_id, sec, CAST(limit_rpm AS INT) AS limit_rpm,
        allowed, CAST(remaining AS INT) AS remaining, reset_ts, retry_after
      FROM sim"""

  /** A6: the full per-endpoint rate limiter — exact `check_rate_limit`
    * admission sequencing (rate_limiter.py:164-218) with
    * `_get_endpoint_limit` classification (rate_limiter.py:145-162) and
    * the X-RateLimit-Reset / retry_after math, per [[RateLimits]]. The
    * request log is synthesized deterministically from events (20 ips ×
    * the 5 endpoint classes; times in per-ip bands over a 1200 s burst —
    * see [[rateLimitRequests]] — first 40 per bucket), with per-class
    * limits {default 4, search 2, discover 4,
    * sync 3, webhook 1} — the reference's RATE_LIMIT_*_RPM env knobs
    * scaled so both verdicts appear at test scale. The oracle replays the
    * same greedy admission with a recursive CTE carrying each bucket's
    * allowed-timestamp window, so the denial SET (not just counts) and
    * every reset/retry_after value are checked. */
  private val a6RateWindow = Q(
    (s, dir) => rateLimitDecisions(s, dir).orderBy("ip", "endpoint", "event_id"),
    Some(s"$rateLimitDecisionsSql\n      ORDER BY ip, endpoint, event_id"))

  /** The alive-bucket `/admin/quota` snapshot at t = 600 (unordered) of
    * a decision log — shared by a9, the x_quota_envelope composition and
    * x_quota_reset. With `resetAt`, only requests strictly after the
    * bucket's last reset count, in both the last-checked time and the
    * window count. */
  private def quotaSnapshot(decisions: DataFrame, resetAt: Option[Column]): DataFrame = {
      val t = 600L
      def afterReset(c: Column): Column = resetAt.fold(c)(tr => c && col("sec") > tr)
      decisions
        .groupBy("ip", "endpoint", "limit_rpm")
        .agg(
          max(when(afterReset(col("sec") <= t), col("sec"))).as("last_checked"),
          sum(when(afterReset(col("allowed") && col("sec") <= t && col("sec") > t - 60), 1L)
            .otherwise(0L)).as("n_in_window"))
        // bucket exists at t iff seen by t and not stale: t - last ≤ 300
        .filter(col("last_checked").isNotNull && col("last_checked") >= t - 300)
        .select(col("ip"), col("endpoint"), col("n_in_window"),
          col("limit_rpm"),
          greatest(col("limit_rpm") - col("n_in_window"), lit(0L)).as("remaining"),
          round(lit(100.0) * col("n_in_window") / col("limit_rpm"), 1).as("percent_used"))
  }

  /** The matching DuckDB view SELECT (no final ORDER BY) — shared by the
    * a9 oracle and the envelope oracle. */
  private def quotaViewSql: String = s"""SELECT ip, endpoint, n_in_window, limit_rpm,
        CAST(greatest(limit_rpm - n_in_window, 0) AS BIGINT) AS remaining,
        round(100.0 * n_in_window / limit_rpm, 1) AS percent_used
      FROM (
        SELECT ip, endpoint, CAST(limit_rpm AS INT) AS limit_rpm,
          max(CASE WHEN sec <= 600 THEN sec END) AS last_checked,
          CAST(sum(CASE WHEN allowed AND sec <= 600 AND sec > 540 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_in_window
        FROM ($rateLimitDecisionsSql)
        GROUP BY ip, endpoint, limit_rpm
      )
      WHERE last_checked IS NOT NULL AND last_checked >= 300"""

  /** A9: the `/admin/quota` usage view (main.py:818-837 →
    * `RateLimiter.get_quota`, rate_limiter.py:218-273): a point-in-time
    * snapshot per (ip, endpoint) bucket of the ALLOWED requests still
    * inside the trailing 60 s window (denied requests are never recorded,
    * so they never count), the bucket's limit, remaining, and
    * percent_used rounded to 1 decimal — composed directly on the exact
    * admission decision log, snapshot pinned at t=600 (mid-burst, so
    * buckets show genuine partial usage). The admin-key gate itself is
    * the x_auth_gate shape.
    *
    * Bucket EXISTENCE is exact: the reference lists only buckets alive in
    * its in-memory map — created on the first `check_rate_limit` for the
    * (ip, endpoint) key and evicted by the periodic stale sweep
    * (`_cleanup_stale_buckets`, rate_limiter.py:132-144), where a bucket
    * is stale once `now - last_cleanup > 300` (is_stale,
    * rate_limiter.py:76-78) and `last_cleanup` advances on EVERY check —
    * allowed or denied — because `bucket.cleanup()` runs before the
    * verdict (rate_limiter.py:185, 65-69). So a bucket appears iff its
    * last CHECKED request is within 300 s of the snapshot, and a bucket
    * whose first request is after the snapshot does not exist yet. One
    * modeling choice, stated: the reference's sweep fires on a 300 s
    * timer whose phase depends on process start, so a stale bucket can
    * linger up to one extra interval before eviction; this view pins the
    * deterministic fixpoint "a sweep ran immediately before the
    * snapshot" — the only phase-independent semantics a log-derived
    * replay can state. */
  private val a9QuotaView = Q(
    (s, dir) => quotaSnapshot(rateLimitDecisions(s, dir), None).orderBy("ip", "endpoint"),
    Some(s"$quotaViewSql\n      ORDER BY ip, endpoint"))

  /** `GET /admin/quota?ip=X` — the single-IP mode of `get_quota`
    * (rate_limiter.py:219-245) — replicated QUIRKS AND ALL: it probes the
    * four LITERAL bucket keys `"{ip}:discover|search|sync|webhook"`, but
    * real buckets are keyed by the full request path
    * (`check_rate_limit`'s `f"{ip}:{endpoint}"` with endpoint =
    * "/openfeeder?q=term" etc.), so the literal keys never exist and
    * every entry takes the bucket-absent branch: count 0, remaining =
    * limit, percent_used 0.0. On top, `_get_endpoint_limit` is applied
    * to the literal NAME: "sync"/"webhook" substring-match their
    * classes, but "discover" (no ".well-known") and "search" (no "?q=")
    * fall through to the DEFAULT limit — the per-IP view reports the
    * wrong limit for those two classes. The limits here derive from the
    * REAL classifier ([[RateLimits.endpointLimit]] on the literal), not
    * hand-coded, so the quirk is reproduced by construction; with this
    * synthesis's config the visible symptom is search showing limit 4
    * (default) instead of its actual 2. */
  private val xQuotaIpView = Q(
    (s, dir) => {
      rateLimitRequests(s, dir).select("ip").distinct()
        .select(col("ip"),
          explode(typedlit(Seq("discover", "search", "sync", "webhook")))
            .as("endpoint"))
        .select(col("ip"), col("endpoint"),
          lit(0L).as("count"),
          RateLimits.endpointLimit(col("endpoint"), rateLimitConfig).cast("int").as("limit_rpm"))
        .withColumn("remaining", col("limit_rpm").cast("long"))
        .withColumn("percent_used", lit(0.0))
        .orderBy("ip", "endpoint")
    },
    Some("""SELECT ip, endpoint, CAST(0 AS BIGINT) AS "count",
        CAST(lim AS INT) AS limit_rpm,
        CAST(lim AS BIGINT) AS remaining,
        0.0 AS percent_used
      FROM (
        SELECT ip, endpoint,
          CASE WHEN contains(endpoint, '?q=') THEN 2
            WHEN contains(split_part(endpoint, '?', 1), '.well-known') THEN 4
            WHEN contains(split_part(endpoint, '?', 1), 'webhook')
              OR contains(split_part(endpoint, '?', 1), 'update') THEN 1
            WHEN contains(split_part(endpoint, '?', 1), 'sync') THEN 3
            ELSE 4 END AS lim
        FROM (SELECT DISTINCT user_id % 20 AS ip FROM events)
        CROSS JOIN (SELECT unnest(['discover', 'search', 'sync', 'webhook']) AS endpoint))
      ORDER BY ip, endpoint"""))

  /** The x_sync_validation parameter vocabulary + parse verdicts — ONE
    * definition shared by the Spark side and the DuckDB oracle builder
    * so the two can never drift. Verdicts are evaluated through the real
    * [[graft.extract.SyncCodec]] parser at plan-build time. */
  private object SyncValidationVocab {
    import graft.extract.SyncCodec
    val tok: String = SyncCodec.encodeSyncToken("2024-01-12T00:00:00+00:00")
    val sinceCands: Seq[Option[String]] = Seq(
      Some("2024-01-10T00:00:00Z"), Some("2024-01-10T06:30:00+02:00"),
      Some("2024-01-15"), Some(tok), Some("not-a-date"), Some("!!!"),
      None, Some(""))
    val untilCands: Seq[Option[String]] = Seq(
      Some("2024-01-20T00:00:00Z"), Some("2024-01-05"), Some(tok),
      Some("junk"), None, Some("2024-01-15T00:00:00Z"))
    val sinceTs: Seq[Option[Long]] =
      sinceCands.map(_.filter(_.nonEmpty).flatMap(SyncCodec.parseSince).map(_.toLong))
    val untilTs: Seq[Option[Long]] =
      untilCands.map(_.filter(_.nonEmpty).flatMap(SyncCodec.parseIsoTimestamp).map(_.toLong))
  }

  /** The spec §8 error body `{"schema":"openfeeder/1.0","error":{"code",
    * "message"}}` as a JSON string column. */
  private def specErrorBody(code: String, message: String): Column =
    to_json(struct(
      lit("openfeeder/1.0").as("schema"),
      struct(lit(code).as("code"), lit(message).as("message")).as("error")))

  /** `values(idx)` as a `sqlType` column, NULL where the value is absent
    * or `idx` is out of range: a when-chain folded over the indices. */
  private def pickByIndex(idx: Column, values: Seq[Option[Any]], sqlType: String): Column =
    values.zipWithIndex.foldLeft(lit(null).cast(sqlType)) {
      case (acc, (v, i)) => when(idx === i, v.map(lit).getOrElse(
        lit(null).cast(sqlType))).otherwise(acc)
    }

  /** `?since=`/`?until=` parameter validation on GET /openfeeder
    * (main.py:394-409 + parse_since sync_utils.py:41-50 / parse_until
    * main.py:770-778), replicated branch-for-branch:
    *
    *  - the sync validations run ONLY in the sync branch — `(since or
    *    until) and not q` — so a search request with junk `since` sails
    *    through (the params are ignored), and Python falsiness makes an
    *    EMPTY-STRING param absent;
    *  - `since` accepts RFC-3339 OR a sync token; `until` accepts only
    *    RFC-3339 — a valid sync token passed as `until` is a 400;
    *  - order: invalid since wins over invalid until wins over the range
    *    check, and the range check is STRICT (`until_ts < since_ts`;
    *    equal instants pass);
    *  - the since and range failures return the spec §8 envelope
    *    `{"schema":"openfeeder/1.0","error":{"code":"INVALID_PARAM",
    *    "message": …}}` — but the until failure does NOT: `parse_until`
    *    RAISES `HTTPException(400, detail={...})` before the handler's
    *    `if until_ts is None` spec-envelope branch can run (that branch
    *    is dead code, main.py:405-406 vs :770-778), so the real body is
    *    FastAPI's `{"detail": {"error": "INVALID_PARAM", "message":
    *    "?until= must be an RFC 3339 datetime"}}` — a different shape
    *    AND a different message than the dead branch's. Replicated
    *    exactly, dead branch and all.
    *
    * The parameter vocabulary is a closed literal set; parse outcomes
    * are evaluated at plan-build time through the REAL parser
    * ([[graft.extract.SyncCodec]], itself t3-★/property-tested) and
    * interpolated into both engines, so the oracle independently checks
    * the dispatch, ordering, and envelope logic while sharing the
    * parser verdicts (a DuckDB reimplementation of fromisoformat would
    * test DuckDB, not the reference semantics). */
  private val xSyncValidation = Q(
    (s, dir) => {
      import SyncValidationVocab.{sinceCands, untilCands, sinceTs, untilTs}
      val sIdx = pmod(col("doc_id"), lit(8))
      val uIdx = pmod(floor(col("doc_id") / 8).cast("long"), lit(6))
      val base = rd(s, dir, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0, "widget")
            .otherwise(lit(null).cast("string")).as("q_param"),
          pickByIndex(sIdx, sinceCands, "string").as("since_param"),
          pickByIndex(uIdx, untilCands, "string").as("until_param"),
          pickByIndex(sIdx, sinceTs, "long").as("since_ts"),
          pickByIndex(uIdx, untilTs, "long").as("until_ts"))
      val hasQ = col("q_param").isNotNull && col("q_param") =!= ""
      val hasSince = col("since_param").isNotNull && col("since_param") =!= ""
      val hasUntil = col("until_param").isNotNull && col("until_param") =!= ""
      val syncBranch = (hasSince || hasUntil) && !hasQ
      // invalid ?until= NEVER reaches the spec-envelope branch: parse_until
      // RAISES HTTPException(400, detail={...}) (main.py:770-778), so the
      // handler's `if until_ts is None` check (:405-406) is dead code and
      // the real body is FastAPI's {"detail": {...}} rendering
      val untilRaise = to_json(struct(struct(
        lit("INVALID_PARAM").as("error"),
        lit("?until= must be an RFC 3339 datetime").as("message")).as("detail")))
      val body =
        when(syncBranch && hasSince && col("since_ts").isNull,
          specErrorBody("INVALID_PARAM",
            "Invalid ?since= value. Provide an RFC3339 datetime or a valid sync_token."))
        .when(syncBranch && hasUntil && col("until_ts").isNull, untilRaise)
        .when(syncBranch && hasSince && hasUntil &&
            col("until_ts") < col("since_ts"),
          specErrorBody("INVALID_PARAM", "?until= must be after ?since=."))
      base
        .withColumn("body", body)
        .select(col("doc_id"), col("q_param"), col("since_param"),
          col("until_param"),
          when(col("body").isNotNull, 400).otherwise(200).as("status_code"),
          when(col("body").isNotNull, lit(null).cast("string"))
            .when(syncBranch, "sync")
            .when(hasQ, "search")
            .otherwise("index").as("mode"),
          col("body"))
        .orderBy("doc_id")
    },
    Some {
      import SyncValidationVocab.{sinceCands, untilCands}
      def caseOf(field: String, vals: Seq[Option[String]]): String =
        s"CASE $field " + vals.zipWithIndex.map { case (v, i) =>
          s"WHEN $i THEN " + v.map(x => s"'$x'").getOrElse("NULL")
        }.mkString(" ") + " END"
      def tsCaseOf(field: String, vals: Seq[Option[Long]]): String =
        s"CASE $field " + vals.zipWithIndex.map { case (v, i) =>
          s"WHEN $i THEN " + v.map(x => s"CAST($x AS BIGINT)").getOrElse("NULL")
        }.mkString(" ") + " END"
      import SyncValidationVocab.{sinceTs, untilTs}
      s"""SELECT doc_id, q_param, since_param, until_param,
        CASE WHEN body IS NOT NULL THEN 400 ELSE 200 END AS status_code,
        CASE WHEN body IS NOT NULL THEN NULL
          WHEN sync_branch THEN 'sync'
          WHEN has_q THEN 'search'
          ELSE 'index' END AS mode,
        body
      FROM (
        SELECT *,
          CASE WHEN sync_branch AND has_since AND since_ts IS NULL
            THEN to_json(struct_pack(schema := 'openfeeder/1.0',
              error := struct_pack(code := 'INVALID_PARAM',
                message := 'Invalid ?since= value. Provide an RFC3339 datetime or a valid sync_token.')))
          WHEN sync_branch AND has_until AND until_ts IS NULL
            THEN to_json(struct_pack(detail := struct_pack(
              error := 'INVALID_PARAM',
              message := '?until= must be an RFC 3339 datetime')))
          WHEN sync_branch AND has_since AND has_until AND until_ts < since_ts
            THEN to_json(struct_pack(schema := 'openfeeder/1.0',
              error := struct_pack(code := 'INVALID_PARAM',
                message := '?until= must be after ?since=.')))
          END AS body
        FROM (
          SELECT *,
            (q_param IS NOT NULL AND q_param <> '') AS has_q,
            (since_param IS NOT NULL AND since_param <> '') AS has_since,
            (until_param IS NOT NULL AND until_param <> '') AS has_until,
            ((since_param IS NOT NULL AND since_param <> '')
              OR (until_param IS NOT NULL AND until_param <> ''))
              AND NOT (q_param IS NOT NULL AND q_param <> '') AS sync_branch
          FROM (
            SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN 'widget' END AS q_param,
              ${caseOf("doc_id % 8", sinceCands)} AS since_param,
              ${caseOf("(doc_id // 8) % 6", untilCands)} AS until_param,
              ${tsCaseOf("doc_id % 8", sinceTs)} AS since_ts,
              ${tsCaseOf("(doc_id // 8) % 6", untilTs)} AS until_ts
            FROM documents)))
      ORDER BY doc_id"""
    })

  /** The webhook auth gate — `_check_webhook_auth` (main.py:660-670),
    * the THIRD distinct auth matrix in the reference next to the express
    * API-key gate (x_auth_gate, 401 envelope) and the admin gate
    * (x_admin_auth, 403 when unconfigured): with NO webhook secret
    * configured the check passes silently (auth disabled — the opposite
    * of the admin gate's disabled-403), otherwise missing/non-Bearer →
    * 401 "Missing Bearer token", wrong secret → 403 "Invalid webhook
    * secret", exact secret → pass (status null here: the request
    * proceeds into the handler). */
  private val xWebhookAuth = bearerGateQ(
    secret = "whk-secret", wrongToken = "wrong-secret",
    flagName = "secret_configured",
    unconfigured = None,
    invalidMsg = "Invalid webhook secret", passStatus = None)

  /** `POST /openfeeder/update` response envelopes (main.py:723-763 +
    * `_process_update` :673-720): per batch, ≤10 urls (INLINE_LIMIT)
    * process inline → `status "ok"`, processed = per-url successes,
    * errors = the input-ordered `"{full_url}: HTTP {status}"` strings
    * for failed upsert fetches; >10 urls queue as a background task →
    * `status "queued"`, processed 0, empty errors (the real counts are
    * never reported). full_url joins `SITE_URL.rstrip("/") + "/" +
    * relative.lstrip("/")` — both strips exercised by the synthesis
    * (SITE_URL carries a trailing slash, a third of the relatives a
    * leading one). Deletes always count processed (the indexer delete
    * path has no failure branch short of an exception); upsert failures
    * are the ≥400 fetch statuses, synthesized deterministically. */
  private val xUpdateEnvelope = Q(
    (s, dir) => {
      // SITE_URL = "https://example.com/" -> rstrip("/") precomputed
      val base = "https://example.com"
      val rel = concat(when(pmod(col("doc_id"), lit(3)) === 0, "/").otherwise(""),
        lit("blog/post-"), col("doc_id"))
      val fullUrl = concat(lit(base), lit("/"), regexp_replace(rel, "^/+", ""))
      val fetchStatus = when(pmod(col("doc_id"), lit(7)) === 0, 404)
        .when(pmod(col("doc_id"), lit(11)) === 1, 503)
        .otherwise(200)
      // batch sizes are WIDTH-controlled, not count-controlled, so both
      // response shapes exist at every SF: even docs land in 8-wide
      // slots (~4 urls → inline "ok"), odd docs in 30-wide slots
      // (~15 urls → "queued"). The two namespaces stay disjoint by
      // PARITY of the batch id (not by an offset a large doc_id could
      // overrun), so the shapes hold at any table size.
      val batch = when(pmod(col("doc_id"), lit(2)) === 0,
          floor(col("doc_id") / 8).cast("long") * 2)
        .otherwise(floor(col("doc_id") / 30).cast("long") * 2 + 1)
      val rows = rd(s, dir, "documents").select(
          col("doc_id"), batch.as("batch_id"))
        .withColumn("action",
          when(pmod(col("batch_id"), lit(3)) === 0, "delete").otherwise("upsert"))
        .withColumn("ok",
          col("action") === "delete" || fetchStatus < 400)
        .withColumn("err", when(col("action") === "upsert" && fetchStatus >= 400,
          concat(fullUrl, lit(": HTTP "), fetchStatus)))
      val errStructs = array_sort(collect_list(
        when(col("err").isNotNull, struct(col("doc_id"), col("err").as("e")))))
      rows.groupBy("batch_id", "action")
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
          errStructs.as("errs"))
        .select(col("batch_id"), col("action"), col("n_urls"),
          when(col("n_urls") <= 10, "ok").otherwise("queued").as("status"),
          when(col("n_urls") <= 10, col("n_ok")).otherwise(0L).as("processed"),
          // serialized: the driver's comparator hashes scalar columns
          to_json(when(col("n_urls") <= 10,
              transform(col("errs"), x => x.getField("e")))
            .otherwise(typedlit(Seq.empty[String]))).as("errors"))
        .orderBy("batch_id")
    },
    Some("""SELECT batch_id, action, n_urls,
        CASE WHEN n_urls <= 10 THEN 'ok' ELSE 'queued' END AS status,
        CASE WHEN n_urls <= 10 THEN n_ok ELSE 0 END AS processed,
        to_json(CASE WHEN n_urls <= 10 THEN COALESCE(errs, CAST([] AS VARCHAR[]))
          ELSE CAST([] AS VARCHAR[]) END) AS errors
      FROM (
        SELECT batch_id, action, CAST(count(*) AS BIGINT) AS n_urls,
          CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
          list(err ORDER BY doc_id) FILTER (WHERE err IS NOT NULL) AS errs
        FROM (
          SELECT doc_id, batch_id,
            CASE WHEN batch_id % 3 = 0 THEN 'delete' ELSE 'upsert' END AS action,
            CASE WHEN batch_id % 3 = 0 THEN TRUE ELSE fetch_status < 400 END AS ok,
            CASE WHEN batch_id % 3 <> 0 AND fetch_status >= 400
              THEN full_url || ': HTTP ' || CAST(fetch_status AS VARCHAR) END AS err
          FROM (
            SELECT doc_id,
              CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id // 8) * 2
                ELSE (doc_id // 30) * 2 + 1 END AS BIGINT) AS batch_id,
              'https://example.com' || '/' ||
                regexp_replace(CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
                  || 'blog/post-' || CAST(doc_id AS VARCHAR), '^/+', '') AS full_url,
              CASE WHEN doc_id % 7 = 0 THEN 404
                WHEN doc_id % 11 = 1 THEN 503 ELSE 200 END AS fetch_status
            FROM documents))
        GROUP BY batch_id, action)
      ORDER BY batch_id"""))

  /** `POST /crawl` + `GET /healthz` (main.py:864-879) — the last two
    * routes, pure process-state reflectors, modeled over the three
    * reachable states: fresh process (`_crawl_running=False,
    * _last_crawl_ts=0.0`, main.py:96-97), mid-crawl (True, still 0.0 —
    * the timestamp is set only on completion, :124), and post-crawl
    * (False, ts of the last finished crawl). /crawl answers
    * already_running vs crawl_started with the exact message strings;
    * /healthz reflects both fields. Documented stand-in: the reference's
    * `_last_crawl_ts = time.time()` is process wall clock — here the
    * post-crawl timestamp is the data horizon (max events.ts, rendered
    * float-style with the .0 a whole-second float prints), which is what
    * a log-derived replay can know. */
  private val xOpsStatus = Q(
    (s, dir) => {
      val lastEpoch = rd(s, dir, "events").agg(
        unix_timestamp(max(col("ts"))).as("last_epoch"))
      val states = s.range(3).select(col("id").as("state_id"))
        .crossJoin(lastEpoch)
        .select(col("state_id"),
          (col("state_id") === 1).as("running"),
          when(col("state_id") === 2, concat(col("last_epoch"), lit(".0")))
            .otherwise("0.0").as("last_crawl"))
        .select(col("state_id"), col("running"), col("last_crawl"),
          explode(typedlit(Seq("/crawl", "/healthz"))).as("endpoint"))
      states.select(col("state_id"), col("endpoint"),
          lit(200).as("status_code"),
          when(col("endpoint") === "/crawl", to_json(struct(
            when(col("running"), "already_running")
              .otherwise("crawl_started").as("status"),
            when(col("running"), "A crawl is already in progress")
              .otherwise("Re-crawl triggered in background").as("message"))))
          .otherwise(concat(lit("{\"status\":\"ok\",\"crawl_running\":"),
            col("running").cast("string"), lit(",\"last_crawl\":"),
            col("last_crawl"), lit("}"))).as("body"))
        .orderBy("state_id", "endpoint")
    },
    Some("""SELECT state_id, endpoint, 200 AS status_code,
        CASE WHEN endpoint = '/crawl' THEN to_json(struct_pack(
          status := CASE WHEN running THEN 'already_running' ELSE 'crawl_started' END,
          message := CASE WHEN running THEN 'A crawl is already in progress'
            ELSE 'Re-crawl triggered in background' END))
        ELSE '{"status":"ok","crawl_running":' || CAST(running AS VARCHAR) ||
          ',"last_crawl":' || last_crawl || '}' END AS body
      FROM (
        SELECT s.state_id, s.state_id = 1 AS running, u.endpoint,
          CASE WHEN s.state_id = 2
            THEN CAST(CAST(epoch(e.mx) AS BIGINT) AS VARCHAR) || '.0'
            ELSE '0.0' END AS last_crawl
        FROM (SELECT unnest([0, 1, 2]) AS state_id) s
        CROSS JOIN (SELECT unnest(['/crawl', '/healthz']) AS endpoint) u
        CROSS JOIN (SELECT max(ts) AS mx FROM events) e)
      ORDER BY state_id, endpoint"""))

  /** The full `GET /admin/quota` (all-IPs) response body — `get_quota`'s
    * summary mode (rate_limiter.py:252-281) wrapped in the endpoint
    * envelope (main.py:816-835): `{"status":"ok","quota":{"total_ips":N,
    * "total_buckets":M,"ips":{ip:{endpoint:{count,limit,remaining,
    * percent_used}}}}}` where total_buckets counts every bucket alive in
    * the map at the snapshot (the a9 existence rule) and total_ips the
    * distinct ips among them. Two documented deltas: the reference's
    * `timestamp` field (wall-clock `datetime.now()`) is omitted — a
    * log-derived replay has no wall clock; and object keys render in
    * canonical sorted order, where Python dicts iterate in bucket
    * INSERTION order — process history that is sweep-phase-dependent
    * once buckets get evicted and re-created, hence not exactly
    * derivable from the log. Per-bucket numbers, bucket membership, and
    * both totals are exact.
    *
    * Scale note: the final aggregation concatenates every alive ip into
    * ONE response string — exactly as unbounded as the endpoint it
    * models (the reference serializes its whole in-memory map). At
    * data-lake ip cardinalities use the row-per-bucket [[a9QuotaView]]
    * surface; this query exists to pin the response BODY byte-for-byte
    * at admin scale (alive buckets ≈ active clients in a 5-minute
    * horizon, not the historical corpus). */
  private val xQuotaEnvelope = Q(
    (s, dir) => {
      val v = quotaSnapshot(rateLimitDecisions(s, dir), None)
      val bucketJson = concat(
        lit("\""), col("endpoint"), lit("\":{\"count\":"), col("n_in_window"),
        lit(",\"limit\":"), col("limit_rpm"), lit(",\"remaining\":"), col("remaining"),
        lit(",\"percent_used\":"), col("percent_used").cast("string"), lit("}"))
      // single pass over the view: per-ip bucket counts ride the same
      // aggregation as the JSON fragments, and both totals fall out of
      // the ONE outer aggregate (total_ips = per-ip rows, total_buckets
      // = their sum) — the admission simulation runs once, not twice
      val perIp = v
        .select(col("ip"), struct(col("endpoint"), bucketJson.as("j")).as("e"))
        .groupBy("ip")
        .agg(
          count(lit(1)).as("n_buckets"),
          concat(lit("\""), col("ip"), lit("\":{"),
            array_join(transform(array_sort(collect_list(col("e"))),
              x => x.getField("j")), ","),
            lit("}")).as("ipj"))
      perIp.agg(
          count(lit(1)).as("total_ips"),
          coalesce(sum(col("n_buckets")), lit(0L)).as("total_buckets"),
          array_join(transform(array_sort(collect_list(struct(col("ip"), col("ipj")))),
            x => x.getField("ipj")), ",").as("ips_json"))
        .select(concat(
          lit("{\"status\":\"ok\",\"quota\":{\"total_ips\":"), col("total_ips"),
          lit(",\"total_buckets\":"), col("total_buckets"),
          lit(",\"ips\":{"), col("ips_json"), lit("}}}")).as("quota_envelope"))
    },
    Some(s"""WITH v AS ($quotaViewSql),
      per_ip AS (
        SELECT ip, count(*) AS n_buckets,
          '"' || CAST(ip AS VARCHAR) || '":{' ||
          string_agg('"' || endpoint || '":{"count":' || CAST(n_in_window AS VARCHAR) ||
            ',"limit":' || CAST(limit_rpm AS VARCHAR) ||
            ',"remaining":' || CAST(remaining AS VARCHAR) ||
            ',"percent_used":' || CAST(percent_used AS VARCHAR) || '}',
            ',' ORDER BY endpoint) || '}' AS ipj
        FROM v GROUP BY ip
      )
      SELECT '{"status":"ok","quota":{"total_ips":' ||
        CAST(count(*) AS VARCHAR) ||
        ',"total_buckets":' || CAST(CAST(COALESCE(sum(n_buckets), 0) AS BIGINT) AS VARCHAR) ||
        ',"ips":{' ||
        COALESCE(string_agg(ipj, ',' ORDER BY ip), '') ||
        '}}}' AS quota_envelope
      FROM per_ip"""))

  /** Shared builder for the sidecar's two FastAPI Bearer gates
    * (`_check_admin_auth` main.py:799-815, `_check_webhook_auth`
    * main.py:660-670): identical Bearer mechanics (`startswith("Bearer ")`,
    * token = the rest, `hmac.compare_digest` exact equality, 401
    * "Missing Bearer token", 403 on mismatch), differing in the secret,
    * the mismatch message, and what happens with NO secret configured
    * (admin: 403 "Admin endpoints are disabled"; webhook: pass
    * silently) / on pass (admin 200, webhook proceeds = null). One
    * definition, both the DataFrame and the DuckDB twin, so the shared
    * mechanics cannot drift between the two gates. */
  private def bearerGateQ(secret: String, wrongToken: String,
      flagName: String, unconfigured: Option[(Int, String)],
      invalidMsg: String, passStatus: Option[Int]): Q = Q(
    (s, dir) => {
      val configured = pmod(col("doc_id"), lit(4)) =!= 3
      val m6 = pmod(col("doc_id"), lit(6))
      val header = when(m6 === 0, s"Bearer $secret")
        .when(m6 === 1, s"Bearer $wrongToken")
        .when(m6 === 2, lit(null).cast("string"))
        .when(m6 === 3, s"Basic $secret")
        .when(m6 === 4, s"bearer $secret")
        .otherwise(lit("Bearer"))
      val notBearer = col("auth_header").isNull ||
        !col("auth_header").startsWith("Bearer ")
      val badKey = substring(col("auth_header"), 8, Int.MaxValue) =!= secret
      val nullInt = lit(null).cast("int")
      rd(s, dir, "documents")
        .select(col("doc_id"), configured.as(flagName),
          header.as("auth_header"))
        .withColumn("status_code",
          when(!col(flagName), unconfigured.map(u => lit(u._1)).getOrElse(nullInt))
            .when(notBearer, 401)
            .when(badKey, 403)
            .otherwise(passStatus.map(lit).getOrElse(nullInt)))
        .withColumn("detail",
          when(!col(flagName),
            unconfigured.map(u => lit(u._2)).getOrElse(lit(null).cast("string")))
            .when(notBearer, "Missing Bearer token")
            .when(badKey, invalidMsg))
        .withColumn("body",
          when(col("status_code").isNotNull && col("status_code") =!= 200,
            to_json(struct(col("detail").as("detail")))))
        .drop("detail")
        .orderBy("doc_id")
    },
    Some {
      val unconfStatus = unconfigured.map(_._1.toString).getOrElse("NULL")
      val unconfMsg = unconfigured.map(u => s"'${u._2}'").getOrElse("NULL")
      val passSql = passStatus.map(_.toString).getOrElse("NULL")
      s"""SELECT doc_id, $flagName, auth_header, status_code,
        CASE WHEN status_code IS NOT NULL AND status_code <> 200
          THEN to_json(struct_pack(detail := detail)) END AS body
      FROM (
        SELECT *,
          CASE WHEN NOT $flagName THEN $unconfStatus
               WHEN auth_header IS NULL OR NOT starts_with(auth_header, 'Bearer ') THEN 401
               WHEN substr(auth_header, 8) <> '$secret' THEN 403
               ELSE $passSql END AS status_code,
          CASE WHEN NOT $flagName THEN $unconfMsg
               WHEN auth_header IS NULL OR NOT starts_with(auth_header, 'Bearer ') THEN 'Missing Bearer token'
               WHEN substr(auth_header, 8) <> '$secret' THEN '$invalidMsg'
               END AS detail
        FROM (
          SELECT doc_id, doc_id % 4 <> 3 AS $flagName,
            CASE doc_id % 6 WHEN 0 THEN 'Bearer $secret'
              WHEN 1 THEN 'Bearer $wrongToken'
              WHEN 3 THEN 'Basic $secret'
              WHEN 4 THEN 'bearer $secret'
              WHEN 5 THEN 'Bearer' END AS auth_header
          FROM documents))
      ORDER BY doc_id"""
    })

  /** The admin-key gate for the `/admin` endpoints — `_check_admin_auth`
    * (main.py:799-815): with no RATE_LIMIT_ADMIN_KEY configured, every
    * admin call answers 403 "Admin endpoints are disabled" (the endpoints
    * are switched off, regardless of credentials); with a key configured,
    * a missing or non-`Bearer ` Authorization header answers 401 "Missing
    * Bearer token", a Bearer token that is not exactly the key answers
    * 403 "Invalid admin key" (`hmac.compare_digest` — semantically exact
    * string equality; the timing property is a serving-side concern), and
    * the exact key passes. Error bodies are FastAPI's HTTPException
    * rendering `{"detail": message}`. The synthesis crosses configured /
    * not with six header shapes (exact key, wrong key, absent, Basic,
    * lowercase `bearer`, `Bearer` with no space) so every branch of the
    * 401/403/200 matrix appears. This is the sidecar's 403-first variant
    * next to x_auth_gate's express 401-envelope variant. */
  private val xAdminAuth = bearerGateQ(
    secret = "admin-secret-key", wrongToken = "wrong-key",
    flagName = "admin_key_configured",
    unconfigured = Some((403, "Admin endpoints are disabled")),
    invalidMsg = "Invalid admin key", passStatus = Some(200))

  /** `POST /admin/quota/reset` (main.py:840-858 →
    * `RateLimiter.reset_quota`, rate_limiter.py:276-294): deleting an
    * ip's buckets (or all) clears their recorded windows, so subsequent
    * admissions restart fresh — a reset is not a view-side filter but a
    * STATE transform that changes later allow/deny verdicts. Modeled by
    * epoch-partitioning the request log: each reset splits its affected
    * buckets' timelines, and the exact admission walk runs per
    * (ip, endpoint, epoch) — a fresh epoch is exactly a recreated bucket.
    * Scenario: a global reset at t=350 and a per-ip reset of ip 9 at
    * t=520 (a request at sec == tr is pre-reset; strictly later requests
    * see the cleared bucket); the result is the /admin/quota view at
    * t=600 over the reset-aware decision log, where a bucket exists iff
    * its last post-reset check is within the 300 s sweep horizon (see
    * a9). Epochs ride the request's `epoch` column through
    * [[RateLimits.simulate]], whose walk keys its window state by
    * (ip, endpoint, epoch). */
  private val xQuotaReset = Q(
    (s, dir) => {
      val epoch = when(col("sec") > 350, 1).otherwise(0) +
        when(col("ip") === 9 && col("sec") > 520, 1).otherwise(0)
      val tr = when(col("ip") === 9, 520L).otherwise(350L)
      quotaSnapshot(rateLimitDecisions(s, dir, Some(epoch)), Some(tr))
        .orderBy("ip", "endpoint")
    },
    Some(s"""WITH RECURSIVE $rateLimitRequestsSqlCtes, lim AS (
        SELECT ip, endpoint, sec, event_id,
          CASE WHEN contains(endpoint, '?q=') THEN 2
            WHEN contains(split_part(endpoint, '?', 1), '.well-known') THEN 4
            WHEN contains(split_part(endpoint, '?', 1), 'webhook')
              OR contains(split_part(endpoint, '?', 1), 'update') THEN 1
            WHEN contains(split_part(endpoint, '?', 1), 'sync') THEN 3
            ELSE 4 END AS limit_rpm,
          (CASE WHEN sec > 350 THEN 1 ELSE 0 END +
           CASE WHEN ip = 9 AND sec > 520 THEN 1 ELSE 0 END) AS epoch
        FROM reqs
      ), seq2 AS (
        SELECT *, row_number() OVER (PARTITION BY ip, endpoint, epoch
          ORDER BY sec, event_id) AS rn2
        FROM lim
      ), sim AS (
        SELECT ip, endpoint, epoch, rn2, sec, limit_rpm,
          limit_rpm > 0 AS allowed,
          CASE WHEN limit_rpm > 0 THEN [sec] ELSE [] END AS q
        FROM seq2 WHERE rn2 = 1
        UNION ALL
        SELECT r.ip, r.endpoint, r.epoch, r.rn2, r.sec, r.limit_rpm,
          len(pq) < r.limit_rpm AS allowed,
          CASE WHEN len(pq) < r.limit_rpm THEN list_append(pq, r.sec) ELSE pq END AS q
        FROM sim s JOIN seq2 r ON r.ip = s.ip AND r.endpoint = s.endpoint
          AND r.epoch = s.epoch AND r.rn2 = s.rn2 + 1,
        LATERAL (SELECT list_filter(s.q, x -> x >= r.sec - 59) AS pq) t
      )
      SELECT ip, endpoint, n_in_window, limit_rpm,
        CAST(greatest(limit_rpm - n_in_window, 0) AS BIGINT) AS remaining,
        round(100.0 * n_in_window / limit_rpm, 1) AS percent_used
      FROM (
        SELECT ip, endpoint, CAST(limit_rpm AS INT) AS limit_rpm,
          max(CASE WHEN sec <= 600 AND sec > (CASE WHEN ip = 9 THEN 520 ELSE 350 END)
            THEN sec END) AS last_checked,
          CAST(sum(CASE WHEN allowed AND sec <= 600 AND sec > 540
            AND sec > (CASE WHEN ip = 9 THEN 520 ELSE 350 END)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_in_window
        FROM sim GROUP BY ip, endpoint, limit_rpm
      )
      WHERE last_checked IS NOT NULL AND last_checked >= 300
      ORDER BY ip, endpoint"""))

  /** The differential-sync window bounds every sync query reads:
    * since 2024-01-10, until 2024-01-20 (UTC). Lazy: the first cast
    * parses its type name, about a second on a cold JVM, which only the
    * sync queries should pay. */
  private lazy val syncSince = lit("2024-01-10 00:00:00").cast("timestamp")
  private lazy val syncUntil = lit("2024-01-20 00:00:00").cast("timestamp")

  /** ISO-8601 seconds rendering of a timestamp, no zone suffix. */
  private def iso(c: Column): Column = date_format(c, "yyyy-MM-dd'T'HH:mm:ss")

  /** The events table as the sidecar's pages store (url, title,
    * indexed_at, first_indexed_at, event_id): url from event_id,
    * indexed_at = ts, first_indexed_at = ts − (event_id % 20) days so
    * both sync buckets populate. */
  private def syncPages(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "events").select(
      concat(lit("/page/"), col("event_id")).as("url"),
      col("event_type").as("title"),
      col("ts").as("indexed_at"),
      expr("timestampadd(DAY, -CAST(event_id % 20 AS INT), ts)").as("first_indexed_at"),
      col("event_id"))

  /** T2: differential sync window — inclusive [since, until]
    * (indexer.py:339-377). */
  private val t2SyncWindow = Q(
    (s, dir) => rd(s, dir, "events")
      .filter(col("ts") >= syncSince && col("ts") <= syncUntil)
      .select("event_id", "event_type")
      .orderBy("event_id"),
    Some("""SELECT event_id, event_type FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'
      ORDER BY event_id"""))

  /** J5+A2: added/updated bucket split + counts (indexer.py:371-375,
    * main.py:419-427). */
  private val j5SyncBuckets = Q(
    (s, dir) => rd(s, dir, "events")
      .filter(col("ts") >= syncSince && col("ts") <= syncUntil)
      .withColumn("bucket",
        when(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"), "added")
          .otherwise("updated"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket"),
    Some("""SELECT CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 'added'
      ELSE 'updated' END AS bucket, count(*) AS n FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'
      GROUP BY 1 ORDER BY bucket"""))

  /** T3: sync_token = base64(json {"t": iso}) (sync_utils.py:25-38). */
  private val t3SyncToken = Q(
    (s, dir) => rd(s, dir, "events")
      .agg(max(col("ts")).as("mx"))
      .select(base64(concat(lit("{\"t\": \""),
        date_format(col("mx"), "yyyy-MM-dd'T'HH:mm:ss"),
        lit("+00:00\"}")).cast("binary")).as("sync_token")),
    Some("""SELECT to_base64(encode('{"t": "' || strftime(max(ts), '%Y-%m-%dT%H:%M:%S')
      || '+00:00"}')) AS sync_token FROM events"""))

  /** The COMPOSED differential-sync envelope — the reference's second entry
    * point driven end-to-end as ONE Catalyst plan
    * (`/root/reference/sidecar/main.py:393-472`,
    * `/root/reference/sidecar/indexer.py:339-377`): window filter on
    * indexed_at, added/updated split on first_indexed_at vs since,
    * tombstones since, counts, sync_token, and the full JSON body
    * `{openfeeder_version, sync:{as_of, sync_token, counts, since, until},
    * added[], updated[], deleted[]}` with the reference's page_obj item
    * shape (url/title/published/updated/summary, nulls rendered).
    *
    * Input synthesis: the events table stands in for the pages store —
    * url from event_id, indexed_at = ts, first_indexed_at derived
    * deterministically (ts − (event_id % 20) days) so both buckets
    * populate; error events are the tombstone stream. `as_of` is pinned to
    * the `until` bound (the reference stamps wall-clock now(); documented
    * delta for determinism) and the token goes through the real
    * [[graft.extract.SyncCodec]].
    *
    * Scale shape: one scan + partial-aggregated collect_lists into a
    * single-row envelope — the single reducer IS the semantics (one HTTP
    * response body, bounded by the sync window, which a real deployment
    * paginates); no window functions, no driver-side assembly. */
  private val xSyncEnvelope = Q(
    (s, dir) => {
      val sinceIso = "2024-01-10T00:00:00+00:00"
      val untilIso = "2024-01-20T00:00:00+00:00"
      val token = graft.extract.SyncCodec.encodeSyncToken(untilIso)
      val (inWindow, isAdded) = Sinks.syncWindow(syncPages(s, dir), syncSince, syncUntil)
      val win = inWindow
        .withColumn("is_added", isAdded)
        .withColumn("item", struct(
          col("url"),
          col("title"),
          when(pmod(col("event_id"), lit(3)) =!= 0, iso(col("first_indexed_at")))
            .as("published"), // "or None" — null when absent, like page_obj
          iso(col("indexed_at")).as("updated"),
          concat(lit("Event "), col("event_id")).as("summary")))
      val buckets = win.agg(
        sort_array(collect_list(when(col("is_added"), col("item")))).as("added"),
        sort_array(collect_list(when(!col("is_added"), col("item")))).as("updated"))
      val dels = rd(s, dir, "events")
        .filter(col("event_type") === "error" && col("ts") >= syncSince)
        .select(struct(concat(lit("/page/"), col("event_id")).as("url"),
          iso(col("ts")).as("deleted_at")).as("t"))
        .agg(sort_array(collect_list(col("t"))).as("deleted"))
      buckets.crossJoin(dels).select(
        size(col("added")).cast("long").as("n_added"),
        size(col("updated")).cast("long").as("n_updated"),
        size(col("deleted")).cast("long").as("n_deleted"),
        lit(token).as("sync_token"),
        to_json(struct(
          lit("1.0.2").as("openfeeder_version"),
          struct(
            lit(untilIso).as("as_of"),
            lit(token).as("sync_token"),
            struct(size(col("added")).as("added"),
              size(col("updated")).as("updated"),
              size(col("deleted")).as("deleted")).as("counts"),
            lit(sinceIso).as("since"),
            lit(untilIso).as("until")).as("sync"),
          col("added"), col("updated"), col("deleted")),
          Map("ignoreNullFields" -> "false")).as("envelope"))
    },
    Some("""WITH pages AS (
        SELECT '/page/' || event_id AS url, event_type AS title, ts AS indexed_at,
               ts - (event_id % 20) * INTERVAL 1 DAY AS first_indexed_at, event_id
        FROM events
      ), win AS (
        SELECT first_indexed_at >= TIMESTAMP '2024-01-10 00:00:00' AS is_added,
          url,
          struct_pack(
            url := url, title := title,
            published := CASE WHEN event_id % 3 <> 0
              THEN strftime(first_indexed_at, '%Y-%m-%dT%H:%M:%S') ELSE NULL END,
            updated := strftime(indexed_at, '%Y-%m-%dT%H:%M:%S'),
            summary := 'Event ' || event_id) AS item
        FROM pages
        WHERE indexed_at >= TIMESTAMP '2024-01-10 00:00:00'
          AND indexed_at <= TIMESTAMP '2024-01-20 00:00:00'
      ), buckets AS (
        SELECT list(item ORDER BY url) FILTER (WHERE is_added) AS added,
               list(item ORDER BY url) FILTER (WHERE NOT is_added) AS updated
        FROM win
      ), dels AS (
        SELECT list(struct_pack(url := '/page/' || event_id,
                 deleted_at := strftime(ts, '%Y-%m-%dT%H:%M:%S'))
                 ORDER BY ('/page/' || event_id)) AS deleted
        FROM events WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      )
      SELECT CAST(len(added) AS BIGINT) AS n_added,
             CAST(len(updated) AS BIGINT) AS n_updated,
             CAST(len(deleted) AS BIGINT) AS n_deleted,
             to_base64(encode('{"t": "2024-01-20T00:00:00+00:00"}')) AS sync_token,
             to_json(struct_pack(
               openfeeder_version := '1.0.2',
               sync := struct_pack(
                 as_of := '2024-01-20T00:00:00+00:00',
                 sync_token := to_base64(encode('{"t": "2024-01-20T00:00:00+00:00"}')),
                 counts := struct_pack(added := len(added), updated := len(updated),
                   deleted := len(deleted)),
                 since := '2024-01-10T00:00:00+00:00',
                 until := '2024-01-20T00:00:00+00:00'),
               added := added, updated := updated, deleted := deleted)) AS envelope
      FROM buckets, dels"""))

  /** The keyset-paginated sync feed — the scale-safe companion to
    * [[xSyncEnvelope]]: the same [since, until] change window and
    * page_obj item shape, served as cursor pages instead of one
    * collect_list row. The reference's own index endpoint paginates
    * exactly like this (`/root/reference/sidecar/main.py:474-499`
    * page/limit over the ordered item set); here the cursor is the last
    * url of the previous page (keyset — an OFFSET would re-scan the
    * window's prefix every page at 10^9 changed pages), `limit` items per
    * page ordered by url, each row tagged with its added/updated bucket.
    * Plans as filter → TakeOrderedAndProject: no window functions, no
    * single-row aggregation of the full change set (PlanSpec pins it). */
  private val xSyncPage = Q(
    (s, dir) => {
      val cursor = "/page/3" // last url of the previous page (keyset)
      val (inWindow, isAdded) = Sinks.syncWindow(syncPages(s, dir), syncSince, syncUntil)
      inWindow
        .filter(col("url") > cursor)
        .select(
          when(isAdded, "added").otherwise("updated").as("bucket"),
          col("url"), col("title"),
          when(pmod(col("event_id"), lit(3)) =!= 0, iso(col("first_indexed_at")))
            .as("published"),
          iso(col("indexed_at")).as("updated"),
          concat(lit("Event "), col("event_id")).as("summary"))
        .orderBy("url")
        .limit(50)
    },
    Some("""SELECT CASE WHEN ts - (event_id % 20) * INTERVAL 1 DAY
               >= TIMESTAMP '2024-01-10 00:00:00' THEN 'added' ELSE 'updated' END AS bucket,
        '/page/' || event_id AS url,
        event_type AS title,
        CASE WHEN event_id % 3 <> 0 THEN
          strftime(ts - (event_id % 20) * INTERVAL 1 DAY, '%Y-%m-%dT%H:%M:%S') END AS published,
        strftime(ts, '%Y-%m-%dT%H:%M:%S') AS updated,
        'Event ' || event_id AS summary
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        AND '/page/' || event_id > '/page/3'
      ORDER BY url LIMIT 50"""))

  // ======================================================================
  // §2.7 joins & set ops
  // ======================================================================

  /** J1: broadcast hash join — big fact × small dim (main.py:536-537). */
  private val j1BroadcastJoin = Q(
    (s, dir) => {
      val li = rd(s, dir, "lineitem")
      val part = rd(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"), count(lit(1)).as("n"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand, CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT))
      AS BIGINT) AS revenue_cents, count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand"""))

  /** J3: delete = anti-join (indexer.py:157-174): customers with no
    * high-value order (filter pushed below the anti-join). */
  private val j3AntiJoin = Q(
    (s, dir) => {
      val c = rd(s, dir, "customer")
      val o = rd(s, dir, "orders").filter(col("o_totalprice") > 350000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    },
    Some("""SELECT c_custkey FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 350000.0)
      ORDER BY c_custkey"""))

  /** J6: union + dedup (crawler.py:151-162). */
  private val j6UnionDedup = Q(
    (s, dir) => rd(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(rd(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct().orderBy("nationkey"),
    Some("""SELECT c_nationkey AS nationkey FROM customer
      UNION SELECT s_nationkey FROM supplier ORDER BY nationkey"""))

  /** Flagship relational agg (TPC-H Q1 shape) for bench headline. */
  private val q1Agg = Q(
    (s, dir) => rd(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
      count(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** J7: parent ↔ children nested collect (product ↔ variants) —
    * `class-products-api.php:224-239,305-347`: children gathered into a
    * sorted list per parent at write time. */
  private val j7CollectVariants = Q(
    (s, dir) => rd(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 2000)
      .groupBy("l_orderkey")
      .agg(concat_ws(",", sort_array(collect_list(col("l_linenumber")))).as("lines"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_orderkey"),
    Some("""SELECT l_orderkey, array_to_string(list_sort(list(l_linenumber)), ',') AS lines,
      count(*) AS n_lines FROM lineitem WHERE l_orderkey <= 2000
      GROUP BY l_orderkey ORDER BY l_orderkey"""))

  /** S11: JSON response envelope `schema:"openfeeder/1.0"` —
    * `/root/reference/sidecar/main.py:489-641` — including the response
    * cache metadata block `meta: {total_chunks, returned_chunks, cached,
    * cache_age_seconds}` of the search/page responses (main.py:569-589):
    * `cached = _last_crawl_ts > 0`, `cache_age_seconds = now −
    * _last_crawl_ts` when a crawl has happened, JSON null otherwise
    * (main.py:391-392). The crawl timestamp is synthesized per row (a
    * 4-cycle never-crawled arm exercises the null path); `to_json` runs
    * with ignoreNullFields=false so the null renders exactly as the
    * reference serializes it. Rendered compact, insertion-ordered —
    * matches DuckDB's `to_json`. */
  private val s11JsonEnvelope = Q(
    (s, dir) => {
      val now = lit(1706000000L)
      val lastCrawl = when(pmod(col("doc_id"), lit(4)) === 0, 0L)
        .otherwise(lit(1705990000L) + pmod(col("doc_id"), lit(3600)))
      val nChunks = expr("CAST(n_chars AS BIGINT) div 1500") + 1
      rd(s, dir, "documents")
        .select(col("doc_id"),
          to_json(struct(
            lit("openfeeder/1.0").as("schema"),
            concat(lit("/"), col("source"), lit("/item-"), col("doc_id")).as("url"),
            col("lang").as("language"),
            col("n_chars"),
            struct(
              nChunks.as("total_chunks"),
              nChunks.as("returned_chunks"),
              (lastCrawl > 0).as("cached"),
              when(lastCrawl > 0, now - lastCrawl).cast("long")
                .as("cache_age_seconds")).as("meta")),
            Map("ignoreNullFields" -> "false")).as("envelope"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, to_json(struct_pack(
        schema := 'openfeeder/1.0',
        url := '/' || source || '/item-' || doc_id,
        language := lang,
        n_chars := n_chars,
        meta := struct_pack(
          total_chunks := n_chars // 1500 + 1,
          returned_chunks := n_chars // 1500 + 1,
          cached := doc_id % 4 <> 0,
          cache_age_seconds := CASE WHEN doc_id % 4 <> 0
            THEN 1706000000 - (1705990000 + doc_id % 3600) END))) AS envelope
      FROM documents ORDER BY doc_id"""))

  /** P6: URL param sanitization — pathname only, strip trailing slash,
    * reject traversal (`..`) — content.js:44-56, router.py:67-77. */
  private val p6UrlSanitize = Q(
    (s, dir) => rd(s, dir, "documents")
      .withColumn("url_raw",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("/"), col("source"), lit("/../etc/passwd")))
          .otherwise(concat(lit("/"), col("source"), lit("/item-"), col("doc_id"), lit("/"))))
      .withColumn("url_clean",
        when(col("url_raw").contains(".."), lit(null).cast("string"))
          .otherwise(regexp_replace(col("url_raw"), "/$", "")))
      .select("doc_id", "url_raw", "url_clean")
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
      CASE WHEN doc_id % 7 = 0 THEN '/' || source || '/../etc/passwd'
           ELSE '/' || source || '/item-' || doc_id || '/' END AS url_raw,
      CASE WHEN (CASE WHEN doc_id % 7 = 0 THEN '/' || source || '/../etc/passwd'
                 ELSE '/' || source || '/item-' || doc_id || '/' END) LIKE '%..%' THEN NULL
           ELSE regexp_replace(CASE WHEN doc_id % 7 = 0 THEN '/' || source || '/../etc/passwd'
                ELSE '/' || source || '/item-' || doc_id || '/' END, '/$', '') END AS url_clean
      FROM documents ORDER BY doc_id"""))

  // ======================================================================
  // training-data pipeline operators (documents / embeddings)
  // ======================================================================

  private val xTokenCount = Q(
    (s, dir) => rd(s, dir, "documents").select(col("doc_id"),
      TextOps.wordCount(col("text")).cast("long").as("n_words"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
      CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS n_tokens
      FROM documents ORDER BY doc_id"""))

  private val xQuality = Q(
    (s, dir) => TextOps.qualityFeatures(rd(s, dir, "documents")).orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
      CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_words,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS INT) AS n_tokens,
      CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS INT) AS n_punct,
      CAST((length(text) - length(replace(text,' the ','')))//5
        + (length(text) - length(replace(text,' a ','')))//3
        + (length(text) - length(replace(text,' and ','')))//5
        + (length(text) - length(replace(text,' of ','')))//4
        + (length(text) - length(replace(text,' to ','')))//4 AS INT) AS stop_hits,
      length(text)*100 // greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS mean_word_len_x100,
      (len(regexp_split_to_array(trim(text), '\s+')) >= 5 AND
       length(text)*100 // greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) BETWEEN 200 AND 1200)
        AS is_quality
      FROM documents ORDER BY doc_id"""))

  private val xLangId = Q(
    (s, dir) => TextOps.langId(rd(s, dir, "documents")).orderBy("doc_id"),
    Some {
      def occ(w: String) =
        s"(length(lower(text)) - length(replace(lower(text), ' $w ', ''))) // ${w.length + 2}"
      def hits(ws: Seq[String]) = ws.map(occ).mkString("(", " + ", ")")
      val en = hits(Seq("the", "and", "of"))
      val fr = hits(Seq("le", "la", "et", "les"))
      val es = hits(Seq("el", "los", "que", "y"))
      val de = hits(Seq("der", "die", "und", "das"))
      s"""SELECT doc_id, lang, CAST($en AS INT) AS en_hits, CAST($fr AS INT) AS fr_hits,
        CAST($es AS INT) AS es_hits, CAST($de AS INT) AS de_hits,
        CASE WHEN $en >= $fr AND $en >= $es AND $en >= $de THEN 'en'
             WHEN $fr >= $es AND $fr >= $de THEN 'fr'
             WHEN $es >= $de THEN 'es' ELSE 'de' END AS lang_pred
        FROM documents ORDER BY doc_id"""
    })

  private val xExactDedup = Q(
    // ordering applied at the query layer (oracle comparability only);
    // the library operator is unordered so pipeline consumers don't sort
    (s, dir) => TextOps.exactDedup(rd(s, dir, "documents")).orderBy("text_hash"),
    Some("""SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS text_hash,
      min(doc_id) AS canonical_id, count(*) AS dup_count FROM documents
      GROUP BY 1 ORDER BY text_hash"""))

  private val xFingerprint = Q(
    (s, dir) => TextOps.fingerprint(rd(s, dir, "documents")).orderBy("doc_id"),
    Some("""SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
      FROM documents ORDER BY doc_id"""))

  /** The one n-gram Jaccard setting (3-word shingles, Jaccard ≥ 0.2).
    * df cap = max(5% of corpus, 2), computed inside the job: boilerplate
    * shingles shared by a large corpus fraction are what turns the
    * shingle self-join quadratic. */
  private[graft] def ngramJaccardPairs(docs: DataFrame): DataFrame =
    TextOps.ngramJaccardPairs(docs, n = 3, thresholdX1000 = 200, maxDfPct = Some(5))

  private val xNgramJaccard = Q(
    (s, dir) => ngramJaccardPairs(rd(s, dir, "documents")).orderBy("doc_a", "doc_b"),
    Some("""WITH words AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents
      ), idx AS (
        SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 2, 0) + 1)) AS i FROM words
      ), sh0 AS (
        SELECT DISTINCT doc_id,
          substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 16) AS sh
        FROM idx
      ), hot AS (
        SELECT sh FROM sh0 GROUP BY sh
        HAVING count(*) > greatest((SELECT count(*) FROM documents) * 5 // 100, 2)
      ), sh AS (
        SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)
      ), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b, inter * 1000 // (sa.n_sh + sb.n_sh - inter) AS jaccard_x1000
      FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      WHERE inter * 1000 // (sa.n_sh + sb.n_sh - inter) >= 200
      ORDER BY doc_a, doc_b"""))

  /** The per-row feature frame (doc_id, lang, n_tokens, is_quality,
    * lang_pred) shared by both curation capstones — quality + language-ID
    * are pure expressions, so BOTH compute in ONE scan (joining separate
    * qualityFeatures/langId frames would re-scan the corpus twice
    * more). */
  private def curationFeatured(docs: DataFrame): DataFrame = {
    val nWords = TextOps.wordCount(col("text"))
    val isQuality = TextOps.isQuality(nWords,
      TextOps.meanWordLenX100(length(col("text")), nWords))
    docs.select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
      isQuality.as("is_quality"),
      TextOps.langPred(TextOps.langHits(col("text"))).as("lang_pred"))
  }

  /** The matching DuckDB feature CTEs (`q`, `l`) — shared by both
    * curation oracles. */
  private def curationFeatureCtesSql: String = {
    def occ(w: String) =
      s"(length(lower(text)) - length(replace(lower(text), ' $w ', ''))) // ${w.length + 2}"
    def hits(ws: Seq[String]) = ws.map(occ).mkString("(", " + ", ")")
    val en = hits(Seq("the", "and", "of"))
    val fr = hits(Seq("le", "la", "et", "les"))
    val es = hits(Seq("el", "los", "que", "y"))
    val de = hits(Seq("der", "die", "und", "das"))
    s"""q AS (
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) AS n_tokens,
          (len(regexp_split_to_array(trim(text), '\\s+')) >= 5 AND
           length(text)*100 // greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1)
             BETWEEN 200 AND 1200) AS is_quality
        FROM documents
      ), l AS (
        SELECT doc_id,
          CASE WHEN $en >= $fr AND $en >= $es AND $en >= $de THEN 'en'
               WHEN $fr >= $es AND $fr >= $de THEN 'fr'
               WHEN $es >= $de THEN 'es' ELSE 'de' END AS lang_pred
        FROM documents
      )"""
  }

  /** Composed curation capstone — the end-to-end pipeline a training-data
    * user actually runs: quality gate ∧ language-ID agreement ∧ exact-dedup
    * canonical survivors, carrying token counts for budget accounting.
    * Every stage is a pure DataFrame transform, so they compose into ONE
    * Catalyst plan (joins co-partition on doc_id); oracle-checked
    * end-to-end in DuckDB. */
  private val xCurationPipeline = Q(
    (s, dir) => {
      val docs = rd(s, dir, "documents")
      // only the dedup canonical set needs an aggregation + semi join
      val canon = TextOps.exactDedup(docs).select(col("canonical_id").as("doc_id"))
      curationFeatured(docs).join(canon, Seq("doc_id"), "left_semi")
        .filter(col("is_quality") && col("lang_pred") === col("lang"))
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    },
    Some(s"""WITH $curationFeatureCtesSql, canon AS (
        SELECT min(doc_id) AS doc_id FROM documents
        GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
      )
      SELECT d.doc_id, q.n_tokens
      FROM documents d JOIN q USING (doc_id) JOIN l USING (doc_id)
      WHERE d.doc_id IN (SELECT doc_id FROM canon)
        AND q.is_quality AND l.lang_pred = d.lang
      ORDER BY d.doc_id"""))

  /** The one MinHash setting every sketch query runs (3-word shingles,
    * 16 hashes in 4 bands, est. Jaccard ≥ 0.25, shingles in more than 5%
    * of the documents dropped), parameterized ONLY on the hash mode so the
    * md5-portable registry queries and their xxhash64 bench twins are the
    * same code path by construction. */
  private[graft] def minHashPairs(docs: DataFrame, portable: Boolean): DataFrame =
    Dedup.minHashPairs(docs, n = 3, k = 16, bands = 4,
      minEstJaccardX1000 = 250, portable = portable, maxDfPct = Some(5))

  /** [[minHashPairs]]' setting through [[Dedup.neardupClusters]]: every
    * document labeled with its near-dup cluster. */
  private[graft] def neardupClusters(docs: DataFrame, portable: Boolean): DataFrame =
    Dedup.neardupClusters(docs, n = 3, k = 16, bands = 4,
      minEstJaccardX1000 = 250, portable = portable, maxDfPct = Some(5))

  /** The near-dup curation pipeline, parameterized ONLY on the hash mode
    * like [[minHashPairs]]. */
  private def curationNeardupPipeline(s: SparkSession, dir: String,
      portable: Boolean): DataFrame = {
    val docs = rd(s, dir, "documents")
    // canonical survivors = docs MINUS the non-canonical cluster members
    // ("losers": pair-graph nodes whose component label isn't their own
    // id). The loser set is bounded by the pair graph — a tiny fraction
    // of the corpus — so an ANTI join against it replaces the old shape
    // (label EVERY document via neardupClusters' corpus-wide left-outer
    // join, filter label == id, LEFT SEMI back against the full corpus):
    // one small broadcastable side instead of two corpus-sized join
    // inputs. Result set is identical (docs ∖ losers ≡ label == id).
    val losers = Dedup.connectedComponents(minHashPairs(docs, portable))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    curationFeatured(docs).join(losers, Seq("doc_id"), "left_anti")
      .filter(col("is_quality") && col("lang_pred") === col("lang"))
      .select("doc_id", "n_tokens")
      .orderBy("doc_id")
  }

  /** Curation capstone v2 — NEAR-dup aware: quality gate ∧ language-ID
    * agreement ∧ near-dup CLUSTER canonical survivors (the min-doc_id of
    * each connected component of the minhash pair graph, so a≈b≈c chains
    * collapse to one kept document even when the ends never pair
    * directly). This closes the full pairs → clusters → selection loop
    * end-to-end in one oracle-checked query; the DuckDB mirror re-derives
    * the pair set and labels components by recursive reachability — an
    * independent algorithm from the Spark side's star contraction. */
  private val xCurationNeardup = Q(
    (s, dir) => curationNeardupPipeline(s, dir, portable = true),
    Some(s"""WITH RECURSIVE pairs AS ($minHashPairsSelectSql
      ), $ccReachCtesSql, cc AS (
        SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
      ), $curationFeatureCtesSql
      SELECT d.doc_id, q.n_tokens
      FROM documents d JOIN q USING (doc_id) JOIN l USING (doc_id)
        JOIN cc ON cc.doc_id = d.doc_id
      WHERE cc.cluster_id = d.doc_id
        AND q.is_quality AND l.lang_pred = d.lang
      ORDER BY d.doc_id"""))

  /** SimHash in its portable mode (md5-derived word hashes) so the whole
    * computation has a DuckDB oracle; the 64-bit hash is split into its
    * unsigned 32-bit halves (sim_hi, sim_lo). The xxhash64 production mode
    * is property-tested in OpsSpec. */
  private val xSimHash = Q(
    (s, dir) => TextOps.simHash(rd(s, dir, "documents"), portable = true)
      .select(col("doc_id"), shiftrightunsigned(col("simhash"), 32).as("sim_hi"),
        col("simhash").bitwiseAND(0xFFFFFFFFL).as("sim_lo"))
      .orderBy("doc_id"),
    Some {
      def votes(h: String, prefix: String) = (0 until 32).map(b =>
        s"sum(CASE WHEN ($h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS $prefix$b").mkString(",\n        ")
      def fold(prefix: String) = (0 until 32).map(b =>
        s"(CASE WHEN $prefix$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH words AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents
      ), h AS (
        SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h1,
               ('0x' || substr(md5(w), 9, 8))::BIGINT AS h2 FROM words
      ), v AS (
        SELECT doc_id,
        ${votes("h1", "hi")},
        ${votes("h2", "lo")}
        FROM h GROUP BY doc_id
      )
      SELECT doc_id, ${fold("hi")} AS sim_hi, ${fold("lo")} AS sim_lo
      FROM v ORDER BY doc_id"""
    })

  /** The portable-minhash pair SELECT (no final ORDER BY) — shared by the
    * x_minhash_pairs oracle and the x_neardup_clusters oracle, which
    * re-derives the same pair set before its recursive label
    * propagation. */
  private def minHashPairsSelectSql: String = {
      val k = 16; val bands = 4; val r = k / bands
      val mins = (0 until k).map(j =>
        s"min(('0x' || substr(md5('$j:' || sh), 1, 15))::BIGINT) AS mh$j").mkString(",\n          ")
      val bandRows = (0 until bands).map { b =>
        val parts = (b * r until (b + 1) * r).map(j => s"mh$j").mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, substr(md5($parts), 1, 16) AS key FROM sigs"
      }.mkString("\n        UNION ALL ")
      val agree = (0 until k).map(j =>
        s"(CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH words AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws FROM documents
      ), idx AS (
        SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 2, 0) + 1)) AS i FROM words
      ), sh0 AS (
        SELECT DISTINCT doc_id,
          substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 16) AS sh
        FROM idx
      ), hot AS (
        SELECT sh FROM sh0 GROUP BY sh
        HAVING count(*) > greatest((SELECT count(*) FROM documents) * 5 // 100, 2)
      ), shc AS (
        SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)
      ), sigs AS (
        SELECT doc_id,
          $mins
        FROM shc GROUP BY doc_id
      ), banded AS (
        $bandRows
      ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      )
      SELECT doc_a, doc_b, ($agree) * 1000 // $k AS est_jaccard_x1000
      FROM cand JOIN sigs sa ON sa.doc_id = doc_a JOIN sigs sb ON sb.doc_id = doc_b
      WHERE ($agree) * 1000 // $k >= 250"""
  }

  /** The recursive connected-components CTEs (symmetrized edges `e` +
    * reachability closure `reach`) over a CTE named `pairs` — shared by
    * the x_neardup_clusters and x_curation_neardup oracles so the two
    * labelings cannot drift. */
  private def ccReachCtesSql: String =
    """e AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
      ), reach(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.label FROM reach r JOIN e ON e.s = r.node
      )"""

  /** Portable minhash (md5-based permutation hashes + md5 band keys) for
    * the oracle; the xxhash64 production path is exercised in OpsSpec. */
  private val xMinHashPairs = Q(
    (s, dir) => minHashPairs(rd(s, dir, "documents"), portable = true)
      .orderBy("doc_a", "doc_b"),
    Some(s"$minHashPairsSelectSql\n      ORDER BY doc_a, doc_b"))

  /** Near-dup CLUSTERS — connected components over the minhash pair set,
    * every document labeled with the min doc_id of its component
    * (singletons label themselves). This is the step a curation pipeline
    * needs between pairwise candidates and canonical selection: a≈b and
    * b≈c must collapse to one survivor even when a and c never pair
    * directly. Spark side: alternating large-star/small-star contraction
    * ([[Dedup.connectedComponents]] — O(log n) rounds independent of
    * component diameter, per-round checkpoint, (long,long)-only
    * shuffles). Oracle: the SAME pair set re-derived in
    * DuckDB, then a RECURSIVE label-reachability CTE — an independent CC
    * algorithm (reachability closure vs edge contraction). */
  private val xNeardupClusters = Q(
    (s, dir) => neardupClusters(rd(s, dir, "documents"), portable = true).orderBy("doc_id"),
    Some(s"""WITH RECURSIVE pairs AS ($minHashPairsSelectSql
      ), $ccReachCtesSql
      SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
      FROM reach GROUP BY node ORDER BY doc_id"""))

  /** The query embedding of the vector queries: vec_id 0's, read with
    * one driver collect. */
  private def queryVector(emb: DataFrame): Array[Float] =
    emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0).toArray

  private val xEmbeddingTopK = Q(
    (s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val q = queryVector(emb)
      VectorOps.cosineTopK(emb, q, k = 20, excludeId = Some(0L))
    },
    Some("""SELECT e.vec_id, e.label,
      round(list_cosine_similarity(e.embedding, q.embedding), 4) AS cos
      FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0 ORDER BY cos DESC, e.vec_id ASC LIMIT 20"""))

  /** Explicit left-associated dot-product SQL: `v[1]*(c0) + v[2]*(c1) + …`
    * — the exact same IEEE operation sequence as VectorOps.dot's
    * sequential fold, so sign tests (LSH plane side) match bit-for-bit. */
  private def dotSql(vec: String, cs: Array[Double]): String =
    cs.zipWithIndex.map { case (c, i) => s"$vec[${i + 1}]*($c)" }.mkString(" + ")

  /** LSH signature SQL over `nPlanes` deterministic hyperplanes. */
  private def lshSigSql(vec: String, dim: Int, nPlanes: Int): String =
    (0 until nPlanes).map { p =>
      val plane = Array.tabulate(dim)(d => VectorOps.planeComponent(p, d))
      s"(CASE WHEN ${dotSql(vec, plane)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n          + ")

  private val xEmbeddingLsh = Q(
    (s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val q = queryVector(emb)
      VectorOps.lshTopK(emb, dim = 64, q, k = 20, nPlanes = 8, probeBits = 3,
        excludeId = Some(0L))
    },
    Some {
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      sig AS (
        SELECT vec_id, label, embedding,
          ${lshSigSql("embedding", 64, 8)} AS lsh_sig
        FROM embeddings
      ), qsig AS (
        SELECT ${lshSigSql("embedding", 64, 8)} AS s FROM q
      )
      SELECT e.vec_id, e.label,
        round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos
      FROM sig e, q, qsig
      WHERE e.vec_id <> 0 AND bit_count(xor(e.lsh_sig, qsig.s)) <= 3
      ORDER BY cos DESC, e.vec_id ASC LIMIT 20"""
    })

  private val xEmbeddingNearDup = Q(
    (s, dir) => Dedup.embeddingNearDups(rd(s, dir, "embeddings"), dim = 64,
      thresholdX10000 = 3500, nPlanes = 6).orderBy("vec_a", "vec_b"),
    Some {
      s"""WITH sig AS (
        SELECT vec_id, embedding, ${lshSigSql("embedding", 64, 6)} AS lsh_sig
        FROM embeddings
      )
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        CAST(round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 10000)
          AS BIGINT) AS cos_x10000
      FROM sig a JOIN sig b ON a.lsh_sig = b.lsh_sig AND a.vec_id < b.vec_id
      WHERE CAST(round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 10000)
          AS BIGINT) >= 3500
      ORDER BY vec_a, vec_b"""
    })

  private val xEmbeddingIvf = Q(
    (s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val q = queryVector(emb)
      VectorOps.ivfTopK(emb, dim = 64, q, k = 20, nCells = 16, nProbe = 6,
        excludeId = Some(0L))
    },
    Some {
      val cents = VectorOps.deterministicCentroids(16, 64)
      val cellRows = cents.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.map(_.toDouble.toString).mkString(",")}]::DOUBLE[])"
      }.mkString(",\n        ")
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      cells(cell, cvec) AS (VALUES
        $cellRows
      ),
      probe AS (
        SELECT c.cell FROM cells c, q
        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec) DESC, c.cell ASC
        LIMIT 6
      ),
      assigned AS (
        SELECT e.vec_id, e.label, e.embedding,
          (SELECT c.cell FROM cells c
           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC, c.cell DESC
           LIMIT 1) AS cell
        FROM embeddings e
      )
      SELECT a.vec_id, a.label,
        round(list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos
      FROM assigned a, q
      WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id <> 0
      ORDER BY cos DESC, a.vec_id ASC LIMIT 20"""
    })

  private val searchQueryText = "spark merge hash table scan"

  /** Flagship end-to-end search: hashing-trick embed of the query string →
    * cosine vs hashed doc features → min_score → top-k → page-meta join
    * (the reference's `?q=` pipeline shape, main.py:501-591). All-integer
    * dot/norms make the score bit-portable to DuckDB. */
  private val xSearchEndToEnd = Q(
    (s, dir) => VectorOps.searchTopK(rd(s, dir, "documents"), searchQueryText,
      dim = 64, k = 25, minScoreX10000 = 500),
    Some {
      val dim = 64
      val qw = VectorOps.featurizeLocal(searchQueryText, dim)
      val qn2 = qw.values.map(v => v * v).sum
      val qwRows = qw.toSeq.sortBy(_._1)
        .map { case (b, w) => s"($b, $w)" }.mkString(", ")
      s"""WITH words AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents
      ), h AS (
        SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM words
      ), f AS (
        SELECT doc_id, h % $dim AS bucket,
          CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END AS s FROM h
      ), feats AS (
        SELECT doc_id, bucket, sum(s) AS wgt FROM f GROUP BY 1, 2
        HAVING sum(s) <> 0
      ), qw(bucket, w) AS (VALUES $qwRows),
      scored AS (
        SELECT f.doc_id,
          CAST(round(sum(f.wgt * coalesce(q.w, 0))
            / (sqrt(sum(f.wgt * f.wgt)) * sqrt($qn2)) * 10000) AS BIGINT) AS score_x10000
        FROM feats f LEFT JOIN qw q ON f.bucket = q.bucket
        GROUP BY f.doc_id
      ), topk AS (
        SELECT * FROM scored WHERE score_x10000 >= 500
        ORDER BY score_x10000 DESC, doc_id ASC LIMIT 25
      )
      SELECT t.doc_id, d.lang, d.source, d.n_chars, t.score_x10000
      FROM topk t JOIN documents d ON d.doc_id = t.doc_id
      ORDER BY t.score_x10000 DESC, t.doc_id"""
    })

  /** P11: url_filter — restrict lookup to one page (indexer.py:193). */
  private val p11SinglePage = Q(
    (s, dir) => rd(s, dir, "documents")
      .filter(col("doc_id") === 42)
      .select(col("doc_id"), col("lang"), col("source"),
        TextOps.wordCount(col("text")).cast("long").as("n_words")),
    Some("""SELECT doc_id, lang, source,
      CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words
      FROM documents WHERE doc_id = 42"""))

  /** REAL decode round-trip gate: the generator encodes actual PNG/WAV/
    * MJPNG bytes with parameters that are exact functions of doc_id; the
    * oracle predicts what the JDK decoders must recover from those bytes
    * (dimensions, sample rate, frame counts). n_bytes is real encoder
    * output and thus not SQL-predictable — asserted >0 in OpsSpec. */
  private val xMultimodal = Q(
    // repartition: the sf parquet is one split, but codec work is
    // per-row CPU — spread it across the executor threads
    (s, dir) => Multimodal.decode(Multimodal.synthesize(
        rd(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)))
      .toDF()
      .select("doc_id", "kind", "width", "height", "sample_rate", "n_frames")
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
      CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 8*(1 + doc_id % 16)
                WHEN doc_id % 3 = 2 THEN 16 ELSE 0 END AS INT) AS width,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 5*(1 + doc_id % 16)
                WHEN doc_id % 3 = 2 THEN 9 ELSE 0 END AS INT) AS height,
      CAST(CASE WHEN doc_id % 3 = 1 THEN 16000
                WHEN doc_id % 6 = 5 THEN 12 ELSE 0 END AS INT) AS sample_rate,
      CAST(CASE WHEN doc_id % 3 = 1 THEN 160*(1 + doc_id % 20)
                WHEN doc_id % 3 = 2 THEN 1 + doc_id % 10 ELSE 0 END AS INT) AS n_frames
      FROM documents ORDER BY doc_id"""))

  // ======================================================================
  // extraction queries (not SQL-expressible → rows-only driver check;
  // the real gate is the golden-fixture ScalaTest suite)
  // ======================================================================

  private val eExtractTurns = Q(
    (s, dir) => ExtractJob.withTurnPos(
        ExtractJob.extract(Transcripts.generate(s, nConvs = 300)))
      .toDF()
      .select("conv_id", "turn_idx", "turn_pos", "title", "language", "summary",
        "n_chunks", "bytes_in", "bytes_out")
      .orderBy("conv_id", "turn_idx"),
    None)

  private val eExtractChunks = Q(
    (s, dir) => ExtractJob.extract(Transcripts.generate(s, nConvs = 300))
      .toDF()
      .select(col("conv_id"), col("turn_idx"), explode(col("chunks")).as("c"))
      .select(col("conv_id"), col("turn_idx"), col("c.id").as("chunk_id"),
        col("c.chunk_index"), col("c.chunk_type"), col("c.text"))
      .orderBy("conv_id", "turn_idx", "chunk_index"),
    None)

  /** One `Turn` per document (conv_id = doc_id, turn 0, no tool, the
    * transcript epoch) whose payload is `text`, a column named "text". */
  private def docTurns(s: SparkSession, dir: String, role: String,
      text: Column): Dataset[graft.model.Turn] = {
    import s.implicits._
    rd(s, dir, "documents")
      .select(col("doc_id").cast("string").as("conv_id"), lit(0).as("turn_idx"),
        lit(role).as("role"), text, lit("").as("tool"),
        lit(new java.sql.Timestamp(Transcripts.EpochStart * 1000L)).as("ts"))
      .as[graft.model.Turn]
  }

  /** The flagship extraction pipeline, ORACLE-CHECKED: over plain-text
    * payloads (the documents table: no markup, < 1500 chars) the pipeline's
    * output is exactly predictable in SQL — lxml wraps bare text in one
    * `<p>`, so each doc yields one paragraph chunk whose text is the
    * whitespace-collapsed input, and the summary is its 500-char prefix.
    * This gives the extraction operator a hard DuckDB gate instead of a
    * rows-only check. */
  private val eExtractDocsOracle = Q(
    (s, dir) => ExtractJob.extract(docTurns(s, dir, "user", col("text"))).toDF()
      .select(col("conv_id").cast("long").as("doc_id"), col("n_chunks"),
        element_at(col("chunks"), 1).getField("text").as("chunk_text"),
        element_at(col("chunks"), 1).getField("chunk_type").as("chunk_type"),
        col("summary"), col("language"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, 1 AS n_chunks,
      regexp_replace(trim(text), '\s+', ' ', 'g') AS chunk_text,
      'paragraph' AS chunk_type,
      substr(regexp_replace(trim(text), '\s+', ' ', 'g'), 1, 500) AS summary,
      'en' AS language
      FROM documents ORDER BY doc_id"""))

  /** Markup-path extraction oracle: a generated HTML page per document
    * whose extraction output is exactly predictable in SQL. Exercises (and
    * gates, via DuckDB) the parts the plain-text oracle can't reach:
    * E2 strip-tags (`<nav>` removed), E3 noise-class removal
    * (`class="sidebar"` paragraph removed), E4 main-root selection
    * (`<article>`), E6 block typing + in-page dedup (the duplicated
    * paragraph emits once), code whitespace preservation, E10 h1-wins
    * title, E11 `<html lang>` language, E9 paragraph summary. */
  private val eExtractHtmlOracle = Q(
    (s, dir) => {
      import s.implicits._
      val html = concat(
        lit("<html lang=\"fr-CA\"><head><title>Ignored</title></head><body>" +
          "<nav><p>Home About Contact Products Blog Archive</p></nav>" +
          "<article><h1>Heading "),
        col("doc_id"),
        lit(" for the oracle</h1>" +
          "<p class=\"sidebar\">Sponsored related links everywhere today</p><p>"),
        col("text"), lit("</p><p>"), col("text"),
        lit("</p><pre>\ndef f_"), col("doc_id"),
        lit("(x):\n    return x + "), col("doc_id"),
        lit("</pre></article></body></html>"))
      ExtractJob.extract(docTurns(s, dir, "assistant", html.as("text"))).toDF()
        .select(col("conv_id").cast("long").as("doc_id"), col("title"),
          col("language"), col("n_chunks"),
          element_at(col("chunks"), 1).getField("text").as("c1_text"),
          element_at(col("chunks"), 1).getField("chunk_type").as("c1_type"),
          element_at(col("chunks"), 2).getField("text").as("c2_text"),
          element_at(col("chunks"), 2).getField("chunk_type").as("c2_type"),
          element_at(col("chunks"), 3).getField("text").as("c3_text"),
          element_at(col("chunks"), 3).getField("chunk_type").as("c3_type"),
          col("summary"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      'Heading ' || doc_id || ' for the oracle' AS title,
      'fr-CA' AS language,
      3 AS n_chunks,
      'Heading ' || doc_id || ' for the oracle' AS c1_text, 'heading' AS c1_type,
      regexp_replace(trim(text), '\s+', ' ', 'g') AS c2_text, 'paragraph' AS c2_type,
      'def f_' || doc_id || '(x):' || chr(10) || '    return x + ' || doc_id AS c3_text,
      'code' AS c3_type,
      substr(regexp_replace(trim(text), '\s+', ' ', 'g'), 1, 500) AS summary
      FROM documents ORDER BY doc_id"""))

  private val vValidate = Q(
    (s, dir) => {
      val turns = Transcripts.generate(s, nConvs = 200)
      Validator.report(ExtractJob.extract(turns), turns)
        .orderBy("conv_id", "turn_idx")
    },
    None)

  private val eAdapterChunks = Q(
    (s, dir) => {
      val spark = s
      import spark.implicits._
      Transcripts.generate(s, nConvs = 200)
        .flatMap { t =>
          graft.extract.AdapterChunker.chunkContent(t.text, s"${t.conv_id}#${t.turn_idx}")
            .map(c => (t.conv_id, t.turn_idx, c.id, c.chunkType,
              graft.extract.AdapterChunker.countWords(c.text)))
        }
        .toDF("conv_id", "turn_idx", "chunk_id", "chunk_type", "n_words")
        .orderBy("conv_id", "turn_idx", "chunk_id")
    },
    None)

  /** Adapter 500-word chunker over plain-text documents — every stage
    * (clean, paragraph pack, md5 id scheme, type detection, summarise) is
    * exactly predictable in SQL for single-paragraph inputs, giving the
    * C1-C7 chunker a DuckDB gate alongside the rows-only fixture run. */
  private val eAdapterDocsOracle = Q(
    (s, dir) => {
      val spark = s
      import spark.implicits._
      rd(s, dir, "documents").select("doc_id", "text")
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val chunks = graft.extract.AdapterChunker.chunkContent(text, s"$id#0")
          chunks.map(c => (id, c.id, c.chunkType, c.text,
            graft.extract.AdapterChunker.summarise(text)))
        }
        .toDF("doc_id", "chunk_id", "chunk_type", "text", "summary")
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH c AS (
        SELECT doc_id, trim(regexp_replace(text, '[ \t]+', ' ', 'g')) AS cleaned
        FROM documents
      ), w AS (
        SELECT doc_id, cleaned,
          regexp_split_to_array(cleaned, '\s+') AS ws
        FROM c
      )
      SELECT doc_id,
        md5(doc_id || '#0') || '_0' AS chunk_id,
        CASE WHEN len(ws) < 15 THEN 'heading' ELSE 'paragraph' END AS chunk_type,
        cleaned AS text,
        CASE WHEN len(ws) <= 40 THEN cleaned
             ELSE array_to_string(ws[1:40], ' ') || '...' END AS summary
      FROM w ORDER BY doc_id, chunk_id"""))

  /** The Drupal adapter pipeline (the SEVENTH chunker behavior —
    * `/root/reference/adapters/drupal/src/Service/ChunkerService.php`)
    * over synthetic multi-paragraph nodes: 4 documents = 1 node,
    * `\n\n`-joined in doc_id order, then clean → the distinctive
    * 500-character SUM-of-`mb_strlen` packing (joiners uncounted) →
    * md5(url) ids → list-before-heading typing → `trimWords(…, 40)`
    * summary (ContentController.php:186). The DuckDB oracle replays the
    * greedy packer EXACTLY with a recursive CTE over per-node paragraph
    * indexes, so the char-sum flush rule is oracle-checked rather than
    * golden-pinned. Shape: one hash shuffle on node_id; each group is
    * O(paragraphs-per-node) = 4 — nodes are the parallel unit, so the
    * plan is flat at any corpus size. */
  private val xAdapterDrupal = Q(
    (s, dir) => {
      val spark = s
      import spark.implicits._
      import graft.extract.AdapterChunker
      rd(s, dir, "documents")
        .select((col("doc_id") / lit(4)).cast("long").as("node_id"),
          col("doc_id"), col("text"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .flatMapGroups { (nodeId: Long, rows: Iterator[(Long, Long, String)]) =>
          val body = rows.toVector.sortBy(_._2).map(_._3).mkString("\n\n")
          val url = s"https://drupal.example/node/$nodeId"
          val cleaned = AdapterChunker.cleanDrupal(body)
          val summary = AdapterChunker.trimWordsDrupal(cleaned, 40)
          AdapterChunker.chunkContent(body, url, AdapterChunker.Variant.Drupal)
            .zipWithIndex.map { case (c, i) =>
              (nodeId, c.id, i.toLong, c.chunkType,
                c.text.codePointCount(0, c.text.length).toLong, c.text, summary)
            }
        }
        .toDF("node_id", "chunk_id", "chunk_idx", "chunk_type", "n_chars",
          "text", "summary")
        .orderBy("node_id", "chunk_idx")
    },
    Some("""WITH RECURSIVE paras AS (
        SELECT doc_id // 4 AS node_id, doc_id,
          trim(regexp_replace(text, '[ \t]+', ' ', 'g')) AS para
        FROM documents
      ), ordered AS (
        SELECT node_id, doc_id, para, length(para) AS plen,
          row_number() OVER (PARTITION BY node_id ORDER BY doc_id) AS idx
        FROM paras WHERE para <> '' AND para <> '0'
      ), walk AS (
        SELECT node_id, idx, para AS cur_text, plen AS cur_len, 0 AS chunk_idx
        FROM ordered WHERE idx = 1
        UNION ALL
        SELECT o.node_id, o.idx,
          CASE WHEN w.cur_len + o.plen > 500 THEN o.para
               ELSE w.cur_text || chr(10) || chr(10) || o.para END,
          CASE WHEN w.cur_len + o.plen > 500 THEN o.plen
               ELSE w.cur_len + o.plen END,
          CASE WHEN w.cur_len + o.plen > 500 THEN w.chunk_idx + 1
               ELSE w.chunk_idx END
        FROM walk w JOIN ordered o
          ON o.node_id = w.node_id AND o.idx = w.idx + 1
      ), chunks AS (
        SELECT node_id, chunk_idx, max_by(cur_text, idx) AS text
        FROM walk GROUP BY node_id, chunk_idx
      ), summ AS (
        SELECT node_id,
          regexp_split_to_array(string_agg(para, ' ' ORDER BY doc_id), ' +') AS ws
        FROM paras WHERE para <> ''
        GROUP BY node_id
      )
      SELECT c.node_id,
        md5('https://drupal.example/node/' || c.node_id)
          || '_' || c.chunk_idx AS chunk_id,
        CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
        CASE WHEN strpos(c.text, chr(10)) = 0
               AND len(regexp_split_to_array(c.text, ' +')) < 15
             THEN 'heading' ELSE 'paragraph' END AS chunk_type,
        length(c.text) AS n_chars,
        c.text,
        CASE WHEN len(s.ws) > 40
             THEN array_to_string(s.ws[1:40], ' ') || '...'
             ELSE array_to_string(s.ws, ' ') END AS summary
      FROM chunks c JOIN summ s ON s.node_id = c.node_id
      ORDER BY c.node_id, c.chunk_idx"""))

  // ---- Adapter search variants -----------------------------------------
  // The nine ports hold FOUR search behaviors (found the same way as the
  // chunker matrix — reading all nine side by side):
  //  1. express/astro/nextjs/vite/fastapi: UNSCORED substring filter on
  //     title+content applied AFTER the page fetch — search narrows the
  //     requested page only, and total_pages stays the UNFILTERED total
  //     (content.js:305-332, content.ts:140-151, router.py:274-283).
  //  2. Drupal: scored 0.6 title-contains + 0.3 exact-title + 0.4
  //     body-contains, capped at 1.0, over the union of two PRE-LIMITED
  //     entity queries (title hits first), stable-sorted by relevance
  //     (ContentController.php:320-404).
  //  3. Joomla: SQL CASE relevance — title LIKE 1.0 + introtext LIKE 0.5,
  //     UNCAPPED (both-match rows score 1.5) — ordered relevance DESC,
  //     created DESC, paged by ITEMS_PER_PAGE=20 while the handler's
  //     $limit argument is DEAD (ContentController.php:222-296).
  //  4. WordPress/Woo: WP_Query native 's' search (title OR excerpt OR
  //     content LIKE per term), date-DESC order, excerpt-or-wp_trim_words
  //     summaries (class-content-api.php:455-520).

  /** Deterministic searchable corpus shared by the search-variant
    * queries — title/excerpt derived from documents IDENTICALLY in Spark
    * and the DuckDB oracles (no external data). Titles are PLANTED, not
    * text prefixes, so title-match and body-match are independent and
    * every scoring tier materializes: doc_id % 97 → exact-title "merge"
    * (Drupal's +0.3 bonus and the 1.0 cap), doc_id % 13 → a
    * title-contains row (0.6/1.0 Drupal tiers; 1.0/1.5 Joomla tiers vs
    * 0.5 body-only), everything else title-miss. doc_id % 3 selects
    * excerpt-present rows so WP's excerpt-vs-wp_trim_words fallback is
    * exercised both ways. */
  private def searchCorpus(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "documents").select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(97)) === 0, lit("merge"))
        .when(pmod(col("doc_id"), lit(13)) === 0,
          concat(lit("Doc "), col("doc_id"), lit(" merge notes")))
        .otherwise(concat(lit("Doc "), col("doc_id"))).as("title"),
      when(pmod(col("doc_id"), lit(3)) === 0, substring(col("text"), 25, 48))
        .otherwise(lit("")).as("excerpt"),
      col("text").as("content"),
      col("source"))

  /** The one-row `total_pages` of a paged listing: at least 1, rounded
    * up over `perPage` items. */
  private def totalPages(rows: DataFrame, perPage: Double): DataFrame =
    rows.agg(count(lit(1)).as("n"))
      .select(greatest(lit(1L), ceil(col("n") / lit(perPage)).cast("long"))
        .as("total_pages"))

  /** The express 40-word [[graft.extract.AdapterChunker.summarise]].
    * Lazy: building a UDF reflects on its types, over a second on a cold
    * JVM, which only the two queries that use it should pay. */
  private lazy val summariseUdf = udf((c: String) => graft.extract.AdapterChunker.summarise(c))

  private val searchCorpusSql =
    """corpus AS (
        SELECT doc_id,
          CASE WHEN doc_id % 97 = 0 THEN 'merge'
               WHEN doc_id % 13 = 0 THEN 'Doc ' || doc_id || ' merge notes'
               ELSE 'Doc ' || doc_id END AS title,
          CASE WHEN doc_id % 3 = 0 THEN substr(text, 25, 48) ELSE '' END AS excerpt,
          text AS content, source
        FROM documents
      )"""

  /** Behavior 1 — the express-family search call-site quirk: the filter
    * runs on the PAGE SLICE (after pagination AND the excluded-path
    * filter), so a search can return fewer than `limit` items while
    * `total_pages` still reflects the unfiltered corpus. Page order is
    * the host index's newest-first (doc_id DESC recency proxy); summary
    * is the express 40-word `summarise`. Sub-delta inside the family:
    * express/TS sanitize ?q= as slice(200) + tag strip + trim
    * (content.js:144, content.ts:80) while FastAPI caps at 200 ONLY
    * (router.py:197 — `<b>x` searches literally there); the modeled q
    * is sanitize-neutral, so the filter semantics here hold for all
    * five ports. Plan: TakeOrderedAndProject for the page slice + a
    * broadcast 1-row total — no global window. */
  private val xSearchExpressFamily = Q(
    (s, dir) => {
      val q = sanitizedSearchTerm
      val corpus = searchCorpus(s, dir)
      val total = totalPages(corpus, 25.0)
      corpus
        .orderBy(col("doc_id").desc).offset(25).limit(25) // page=2, limit=25
        .filter(!col("source").startsWith("src1"))        // excludePaths
        .filter(lower(col("title")).contains(q) || lower(col("content")).contains(q))
        .select(col("doc_id"), col("title"),
          summariseUdf(col("content")).as("summary"))
        .crossJoin(broadcast(total))
        .orderBy("doc_id")
    },
    Some(s"""WITH $searchCorpusSql,
      pg AS (SELECT * FROM corpus ORDER BY doc_id DESC LIMIT 25 OFFSET 25),
      filt AS (
        SELECT doc_id, title, content FROM pg
        WHERE source NOT LIKE 'src1%'
          AND (contains(lower(title), 'merge') OR contains(lower(content), 'merge'))
      ),
      tot AS (
        SELECT greatest(1, CAST(ceil(count(*) / 25.0) AS BIGINT)) AS total_pages
        FROM corpus
      ),
      wsx AS (
        SELECT doc_id, title,
          trim(regexp_replace(content, '[ \t]+', ' ', 'g')) AS cleaned
        FROM filt
      )
      SELECT doc_id, title,
        CASE WHEN len(regexp_split_to_array(cleaned, '\\s+')) <= 40 THEN cleaned
             ELSE array_to_string(regexp_split_to_array(cleaned, '\\s+')[1:40], ' ')
               || '...' END AS summary,
        (SELECT total_pages FROM tot) AS total_pages
      FROM wsx ORDER BY doc_id"""))

  /** Behavior 2 — Drupal's scored search (ContentController.php:320-404):
    * two PRE-LIMITED entity queries (title-contains, body-contains, 10
    * rows each in nid order — the clamped default limit), merged with
    * title hits first and deduped keeping first position
    * (array_unique), sliced to 10, scored 0.6/+0.3-exact/+0.4-body with
    * `min(…, 1.0)` and `round(…, 2)`, then stable-sorted by relevance
    * DESC (PHP ≥ 8.0 usort is stable, and Drupal requires PHP 8.1, so
    * ties keep merge order). Body text and the 30-word summary go
    * through plain `strip_tags`, NOT the chunker clean (:357,361).
    * One asymmetry in the reference (documented): the BRANCH filter is
    * the entity query's CONTAINS over the RAW body.value (:338 — HTML
    * included), while the SCORE re-checks str_contains on the STRIPPED
    * body (:368-377) — a term appearing only inside markup selects a
    * row that then scores body=0. This model applies the stripped text
    * to both (identical on tag-free corpora like this one).
    * Plans as two TopK branches + a ≤20-row union — the windows below
    * run on post-limit micro-sets, never on the corpus. */
  private val xSearchDrupalScored = Q(
    (s, dir) => {
      val q = "merge"
      val corpus = searchCorpus(s, dir) // two cheap pushdown scans; no cache to own
      val stripUdf = udf((c: String) => graft.extract.AdapterChunker.phpStripTags(c))
      def branch(pred: Column, rank: Int) = corpus.filter(pred)
        .orderBy("doc_id").limit(10)
        .withColumn("branch", lit(rank))
        .withColumn("r", row_number().over(
          Window.partitionBy("branch").orderBy("doc_id")))
      val title10 = branch(lower(col("title")).contains(q), 0)
      val body10 = branch(lower(stripUdf(col("content"))).contains(q), 1)
      val trimUdf = udf((c: String) =>
        graft.extract.AdapterChunker.trimWordsDrupal(
          graft.extract.AdapterChunker.phpStripTags(c), 30))
      val out = title10.unionByName(body10)
        .groupBy(col("doc_id"), col("title"), col("content"))
        .agg(min(struct(col("branch"), col("r"))).as("mo")) // array_unique: first pos
        .orderBy(col("mo")).limit(10)                        // array_slice(…, 0, 10)
        .select(col("doc_id"), col("title"), col("content"), col("mo"),
          round(least(
            when(lower(col("title")).contains(q), lit(0.6)).otherwise(lit(0.0)) +
            when(lower(col("title")) === q, lit(0.3)).otherwise(lit(0.0)) +
            when(lower(stripUdf(col("content"))).contains(q), lit(0.4))
              .otherwise(lit(0.0)),
            lit(1.0)), 2).as("relevance"))
        .select(col("doc_id"), col("title"), col("relevance"),
          trimUdf(col("content")).as("summary"), col("mo"))
        .orderBy(col("relevance").desc, col("mo")) // stable usort: ties in merge order
        .drop("mo")
      out
    },
    Some(s"""WITH $searchCorpusSql,
      tb AS (
        SELECT doc_id, title, content, 0 AS branch,
          row_number() OVER (ORDER BY doc_id) AS r
        FROM (SELECT * FROM corpus
              WHERE contains(lower(title), 'merge')
              ORDER BY doc_id LIMIT 10)
      ),
      bb AS (
        SELECT doc_id, title, content, 1 AS branch,
          row_number() OVER (ORDER BY doc_id) AS r
        FROM (SELECT * FROM corpus
              WHERE contains(lower(content), 'merge')
              ORDER BY doc_id LIMIT 10)
      ),
      merged AS (
        SELECT doc_id, title, content, min(branch * 100 + r) AS mo
        FROM (SELECT * FROM tb UNION ALL SELECT * FROM bb)
        GROUP BY doc_id, title, content
        ORDER BY mo LIMIT 10
      ),
      scored AS (
        SELECT doc_id, title, content, mo,
          round(least(
            (CASE WHEN contains(lower(title), 'merge') THEN 0.6 ELSE 0.0 END) +
            (CASE WHEN lower(title) = 'merge' THEN 0.3 ELSE 0.0 END) +
            (CASE WHEN contains(lower(content), 'merge') THEN 0.4 ELSE 0.0 END),
            1.0), 2) AS relevance
        FROM merged
      ),
      ws2 AS (
        SELECT doc_id, title, relevance, mo,
          regexp_split_to_array(trim(regexp_replace(content, '[ \t]+', ' ', 'g')),
            '\\s+') AS ws
        FROM scored
      )
      SELECT doc_id, title, relevance,
        CASE WHEN len(ws) > 30 THEN array_to_string(ws[1:30], ' ') || '...'
             ELSE array_to_string(ws, ' ') END AS summary
      FROM ws2 ORDER BY relevance DESC, mo"""))

  /** Behavior 3 — Joomla's SQL-side scorer (ContentController.php:222-296):
    * relevance = CASE title LIKE THEN 1.0 + CASE introtext LIKE THEN 0.5
    * — UNCAPPED, both-match rows score 1.5 (vs Drupal's min(…,1.0)) —
    * over state=1 rows matching either, ordered relevance DESC then
    * created DESC (doc_id recency proxy), paged LIMIT 20 OFFSET
    * (page-1)*20 with the handler's `$limit` argument DEAD
    * (ITEMS_PER_PAGE=20 everywhere, :23,242), total_pages from the
    * match count. LIKE is modeled case-insensitive (MySQL default
    * collation; documented). Summary = [[AdapterChunker.summariseJoomla]]
    * (strip_tags + ENT_QUOTES HTML-4.01 decode + 40-word cap). Plans as
    * filter → TakeOrderedAndProject, no window. */
  private val xSearchJoomlaSql = Q(
    (s, dir) => {
      val q = "merge"
      val corpus = searchCorpus(s, dir)
      val titleHit = lower(col("title")).contains(q)
      val bodyHit = lower(col("content")).contains(q)
      val matches = corpus.filter(titleHit || bodyHit)
      val total = totalPages(matches, 20.0)
      val joomlaSumUdf =
        udf((c: String) => graft.extract.AdapterChunker.summariseJoomla(c))
      matches
        .select(col("doc_id"), col("title"),
          (when(titleHit, lit(1.0)).otherwise(lit(0.0)) +
           when(bodyHit, lit(0.5)).otherwise(lit(0.0))).as("relevance"),
          joomlaSumUdf(col("content")).as("summary"))
        .orderBy(col("relevance").desc, col("doc_id").desc)
        .offset(20).limit(20) // page=2; the $limit arg is DEAD in :242-265
        .crossJoin(broadcast(total))
        .orderBy(col("relevance").desc, col("doc_id").desc)
    },
    Some(s"""WITH $searchCorpusSql,
      m AS (
        SELECT doc_id, title, content,
          (CASE WHEN contains(lower(title), 'merge') THEN 1.0 ELSE 0.0 END) +
          (CASE WHEN contains(lower(content), 'merge') THEN 0.5 ELSE 0.0 END)
            AS relevance
        FROM corpus
        WHERE contains(lower(title), 'merge') OR contains(lower(content), 'merge')
      ),
      tot AS (
        SELECT greatest(1, CAST(ceil(count(*) / 20.0) AS BIGINT)) AS total_pages
        FROM m
      ),
      pg AS (
        SELECT doc_id, title, relevance, content FROM m
        ORDER BY relevance DESC, doc_id DESC LIMIT 20 OFFSET 20
      ),
      ws3 AS (
        SELECT doc_id, title, relevance,
          trim(regexp_replace(content, '\\s+', ' ', 'g')) AS cleaned
        FROM pg
      )
      SELECT doc_id, title, relevance,
        CASE WHEN len(string_split(cleaned, ' ')) > 40
             THEN array_to_string(string_split(cleaned, ' ')[1:40], ' ') || '...'
             ELSE cleaned END AS summary,
        (SELECT total_pages FROM tot) AS total_pages
      FROM ws3 ORDER BY relevance DESC, doc_id DESC"""))

  /** Behavior 4 — the WP content API's native search
    * (class-content-api.php:455-520): `s` feeds WP_Query, which for a
    * SINGLE term builds exactly `(title LIKE %q% OR excerpt LIKE %q% OR
    * content LIKE %q%)` (wp-includes/class-wp-query.php parse_search —
    * the one-term case is modeled exactly; multi-term AND-composition
    * is a documented delta), ordered date DESC (doc_id proxy), 20 per
    * page (POSTS_PER_PAGE). The excluded-path skip runs INSIDE the
    * result loop (:501-503), so exclusions DEFLATE the returned page
    * while `max_num_pages` stays pre-exclusion — the same
    * narrow-the-page quirk as the express family, from a different
    * mechanism. Summary = the post excerpt unless empty, else
    * `wp_trim_words(wp_strip_all_tags(content), 30, '...')`
    * ([[AdapterChunker.wpTrimWords]]). */
  private val xSearchWpNative = Q(
    (s, dir) => {
      val q = "merge"
      val corpus = searchCorpus(s, dir)
      val hit = lower(col("title")).contains(q) ||
        lower(col("excerpt")).contains(q) || lower(col("content")).contains(q)
      val matches = corpus.filter(hit)
      val total = totalPages(matches, 20.0)
      val wpTrimUdf = udf((c: String) =>
        graft.extract.AdapterChunker.wpTrimWords(c, 30, "..."))
      matches
        .orderBy(col("doc_id").desc).limit(20) // paged=1, POSTS_PER_PAGE=20
        .filter(!col("source").startsWith("src1")) // in-loop exclusion deflates
        .select(col("doc_id"), col("title"),
          when(col("excerpt") =!= "", col("excerpt"))
            .otherwise(wpTrimUdf(col("content"))).as("summary"))
        .crossJoin(broadcast(total))
        .orderBy(col("doc_id").desc)
    },
    Some(s"""WITH $searchCorpusSql,
      m AS (
        SELECT * FROM corpus
        WHERE contains(lower(title), 'merge')
           OR contains(lower(excerpt), 'merge')
           OR contains(lower(content), 'merge')
      ),
      tot AS (
        SELECT greatest(1, CAST(ceil(count(*) / 20.0) AS BIGINT)) AS total_pages
        FROM m
      ),
      pg AS (SELECT * FROM m ORDER BY doc_id DESC LIMIT 20),
      kept AS (SELECT * FROM pg WHERE source NOT LIKE 'src1%'),
      ws4 AS (
        SELECT doc_id, title, excerpt,
          regexp_split_to_array(trim(content), '[\\n\\r\\t ]+') AS ws
        FROM kept
      )
      SELECT doc_id, title,
        CASE WHEN excerpt <> '' THEN excerpt
             WHEN len(ws) > 30 THEN array_to_string(ws[1:30], ' ') || '...'
             ELSE array_to_string(ws, ' ') END AS summary,
        (SELECT total_pages FROM tot) AS total_pages
      FROM ws4 ORDER BY doc_id DESC"""))

  /** Express differential sync (content.js:148-239) — the same port
    * sweep finds THREE sync behaviors (sidecar = x_sync_envelope; WP
    * below): the express one puts EVERY in-window item in `updated` —
    * "can't distinguish added vs updated for static files" — with
    * `added: []`, `counts.added: 0` and `deleted_tracking: false`
    * constants, over a BOTH-INCLUSIVE [since, until] window on
    * `published` (`t < sinceMs` / `t > untilMs` exclusions,
    * :189-196), after the excluded-path filter. The reference fetches
    * `getItems(1, 10000)` (:177) — sites beyond 10k items silently
    * truncate their sync; this model reads everything (documented
    * delta — the cap is the reference's scale ceiling, not a
    * semantic). Synthesis mirrors the x_sync_envelope events-as-pages
    * idiom; the '/error' prefix stands in for config.excludePaths. */
  private val xSyncExpressStatic = Q(
    (s, dir) => {
      val pages = rd(s, dir, "events").select(
        concat(lit("/"), col("event_type"), lit("/"), col("event_id")).as("url"),
        col("ts").as("published"))
      val updatedRows = pages
        .filter(!col("url").startsWith("/error")) // isExcludedPath
        .filter(col("published") >= syncSince && col("published") <= syncUntil)
      val counts = updatedRows.agg(count(lit(1)).as("n"))
        .select(lit(0L).as("n_added"), col("n").as("n_updated"),
          lit(0L).as("n_deleted"), lit(false).as("deleted_tracking"))
      updatedRows
        .select(col("url"),
          iso(col("published")).as("published"),
          lit("updated").as("bucket")) // NEVER "added": the static-file quirk
        .crossJoin(broadcast(counts))
        .orderBy("url")
    },
    Some("""WITH pages AS (
        SELECT '/' || event_type || '/' || event_id AS url, ts AS published
        FROM events
      ), w AS (
        SELECT url, published FROM pages
        WHERE url NOT LIKE '/error%'
          AND published >= TIMESTAMP '2024-01-10 00:00:00'
          AND published <= TIMESTAMP '2024-01-20 00:00:00'
      ), c AS (SELECT count(*) AS n FROM w)
      SELECT url, strftime(published, '%Y-%m-%dT%H:%M:%S') AS published,
        'updated' AS bucket,
        CAST(0 AS BIGINT) AS n_added, (SELECT n FROM c) AS n_updated,
        CAST(0 AS BIGINT) AS n_deleted, false AS deleted_tracking
      FROM w ORDER BY url"""))

  /** WordPress differential sync (class-content-api.php:152-240) — the
    * third sync behavior: the date_query window is AFTER-EXCLUSIVE /
    * BEFORE-INCLUSIVE — `(since, until]` on post_modified_gmt ('after'
    * defaults to exclusive, 'before' passes inclusive=true, :179-190)
    * — unlike the express/sidecar `>= since`; the added/updated split
    * compares post_date (creation) to since with `>=` (:231-236, all
    * added when no since); the excluded-path skip runs INSIDE the
    * result loop; posts_per_page is -1 (no pagination — the whole
    * window in one body). ?q= takes priority over since/until at
    * dispatch (:91-93), the same quirk x_sync_validation pins for the
    * sidecar; `?until= == ?since=` is ALLOWED (the guard is strictly
    * `until < since`, :170) and yields the empty `(s, s]` window.
    * Param-parsing delta (documented, not modeled): WP's parse_since
    * runs `strtotime` — far looser than the sidecar's RFC-3339 parse
    * ("next tuesday" parses there) — before the base64 sync_token
    * fallback (:111-131); the modeled bounds are RFC-3339 strings,
    * where every parser agrees. */
  private val xSyncWpDiff = Q(
    (s, dir) => {
      val pages = rd(s, dir, "events").select(
        concat(lit("/"), col("event_type"), lit("/"), col("event_id")).as("url"),
        col("ts").as("modified"),
        expr("timestampadd(DAY, -CAST(event_id % 20 AS INT), ts)").as("post_date"))
      pages
        .filter(col("modified") > syncSince && col("modified") <= syncUntil) // (s, u]
        .filter(!col("url").startsWith("/error")) // in-loop exclusion
        .select(col("url"),
          iso(col("modified")).as("updated"),
          iso(col("post_date")).as("published"),
          when(col("post_date") >= syncSince, "added").otherwise("updated")
            .as("bucket"))
        .orderBy("url")
    },
    Some("""WITH pages AS (
        SELECT '/' || event_type || '/' || event_id AS url, ts AS modified,
               ts - (event_id % 20) * INTERVAL 1 DAY AS post_date
        FROM events
      )
      SELECT url, strftime(modified, '%Y-%m-%dT%H:%M:%S') AS updated,
        strftime(post_date, '%Y-%m-%dT%H:%M:%S') AS published,
        CASE WHEN post_date >= TIMESTAMP '2024-01-10 00:00:00'
             THEN 'added' ELSE 'updated' END AS bucket
      FROM pages
      WHERE modified > TIMESTAMP '2024-01-10 00:00:00'
        AND modified <= TIMESTAMP '2024-01-20 00:00:00'
        AND url NOT LIKE '/error%'
      ORDER BY url"""))

  /** Single-page (?url=) chunk-limit matrix — THREE behaviors: the
    * express family (content.js:236-276, astro content.ts:92-117,
    * router.py:198-236) IGNORES ?limit= in page mode and returns every
    * chunk; WP (class-content-api.php:368-434) parses it with
    * `absint` and NO lower bound — `?limit=0` returns an EMPTY chunk
    * list and negatives are absolute-valued — capped at
    * openfeeder_max_chunks (50); Drupal (ContentController.php:147-213)
    * clamps `min(max(limit, 1), max_chunks)` so at least one chunk
    * always returns. Both CMS ports slice per-request AFTER caching the
    * full list. Chunk counts ride the a4 proxy (lineitem per order);
    * the raw limit cycles −2..6 so the 0/negative branches are
    * exercised. */
  private val xPageChunkClamp = Q(
    (s, dir) => rd(s, dir, "lineitem")
      .groupBy("l_orderkey").agg(count(lit(1)).as("total_chunks"))
      .withColumn("raw_limit", (pmod(col("l_orderkey"), lit(9)) - 2).cast("long"))
      .select(col("l_orderkey"), col("total_chunks"), col("raw_limit"),
        col("total_chunks").as("express_returned"),
        least(col("total_chunks"),
          least(abs(col("raw_limit")), lit(50L))).as("wp_returned"),
        least(col("total_chunks"),
          least(greatest(col("raw_limit"), lit(1L)), lit(50L)))
          .as("drupal_returned"))
      .orderBy("l_orderkey").limit(1000),
    Some("""SELECT l_orderkey, total_chunks, raw_limit,
        total_chunks AS express_returned,
        least(total_chunks, least(abs(raw_limit), 50)) AS wp_returned,
        least(total_chunks, least(greatest(raw_limit, 1), 50)) AS drupal_returned
      FROM (SELECT l_orderkey, count(*) AS total_chunks,
              l_orderkey % 9 - 2 AS raw_limit
            FROM lineitem GROUP BY l_orderkey)
      ORDER BY l_orderkey LIMIT 1000"""))

  /** The vite port's BUILD-TIME static generation (build.ts:22-113) —
    * the one surface in the nine ports that is itself a batch job, so
    * its Spark re-expression is the natural one: one row per generated
    * artifact. Three artifact kinds: the discovery doc; the index
    * snapshot — PAGE 1 ONLY ("a real static deployment would need a
    * server … for arbitrary ?page=", :54-57), ITEMS_PER_PAGE = 10,
    * total_pages still computed over everything; and one per-item page
    * response at `openfeeder-items/<slug>.json` where slug strips the
    * leading '/' and maps '/'→'-' with an `|| "index"` fallback for the
    * root url (:103). Chunk counts/summaries are the express chunker's
    * (vite shares it). doc 0 is planted at the root url so the 'index'
    * slug fallback is exercised. */
  private val xStaticBuild = Q(
    (s, dir) => {
      val spark = s
      import spark.implicits._
      val nChunksUdf = udf((c: String, u: String) =>
        graft.extract.AdapterChunker.chunkContent(c, u).length.toLong)
      val pages = rd(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") === 0, lit("/"))
          .otherwise(concat(lit("/"), col("source"), lit("/"), col("doc_id")))
          .as("url"),
        col("text"))
      val total = totalPages(pages, 10.0)
      val discovery = Seq(("discovery", ".well-known/openfeeder.json"))
        .toDF("kind", "path")
        .withColumn("seq", lit(-1L)).withColumn("url", lit("search")) // capabilities
        .withColumn("summary", lit(null).cast("string"))
        .withColumn("total_chunks", lit(null).cast("long"))
      val indexItems = pages.orderBy("doc_id").limit(10)
        .select(lit("index_item").as("kind"), lit("openfeeder").as("path"),
          col("doc_id").as("seq"), col("url"),
          summariseUdf(col("text")).as("summary"),
          lit(null).cast("long").as("total_chunks"))
      val items = pages.select(lit("item").as("kind"),
        concat(lit("openfeeder-items/"),
          regexp_replace(regexp_replace(col("url"), "^/", ""), "/", "-"),
          lit(".json")).as("path_raw"),
        col("doc_id").as("seq"), col("url"),
        summariseUdf(col("text")).as("summary"),
        nChunksUdf(col("text"), col("url")).as("total_chunks"))
        .select(col("kind"),
          when(col("path_raw") === "openfeeder-items/.json",
            lit("openfeeder-items/index.json")).otherwise(col("path_raw"))
            .as("path"),
          col("seq"), col("url"), col("summary"), col("total_chunks"))
      discovery.unionByName(indexItems).unionByName(items)
        .crossJoin(broadcast(total))
        .orderBy("kind", "seq", "path")
    },
    Some("""WITH pages AS (
        SELECT doc_id,
          CASE WHEN doc_id = 0 THEN '/' ELSE '/' || source || '/' || doc_id END AS url,
          text,
          trim(regexp_replace(text, '[ \t]+', ' ', 'g')) AS cleaned
        FROM documents
      ),
      tot AS (
        SELECT greatest(1, CAST(ceil(count(*) / 10.0) AS BIGINT)) AS total_pages
        FROM pages
      ),
      summ AS (
        SELECT doc_id, url, cleaned,
          CASE WHEN len(regexp_split_to_array(cleaned, '\s+')) <= 40 THEN cleaned
               ELSE array_to_string(regexp_split_to_array(cleaned, '\s+')[1:40], ' ')
                 || '...' END AS summary,
          CASE WHEN cleaned = '' THEN 0 ELSE 1 END AS total_chunks
        FROM pages
      ),
      rows_ AS (
        SELECT 'discovery' AS kind, '.well-known/openfeeder.json' AS path,
          CAST(-1 AS BIGINT) AS seq, 'search' AS url,
          CAST(NULL AS VARCHAR) AS summary, CAST(NULL AS BIGINT) AS total_chunks
        UNION ALL
        SELECT 'index_item', 'openfeeder', doc_id, url, summary,
          CAST(NULL AS BIGINT)
        FROM (SELECT * FROM summ ORDER BY doc_id LIMIT 10)
        UNION ALL
        SELECT 'item',
          CASE WHEN url = '/' THEN 'openfeeder-items/index.json'
               ELSE 'openfeeder-items/'
                 || replace(regexp_replace(url, '^/', ''), '/', '-') || '.json' END,
          doc_id, url, summary, CAST(total_chunks AS BIGINT)
        FROM summ
      )
      SELECT kind, path, seq, url, summary, total_chunks,
        (SELECT total_pages FROM tot) AS total_pages
      FROM rows_ ORDER BY kind, seq, path"""))

  /** The `?limit=` PARSE matrix — four host-language numeric semantics
    * on the same raw strings, one clamp chain per port family:
    *
    *  - express/TS (content.js:297-301): `Math.min(100, Math.max(1,
    *    parseInt(raw || '10', 10) || 10))` — parseInt takes the digit
    *    PREFIX (`"15abc"` → 15, `"1e2"` → 1, `"0x12"` → 0) and the
    *    `|| 10` swallows both NaN AND a parsed 0.
    *  - FastAPI (router.py:260-263): `min(100, max(1, int(raw or "10")
    *    or 10))` in try/except → 10 — Python int is all-or-nothing
    *    (`"15abc"`, `"3.9"`, `"1e2"` all fall back to 10) but PEP 515
    *    makes `"1_0"` parse as TEN where every other host sees 1.
    *  - Drupal page-mode (ContentController.php:147-149):
    *    `min(max((int) $raw, 1), 50)` — the PHP cast reads the longest
    *    leading NUMERIC prefix incl. exponent forms, so `"1e2"` is 100
    *    → clamped 50, and an empty/garbage string floors to 1.
    *  - WP page-mode (class-content-api.php:368-372): `is_numeric`
    *    gate (PHP 8: trailing whitespace numeric) else 10, then
    *    `min(absint($raw), 50)` — absint turns `"-3"` into THREE where
    *    every other port floors to 1, and `"0"` passes through as the
    *    empty-chunk-list 0 (x_page_chunk_clamp's quirk).
    *
    * Spark computes through the [[graft.extract.HostNumbers]]
    * transliterations; the DuckDB oracle pins independently-derived
    * expected values per raw string. */
  private val xLimitParseMatrix = Q(
    (s, dir) => {
      import graft.extract.HostNumbers._
      val raws: Seq[String] = Seq(null, "", "0", "7", "15abc", "abc", "-3",
        "200", "3.9", "1_0", "0x12", " 8 ", "1e2")
      val expressUdf = udf((raw: String) => {
        val eff = if (raw == null || raw.isEmpty) "10" else raw
        val p = jsParseInt10(eff).filter(_ != 0L).getOrElse(10L)
        math.min(100L, math.max(1L, p))
      })
      val fastapiUdf = udf((raw: String) => {
        val eff = if (raw == null || raw.isEmpty) "10" else raw
        pyIntParse(eff) match {
          case Some(v) => math.min(100L, math.max(1L, if (v == 0L) 10L else v))
          case None => 10L
        }
      })
      val drupalUdf = udf((raw: String) => {
        val v = if (raw == null) 10L else phpIntCast(raw)
        math.min(math.max(v, 1L), 50L)
      })
      val wpUdf = udf((raw: String) => {
        if (raw == null || !phpIsNumeric(raw)) 10L
        else math.min(wpAbsInt(raw), 50L)
      })
      val rawCol = pickByIndex(pmod(col("doc_id"), lit(raws.size)),
        raws.map(Option(_)), "string")
      rd(s, dir, "documents").select(col("doc_id"), rawCol.as("raw_limit"))
        .select(col("doc_id"), col("raw_limit"),
          expressUdf(col("raw_limit")).as("express_limit"),
          fastapiUdf(col("raw_limit")).as("fastapi_limit"),
          drupalUdf(col("raw_limit")).as("drupal_limit"),
          wpUdf(col("raw_limit")).as("wp_limit"))
        .orderBy("doc_id")
    },
    Some("""WITH params AS (
        SELECT doc_id, doc_id % 13 AS idx,
          CASE doc_id % 13
            WHEN 1 THEN '' WHEN 2 THEN '0' WHEN 3 THEN '7'
            WHEN 4 THEN '15abc' WHEN 5 THEN 'abc' WHEN 6 THEN '-3'
            WHEN 7 THEN '200' WHEN 8 THEN '3.9' WHEN 9 THEN '1_0'
            WHEN 10 THEN '0x12' WHEN 11 THEN ' 8 ' WHEN 12 THEN '1e2'
            ELSE NULL END AS raw_limit
        FROM documents
      )
      SELECT doc_id, raw_limit,
        CAST(CASE idx WHEN 0 THEN 10 WHEN 1 THEN 10 WHEN 2 THEN 10 WHEN 3 THEN 7
          WHEN 4 THEN 15 WHEN 5 THEN 10 WHEN 6 THEN 1 WHEN 7 THEN 100
          WHEN 8 THEN 3 WHEN 9 THEN 1 WHEN 10 THEN 10 WHEN 11 THEN 8
          WHEN 12 THEN 1 END AS BIGINT) AS express_limit,
        CAST(CASE idx WHEN 0 THEN 10 WHEN 1 THEN 10 WHEN 2 THEN 10 WHEN 3 THEN 7
          WHEN 4 THEN 10 WHEN 5 THEN 10 WHEN 6 THEN 1 WHEN 7 THEN 100
          WHEN 8 THEN 10 WHEN 9 THEN 10 WHEN 10 THEN 10 WHEN 11 THEN 8
          WHEN 12 THEN 10 END AS BIGINT) AS fastapi_limit,
        CAST(CASE idx WHEN 0 THEN 10 WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 7
          WHEN 4 THEN 15 WHEN 5 THEN 1 WHEN 6 THEN 1 WHEN 7 THEN 50
          WHEN 8 THEN 3 WHEN 9 THEN 1 WHEN 10 THEN 1 WHEN 11 THEN 8
          WHEN 12 THEN 50 END AS BIGINT) AS drupal_limit,
        CAST(CASE idx WHEN 0 THEN 10 WHEN 1 THEN 10 WHEN 2 THEN 0 WHEN 3 THEN 7
          WHEN 4 THEN 10 WHEN 5 THEN 10 WHEN 6 THEN 3 WHEN 7 THEN 50
          WHEN 8 THEN 3 WHEN 9 THEN 10 WHEN 10 THEN 10 WHEN 11 THEN 8
          WHEN 12 THEN 50 END AS BIGINT) AS wp_limit
      FROM params ORDER BY doc_id"""))

  /** Deterministic synthetic gateway request log derived from documents
    * (no external data): cycles methods, paths, UAs, and intent presence
    * so every routing branch is exercised. */
  private def gatewayRequests(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "documents").select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(11)) === 0, "POST").otherwise("GET").as("method"),
      when(pmod(col("doc_id"), lit(7)) === 0, lit("/assets/app.js"))
        .when(pmod(col("doc_id"), lit(7)) === 1, lit("/openfeeder"))
        .when(pmod(col("doc_id"), lit(7)) === 2, concat(lit("/products/widget-"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(7)) === 3, concat(lit("/blog/my_great-post-"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(7)) === 4, lit("/search"))
        .when(pmod(col("doc_id"), lit(7)) === 5, lit("/"))
        .otherwise(concat(lit("/docs/guide/part-"), col("doc_id"))).as("path"),
      when(pmod(col("doc_id"), lit(3)) === 0, "Mozilla/5.0 (human browser)")
        .when(pmod(col("doc_id"), lit(3)) === 1, "GPTBot/1.0 (+https://openai.com/gptbot)")
        .otherwise("ClaudeBot/1.0").as("ua"),
      when(pmod(col("doc_id"), lit(5)) === 0, "answer-question")
        .otherwise(lit(null).cast("string")).as("intent"))

  private def gatewayRequestsSql: String =
    """SELECT doc_id,
      CASE WHEN doc_id % 11 = 0 THEN 'POST' ELSE 'GET' END AS method,
      CASE doc_id % 7 WHEN 0 THEN '/assets/app.js' WHEN 1 THEN '/openfeeder'
        WHEN 2 THEN '/products/widget-' || doc_id
        WHEN 3 THEN '/blog/my_great-post-' || doc_id
        WHEN 4 THEN '/search' WHEN 5 THEN '/'
        ELSE '/docs/guide/part-' || doc_id END AS path,
      CASE doc_id % 3 WHEN 0 THEN 'Mozilla/5.0 (human browser)'
        WHEN 1 THEN 'GPTBot/1.0 (+https://openai.com/gptbot)'
        ELSE 'ClaudeBot/1.0' END AS ua,
      CASE WHEN doc_id % 5 = 0 THEN 'answer-question' ELSE NULL END AS intent
      FROM documents"""

  /** Deterministic synthetic request log for the analytics event surface:
    * gatewayRequests plus status/duration/rate-limit/search/sync columns
    * and a 5-way UA cycle (human / GPTBot / ClaudeBot / Googlebot / empty)
    * so every detect_bot branch — known bot, human-or-unknown, empty-UA —
    * is exercised. A 23-cycle path override injects the two internal
    * endpoints (middleware exemptions, main.py:206-208) and a 9-cycle
    * url_param exercises single-page mode, so every emission rule has
    * rows on both sides. */
  private def analyticsRequests(s: SparkSession, dir: String): DataFrame =
    gatewayRequests(s, dir)
      .withColumn("ua",
        when(pmod(col("doc_id"), lit(5)) === 0, "Mozilla/5.0 (human browser)")
          .when(pmod(col("doc_id"), lit(5)) === 1, "GPTBot/1.0 (+https://openai.com/gptbot)")
          .when(pmod(col("doc_id"), lit(5)) === 2, "ClaudeBot/1.0")
          .when(pmod(col("doc_id"), lit(5)) === 3, "Googlebot/2.1 (+http://www.google.com/bot.html)")
          .otherwise(""))
      .withColumn("path",
        when(pmod(col("doc_id"), lit(23)) === 0, "/.well-known/openfeeder.json")
          .when(pmod(col("doc_id"), lit(23)) === 1, "/healthz")
          .otherwise(col("path")))
      .withColumn("url_param",
        when(pmod(col("doc_id"), lit(9)) === 0, concat(lit("/blog/my_great-post-"), col("doc_id"))))
      .withColumn("status_code",
        when(pmod(col("doc_id"), lit(17)) === 0, 500)
          .when(pmod(col("doc_id"), lit(13)) === 0, 404)
          .otherwise(200))
      .withColumn("duration_ms", (pmod(col("doc_id"), lit(90)) + 10).cast("long"))
      .withColumn("rate_limited", pmod(col("doc_id"), lit(19)) === 0)
      .withColumn("q_term",
        when(pmod(col("doc_id"), lit(4)) === 0, concat(lit("term-"), pmod(col("doc_id"), lit(7)))))
      .withColumn("is_sync", pmod(col("doc_id"), lit(6)) === 0)
      .withColumn("day", date_format(
        date_add(lit("2024-01-01").cast("date"), pmod(col("doc_id"), lit(10)).cast("int")),
        "yyyy-MM-dd"))

  private def analyticsRequestsSql: String = {
    val botName = "CASE WHEN ua IS NULL OR ua = '' THEN 'unknown' " +
      Analytics.BotFamilies.map { case (p, _) =>
        s"WHEN contains(lower(ua), '${p.toLowerCase(java.util.Locale.ROOT)}') THEN '$p'"
      }.mkString(" ") + " ELSE 'human-or-unknown' END"
    val botFam = "CASE WHEN ua IS NULL OR ua = '' THEN 'unknown' " +
      Analytics.BotFamilies.map { case (p, f) =>
        s"WHEN contains(lower(ua), '${p.toLowerCase(java.util.Locale.ROOT)}') THEN '$f'"
      }.mkString(" ") + " ELSE 'unknown' END"
    s"""SELECT *,
      CASE WHEN doc_id % 17 = 0 THEN 500 WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS status_code,
      CAST(doc_id % 90 + 10 AS BIGINT) AS duration_ms,
      doc_id % 19 = 0 AS rate_limited,
      CASE WHEN doc_id % 4 = 0 THEN 'term-' || (doc_id % 7) END AS q_term,
      doc_id % 6 = 0 AS is_sync,
      CASE WHEN doc_id % 9 = 0 THEN '/blog/my_great-post-' || doc_id END AS url_param,
      strftime(DATE '2024-01-01' + CAST(doc_id % 10 AS INT), '%Y-%m-%d') AS day,
      $botName AS bot_name, $botFam AS bot_family
      FROM (SELECT * REPLACE (CASE doc_id % 5
        WHEN 0 THEN 'Mozilla/5.0 (human browser)'
        WHEN 1 THEN 'GPTBot/1.0 (+https://openai.com/gptbot)'
        WHEN 2 THEN 'ClaudeBot/1.0'
        WHEN 3 THEN 'Googlebot/2.1 (+http://www.google.com/bot.html)'
        ELSE '' END AS ua,
        CASE WHEN doc_id % 23 = 0 THEN '/.well-known/openfeeder.json'
          WHEN doc_id % 23 = 1 THEN '/healthz'
          ELSE path END AS path)
      FROM ($gatewayRequestsSql))"""
  }

  private def analyticsEventsSql: String =
    s"""WITH r0 AS ($analyticsRequestsSql),
      r AS (
        SELECT *,
          path IN ('/healthz', '/.well-known/openfeeder.json') AS internal,
          (rate_limited AND path NOT IN ('/healthz', '/.well-known/openfeeder.json')) AS limited,
          (path = '/openfeeder' AND method = 'GET') AS is_feed,
          CASE WHEN is_sync AND q_term IS NULL THEN 'stats'
               WHEN url_param IS NULL AND q_term IS NULL THEN 'index'
               WHEN q_term IS NOT NULL THEN 'search'
               ELSE 'single' END AS mode
        FROM r0
      ),
      base AS (
        SELECT doc_id, method, path, status_code, duration_ms, day,
          bot_name, bot_family, regexp_extract(path, '^/[^/]*') AS endpoint,
          internal, limited, is_feed, mode, q_term, is_sync
        FROM r
      )
      SELECT * EXCLUDE (internal, limited, is_feed, mode, q_term, is_sync) FROM (
        SELECT *, 'api.ratelimit' AS event_type, CAST(NULL AS VARCHAR) AS request_type
          FROM base WHERE limited
        UNION ALL
        SELECT *, 'api.request', NULL FROM base
          WHERE NOT limited AND (internal OR status_code < 500)
        UNION ALL
        SELECT *, 'api.bot', NULL FROM base
          WHERE NOT limited AND NOT internal AND status_code < 500 AND bot_family <> 'unknown'
        UNION ALL
        SELECT *, 'api.search', NULL FROM base
          WHERE is_feed AND NOT limited AND q_term IS NOT NULL AND status_code IN (200, 404)
        UNION ALL
        SELECT *, 'api.sync', NULL FROM base
          WHERE is_feed AND NOT limited AND status_code = 200 AND q_term IS NULL AND is_sync
        UNION ALL
        SELECT *, 'api.request', mode FROM base
          WHERE is_feed AND NOT limited AND (status_code = 200
            OR (status_code = 404 AND mode IN ('search', 'single')))
      )"""

  /** A7: the typed analytics event stream derived from the request log —
    * analytics_provider.py:44-191 event taxonomy under the exact
    * middleware + handler emission rules (see [[Analytics]] Scaladoc for
    * the call-site-by-call-site mapping: internal-endpoint exemption,
    * ratelimit-only 429s, the handler's second api.request with
    * request_type, search on 200 AND the zero-result 404, no api.error). */
  private val a7AnalyticsEvents = Q(
    (s, dir) => Analytics.deriveEvents(analyticsRequests(s, dir))
      .select("doc_id", "event_type", "request_type", "endpoint", "method",
        "status_code", "duration_ms", "bot_name", "bot_family", "day")
      .orderBy(col("doc_id"), col("event_type"), coalesce(col("request_type"), lit(""))),
    Some(s"""SELECT doc_id, event_type, request_type, endpoint, method, status_code,
      duration_ms, bot_name, bot_family, day
      FROM ($analyticsEventsSql)
      ORDER BY doc_id, event_type, coalesce(request_type, '')"""))

  /** A8: the ANALYTICS.md headline rollup — events by bot_family ×
    * endpoint × day. */
  private val a8AnalyticsRollup = Q(
    (s, dir) => Analytics.rollup(Analytics.deriveEvents(analyticsRequests(s, dir)))
      .orderBy("bot_family", "endpoint", "day"),
    Some(s"""SELECT bot_family, endpoint, day, count(*) AS n_events,
      CAST(sum(CASE WHEN event_type = 'api.request' THEN 1 ELSE 0 END) AS BIGINT) AS n_requests,
      CAST(sum(CASE WHEN event_type = 'api.bot' THEN 1 ELSE 0 END) AS BIGINT) AS n_bot,
      CAST(sum(duration_ms) AS BIGINT) AS sum_duration_ms
      FROM ($analyticsEventsSql)
      GROUP BY bot_family, endpoint, day
      ORDER BY bot_family, endpoint, day"""))

  /** C1: the adapters' conditional-response surface — classify a request
    * log into 200/304 by ETag revalidation, exactly as the express
    * adapter does (see [[Caching]]): ETag is the quoted 16-hex md5 prefix
    * of the serialized body (etag.js:11-13), 304 iff If-None-Match equals
    * it exactly (content.js:282-283), If-Modified-Since deliberately NOT
    * honored (test-caching.js:219-225 — rows with only a past
    * If-Modified-Since stay 200), Last-Modified rendered toUTCString
    * (content.js:30-35). The If-None-Match synthesis cycles
    * match / stale-value / absent so both terminal statuses appear. */
  private val c1ConditionalCache = Q(
    (s, dir) => {
      val docs = rd(s, dir, "documents")
      val body = concat(
        lit("{\"schema\":\"openfeeder/1.0\",\"url\":\"/docs/"), col("doc_id"),
        lit("\",\"fingerprint\":\""), md5(col("text")), lit("\"}"))
      val et = Caching.etag(body)
      val inm = when(pmod(col("doc_id"), lit(3)) === 0, et)
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("\"wrong-etag-value\""))
      val lastMod = Caching.toUtcString(
        date_add(lit("2025-01-01").cast("date"), pmod(col("doc_id"), lit(28)).cast("int")))
      docs.select(col("doc_id"), et.as("etag"),
        Caching.conditionalStatus(et, inm).as("status_code"),
        lastMod.as("last_modified"))
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
        SELECT doc_id,
          '{"schema":"openfeeder/1.0","url":"/docs/' || doc_id ||
            '","fingerprint":"' || md5(text) || '"}' AS body
        FROM documents
      ), e AS (
        SELECT doc_id, '"' || substr(md5(body), 1, 16) || '"' AS etag FROM b
      ), r AS (
        SELECT doc_id, etag,
          CASE WHEN doc_id % 3 = 0 THEN etag
               WHEN doc_id % 3 = 1 THEN '"wrong-etag-value"' END AS inm
        FROM e
      )
      SELECT doc_id, etag,
        CASE WHEN inm = etag THEN 304 ELSE 200 END AS status_code,
        strftime(DATE '2025-01-01' + CAST(doc_id % 28 AS INT),
          '%a, %d %b %Y %H:%M:%S GMT') AS last_modified
      FROM r ORDER BY doc_id"""))

  /** The adapter's API-key auth gate —
    * `/root/reference/adapters/express/src/index.js:101-130`, pinned by
    * `testing/test-security.js:295-316`: the discovery document is ALWAYS
    * public; `/openfeeder` with an apiKey configured requires the
    * Authorization header to equal `Bearer <key>` exactly (the reference
    * compares with timingSafeEqual — semantically exact string equality;
    * the timing property is a serving-side concern, meaningless in a
    * batch classification) and answers 401 with the UNAUTHORIZED envelope
    * otherwise; non-openfeeder paths fall through to the host app
    * (status null here). The header synthesis cycles valid / wrong-key /
    * absent so both verdicts and the passthrough appear. */
  private val xAuthGate = Q(
    (s, dir) => {
      val apiKey = "sk-test-key"
      val path = when(pmod(col("doc_id"), lit(7)) === 0, "/.well-known/openfeeder.json")
        .when(pmod(col("doc_id"), lit(7)) === 1, concat(lit("/blog/post-"), col("doc_id")))
        .otherwise(lit("/openfeeder"))
      val auth = when(pmod(col("doc_id"), lit(3)) === 0, s"Bearer $apiKey")
        .when(pmod(col("doc_id"), lit(3)) === 1, "Bearer wrong-key")
        .otherwise(lit(null).cast("string"))
      val errBody = specErrorBody("UNAUTHORIZED",
        "Valid API key required. Include Authorization: Bearer <key> header.")
      rd(s, dir, "documents")
        .select(col("doc_id"), path.as("path"), auth.as("auth_header"))
        .withColumn("status_code",
          when(col("path") === "/.well-known/openfeeder.json", 200)
            .when(col("path") === "/openfeeder",
              when(col("auth_header") === s"Bearer $apiKey", 200).otherwise(401))
            .otherwise(lit(null).cast("int")))
        .withColumn("body", when(col("status_code") === 401, errBody))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, path, auth_header,
        CASE WHEN path = '/.well-known/openfeeder.json' THEN 200
             WHEN path = '/openfeeder' THEN
               CASE WHEN auth_header = 'Bearer sk-test-key' THEN 200 ELSE 401 END
             END AS status_code,
        CASE WHEN (CASE WHEN path = '/.well-known/openfeeder.json' THEN 200
             WHEN path = '/openfeeder' THEN
               CASE WHEN auth_header = 'Bearer sk-test-key' THEN 200 ELSE 401 END
             END) = 401 THEN
          to_json(struct_pack(schema := 'openfeeder/1.0',
            error := struct_pack(code := 'UNAUTHORIZED',
              message := 'Valid API key required. Include Authorization: Bearer <key> header.')))
        END AS body
      FROM (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 0 THEN '/.well-known/openfeeder.json'
               WHEN doc_id % 7 = 1 THEN '/blog/post-' || doc_id
               ELSE '/openfeeder' END AS path,
          CASE WHEN doc_id % 3 = 0 THEN 'Bearer sk-test-key'
               WHEN doc_id % 3 = 1 THEN 'Bearer wrong-key' END AS auth_header
        FROM documents)
      ORDER BY doc_id"""))

  /** Gateway mode routing + context detection (gateway.js:18-75,319-346),
    * every branch oracle-checked. */
  private val g1GatewayRoute = Q(
    (s, dir) =>
      Gateway.withContext(Gateway.routeRequests(gatewayRequests(s, dir)))
        .select("doc_id", "route", "detected_type", "detected_topic")
        .orderBy("doc_id"),
    Some {
      val llm = Gateway.LlmAgents.map(a => s"ua LIKE '%$a%'").mkString(" OR ")
      val title = "array_to_string(list_transform(string_split(" +
        "regexp_replace(%s, '[-_]', ' ', 'g'), ' '), w -> upper(w[1]) || w[2:]), ' ')"
      s"""WITH req AS ($gatewayRequestsSql),
      seg AS (
        SELECT *, list_filter(string_split(regexp_replace(path, '/$$', ''), '/'),
          x -> len(x) > 0) AS segments FROM req
      ), ctx AS (
        SELECT doc_id, method, path, ua, intent, segments,
          CASE WHEN len(segments) = 0 THEN 'home'
            WHEN regexp_matches(segments[1], '(?i)^(product|products|shop|store|item|catalogue|catalog)$$') THEN 'product'
            WHEN regexp_matches(segments[1], '(?i)^(category|cat|collection|collections|tag|brand|department)$$') THEN 'category'
            WHEN regexp_matches(segments[1], '(?i)^search$$') THEN 'search'
            WHEN regexp_matches(segments[1], '(?i)^(blog|post|posts|article|articles|news|press)$$') THEN 'article'
            ELSE 'page' END AS detected_type,
          CASE WHEN len(segments) = 0 THEN NULL
            WHEN regexp_matches(segments[1], '(?i)^(product|products|shop|store|item|catalogue|catalog)$$')
              THEN CASE WHEN len(segments) >= 2 THEN ${title.format("segments[2]")} ELSE NULL END
            WHEN regexp_matches(segments[1], '(?i)^(category|cat|collection|collections|tag|brand|department)$$')
              THEN coalesce(CASE WHEN len(segments) >= 2 THEN ${title.format("segments[2]")} ELSE NULL END, segments[1])
            WHEN regexp_matches(segments[1], '(?i)^search$$') THEN NULL
            WHEN regexp_matches(segments[1], '(?i)^(blog|post|posts|article|articles|news|press)$$')
              THEN CASE WHEN len(segments) >= 2 THEN ${title.format("segments[2]")} ELSE NULL END
            WHEN len(segments) = 1 THEN ${title.format("segments[1]")}
            ELSE regexp_replace(segments[len(segments)], '[-_]', ' ', 'g') END AS detected_topic
        FROM seg
      )
      SELECT doc_id,
        CASE WHEN method <> 'GET' THEN 'passthrough_method'
          WHEN regexp_matches(path, '(?i)\\.(js|css|png|jpg|jpeg|gif|webp|svg|ico|woff|woff2|ttf|eot|map|json)$$') THEN 'passthrough_static'
          WHEN regexp_matches(path, '^/(openfeeder|\\.well-known/openfeeder)') THEN 'passthrough_openfeeder'
          WHEN NOT ($llm) THEN 'passthrough_not_bot'
          WHEN intent IS NOT NULL AND length(intent) > 0 THEN 'mode2_direct'
          ELSE 'mode1_cold_start' END AS route,
        detected_type, detected_topic
      FROM ctx ORDER BY doc_id"""
    })

  /** Mode-2 tailored response synthesis (gateway.js:230-276), arrays
    * rendered with to_json for cross-engine comparison. The query literal
    * carries a space, a reserved `&`, and a non-ASCII `é` so the
    * encodeURIComponent parity (`%20`/`%26`/`%C3%A9`, and `%2F` for path
    * slashes) is genuinely exercised; the DuckDB mirror encodes via
    * replace-chains over exactly this alphabet (DuckDB has no url_encode). */
  private val g2GatewayTailored = Q(
    (s, dir) => {
      val reqs = Gateway.withContext(Gateway.routeRequests(gatewayRequests(s, dir))
          .filter(col("route") === "mode2_direct"))
        .withColumn("depth", lit(null).cast("string"))
        .withColumn("format", lit(null).cast("string"))
        .withColumn("query",
          when(pmod(col("doc_id"), lit(2)) === 0, lit("spark & café tuning")).otherwise(lit(null).cast("string")))
        .withColumn("language", lit(null).cast("string"))
      Gateway.tailoredResponse(Gateway.withIntentDefaults(reqs), "https://site.example")
        .select(col("doc_id"), col("intent"), col("depth"), col("format"),
          to_json(col("recommended_endpoints")).as("endpoints_json"),
          to_json(col("query_hints")).as("hints_json"),
          to_json(col("current_page"), Map("ignoreNullFields" -> "false"))
            .as("current_page_json"))
        .orderBy("doc_id")
    },
    Some {
      val llm = Gateway.LlmAgents.map(a => s"ua LIKE '%$a%'").mkString(" OR ")
      s"""WITH req AS ($gatewayRequestsSql),
      routed AS (
        SELECT *,
          CASE WHEN len(list_filter(string_split(regexp_replace(path, '/$$', ''), '/'), x -> len(x) > 0)) >= 1
            AND regexp_matches(list_filter(string_split(regexp_replace(path, '/$$', ''), '/'), x -> len(x) > 0)[1],
              '(?i)^(product|products|shop|store|item|catalogue|catalog)$$')
            THEN 'product' ELSE 'other' END AS dtype,
          -- full detected type/topic per path family (doc_id % 7), for the
          -- current_page block
          CASE doc_id % 7 WHEN 2 THEN 'product' WHEN 3 THEN 'article'
            WHEN 4 THEN 'search' WHEN 5 THEN 'home' ELSE 'page' END AS full_type,
          CASE doc_id % 7
            WHEN 2 THEN 'Widget ' || doc_id
            WHEN 3 THEN 'My Great Post ' || doc_id
            WHEN 6 THEN 'part ' || doc_id
            ELSE NULL END AS topic,
          CASE WHEN doc_id % 2 = 0 THEN 'spark & café tuning' ELSE '' END AS q,
          -- encodeURIComponent mirror, exact over this request log's
          -- alphabet: paths are [a-z0-9/_-] (only '/' encodes) and the
          -- query adds space, '&', 'é'
          CASE WHEN doc_id % 2 = 0
            THEN replace(replace(replace('spark & café tuning',
              '&', '%26'), ' ', '%20'), 'é', '%C3%A9')
            ELSE '' END AS qe,
          replace(path, '/', '%2F') AS pe
        FROM req
        WHERE method = 'GET'
          AND NOT regexp_matches(path, '(?i)\\.(js|css|png|jpg|jpeg|gif|webp|svg|ico|woff|woff2|ttf|eot|map|json)$$')
          AND NOT regexp_matches(path, '^/(openfeeder|\\.well-known/openfeeder)')
          AND ($llm)
          AND intent IS NOT NULL AND length(intent) > 0
      )
      SELECT doc_id, intent, 'standard' AS depth, 'full-text' AS format,
        to_json(CASE WHEN length(q) > 0 THEN [
          struct_pack(url := 'https://site.example/openfeeder?q=' || qe || '&format=full-text',
            relevance := 'high',
            description := 'Content filtered to match your specific question'),
          struct_pack(url := CASE WHEN dtype = 'product'
              THEN 'https://site.example/openfeeder/products?url=' || pe
              ELSE 'https://site.example/openfeeder?url=' || pe END,
            relevance := 'medium',
            description := CASE WHEN dtype = 'product'
              THEN 'Product details for the requested page'
              ELSE 'Full content of the requested page' END)
        ] ELSE [
          struct_pack(url := CASE WHEN dtype = 'product'
              THEN 'https://site.example/openfeeder/products?url=' || pe
              ELSE 'https://site.example/openfeeder?url=' || pe END,
            relevance := 'high',
            description := CASE WHEN dtype = 'product'
              THEN 'Product details for the requested page'
              ELSE 'Full content of the requested page' END),
          struct_pack(url := 'https://site.example/openfeeder',
            relevance := 'low',
            description := 'Browse all available content')
        ] END) AS endpoints_json,
        to_json(CASE WHEN length(q) > 0 THEN
            ['GET /openfeeder?q=' || qe,
             'GET /openfeeder?q=' || qe || '&format=full-text&depth=standard']
          ELSE ['GET /openfeeder?url=' || pe] END) AS hints_json,
        to_json(struct_pack(
          openfeeder_url := 'https://site.example/openfeeder?url=' || pe,
          title := topic,
          summary := full_type || ' page')) AS current_page_json
      FROM routed ORDER BY doc_id"""
    })

  /** Mode-1 Round-1 cold-start envelope (gateway.js:329-336,355-405): the
    * context section, per-context suggested questions/actions, endpoints
    * and next_steps for every mode1-routed request — the last gateway
    * response surface (routing = g1 ★, Mode-2 = g2 ★, the stateful dialog
    * block = StreamOps.dialogueSessions). The oracle re-derives each path
    * family's expected question list as literal templates — an independent
    * rendering, not a mirror of the when-chains. */
  private val g3GatewayColdStart = Q(
    (s, dir) => {
      val reqs = Gateway.routeRequests(gatewayRequests(s, dir))
        .filter(col("route") === "mode1_cold_start")
      Gateway.coldStartEnvelope(reqs, "https://site.example", hasEcommerce = true)
        .select(col("doc_id"),
          to_json(col("context"), Map("ignoreNullFields" -> "false")).as("context_json"),
          to_json(col("questions")).as("questions_json"),
          to_json(col("endpoints")).as("endpoints_json"),
          to_json(col("next_steps")).as("steps_json"))
        .orderBy("doc_id")
    },
    Some {
      val llm = Gateway.LlmAgents.map(a => s"ua LIKE '%$a%'").mkString(" OR ")
      val b = "https://site.example"
      def qp(question: String, intent: String, action: String, returns: String) =
        s"""struct_pack(question := '$question', intent := '$intent',
           |action := '$action', returns := '$returns')""".stripMargin
      // JS-template quoting: topics embed inside double quotes
      val product = Seq(
        qp("""Do you want the full details of "Widget ' || doc_id || '"?""",
          "single_product", s"GET $b/openfeeder/products?url=%2Fproducts%2Fwidget-' || doc_id || '",
          "Full description, price, variants, availability, stock status"),
        qp("Are you comparing this with similar products?", "category_browse",
          s"GET $b/openfeeder/products?category=widget+' || doc_id || '",
          "All products in the same category with pricing and availability"),
        qp("Are you looking for products in a specific price range?", "price_filter",
          s"GET $b/openfeeder/products?in_stock=true",
          "All in-stock products (add &min_price=X&max_price=Y to filter by budget)"),
        qp("Are you searching for a product by feature or keyword?", "keyword_search",
          s"GET $b/openfeeder/products?q=your+keywords",
          "Products matching your search terms"))
      val article = Seq(
        qp("""Do you want the full content of "My Great Post ' || doc_id || '"?""",
          "single_page", s"GET $b/openfeeder?url=%2Fblog%2Fmy_great-post-' || doc_id || '",
          "Full article text split into semantic chunks, ready for LLM processing"),
        qp("""Are you looking for more content related to "My Great Post ' || doc_id || '"?""",
          "topic_search", s"GET $b/openfeeder?q=My+Great+Post+' || doc_id || '",
          "All content related to this topic, ranked by relevance"),
        qp("Do you want to browse all available content?", "index_browse",
          s"GET $b/openfeeder", "Paginated index of all articles with summaries"))
      val docsPage = Seq(
        qp("""Do you want the full content of "part ' || doc_id || '"?""",
          "single_page", s"GET $b/openfeeder?url=%2Fdocs%2Fguide%2Fpart-' || doc_id || '",
          "Full article text split into semantic chunks, ready for LLM processing"),
        qp("""Are you looking for more content related to "part ' || doc_id || '"?""",
          "topic_search", s"GET $b/openfeeder?q=part+' || doc_id || '",
          "All content related to this topic, ranked by relevance"),
        qp("Do you want to browse all available content?", "index_browse",
          s"GET $b/openfeeder", "Paginated index of all articles with summaries"))
      val home = Seq(
        qp("Do you want to browse all available content?", "index_browse",
          s"GET $b/openfeeder", "Paginated index of all content with summaries"),
        qp("Are you searching for something specific?", "search",
          s"GET $b/openfeeder?q=your+search+query", "Content matching your search query"),
        qp("Are you looking for products?", "products_browse",
          s"GET $b/openfeeder/products", "Full product catalog with pricing and availability"))
      val searchDefault = Seq(
        qp("Do you want the content of this page?", "single_page",
          s"GET $b/openfeeder?url=%2Fsearch", "Page content in structured chunks"),
        qp("Are you looking for something specific on this site?", "search",
          s"GET $b/openfeeder?q=your+search+query", "Relevant content matching your query"))
      def arr(xs: Seq[String]) = xs.mkString("[", ",\n        ", "]")
      s"""WITH req AS ($gatewayRequestsSql),
      m1 AS (
        SELECT doc_id, path FROM req
        WHERE method = 'GET'
          AND NOT regexp_matches(path, '(?i)\\.(js|css|png|jpg|jpeg|gif|webp|svg|ico|woff|woff2|ttf|eot|map|json)$$')
          AND NOT regexp_matches(path, '^/(openfeeder|\\.well-known/openfeeder)')
          AND ($llm)
          AND (intent IS NULL OR length(intent) = 0)
      )
      SELECT doc_id,
        to_json(struct_pack(
          page_requested := path,
          detected_type := CASE doc_id % 7 WHEN 2 THEN 'product' WHEN 3 THEN 'article'
            WHEN 4 THEN 'search' WHEN 5 THEN 'home' ELSE 'page' END,
          detected_topic := CASE doc_id % 7
            WHEN 2 THEN 'Widget ' || doc_id
            WHEN 3 THEN 'My Great Post ' || doc_id
            WHEN 6 THEN 'part ' || doc_id
            ELSE NULL END,
          site_capabilities := ['content', 'search', 'products'])) AS context_json,
        to_json(CASE doc_id % 7
          WHEN 2 THEN ${arr(product)}
          WHEN 3 THEN ${arr(article)}
          WHEN 4 THEN ${arr(searchDefault)}
          WHEN 5 THEN ${arr(home)}
          ELSE ${arr(docsPage)} END) AS questions_json,
        to_json(struct_pack(
          content := '$b/openfeeder',
          discovery := '$b/.well-known/openfeeder.json')) AS endpoints_json,
        to_json(['Answer the dialog questions via POST /openfeeder/gateway/respond for a tailored response.',
          'Or choose an action from the questions above and make that GET request.',
          'Or search directly: GET $b/openfeeder?q=describe+what+you+need',
          'Start from the discovery doc: GET $b/.well-known/openfeeder.json']) AS steps_json
      FROM m1 ORDER BY doc_id"""
    })

  /** The discovery document (spec §2, `main.py:300-318`): one
    * `.well-known/openfeeder.json` body per site — version, site block,
    * feed pointer, capabilities, null contact — rendered per distinct
    * source as the site dimension. */
  private val d1Discovery = Q(
    (s, dir) => rd(s, dir, "documents")
      .select(col("source")).distinct()
      .select(col("source"),
        to_json(struct(
          lit("1.0.2").as("version"),
          struct(col("source").as("name"),
            concat(lit("https://"), col("source"), lit(".example")).as("url"),
            lit("en").as("language"),
            concat(lit("OpenFeeder sidecar for "), col("source")).as("description")).as("site"),
          struct(lit("/openfeeder").as("endpoint"), lit("paginated").as("type")).as("feed"),
          typedlit(Seq("search", "embeddings", "diff-sync")).as("capabilities"),
          lit(null).cast("string").as("contact")),
          Map("ignoreNullFields" -> "false")).as("discovery"))
      .orderBy("source"),
    Some("""SELECT source, to_json(struct_pack(
        version := '1.0.2',
        site := struct_pack(name := source, url := 'https://' || source || '.example',
          language := 'en', description := 'OpenFeeder sidecar for ' || source),
        feed := struct_pack(endpoint := '/openfeeder', type := 'paginated'),
        capabilities := ['search', 'embeddings', 'diff-sync'],
        contact := NULL::VARCHAR)) AS discovery
      FROM (SELECT DISTINCT source FROM documents) ORDER BY source"""))

  /** Full registry, insertion-ordered. */
  val registry: Vector[(String, Q)] = Vector(
    "q1_agg" -> q1Agg,
    "p1_index_projection" -> p1IndexProjection,
    "p3_pagination" -> p3Pagination,
    "p9_search_substring" -> p9Search,
    "p10_topk_min_score" -> p10TopK,
    "p7_excluded_prefix" -> p7ExcludedPrefix,
    "p8_visibility" -> p8Visibility,
    "p12_product_filters" -> p12ProductFilters,
    "p15_product_envelope" -> p15ProductEnvelope,
    "p13_bot_classify" -> p13BotClassify,
    "p14_url_context" -> p14UrlContext,
    "g1_gateway_route" -> g1GatewayRoute,
    "g2_gateway_tailored" -> g2GatewayTailored,
    "g3_gateway_coldstart" -> g3GatewayColdStart,
    "d1_discovery" -> d1Discovery,
    "w2_stable_order" -> w2StableOrder,
    "w4_tombstone_fifo" -> w4TombstoneFifo,
    "a1_pagination_totals" -> a1PaginationTotals,
    "a3_last_modified" -> a3LastModified,
    "a4_chunk_count" -> a4ChunkCount,
    "a6_rate_window" -> a6RateWindow,
    "a9_quota_view" -> a9QuotaView,
    "x_admin_auth" -> xAdminAuth,
    "x_quota_reset" -> xQuotaReset,
    "x_quota_ip_view" -> xQuotaIpView,
    "x_quota_envelope" -> xQuotaEnvelope,
    "x_webhook_auth" -> xWebhookAuth,
    "x_update_envelope" -> xUpdateEnvelope,
    "x_sync_validation" -> xSyncValidation,
    "x_ops_status" -> xOpsStatus,
    "a7_analytics_events" -> a7AnalyticsEvents,
    "a8_analytics_rollup" -> a8AnalyticsRollup,
    "c1_conditional_cache" -> c1ConditionalCache,
    "x_auth_gate" -> xAuthGate,
    "t2_sync_window" -> t2SyncWindow,
    "j5_sync_buckets" -> j5SyncBuckets,
    "t3_sync_token" -> t3SyncToken,
    "x_sync_envelope" -> xSyncEnvelope,
    "x_sync_page" -> xSyncPage,
    "j1_broadcast_join" -> j1BroadcastJoin,
    "j3_anti_join" -> j3AntiJoin,
    "j6_union_dedup" -> j6UnionDedup,
    "s11_json_envelope" -> s11JsonEnvelope,
    "s1_crawl_bfs" -> s1CrawlBfs,
    "s2_sitemap_parse" -> s2SitemapParse,
    "x_sitemap_crawl" -> xSitemapCrawl,
    "s4_robots_gate" -> s4RobotsGate,
    "p6_url_sanitize" -> p6UrlSanitize,
    "j7_collect_variants" -> j7CollectVariants,
    "x_token_count" -> xTokenCount,
    "x_quality" -> xQuality,
    "x_langid" -> xLangId,
    "x_exact_dedup" -> xExactDedup,
    "x_curation_pipeline" -> xCurationPipeline,
    "x_curation_neardup" -> xCurationNeardup,
    "x_fingerprint" -> xFingerprint,
    "x_ngram_jaccard" -> xNgramJaccard,
    "x_simhash" -> xSimHash,
    "x_minhash_pairs" -> xMinHashPairs,
    "x_neardup_clusters" -> xNeardupClusters,
    "x_embedding_topk" -> xEmbeddingTopK,
    "x_search_end_to_end" -> xSearchEndToEnd,
    "x_embedding_lsh" -> xEmbeddingLsh,
    "x_embedding_ivf" -> xEmbeddingIvf,
    "p11_single_page" -> p11SinglePage,
    "x_embedding_neardup" -> xEmbeddingNearDup,
    "x_multimodal_decode" -> xMultimodal,
    "e_extract_turns" -> eExtractTurns,
    "e_extract_chunks" -> eExtractChunks,
    "e_extract_docs_oracle" -> eExtractDocsOracle,
    "e_extract_html_oracle" -> eExtractHtmlOracle,
    "e_adapter_chunks" -> eAdapterChunks,
    "e_adapter_docs_oracle" -> eAdapterDocsOracle,
    "x_adapter_drupal" -> xAdapterDrupal,
    "x_search_express_family" -> xSearchExpressFamily,
    "x_search_drupal_scored" -> xSearchDrupalScored,
    "x_search_joomla_sql" -> xSearchJoomlaSql,
    "x_search_wp_native" -> xSearchWpNative,
    "x_sync_express_static" -> xSyncExpressStatic,
    "x_sync_wp_diff" -> xSyncWpDiff,
    "x_page_chunk_clamp" -> xPageChunkClamp,
    "x_static_build" -> xStaticBuild,
    "x_limit_parse_matrix" -> xLimitParseMatrix,
    "v_validate" -> vValidate,
  )

  /** Production-hash twins for the bench. The registry's sketch queries
    * run the md5-derived "portable" modes because those are bit-
    * reproducible in DuckDB — that's the correctness gate — but a user
    * runs the xxhash64 modes (same plan shape, ~4× cheaper hashing).
    * graft.Bench times THESE for the overridden names so BENCH reports
    * production numbers; graft.Verify keeps the portable twins. */
  val benchProductionOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_minhash_pairs" -> ((s: SparkSession, dir: String) =>
      minHashPairs(rd(s, dir, "documents"), portable = false)),
    "x_simhash" -> ((s: SparkSession, dir: String) =>
      TextOps.simHash(rd(s, dir, "documents"))),
    "x_neardup_clusters" -> ((s: SparkSession, dir: String) =>
      neardupClusters(rd(s, dir, "documents"), portable = false)),
    "x_curation_neardup" -> ((s: SparkSession, dir: String) =>
      curationNeardupPipeline(s, dir, portable = false)))
}
