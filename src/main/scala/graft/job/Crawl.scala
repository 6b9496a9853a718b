package graft.job

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1: the crawl's BFS frontier semantics as a distributed operator over a
  * pre-fetched LINKS table — `/root/reference/sidecar/crawler.py:128-205`:
  * seeds (sitemap + root) enter the visited set at enqueue time, the queue
  * drains FIFO, every newly-discovered same-origin link is enqueued once,
  * and the walk stops at `max_pages`. The network fetch is out of scope
  * (north rule: the input table replaces crawling); given the reference's
  * link structure as (src, dst) rows, this reproduces which pages the
  * crawl REACHES and at which BFS level.
  *
  * Shape: level-synchronous BFS — per level one hash join (links ⋈
  * frontier) + one anti-join against visited, both on url; each level's
  * result is localCheckpoint'ed so the iterative plan/lineage stays flat
  * (the classic iterative-Spark failure mode is a plan that doubles per
  * iteration). The per-level driver count() both materializes the lazy
  * checkpoint and drives the loop's emptiness check — one job per level,
  * never a data collect.
  *
  * The reference's `max_pages` cap cuts in FIFO discovery order; a
  * distributed BFS has no global FIFO, so [[capPages]] cuts by
  * (depth, url) — identical set whenever the cap lands on a level
  * boundary, documented delta otherwise (the reference itself is
  * nondeterministic there: its order depends on intra-page link order).
  *
  * robots.txt composition: the reference gates at DEQUEUE time, so a
  * disallowed page is never fetched and contributes no links — reproduce
  * that by pre-filtering the links table on the SOURCE side:
  * `links.filter(rules.allowedColumn(agent, col("src")))`; disallowed
  * pages then still appear as discovered leaves, exactly like the
  * reference's visited set.
  */
object Crawl {

  /** BFS over `links(src, dst)` from the distributed seed set `seeds`
    * (one `url` column), up to `maxDepth` levels. Returns (url, depth)
    * with depth = first-discovery level (the min BFS distance). Seeds
    * stay distributed: a large site's sitemap tree can carry millions of
    * seed urls, which must never round-trip through a driver Seq.
    *
    * Visited-set hygiene: only each level's DELTA is materialized
    * (localCheckpoint of the newly-discovered urls); the visited set used
    * by the anti-join is a lazy union over the per-level delta frames, and
    * the full result is unioned once at exit. Re-checkpointing the whole
    * visited set every level would write O(depth·V) rows of storage for a
    * set the deltas already hold exactly once — at 10^9 urls and depth 20
    * that is 20 rewrites of the corpus for zero information. The anti-join
    * still READS all prior deltas per level (inherent: a web digraph can
    * rediscover any earlier page), but each is an already-materialized
    * in-memory RDD scan, and the union plan is flat (one LogicalRDD child
    * per level, not a lineage chain). */
  def bfs(links: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    // materialize the edge table once: every level joins against it, and
    // without this an expensive upstream plan (scans, aggregates, unions)
    // would re-execute per level. (A repartition-by-src before the
    // checkpoint was tried in r07 and reverted: under AQE the
    // checkpointed LogicalRDD reports UnknownPartitioning — see
    // plans/r07/inner_bfs_level_inner.txt — so the extra shuffle bought
    // nothing; the per-level join instead avoids re-shuffling the edge
    // table because AQE broadcasts the delta-sized frontier side.)
    // lazy: materializes inside the first level's counting job
    val edges = links.select(col("src"), col("dst")).localCheckpoint(false)
    // LAZY localCheckpoint + count() per level: the count materializes
    // the checkpoint, so a level costs ONE job instead of an eager
    // checkpoint job plus a separate isEmpty probe
    val level0 = seeds.select(col("url")).distinct()
      .select(col("url"), lit(0).as("depth"))
      .localCheckpoint(false)
    val levels = scala.collection.mutable.ArrayBuffer(level0)
    var frontier = level0
    var frontierCount = level0.count()
    var depth = 0
    while (depth < maxDepth && frontierCount > 0) {
      depth += 1
      val visitedUrls = levels.map(_.select("url")).reduce(_ unionByName _)
      val next = edges.join(frontier.select(col("url").as("src")), "src")
        .select(col("dst").as("url"))
        .distinct()
        .join(visitedUrls, Seq("url"), "left_anti")
        .select(col("url"), lit(depth).as("depth"))
        .localCheckpoint(false)
      frontierCount = next.count()
      levels += next
      frontier = next
    }
    levels.reduce(_ unionByName _)
  }

  /** The `max_pages` cut over a bfs result: keep the first `maxPages` by
    * (depth, url) — top-k (TakeOrderedAndProject), never a global window. */
  def capPages(bfsOut: DataFrame, maxPages: Int): DataFrame =
    bfsOut.orderBy(col("depth"), col("url")).limit(maxPages)

  /** Index recursion depth of [[sitemapSeeds]]: sitemaps up to
    * `MaxIndexDepth - 1` index hops below the root are read. */
  val MaxIndexDepth = 5

  /** `_fetch_sitemap` recursion (crawler.py:62-81): starting from the
    * root sitemap url, sitemap-INDEX entries recurse into their child
    * sitemaps and url entries accumulate as crawl seeds — over a
    * pre-fetched `sitemaps(url, xml)` table (north rule: the input table
    * replaces the network fetch). The recursion is a [[bfs]] over the
    * index edges (sitemap url → child sitemap loc) from the root, to depth
    * `MaxIndexDepth - 1`; the result is the url entries of every sitemap
    * it reaches. Each document is parsed once, distributed, via
    * [[graft.extract.Sitemap.locs]] — a single sitemap's locs never
    * funnel through the driver. An unknown child sitemap url (absent from
    * the table) contributes nothing, like the reference's swallowed fetch
    * failure (crawler.py:78-80); index cycles are cut by the bfs visited
    * set (the reference would loop — fetch depth caps at
    * [[MaxIndexDepth]]). Returns the distinct seed urls (one `url`
    * column), ready for [[bfs]] after the caller adds the root page
    * (crawler.py:151-162: sitemap seeds first, root always included). */
  def sitemapSeeds(sitemaps: DataFrame, rootSitemap: String): DataFrame = {
    val spark = sitemaps.sparkSession
    import spark.implicits._
    // lazy: materializes inside the walk's first level job, so the parse
    // runs once per row and both the walk and the url pick read it
    val entries = sitemaps
      .select(col("url").as("sm_url"),
        explode(graft.extract.Sitemap.locs(col("xml"))).as("e"))
      .select(col("sm_url"), col("e._1").as("kind"), col("e._2").as("loc"))
      .localCheckpoint(false)
    val index = entries.filter(col("kind") === "sitemap")
      .select(col("sm_url").as("src"), col("loc").as("dst"))
    val reached = bfs(index, Seq(rootSitemap).toDF("url"), MaxIndexDepth - 1)
      .select(col("url").as("sm_url"))
    entries.filter(col("kind") === "url")
      .join(reached, Seq("sm_url"), "left_semi")
      .select(col("loc").as("url"))
      .distinct()
  }
}
