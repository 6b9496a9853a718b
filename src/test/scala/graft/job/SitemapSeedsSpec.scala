package graft.job

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Crawl.sitemapSeeds]] (a [[Crawl.bfs]] walk over sitemap-index edges)
  * against the driver level loop it replaced, over seeded random sitemap
  * tables. */
class SitemapSeedsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("sitemap-seeds-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The level loop `sitemapSeeds` ran before it became a bfs walk: per
    * level, parse the frontier's sitemap rows, collect their url entries,
    * and anti-join their sitemap entries against every sitemap seen. */
  private def levelLoopSeeds(sitemaps: DataFrame, rootSitemap: String,
      levels: Int = 5): DataFrame = {
    val s = sitemaps.sparkSession
    import s.implicits._
    val sm = sitemaps.select(col("url"), col("xml")).localCheckpoint(false)
    var frontier = Seq(rootSitemap).toDF("sm_url").localCheckpoint(true)
    var frontierCount = 1L
    val seenLevels = scala.collection.mutable.ArrayBuffer(frontier)
    val entryLevels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var seeds: Option[DataFrame] = None
    var d = 0
    while (d < levels && frontierCount > 0) {
      d += 1
      val entries = sm.join(frontier, sm("url") === frontier("sm_url"))
        .select(explode(graft.extract.Sitemap.locs(col("xml"))).as("e"))
        .select(col("e._1").as("kind"), col("e._2").as("loc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      entryLevels += entries
      val pageUrls = entries.filter(col("kind") === "url")
        .select(col("loc").as("url"))
      seeds = Some(seeds.map(_.unionByName(pageUrls)).getOrElse(pageUrls))
      val next = entries.filter(col("kind") === "sitemap")
        .select(col("loc").as("sm_url"))
        .distinct()
        .join(seenLevels.reduce(_ unionByName _), Seq("sm_url"), "left_anti")
        .localCheckpoint(false)
      frontierCount = next.count()
      seenLevels += next
      frontier = next
    }
    val out = seeds.map(_.distinct().localCheckpoint(true))
      .getOrElse(Seq.empty[String].toDF("url"))
    entryLevels.foreach(_.unpersist())
    out
  }

  private val ns = "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\""

  /** A sitemap document; `root` is `sitemapindex` or `urlset`, and either
    * may carry both entry kinds (the reference's findall ignores the root
    * element's name). */
  private def doc(root: String, children: Seq[String], urls: Seq[String]): String =
    s"<?xml version=\"1.0\"?><$root $ns>" +
      children.map(c => s"<sitemap><loc>$c</loc></sitemap>").mkString +
      urls.map(u => s"<url><loc>$u</loc></url>").mkString + s"</$root>"

  /** One random table: pool sitemaps mixing index and urlset rows with
    * self-cycles, back-edges to the root, missing children and duplicate
    * url rows; a NULL xml row; and a 7-deep index chain below the root
    * whose pages show where the depth cut falls. */
  private def randomTable(seed: Long): (Seq[(String, String)], String) = {
    val rnd = new scala.util.Random(seed)
    val base = s"http://s$seed"
    val root = s"$base/root.xml"
    val pool = (0 until 3 + rnd.nextInt(6)).map(i => s"$base/p$i.xml")
    val missing = (0 until 3).map(i => s"$base/missing$i.xml")
    val chain = (1 to 7).map(i => s"$base/chain$i.xml")
    val nullXml = s"$base/null.xml"
    def pages(n: Int) = Seq.fill(n)(s"$base/page${rnd.nextInt(20)}")
    def pick(xs: Seq[String], n: Int) = Seq.fill(n)(xs(rnd.nextInt(xs.size)))
    def poolRow(sm: String) = {
      val children = pick(pool ++ missing :+ root :+ sm :+ nullXml, rnd.nextInt(4))
      val kind = if (rnd.nextBoolean()) "sitemapindex" else "urlset"
      sm -> doc(kind, children, pages(rnd.nextInt(4)))
    }
    val rootRow = root -> doc("sitemapindex",
      Seq(chain.head, missing.head, root) ++ pick(pool, 1 + rnd.nextInt(3)), pages(1))
    val chainRows = chain.zipWithIndex.map { case (c, i) =>
      val next = if (i + 1 < chain.size) Seq(chain(i + 1)) else Nil
      c -> doc("sitemapindex", next ++ Seq(root, c), Seq(s"$base/chain-page${i + 1}"))
    }
    val poolRows = pool.map(poolRow)
    val dupRows = pick(pool, 1 + rnd.nextInt(2)).map(poolRow)
    val rows = rnd.shuffle(Seq(rootRow) ++ chainRows ++ poolRows ++ dupRows ++
      Seq(nullXml -> (null: String)))
    (rows, root)
  }

  test("sitemapSeeds == the level loop over 25 random sitemap tables") {
    val s = spark
    import s.implicits._
    for (seed <- 1L to 25L) {
      val (rows, root) = randomTable(seed)
      val table = rows.toDF("url", "xml")
      val got = Crawl.sitemapSeeds(table, root).as[String].collect()
      val want = levelLoopSeeds(table, root).as[String].collect()
      assert(got.length == got.distinct.length, s"seed $seed: duplicate seeds")
      assert(got.toSet == want.toSet, s"seed $seed")
      // chain sitemaps at index depths 1..4 are read, depth 5 is not
      val chainPages = got.filter(_.contains("/chain-page")).toSet
      assert(chainPages == (1 to 4).map(i => s"http://s$seed/chain-page$i").toSet,
        s"seed $seed")
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
