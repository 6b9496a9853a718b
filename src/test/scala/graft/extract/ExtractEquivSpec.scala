package graft.extract

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.JUnitSafe.same
import MetaExtract.{Meta, MetaIndex, extractJsonLd, extractOpenGraph, mapArticle,
  mapDefault, mapEvent, mapProduct, mapRecipe, publishedFrom}
import SpanFlatten.{Flattened, RawCapUnits}

/** Equivalence of the extract layer's shared rules — one E9 summary
  * ([[ChunkHtml.summaryOf]]), one HTML title ([[MetaExtract.MetaIndex.htmlTitle]])
  * and one fill-blanks merge — against the bodies they replaced. The
  * [[Legacy]] members below are verbatim copies of the replaced code;
  * the E9 and E10 checks restate ChunkHtml's former inline loops. */
class ExtractEquivSpec extends AnyFunSuite {

  private object Legacy {
    /** `@type` as list of strings (str-or-list in source) — chunker.py:401-402. */
    private def typesOf(c: JObj): Vector[String] = c("@type") match {
      case JArr(xs) => xs.collect { case JStr(s) => s }
      case JStr(s) => Vector(s)
      case _ => Vector.empty
    }

    /** `_TYPE_MAP` — chunker.py:351-359. */
    private val typeMap: Map[String, JObj => Meta] = Map(
      "Recipe" -> mapRecipe, "Article" -> mapArticle, "NewsArticle" -> mapArticle,
      "BlogPosting" -> mapArticle, "Product" -> mapProduct, "Event" -> mapEvent,
      "WebPage" -> mapDefault)

    def extractHtmlMeta(idx: MetaIndex): Meta = {
      var title: JVal = JNull
      if (idx.titleEl != null) title = JStr(TextUtil.cleanText(idx.titleEl.getText))
      if (idx.h1El != null) title = JStr(TextUtil.cleanText(idx.h1El.getText))

      val description = idx.name("description")
      val author = idx.name("author")
      val published = publishedFrom(idx)
      val keywords = idx.name("keywords") match {
        case JStr(s) => s.split(",", -1).toVector.map(TextUtil.stripPy).filter(_.nonEmpty)
        case _ => Vector.empty
      }
      Meta(title, description, author, published, JNull, keywords, JNull,
        JStr("page"), JNull, Vector.empty)
    }

    def extractMetadata(html: String, idx: MetaIndex): Meta = {
      extractJsonLd(html) match {
        case Some(ld) =>
          val meta = typesOf(ld).collectFirst {
            case t if typeMap.contains(t) => typeMap(t)(ld)
          }.getOrElse(mapDefault(ld))
          // fill blanks from OpenGraph — chunker.py:558-562
          extractOpenGraph(idx) match {
            case Some(og) =>
              var m = meta
              if (!m.title.truthy && og.title.truthy) m = m.copy(title = og.title)
              if (!m.description.truthy && og.description.truthy) m = m.copy(description = og.description)
              if (!m.author.truthy && og.author.truthy) m = m.copy(author = og.author)
              if (!m.published.truthy && og.published.truthy) m = m.copy(published = og.published)
              if (!m.image.truthy && og.image.truthy) m = m.copy(image = og.image)
              m
            case None => meta
          }
        case None =>
          extractOpenGraph(idx) match {
            case Some(og) =>
              val hm = extractHtmlMeta(idx)
              var m = og
              if (!m.title.truthy && hm.title.truthy) m = m.copy(title = hm.title)
              if (!m.description.truthy && hm.description.truthy) m = m.copy(description = hm.description)
              if (!m.author.truthy && hm.author.truthy) m = m.copy(author = hm.author)
              if (!m.published.truthy && hm.published.truthy) m = m.copy(published = hm.published)
              m
            case None => extractHtmlMeta(idx)
          }
      }
    }
    private val paraSplit = java.util.regex.Pattern.compile("\\n{2,}")

    def flatten(text: String): Flattened = {
      val capped =
        if (text.length <= RawCapUnits) text else text.substring(0, RawCapUnits)
      val cleaned = AdapterChunker.cleanHtml(capped)
      val segments = paraSplit.split(cleaned, -1)
      val rawSpans = segments.iterator.map(TextUtil.stripPy).filter(_.nonEmpty).toVector
      val chunks = rawSpans.flatMap(s => ChunkHtml.splitLongText(s, "span"))
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = chunks.iterator
      var break = false
      while (it.hasNext && !break) {
        parts += it.next().text
        if (TextUtil.cpLength(parts.mkString(" ")) > 300) break = true
      }
      val summary = if (parts.nonEmpty) ChunkHtml.cpTake(parts.mkString(" "), 500) else ""
      Flattened(chunks, summary, rawSpans.length, segments.length - rawSpans.length)
    }

    /** ChunkHtml's former E9 loop over a page's chunks, with its fallback. */
    def summary(chunks: Vector[ChunkHtml.Chunk], fallback: String): String = {
      val summaryParts = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = chunks.iterator
      var break = false
      while (it.hasNext && !break) {
        val c = it.next()
        if (c.chunkType == "paragraph") {
          summaryParts += c.text
          if (TextUtil.cpLength(summaryParts.mkString(" ")) > 300) break = true
        }
      }
      if (summaryParts.nonEmpty) ChunkHtml.cpTake(summaryParts.mkString(" "), 500)
      else fallback
    }

    /** ChunkHtml's former E10 title over the pre-strip index. */
    def title(richMeta: Meta, idx: MetaIndex): String = {
      var title = if (richMeta.title.truthy) richMeta.title.pyStr else ""
      if (title.isEmpty) {
        if (idx.titleEl != null) title = TextUtil.cleanText(idx.titleEl.getText)
        if (idx.h1El != null) title = TextUtil.cleanText(idx.h1El.getText)
      }
      title
    }
  }

  private def pick[A](r: Random, xs: A*): A = xs(r.nextInt(xs.length))

  /** A page mixing JSON-LD, OpenGraph/Twitter and HTML meta with blank,
    * falsy and set values, and `<title>`/`<h1>` in every combination —
    * including an `<h1>` inside `<nav>`, which the boilerplate strip
    * removes after the title is read. */
  private def metaPage(r: Random): String = {
    def maybe(s: => String) = if (r.nextBoolean()) s else ""
    val ld = maybe {
      val fields = Seq("name", "headline", "description", "author", "datePublished",
        "dateModified", "image", "keywords").filter(_ => r.nextBoolean()).map {
        case "author" => "\"author\": " + pick(r, "\"\"", "{\"name\": \"Ann\"}", "\"Bob\"", "[]")
        case "image" => "\"image\": " + pick(r, "\"\"", "[\"i1.png\", \"i2.png\"]", "\"img.png\"")
        case f => s"\"$f\": \"" + pick(r, "", "0", "x " + f) + "\""
      }
      val tpe = pick(r, "Recipe", "Article", "NewsArticle", "Product", "Event", "WebPage", "Thing")
      s"""<script type="application/ld+json">{"@type": "$tpe"${fields.map(", " + _).mkString}}</script>"""
    }
    val metas = Seq("property=\"og:title\"", "property=\"og:description\"",
      "property=\"og:image\"", "property=\"og:type\"", "name=\"twitter:title\"",
      "name=\"twitter:description\"", "name=\"twitter:image\"",
      "property=\"article:author\"", "property=\"article:published_time\"",
      "property=\"article:tag\"", "name=\"description\"", "name=\"author\"",
      "name=\"keywords\"", "name=\"date\"")
      .filter(_ => r.nextInt(3) == 0)
      .map(a => s"""<meta $a content="${pick(r, "", "0", "c " + a.length, "a, b ,, c")}">""")
    val title = maybe(s"<title>${pick(r, "", " T  one ", "Title\ttwo")}</title>")
    val h1 = maybe(s"<h1>${pick(r, "", "H1 <b>bold</b>  text", "\n head \n")}</h1>")
    val navH1 = maybe("<nav><h1>Navigation heading</h1></nav>")
    val time = maybe(s"""<time datetime="2024-0${1 + r.nextInt(9)}-01">t</time>""")
    val paras = Seq.fill(r.nextInt(4))(
      s"<p>Body paragraph ${r.nextInt(99)} ${"long enough to chunk " * r.nextInt(30)}</p>")
    s"<html><head>$ld${metas.mkString}$title</head><body>$navH1$h1$time${paras.mkString}</body></html>"
  }

  /** Pieces for raw payloads: paragraph breaks, tags and entities the
    * clean rewrites, and astral, lone-surrogate and combining text whose
    * code-point and unit lengths differ. */
  private val pieces = Vector("\n\n", "\n", "\n\n\n", " ", "\t", "<p>", "</p>", "<b>",
    "&amp;", "&nbsp;", "word ", "Sentence ends. ", "Why? ", "😀", "😀😀 ", "\uD83D", "\uDE00",
    "e\u0301", "0", "x" * 40, "y " * 60, "0123456789" * 9)

  private def rawPayload(r: Random): String =
    Seq.fill(r.nextInt(120))(pieces(r.nextInt(pieces.length))).mkString

  /** `prefix`, padded so that the 50,000-unit cap cuts inside a
    * surrogate pair, then more text. */
  private def cutInPair(prefix: String): String = {
    val fill = "<i>" * ((RawCapUnits - 1 - prefix.length) / 3)
    prefix + fill + "a" * (RawCapUnits - 1 - prefix.length - fill.length) +
      "😀 tail\n\nmore"
  }

  private val transcriptPayloads: Vector[String] =
    (for (k <- 0 until 10; c <- 0L until 3L; t <- 0 until 3)
      yield graft.job.Transcripts.payload(k, c, t)).toVector

  private val pages: Vector[String] = {
    val r = new Random(1414L)
    // ChunkHtmlSpec's E9 pages: the description and title fallbacks and
    // the 300/500 cut
    val e9 = Vector(
      """<html><head><meta name="description" content="Fallback description."/>
        |<title>Fallback Title Here</title></head>
        |<body><h2>Only a heading with enough length</h2></body></html>""".stripMargin,
      "<html><head><title>Only Title Here For Fallback</title></head>" +
        "<body><h2>Only a heading with enough length</h2></body></html>",
      Seq("Alpha ", "Beta ", "Gamma ").map(w => s"<p>${(w * 40).trim}</p>")
        .mkString("<html><body>", "", "</body></html>"))
    Fixtures.all.values.toVector ++ e9 ++ transcriptPayloads ++ Vector.fill(1500)(metaPage(r))
  }

  private val rawPayloads: Vector[String] = {
    val r = new Random(2828L)
    val cuts = Vector("", "short first span\n\n", "p" * 299 + "\n\n", "😀" * 150 + "\n\n",
      "e\u0301 " * 200 + "\n\n") ++ Vector.fill(20)(rawPayload(r).take(3000))
    transcriptPayloads ++ pages.take(40) ++ cuts.map(cutInPair) ++
      Vector("x" * 49999 + "😀", "😀" * 30000) ++ Vector.fill(3000)(rawPayload(r))
  }

  test("the raw corpus cuts inside a surrogate pair at the cap") {
    assert(rawPayloads.count(t => t.length > RawCapUnits &&
      Character.isHighSurrogate(t.charAt(RawCapUnits - 1))) >= 25)
  }

  test("SpanFlatten.flatten equals its own-loop form") {
    for (t <- rawPayloads) same(SpanFlatten.flatten(t), Legacy.flatten(t), t)
  }

  test("extractMetadata equals the two hand-written fill-blanks merges") {
    for (html <- pages) {
      val got = MetaExtract.extractMetadata(html, new MetaIndex(HtmlDom.parse(html)))
      same(got, Legacy.extractMetadata(html, new MetaIndex(HtmlDom.parse(html))), html)
    }
  }

  test("ChunkHtml title and summary equal the inline E10 and E9 rules") {
    for (html <- pages ++ rawPayloads.take(400)) {
      val page = ChunkHtml("https://t.example/x", html)
      val idx = new MetaIndex(HtmlDom.parse(html))
      val rich = MetaExtract.extractMetadata(html, idx)
      val title = Legacy.title(rich, idx)
      same(page.title, title, html)
      val fallback = if (rich.description.truthy) rich.description.pyStr else title
      same(page.summary, Legacy.summary(page.chunks, fallback), html)
    }
  }
}
