package graft.extract

import java.util.regex.Pattern
import graft.extract.HtmlDom.HElem

/** Structured-metadata extraction: JSON-LD → OpenGraph → HTML fallback.
  *
  * Faithful re-expression of `/root/reference/sidecar/chunker.py:531-576`
  * (`extract_metadata`) and its helpers (`:140-524`). Values are kept as
  * [[JVal]] internally so Python truthiness / isinstance dispatch translate
  * exactly; the Spark row schema stringifies at the edge.
  */
object MetaExtract {

  /** The reference's metadata dict. `extra` preserves insertion order
    * (Python dict semantics) — `/root/reference/sidecar/chunker.py:539-542`. */
  final case class Meta(
      title: JVal,
      description: JVal,
      author: JVal,
      published: JVal,
      modified: JVal,
      keywords: Vector[String],
      image: JVal,
      metaType: JVal,
      schemaType: JVal,
      extra: Vector[(String, JVal)]) {
    def extraGet(k: String): JVal =
      extra.collectFirst { case (key, v) if key == k => v }.getOrElse(JNull)
  }

  // -------------------------------------------------------------------
  // M1: JSON-LD block scan over RAW html — `_JSONLD_RE`, chunker.py:57-60
  // -------------------------------------------------------------------
  private val jsonLdRe: Pattern = Pattern.compile(
    "<script[^>]*type\\s*=\\s*['\"]application/ld\\+json['\"][^>]*>(.*?)</script>",
    Pattern.DOTALL | Pattern.CASE_INSENSITIVE)

  /** Priority pick — `_extract_jsonld`, chunker.py:366-407. */
  def extractJsonLd(html: String): Option[JObj] = {
    // fast path: the DOTALL regex scan is the costliest part of metadata
    // extraction; most payloads have no JSON-LD block at all
    if (!hasLdJsonMarker(html)) return None
    val m = jsonLdRe.matcher(html)
    val candidates = Vector.newBuilder[JObj]
    while (m.find()) {
      JsonLite.parse(TextUtil.stripPy(m.group(1))).foreach {
        case o: JObj if o.m.contains("@graph") =>          // M2: @graph flatten
          o("@graph") match {
            case JArr(xs) => xs.foreach { case io: JObj => candidates += io; case _ => () }
            case _ => ()
          }
        case JArr(xs) => xs.foreach { case io: JObj => candidates += io; case _ => () }
        case o: JObj => candidates += o
        case _ => ()
      }
    }
    val cs = candidates.result()
    if (cs.isEmpty) None
    else {
      // M3: type priority Recipe > Article > NewsArticle > BlogPosting > Product > Event
      val priority = Vector("Recipe", "Article", "NewsArticle", "BlogPosting", "Product", "Event")
      priority.iterator
        .flatMap(p => cs.find(c => typesOf(c).contains(p)))
        .nextOption()
        .orElse(Some(cs.head))
    }
  }

  /** Case-insensitive "does the page mention ld+json at all" pre-check.
    * Scans for the rare '+' and case-compares around it — one branch per
    * character instead of a `regionMatches` call per position (the naive
    * scan was ~20 µs/page on the extraction hot path, for pages that
    * almost never contain the marker). */
  private def hasLdJsonMarker(s: String): Boolean = {
    var i = 2 // '+' sits at offset 2 of "ld+json"
    val last = s.length - 5 // "json" must fit after the '+'
    while (i <= last) {
      if (s.charAt(i) == '+' && s.regionMatches(true, i - 2, "ld+json", 0, 7))
        return true
      i += 1
    }
    false
  }

  /** `@type` as list of strings (str-or-list in source) — chunker.py:401-402. */
  private def typesOf(c: JObj): Vector[String] = c("@type") match {
    case JArr(xs) => xs.collect { case JStr(s) => s }
    case JStr(s) => Vector(s)
    case _ => Vector.empty
  }

  // -------------------------------------------------------------------
  // M9: author normalization — `_extract_author`, chunker.py:140-151
  // -------------------------------------------------------------------
  def extractAuthor(v: JVal): JVal = v match {
    case x if !x.truthy => JNull
    case s: JStr => s
    case o: JObj =>
      val n = o("name"); val id = o("@id")
      if (n.truthy) n else if (id.truthy) id else JNull
    case JArr(xs) =>
      val names = xs.map(extractAuthor).collect { case j if j.truthy => j.pyStr }
      if (names.nonEmpty) JStr(names.mkString(", ")) else JNull
    case _ => JNull
  }

  // -------------------------------------------------------------------
  // M10: keywords — `_extract_keywords`, chunker.py:188-195
  // -------------------------------------------------------------------
  def extractKeywords(v: JVal): Vector[String] = v match {
    case x if !x.truthy => Vector.empty
    case JArr(xs) => xs.map(k => TextUtil.stripPy(k.pyStr)).filter(_.nonEmpty)
    case JStr(s) => s.split(",", -1).toVector.map(TextUtil.stripPy).filter(_.nonEmpty)
    case _ => Vector.empty
  }

  /** M11: image pick — list → first element, else scalar (chunker.py:236). */
  private def pickImage(v: JVal): JVal = v match {
    case JArr(xs) => xs.headOption.getOrElse(JNull)
    case other => other
  }

  // -------------------------------------------------------------------
  // M4 helper: `_flatten_instructions`, chunker.py:158-185
  // -------------------------------------------------------------------
  def flattenInstructions(v: JVal): Vector[String] = {
    if (!v.truthy) return Vector.empty
    v match {
      case JStr(s) => Vector(s)
      case _ =>
        val items = v match { case JArr(xs) => xs; case other => Vector(other) }
        items.flatMap {
          case JStr(s) => Vector(s)
          case item: JObj =>
            item("@type") match {
              case JStr("HowToSection") =>
                val name = item("name")
                val hdr = if (name.truthy) Vector(s"## ${name.pyStr}") else Vector.empty
                hdr ++ flattenInstructions(item("itemListElement"))
              case _ => // HowToStep and any other dict: take `text` if truthy
                val t = item("text")
                if (t.truthy) Vector(t.pyStr) else Vector.empty
            }
          case _ => Vector.empty
        }
    }
  }

  // -------------------------------------------------------------------
  // Per-@type mappers — chunker.py:199-347
  // -------------------------------------------------------------------

  /** `_map_recipe` — chunker.py:199-240. */
  def mapRecipe(ld: JObj): Meta = {
    val extra = Vector.newBuilder[(String, JVal)]
    if (ld("recipeIngredient").truthy) extra += "ingredients" -> ld("recipeIngredient")
    val instructions = flattenInstructions(ld("recipeInstructions"))
    if (instructions.nonEmpty)
      extra += "instructions" -> JArr(instructions.map(JStr.apply))
    for (tf <- Seq("prepTime", "cookTime", "totalTime"); v = ld(tf) if v.truthy)
      extra += tf -> JStr(TextUtil.parseIsoDuration(v.pyStr))
    var ratingCountSet = false
    ld("aggregateRating") match {
      case agg: JObj =>
        if (agg("ratingValue").truthy) extra += "rating" -> agg("ratingValue")
        if (agg("ratingCount").truthy) { extra += "rating_count" -> agg("ratingCount"); ratingCountSet = true }
        if (agg("reviewCount").truthy && !ratingCountSet)
          extra += "rating_count" -> agg("reviewCount")
      case _ => ()
    }
    if (ld("recipeCategory").truthy) extra += "category" -> ld("recipeCategory")
    if (ld("recipeYield").truthy) extra += "yield" -> ld("recipeYield")
    if (ld("recipeSubCategories").truthy) extra += "sub_categories" -> ld("recipeSubCategories")
    Meta(
      title = ld("name"), description = ld("description"),
      author = extractAuthor(ld("author")),
      published = ld("datePublished"), modified = ld("dateModified"),
      keywords = extractKeywords(ld("keywords")), image = pickImage(ld("image")),
      metaType = JStr("recipe"), schemaType = ld("@type"), extra = extra.result())
  }

  /** `_map_article` — chunker.py:243-256. */
  def mapArticle(ld: JObj): Meta = Meta(
    title = if (ld("headline").truthy) ld("headline") else ld("name"),
    description = ld("description"),
    author = extractAuthor(ld("author")),
    published = ld("datePublished"), modified = ld("dateModified"),
    keywords = extractKeywords(ld("keywords")), image = pickImage(ld("image")),
    metaType = JStr("article"), schemaType = ld("@type"),
    extra = if (ld("articleSection").truthy)
      Vector("articleSection" -> ld("articleSection")) else Vector.empty)

  /** `_map_product` — chunker.py:259-304. */
  def mapProduct(ld: JObj): Meta = {
    val extra = Vector.newBuilder[(String, JVal)]
    ld("brand") match {
      case b: JObj => extra += "brand" -> b("name") // may be JNull, matching Python None
      case JStr(s) => extra += "brand" -> JStr(s)
      case _ => ()
    }
    def offerFields(o: JObj): Unit = {
      if (o("price").truthy) extra += "price" -> o("price")
      if (o("priceCurrency").truthy) extra += "currency" -> o("priceCurrency")
      if (o("availability").truthy) extra += "availability" -> o("availability")
    }
    ld("offers") match {
      case o: JObj => offerFields(o)
      case JArr(xs) if xs.nonEmpty =>
        xs.head match { case o: JObj => offerFields(o); case _ => () }
      case _ => ()
    }
    ld("aggregateRating") match {
      case agg: JObj =>
        if (agg("ratingValue").truthy) extra += "rating" -> agg("ratingValue")
        if (agg("ratingCount").truthy) extra += "rating_count" -> agg("ratingCount")
      case _ => ()
    }
    Meta(
      title = ld("name"), description = ld("description"),
      author = JNull, published = JNull, modified = JNull,
      keywords = extractKeywords(ld("keywords")), image = pickImage(ld("image")),
      metaType = JStr("product"), schemaType = ld("@type"), extra = extra.result())
  }

  /** `_map_event` — chunker.py:307-331. */
  def mapEvent(ld: JObj): Meta = {
    val extra = Vector.newBuilder[(String, JVal)]
    ld("location") match {
      case l: JObj => extra += "location" -> l("name")
      case JStr(s) => extra += "location" -> JStr(s)
      case _ => ()
    }
    if (ld("startDate").truthy) extra += "startDate" -> ld("startDate")
    if (ld("endDate").truthy) extra += "endDate" -> ld("endDate")
    Meta(
      title = ld("name"), description = ld("description"),
      author = JNull, published = JNull, modified = JNull,
      keywords = extractKeywords(ld("keywords")), image = pickImage(ld("image")),
      metaType = JStr("event"), schemaType = ld("@type"), extra = extra.result())
  }

  /** `_map_default` — chunker.py:334-347. */
  def mapDefault(ld: JObj): Meta = Meta(
    title = if (ld("name").truthy) ld("name") else ld("headline"),
    description = ld("description"),
    author = extractAuthor(ld("author")),
    published = ld("datePublished"), modified = ld("dateModified"),
    keywords = extractKeywords(ld("keywords")), image = pickImage(ld("image")),
    metaType = JStr("page"), schemaType = ld("@type"), extra = Vector.empty)

  /** `_TYPE_MAP` — chunker.py:351-359. */
  private val typeMap: Map[String, JObj => Meta] = Map(
    "Recipe" -> mapRecipe, "Article" -> mapArticle, "NewsArticle" -> mapArticle,
    "BlogPosting" -> mapArticle, "Product" -> mapProduct, "Event" -> mapEvent,
    "WebPage" -> mapDefault)

  // -------------------------------------------------------------------
  // One-pass DOM index: the reference re-scans the soup for every meta
  // lookup (`soup.find("meta", ...)` ×15 per page); at 10^12 turns those
  // scans dominate, so we collect all first-occurrence meta/title/h1/time
  // elements in a single traversal with identical first-match semantics.
  // -------------------------------------------------------------------
  final class MetaIndex(val doc: HElem) {
    import scala.collection.mutable
    /** first meta element's content attr per property/name value
      * (None = attribute missing on that FIRST element — later metas with
      * the same property are never consulted, matching bs4 `find`). */
    val byProperty = mutable.HashMap.empty[String, Option[String]]
    val byName = mutable.HashMap.empty[String, Option[String]]
    val articleTags = Vector.newBuilder[String]
    var titleEl: HElem = _
    var h1El: HElem = _
    var timeDatetime: String = _
    var htmlLang: String = _

    private def scan(e: HElem): Unit = {
      e.name match {
        case "meta" =>
          val content = e.attr("content")
          e.attr("property").foreach { p =>
            if (!byProperty.contains(p)) byProperty(p) = content
            if (p == "article:tag") content.filter(_.nonEmpty).foreach(articleTags += _)
          }
          e.attr("name").foreach { n => if (!byName.contains(n)) byName(n) = content }
        case "title" => if (titleEl == null) titleEl = e
        case "h1" => if (h1El == null) h1El = e
        case "time" =>
          if (timeDatetime == null) e.attr("datetime").foreach(timeDatetime = _)
        case "html" => if (htmlLang == null) htmlLang = e.attr("lang").getOrElse("")
        case _ => ()
      }
      if (e.hasChildren) e.children.foreach { case c: HElem => scan(c); case _ => () }
    }
    scan(doc)

    def property(v: String): JVal =
      byProperty.get(v).flatten.filter(_.nonEmpty).map(JStr.apply).getOrElse(JNull)
    def name(v: String): JVal =
      byName.get(v).flatten.filter(_.nonEmpty).map(JStr.apply).getOrElse(JNull)
    /** The cleaned text of the first `<h1>`, else of `<title>` —
      * `_extract_html_meta` and chunk_html's E10 (chunker.py:637-644). A
      * def, not a field: stripping boilerplate can change an `<h1>`'s text. */
    def htmlTitle: Option[String] =
      Option(if (h1El != null) h1El else titleEl).map(e => TextUtil.cleanText(e.getText))
  }

  // -------------------------------------------------------------------
  // M13: OpenGraph / Twitter — `_extract_opengraph`, chunker.py:414-468
  // -------------------------------------------------------------------

  /** Returns None when no og title/description/image (reference returns {}). */
  def extractOpenGraph(idx: MetaIndex): Option[Meta] = {
    def og(p: String): JVal = idx.property(s"og:$p")
    def tw(n: String): JVal = idx.name(s"twitter:$n")
    def or(a: JVal, b: => JVal): JVal = if (a.truthy) a else b

    val title = or(og("title"), tw("title"))
    val description = or(og("description"), tw("description"))
    val image = or(og("image"), tw("image"))
    val ogType = og("type")
    val author = idx.property("article:author")
    val published = idx.property("article:published_time")
    val modified = idx.property("article:modified_time")
    val keywords = idx.articleTags.result()

    if (!title.truthy && !description.truthy && !image.truthy) None
    else Some(Meta(title, description, author, published, modified, keywords,
      image, if (ogType.truthy) ogType else JStr("page"), JNull, Vector.empty))
  }

  // -------------------------------------------------------------------
  // M14: HTML fallback — `_extract_html_meta`, chunker.py:475-524
  // -------------------------------------------------------------------
  def extractHtmlMeta(idx: MetaIndex): Meta = {
    val title = idx.htmlTitle.map(JStr.apply).getOrElse(JNull)
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

  /** published-date resolution shared by `_extract_html_meta` (:509-517) and
    * `_extract_meta` (:599-609): meta property|name in
    * (article:published_time, datePublished, date), then `<time datetime>`.
    * bs4 `find` semantics: the FIRST element with the attribute is
    * consulted even if its content is empty. */
  def publishedFrom(idx: MetaIndex): JVal = {
    val fromMeta = Seq("article:published_time", "datePublished", "date").iterator
      .map { attr =>
        idx.byProperty.get(attr).orElse(idx.byName.get(attr))
          .flatMap(identity).filter(_.nonEmpty)
      }
      .collectFirst { case Some(v) => JStr(v) }
    fromMeta.getOrElse {
      if (idx.timeDatetime != null) JStr(idx.timeDatetime) else JNull
    }
  }

  // -------------------------------------------------------------------
  // Unified precedence merge — `extract_metadata`, chunker.py:531-576
  // -------------------------------------------------------------------
  def extractMetadata(html: String, doc: HElem): Meta =
    extractMetadata(html, new MetaIndex(doc))

  /** `m` with its blank title, description, author, published and image
    * taken from `from` where those are set: OpenGraph fills JSON-LD, and
    * the HTML fallback (whose image is always blank) fills OpenGraph. */
  private def fillBlanks(m: Meta, from: Meta): Meta = {
    def or(a: JVal, b: JVal) = if (!a.truthy && b.truthy) b else a
    m.copy(title = or(m.title, from.title),
      description = or(m.description, from.description),
      author = or(m.author, from.author), published = or(m.published, from.published),
      image = or(m.image, from.image))
  }

  def extractMetadata(html: String, idx: MetaIndex): Meta = {
    extractJsonLd(html) match {
      case Some(ld) =>
        val meta = typesOf(ld).collectFirst {
          case t if typeMap.contains(t) => typeMap(t)(ld)
        }.getOrElse(mapDefault(ld))
        // fill blanks from OpenGraph — chunker.py:558-562
        extractOpenGraph(idx).fold(meta)(fillBlanks(meta, _))
      case None =>
        val hm = extractHtmlMeta(idx)
        extractOpenGraph(idx).fold(hm)(fillBlanks(_, hm))
    }
  }
}
