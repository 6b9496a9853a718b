package graft.extract

import scala.collection.mutable
import graft.extract.HtmlDom.{HElem, HText}
import graft.extract.MetaExtract.Meta

/** The flagship per-row transform: HTML → clean, typed content chunks.
  *
  * Faithful re-expression of `chunk_html`
  * (`/root/reference/sidecar/chunker.py:618-738`) and `_extract_meta`
  * (`:583-611`). One call per turn; allocate-light so it can run millions of
  * times per partition inside `mapPartitions`.
  *
  * Determinism note: the reference defaults `updated` to wall-clock
  * `datetime.now()` (`chunker.py:733`); we require the caller to pass the
  * turn's `ts` instead — never wall-clock — so output is reproducible.
  */
object ChunkHtml {

  final case class Chunk(text: String, chunkType: String)

  /** Extraction result + per-row block metrics (north-rule "blocks
    * kept/dropped"): kept = elements that emitted a chunk; dropped =
    * elements visited in the walk that emitted nothing (short/dup/untyped). */
  final case class Extraction(page: ParsedPage, blocksKept: Int, blocksDropped: Int)

  final case class ParsedPage(
      url: String,
      title: String,
      author: Option[String],
      published: Option[String],
      updated: Option[String],
      language: String,
      summary: String,
      chunks: Vector[Chunk],
      metadata: Meta)

  /** Tags removed entirely — `_STRIP_TAGS`, chunker.py:45. */
  private val stripTags = Set(
    "nav", "header", "footer", "aside", "script", "style", "ins", "iframe", "noscript")

  /** E3: Arc90/Boilerpipe-style noise detection — `_is_noise_element`,
    * chunker.py:69-78. */
  private[extract] def isNoiseElement(e: HElem): Boolean = {
    val classes = e.classList.mkString(" ")
    val id = e.attr("id").getOrElse("")
    val role = e.attr("role").getOrElse("")
    TextUtil.isNoise(classes) || TextUtil.isNoise(id) ||
      role == "navigation" || role == "banner" || role == "complementary"
  }

  /** Python code-point slice `s[:n]`. */
  private[extract] def cpTake(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** E7: `_split_long_text`, chunker.py:86-101. Greedy sentence re-packing,
    * flush when `current && len(current)+len(s)+1 > 1500` (code points). */
  private[extract] def splitLongText(text: String, chunkType: String): Vector[Chunk] = {
    if (TextUtil.cpLength(text) <= TextUtil.MaxChunkLen) return Vector(Chunk(text, chunkType))
    val out = Vector.newBuilder[Chunk]
    // StringBuilder accumulator + incrementally-tracked code-point length:
    // the `current += " " + sentence` / `cpLength(current)` original
    // re-copied and re-scanned the accumulator once per sentence —
    // quadratic in sentences per chunk, ~40% of the extraction hot loop
    // on long-text payloads. Flush condition and join behavior (a joining
    // space is appended even before an empty sentence token) unchanged.
    val current = new java.lang.StringBuilder
    var currentCp = 0
    TextUtil.splitSentences(text).foreach { sentence =>
      val sCp = TextUtil.cpLength(sentence)
      if (current.length > 0 && currentCp + sCp + 1 > TextUtil.MaxChunkLen) {
        out += Chunk(TextUtil.stripPy(current.toString), chunkType)
        current.setLength(0)
        currentCp = 0
      }
      if (current.length > 0) { current.append(' '); currentCp += 1 }
      current.append(sentence)
      currentCp += sCp
    }
    val last = TextUtil.stripPy(current.toString)
    if (last.nonEmpty) out += Chunk(last, chunkType)
    out.result()
  }

  /** E9: join `texts` with " " until the result exceeds 300 code points,
    * then keep its first 500 — chunker.py:719-726; None when `texts` is
    * empty. The joined length is a running sum: the joining space keeps a
    * lone surrogate at a text's edge from pairing with its neighbour's. */
  private[extract] def summaryOf(texts: Iterator[String]): Option[String] = {
    val joined = new java.lang.StringBuilder
    var cp = 0
    var n = 0
    while (texts.hasNext && cp <= 300) {
      val t = texts.next()
      if (n > 0) { joined.append(' '); cp += 1 }
      joined.append(t)
      cp += TextUtil.cpLength(t)
      n += 1
    }
    if (n == 0) None else Some(cpTake(joined.toString, 500))
  }

  /** Legacy metadata (language/author/published) — `_extract_meta`,
    * chunker.py:583-611. Language: `<html lang>` primary(-region), default "en". */
  private[extract] def legacyMeta(idx: MetaExtract.MetaIndex): (String, JVal, JVal) = {
    val language = Option(idx.htmlLang).filter(_.nonEmpty) match {
      case Some(lang) =>
        val parts = lang.split("-", -1)
        if (parts.length >= 2) parts(0) + "-" + parts(1) else parts(0)
      case None => "en"
    }
    val author = idx.name("author")
    val published = MetaExtract.publishedFrom(idx)
    (language, author, published)
  }

  /** Full pipeline. `pageUpdated` replaces the reference's wall-clock default. */
  def apply(url: String, html: String, pageUpdated: Option[String] = None): ParsedPage =
    extract(url, html, pageUpdated).page

  /** [[apply]] plus block-level metrics. */
  def extract(url: String, html: String, pageUpdated: Option[String] = None): Extraction = {
    // E1: parse once; the reference parses twice (extract_metadata + chunk_html)
    // on the same input — one DOM serves both since metadata runs pre-strip.
    val doc = HtmlDom.parse(html)
    val idx = new MetaExtract.MetaIndex(doc) // one pre-strip scan serves all lookups

    val richMeta = MetaExtract.extractMetadata(html, idx)
    val (language, legacyAuthor, legacyPublished) = legacyMeta(idx)

    // E10: title resolution — chunker.py:637-644 (h1 overrides <title>)
    var title = if (richMeta.title.truthy) richMeta.title.pyStr else ""
    if (title.isEmpty) title = idx.htmlTitle.getOrElse("")

    val author = if (richMeta.author.truthy) Some(richMeta.author.pyStr)
      else if (legacyAuthor.truthy) Some(legacyAuthor.pyStr) else None
    val published = if (richMeta.published.truthy) Some(richMeta.published.pyStr)
      else if (legacyPublished.truthy) Some(legacyPublished.pyStr) else None

    // E2/E3: strip boilerplate tags, then noise elements — chunker.py:650-654
    doc.findAll(e => stripTags.contains(e.name)).foreach(_.decompose())
    doc.findAll(isNoiseElement(_)).foreach(_.decompose())

    // E4: main-content root — chunker.py:657-659
    val contentRoot = doc.find("main")
      .orElse(doc.find("article"))
      .orElse(doc.find("body"))
      .getOrElse(doc)

    // E6: descendant walk → typed chunks with in-page dedup — chunker.py:662-700.
    // get_text() of every element is a contiguous span of the root's full
    // text concatenation, so one post-order pass filling (start, end) span
    // fields replaces the naive O(n²) subtree re-walks.
    val fullText = new java.lang.StringBuilder
    def index(e: HElem): Unit = {
      e.spanStart = fullText.length
      if (e.hasChildren) e.children.foreach {
        case t: HText => fullText.append(t.data)
        case c: HElem => index(c)
      }
      e.spanEnd = fullText.length
    }
    index(contentRoot)
    def subtreeText(e: HElem): String = fullText.substring(e.spanStart, e.spanEnd)

    val chunks = mutable.ArrayBuffer.empty[Chunk]
    val seenTexts = mutable.HashSet.empty[String]
    var blocksKept = 0
    var blocksDropped = 0
    // The reference cleans every element's text before the tag dispatch
    // (chunker.py:669-697), but for non-chunkable tags the result is dead:
    // they neither emit nor touch seen_texts. Skipping the computation for
    // them is a pure dead-code elimination — output-identical, and most
    // elements (div/span/a/li/...) take this path.
    def chunkTypeOf(tag: String): String = tag match {
      case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" => "heading"
      case "ul" | "ol" => "list"
      case "pre" | "code" => "code"
      case "blockquote" => "quote"
      case "p" => "paragraph"
      case _ => null // li folded into parent; containers + all others skipped
    }
    def walk(parent: HElem): Unit = if (parent.hasChildren) parent.children.foreach {
      case el: HElem =>
        val chunkType = chunkTypeOf(el.name)
        if (chunkType != null) {
          val before = chunks.length
          val cleaned = TextUtil.cleanText(subtreeText(el))
          if (cleaned.nonEmpty && TextUtil.cpLength(cleaned) >= 20 &&
              !seenTexts.contains(cleaned)) {
            // E6: code keeps original whitespace (chunker.py:681-684)
            val text = if (chunkType == "code") TextUtil.stripPy(subtreeText(el)) else cleaned
            if (text.nonEmpty) {
              seenTexts += text
              chunks ++= splitLongText(text, chunkType)
            }
          }
          if (chunks.length > before) blocksKept += 1 else blocksDropped += 1
        } else {
          blocksDropped += 1
        }
        walk(el)
      case _: HText => ()
    }
    walk(contentRoot)

    // E8: recipe ingredient/instruction chunk injection — chunker.py:702-717
    if (richMeta.metaType == JStr("recipe")) {
      val ingredients = richMeta.extraGet("ingredients")
      ingredients match {
        case JArr(xs) if xs.nonEmpty =>
          val ingrText = "Ingredients:\n" + xs.map(i => s"- ${i.pyStr}").mkString("\n")
          chunks.insert(0, Chunk(ingrText, "ingredients"))
        case _ => ()
      }
      richMeta.extraGet("instructions") match {
        case JArr(xs) if xs.nonEmpty =>
          val instrText = "Instructions:\n" +
            xs.zipWithIndex.map { case (s, i) => s"${i + 1}. ${s.pyStr}" }.mkString("\n")
          // insert after ingredients if present — NOTE: reference keys the
          // position off ingredients' *truthiness*, not off whether an
          // ingredients chunk was actually inserted (chunker.py:716)
          val insertPos = if (ingredients.truthy) 1 else 0
          chunks.insert(math.min(insertPos, chunks.length), Chunk(instrText, "instructions"))
        case _ => ()
      }
    }

    // E9: summary from paragraph chunks — chunker.py:719-726
    val summary =
      summaryOf(chunks.iterator.filter(_.chunkType == "paragraph").map(_.text))
        .getOrElse(if (richMeta.description.truthy) richMeta.description.pyStr else title)

    Extraction(
      ParsedPage(url, title, author, published,
        updated = pageUpdated.filter(_.nonEmpty), language, summary,
        chunks.toVector, richMeta),
      blocksKept, blocksDropped)
  }
}
