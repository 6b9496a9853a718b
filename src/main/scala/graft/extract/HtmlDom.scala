package graft.extract

import scala.collection.mutable

/** Lightweight streaming HTML tokenizer + DOM for the extraction pipeline.
  *
  * Reproduces the observable behavior the reference relies on from
  * BeautifulSoup+lxml (`/root/reference/sidecar/chunker.py:631`):
  *
  *  - document-order `descendants` traversal (`chunker.py:665`)
  *  - `get_text()` = concatenation of all text nodes, no separators
  *    (`chunker.py:669,683`)
  *  - `find`/`find_all` by tag name or attribute predicate
  *    (`chunker.py:430-460,491-523`)
  *  - subtree removal (`decompose`, `chunker.py:650-654`)
  *  - libxml2-style structure recovery: implicit `<html>`/`<head>`/`<body>`,
  *    stray body-level text / inline runs wrapped into a synthetic `<p>`,
  *    implied end tags for `p`/`li`/`tr`/`td`/..., void elements,
  *    raw-text handling of `script`/`style`, entity decoding in text and
  *    attribute values, lowercased tag and attribute names.
  *
  * Tag-soup recovery note: libxml2 (the reference's actual parser) does NOT
  * implement the WHATWG adoption-agency algorithm or table foster-parenting
  * — those are HTML5 tree-builder (html5lib) behaviors. libxml2's recovery
  * is close-to-the-matching-open-tag plus implied end tags, which is what
  * `closeTag`/`impliedClose` below reproduce: mis-nested formatting keeps
  * every character in document order, and stray table text stays inside the
  * table (HtmlDomSpec pins both). get_text()-level parity with the
  * reference therefore holds on such soup.
  *
  * Zero external dependencies; one parser invocation allocates only the node
  * tree (reused regex machinery is static). Designed to be called from typed
  * `mapPartitions` so JIT-compiled code is shared across a partition.
  */
object HtmlDom {

  /** control-flow exception for early-exit traversal (no stack trace). */
  private object FoundBreak extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** max element nesting depth; deeper opens flatten to siblings. */
  val MaxDepth = 512

  sealed trait HNode {
    var parent: HElem = _
  }

  final class HText(val data: String) extends HNode

  final class HElem(val name: String, var attrs: Map[String, String]) extends HNode {
    /** lazily allocated: most elements are leaves (hot-path allocation win) */
    private var _children: mutable.ArrayBuffer[HNode] = _
    /** subtree text span offsets, filled by ChunkHtml's single index pass */
    private[extract] var spanStart: Int = -1
    private[extract] var spanEnd: Int = -1

    def children: mutable.ArrayBuffer[HNode] = {
      if (_children == null) _children = new mutable.ArrayBuffer[HNode](4)
      _children
    }
    def hasChildren: Boolean = _children != null && _children.nonEmpty

    def append(n: HNode): Unit = { n.parent = this; children += n }

    /** recursion-based traversal (no iterator allocation). */
    def foreachElem(f: HElem => Unit): Unit = {
      if (_children != null) _children.foreach {
        case e: HElem => f(e); e.foreachElem(f)
        case _ => ()
      }
    }

    /** class attribute tokenized on ASCII whitespace (lxml multi-valued attr). */
    def classList: Seq[String] =
      attrs.get("class").map(_.split("[ \\t\\n\\r\\f]+").filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)

    def attr(k: String): Option[String] = attrs.get(k)

    /** All descendant nodes (elements and text), document order, excluding self. */
    def descendants: Iterator[HNode] =
      if (_children == null) Iterator.empty
      else _children.iterator.flatMap {
        case e: HElem => Iterator.single(e) ++ e.descendants
        case t: HText => Iterator.single(t)
      }

    /** BeautifulSoup `get_text()`: all text node data concatenated. */
    def getText: String = {
      val sb = new java.lang.StringBuilder
      def walk(e: HElem): Unit = if (e._children != null) e._children.foreach {
        case t: HText => sb.append(t.data)
        case c: HElem => walk(c)
      }
      walk(this)
      sb.toString
    }

    /** First descendant element with this (lowercase) tag name. */
    def find(tag: String): Option[HElem] = {
      var found: HElem = null
      try foreachElem { e => if (found == null && e.name == tag) { found = e; throw FoundBreak } }
      catch { case FoundBreak => () }
      Option(found)
    }

    def findAll(tag: String): Seq[HElem] = {
      val out = mutable.ArrayBuffer.empty[HElem]
      foreachElem(e => if (e.name == tag) out += e)
      out.toSeq
    }

    def findAll(pred: HElem => Boolean): Seq[HElem] = {
      val out = mutable.ArrayBuffer.empty[HElem]
      foreachElem(e => if (pred(e)) out += e)
      out.toSeq
    }

    /** BeautifulSoup `decompose()`: detach this subtree from its parent. */
    def decompose(): Unit = {
      if (parent != null) {
        val idx = parent.children.indexOf(this)
        if (idx >= 0) parent.children.remove(idx)
        parent = null
      }
    }
  }

  // ---------------------------------------------------------------------
  // HTML grammar tables
  // ---------------------------------------------------------------------

  private val voidElements = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr", "basefont", "frame", "isindex")

  /** Content is raw character data up to the matching close tag. */
  private val rawTextElements = Set("script", "style", "xmp", "noframes")

  /** RCDATA: raw until close tag, but entities are decoded. */
  private val rcdataElements = Set("title", "textarea")

  /** Opening one of these closes an open <p> (HTML4 block content model,
    * mirrors libxml2's implied end tags). */
  private val closesP = Set(
    "address", "article", "aside", "blockquote", "details", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "hgroup", "hr", "main", "menu", "nav", "ol",
    "p", "pre", "section", "table", "ul")

  /** newly-opened tag -> set of tags it implicitly closes when on stack top. */
  private val impliedClose: Map[String, Set[String]] = Map(
    "li" -> Set("li", "p"),
    "dt" -> Set("dt", "dd", "p"),
    "dd" -> Set("dt", "dd", "p"),
    "tr" -> Set("tr", "td", "th"),
    "td" -> Set("td", "th"),
    "th" -> Set("td", "th"),
    "thead" -> Set("thead", "tbody", "tfoot", "tr", "td", "th"),
    "tbody" -> Set("thead", "tbody", "tfoot", "tr", "td", "th"),
    "tfoot" -> Set("thead", "tbody", "tfoot", "tr", "td", "th"),
    "option" -> Set("option"),
    "optgroup" -> Set("option", "optgroup"),
  ) ++ closesP.iterator.map(t => t -> Set("p")).toMap

  /** Inline (phrasing) elements: a stray run of these at body level gets
    * wrapped into a synthetic <p>, like libxml2's HTML recovery. */
  private val inlineElements = Set(
    "a", "abbr", "acronym", "b", "bdo", "big", "br", "button", "cite",
    "code", "dfn", "em", "font", "i", "img", "input", "kbd", "label", "map",
    "object", "q", "s", "samp", "select", "small", "span", "strike",
    "strong", "sub", "sup", "textarea", "tt", "u", "var", "wbr", "time",
    "mark", "ruby", "data", "picture", "svg", "audio", "video")

  private val headElements = Set("title", "meta", "link", "base", "style", "script", "noscript")

  // ---------------------------------------------------------------------
  // Tokenizer + tree builder
  // ---------------------------------------------------------------------

  /** Parse HTML into a document node (name `"[document]"`). Never throws on
    * malformed input: unparseable markup degrades to text, mirroring lxml's
    * recovery mode.
    */
  def parse(html: String): HElem = {
    val doc = new HElem("[document]", Map.empty)
    val stack = mutable.ArrayBuffer[HElem](doc)
    val n = html.length
    var i = 0

    def top: HElem = stack.last

    def appendText(s: String, decodeEntities: Boolean): Unit =
      if (s.nonEmpty) top.append(new HText(if (decodeEntities) HtmlEntities.decode(s) else s))

    def openTag(name: String, attrs: Map[String, String], selfClosing: Boolean): Unit = {
      // depth cap (libxml2 caps nesting too): beyond it the deepest open
      // slot is collapsed, so new elements become siblings at the cap while
      // text still attaches to the most recent element — traversal
      // recursion stays bounded on pathological payloads (a 10^12-turn
      // corpus WILL contain them)
      if (stack.length >= MaxDepth) stack.remove(stack.length - 1)
      // merge duplicate html/body/head opens instead of nesting (libxml2)
      if (name == "html" || name == "body" || name == "head") {
        val existing = stack.find(_.name == name).orElse(doc.find(name))
        existing match {
          case Some(e) =>
            e.attrs = attrs.foldLeft(e.attrs) { case (m, (k, v)) =>
              if (m.contains(k)) m else m + (k -> v) }
            return
          case None => ()
        }
      }
      impliedClose.get(name).foreach { closers =>
        while (stack.length > 1 && closers.contains(top.name)) stack.remove(stack.length - 1)
      }
      val el = new HElem(name, attrs)
      top.append(el)
      // libxml2's HTML parser ignores the self-closing flag on non-void HTML
      // tags (<div/> stays open); it is only honored in foreign content
      // (svg/math subtrees), matching the reference's BeautifulSoup DOM
      val honorSelfClose = selfClosing &&
        (name == "svg" || name == "math" ||
          stack.exists(e => e.name == "svg" || e.name == "math"))
      if (!honorSelfClose && !voidElements.contains(name)) stack += el
    }

    def closeTag(name: String): Unit = {
      var idx = stack.length - 1
      while (idx > 0 && stack(idx).name != name) idx -= 1
      if (idx > 0) stack.remove(idx, stack.length - idx)
      // unmatched close tag: ignored (libxml2 recovery)
    }

    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { appendText(html.substring(i), decodeEntities = true); i = n }
      else {
        if (lt > i) appendText(html.substring(i, lt), decodeEntities = true)
        if (lt + 1 >= n) { appendText("<", decodeEntities = false); i = n }
        else html.charAt(lt + 1) match {
          case '!' =>
            if (html.startsWith("<!--", lt)) {
              val end = html.indexOf("-->", lt + 4)
              i = if (end < 0) n else end + 3
            } else {
              val end = html.indexOf('>', lt + 2)
              i = if (end < 0) n else end + 1
            }
          case '?' =>
            val end = html.indexOf('>', lt + 2)
            i = if (end < 0) n else end + 1
          case '/' =>
            val end = html.indexOf('>', lt + 2)
            if (end < 0) i = n
            else {
              val name = html.substring(lt + 2, end).trim.toLowerCase
              if (name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '-' || c == ':'))
                closeTag(name)
              i = end + 1
            }
          case c if Character.isLetter(c) =>
            parseStartTag(html, lt) match {
              case Some((name, attrs, selfClosing, end)) =>
                openTag(name, attrs, selfClosing)
                i = end
                if (!selfClosing && (rawTextElements.contains(name) || rcdataElements.contains(name))) {
                  // consume raw content until matching close tag
                  val closeRe = ("(?i)</" + java.util.regex.Pattern.quote(name) + "\\s*>").r
                  closeRe.findFirstMatchIn(html.substring(i)) match {
                    case Some(m) =>
                      appendText(html.substring(i, i + m.start),
                        decodeEntities = rcdataElements.contains(name))
                      closeTag(name)
                      i = i + m.end
                    case None =>
                      appendText(html.substring(i),
                        decodeEntities = rcdataElements.contains(name))
                      closeTag(name)
                      i = n
                  }
                }
              case None =>
                appendText("<", decodeEntities = false)
                i = lt + 1
            }
          case _ =>
            appendText("<", decodeEntities = false)
            i = lt + 1
        }
      }
    }
    normalize(doc)
    doc
  }

  /** Parse a start tag at `html(lt) == '<'`. Returns (name, attrs,
    * selfClosing, indexAfterTag) or None if malformed. */
  private def parseStartTag(html: String, lt: Int)
      : Option[(String, Map[String, String], Boolean, Int)] = {
    val n = html.length
    var i = lt + 1
    val nameStart = i
    while (i < n && (html.charAt(i).isLetterOrDigit || html.charAt(i) == '-' ||
        html.charAt(i) == ':' || html.charAt(i) == '_')) i += 1
    if (i == nameStart) return None
    val name = html.substring(nameStart, i).toLowerCase
    var attrs = Map.empty[String, String]
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
      if (i >= n) done = true
      else html.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && html.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true }
          else i += 1
        case _ =>
          // attribute name
          val aStart = i
          while (i < n && !Character.isWhitespace(html.charAt(i)) &&
              html.charAt(i) != '=' && html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
          if (i == aStart) { i += 1 } // skip junk char
          else {
            val aName = html.substring(aStart, i).toLowerCase
            while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
            var aVal = ""
            if (i < n && html.charAt(i) == '=') {
              i += 1
              while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
              if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
                val quote = html.charAt(i)
                val vStart = i + 1
                val vEnd = html.indexOf(quote, vStart)
                if (vEnd < 0) { aVal = html.substring(vStart); i = n }
                else { aVal = html.substring(vStart, vEnd); i = vEnd + 1 }
              } else {
                val vStart = i
                while (i < n && !Character.isWhitespace(html.charAt(i)) && html.charAt(i) != '>') i += 1
                aVal = html.substring(vStart, i)
              }
            }
            if (!attrs.contains(aName)) attrs = attrs + (aName -> HtmlEntities.decode(aVal))
          }
      }
    }
    Some((name, attrs, selfClosing, i))
  }

  // ---------------------------------------------------------------------
  // libxml2-style document normalization
  // ---------------------------------------------------------------------

  /** Ensure the tree has <html><head/><body/></html> structure and wrap
    * stray body-level text / inline runs into synthetic <p> elements, so
    * the reference's `soup.find("body")` root selection and descendant walk
    * see the same shape lxml produces. */
  private def normalize(doc: HElem): Unit = {
    // 1. ensure a single <html> root
    val htmlEl = doc.children.collectFirst { case e: HElem if e.name == "html" => e } match {
      case Some(h) =>
        // move any stray siblings of <html> inside it (rare tag soup)
        val strays = doc.children.filter {
          case e: HElem => e ne h
          case _: HText => true
        }.toVector
        strays.foreach {
          case t: HText if t.data.forall(Character.isWhitespace) =>
            val idx = doc.children.indexOf(t); if (idx >= 0) doc.children.remove(idx)
          case nd =>
            val idx = doc.children.indexOf(nd); if (idx >= 0) doc.children.remove(idx)
            h.append(nd)
        }
        h
      case None =>
        val h = new HElem("html", Map.empty)
        val all = doc.children.toVector
        doc.children.clear()
        all.foreach(h.append)
        doc.append(h)
        h
    }
    // 2. ensure head/body under html
    val hasBody = htmlEl.children.exists { case e: HElem => e.name == "body"; case _ => false }
    if (!hasBody) {
      val headOpt = htmlEl.children.collectFirst { case e: HElem if e.name == "head" => e }
      val head = headOpt.getOrElse(new HElem("head", Map.empty))
      val body = new HElem("body", Map.empty)
      val rest = htmlEl.children.filter {
        case e: HElem => e.name != "head"
        case _ => true
      }.toVector
      htmlEl.children.clear()
      htmlEl.append(head)
      htmlEl.append(body)
      // head-ish elements before first content node go to head; the rest to body
      var inHead = headOpt.isEmpty
      rest.foreach {
        case e: HElem if inHead && headElements.contains(e.name) => head.append(e)
        case t: HText if inHead && t.data.forall(Character.isWhitespace) => head.append(t)
        case nd => inHead = false; body.append(nd)
      }
    }
    // 3. wrap stray text/inline runs at body level into <p>
    htmlEl.children.collectFirst { case e: HElem if e.name == "body" => e }.foreach(wrapInlineRuns)
  }

  private def wrapInlineRuns(body: HElem): Unit = {
    def isInlineish(nd: HNode): Boolean = nd match {
      case _: HText => true
      case e: HElem => inlineElements.contains(e.name)
    }
    def hasContent(run: Seq[HNode]): Boolean = run.exists {
      case t: HText => !t.data.forall(Character.isWhitespace)
      case _: HElem => true
    }
    val out = mutable.ArrayBuffer.empty[HNode]
    val run = mutable.ArrayBuffer.empty[HNode]
    def flush(): Unit = {
      if (run.nonEmpty) {
        if (hasContent(run.toSeq)) {
          val p = new HElem("p", Map.empty)
          run.foreach(p.append)
          p.parent = body
          out += p
        } else out ++= run
        run.clear()
      }
    }
    body.children.foreach { nd =>
      if (isInlineish(nd)) run += nd
      else { flush(); out += nd }
    }
    flush()
    body.children.clear()
    out.foreach { nd => nd.parent = body; body.children += nd }
  }
}
