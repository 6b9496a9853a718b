package graft.extract

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** sitemap.xml parsing (S2), pinned to what the reference actually does —
  * `/root/reference/sidecar/crawler.py:63-81`: ElementTree parse, then
  * `findall("sm:sitemap/sm:loc")` (index entries → recursively fetched)
  * and `findall("sm:url/sm:loc")` (page urls), namespace
  * `http://www.sitemaps.org/schemas/sitemap/0.9`, `if loc.text:` then
  * `.text.strip()`. The fetch/recursion is the network side (out of
  * scope); this is the pure parse: one document in → its direct-child loc
  * entries out, each tagged `url` or `sitemap` so `Crawl.sitemapSeeds` can
  * recurse exactly like the reference.
  *
  * Built on the JDK's namespace-aware SAX parser so well-formedness
  * enforcement matches ElementTree's expat (unescaped `<`, undefined
  * entities, junk after the root, mismatched tags → parse error), and:
  *  - a sitemap without the 0.9 xmlns yields NO entries; default and
  *    prefixed declarations both resolve
  *  - only DIRECT children of the root count (`sm:url/sm:loc` is a
  *    two-step child path, not a descendant search)
  *  - `.text` = character data before the FIRST child element (CDATA is
  *    literal, entities in plain text expand); an empty `<loc/>` has
  *    `text = None` and is skipped like the crawler's `if loc.text:`
  *  - malformed XML → ElementTree raises and the crawler's try/except
  *    returns the empty list; parse mirrors that with an empty result
  */
object Sitemap {

  val Ns = "http://www.sitemaps.org/schemas/sitemap/0.9"

  /** kind: "url" (page) or "sitemap" (index entry to recurse into). */
  final case class Entry(kind: String, loc: String)

  def parse(xml: String): Vector[Entry] =
    try parseStrict(xml)
    catch { case _: Exception => Vector.empty } // crawler.py:80 catch-all

  /** [[parse]] as a column function: `array<struct<_1: kind, _2: loc>>`,
    * empty for a NULL document. The parse is row-local (one document in,
    * its entries out), so it runs wherever the xml column is. */
  lazy val locs: UserDefinedFunction = udf((xml: String) =>
    if (xml == null) Seq.empty[(String, String)]
    else parse(xml).map(e => (e.kind, e.loc)))

  private def parseStrict(xml: String): Vector[Entry] = {
    val factory = javax.xml.parsers.SAXParserFactory.newInstance()
    factory.setNamespaceAware(true)
    factory.setFeature(javax.xml.XMLConstants.FEATURE_SECURE_PROCESSING, true)
    // no external fetches during parse (DTD/entity resolution stays local)
    factory.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
    val parser = factory.newSAXParser()

    val out = Vector.newBuilder[Entry]
    val handler = new org.xml.sax.helpers.DefaultHandler {
      private var depth = 0
      private var rootOk = false
      private var parentKind: String = null // at depth 2: "url" | "sitemap" | null
      private var locText: StringBuilder = null // non-null while inside a tracked loc
      private var locSawChild = false
      private var locDepth = -1

      override def startElement(uri: String, local: String, qName: String,
          attrs: org.xml.sax.Attributes): Unit = {
        if (locText != null) locSawChild = true // child ends ET's .text
        depth += 1
        if (depth == 1) {
          rootOk = uri == Ns && (local == "urlset" || local == "sitemapindex")
        } else if (depth == 2) {
          parentKind =
            if (rootOk && uri == Ns && (local == "url" || local == "sitemap")) local
            else null
        } else if (depth == 3 && parentKind != null && uri == Ns && local == "loc") {
          locText = new StringBuilder
          locSawChild = false
          locDepth = depth
        }
      }

      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (locText != null && !locSawChild && depth == locDepth)
          locText.appendAll(ch, start, len)

      override def endElement(uri: String, local: String, qName: String): Unit = {
        if (depth == locDepth && locText != null) {
          // crawler.py:75,79 `if loc.text:` — an element with no character
          // data at all has text None and is skipped; whitespace-only text
          // is truthy and strips to ""
          if (locText.nonEmpty)
            out += Entry(if (parentKind == "url") "url" else "sitemap",
              locText.toString.trim)
          locText = null
          locDepth = -1
        }
        if (depth == 2) parentKind = null
        depth -= 1
      }

      // treat recoverable errors as fatal, like ElementTree's expat
      override def error(e: org.xml.sax.SAXParseException): Unit = throw e
    }

    parser.parse(new org.xml.sax.InputSource(new java.io.StringReader(xml)), handler)
    out.result()
  }
}
