package graft.extract

import java.util.regex.Pattern
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.JUnitSafe.same
import AdapterChunker.{AChunk, Variant, WordsPerChunk, countWords, jsTrim, packBySum, phpStrWordCount,
  phpStripTags, pyCountWords, pySplitlines, stripShortcodesCore, stripWpNoise,
  wpStripAllTags}
import TextUtil.phpTrim

/** Equivalence of the port table — one [[AdapterChunker.detectType]] and
  * one [[AdapterChunker.chunkContent]] reading each [[Variant]]'s rules as
  * data — against the per-port code it replaced: five `detectType*`
  * bodies, the one-argument `detectType`, a `chunkContent` dispatching on
  * the variant, and cleans that each typed their own whitespace tail. The
  * [[Legacy]] bodies below are verbatim copies of the replaced code. */
class AdapterChunkerEquivSpec extends AnyFunSuite {

  private val all7 = Seq(Variant.Express, Variant.Wp, Variant.FastApi, Variant.Ts,
    Variant.Joomla, Variant.Woo, Variant.Drupal)

  private object Legacy {
    private val tagRe = Pattern.compile("<[^>]*>")
    private val spaceTabRe = Pattern.compile("[ \\t]+")
    private val manyNewlinesRe = Pattern.compile("\\n{3,}")
    private val paraSplitRe = Pattern.compile("\\n{2,}")

    @inline private def isJsWs(c: Char): Boolean = c match {
      case '\t' | '\n' | '\u000B' | '\f' | '\r' | ' ' | '\u00A0' | '\u1680' |
           '\u2028' | '\u2029' | '\u202F' | '\u205F' | '\u3000' | '\uFEFF' => true
      case _ => c >= '\u2000' && c <= '\u200A'
    }

    /** A regex character class matching exactly the units `ws` accepts. */
    private def charClass(ws: Char => Boolean): String =
      (0 to 0xFFFF).filter(i => ws(i.toChar))
        .map(i => f"\\x{$i%x}").mkString("[", "", "]")

    private val jsWsSplitRe = Pattern.compile(charClass(isJsWs) + "+")

    /** `^(\d+[.)]\s|[-*+]\s)` under the host's `\s`: JS regexes have an
      * ASCII `\d`; Python `re` on str has a Unicode `\d`. */
    private def listLineRe(ws: Char => Boolean, flags: Int): Pattern = {
      val s = charClass(ws)
      Pattern.compile(s"^(\\d+[.)]$s|[-*+]$s)", flags)
    }
    private val jsListLineRe = listLineRe(isJsWs, 0)
    private val pyListLineRe =
      listLineRe(TextUtil.isPyWs, Pattern.UNICODE_CHARACTER_CLASS)

    /** C1: strip tags, decode exactly 6 entities (sequentially, so `&amp;lt;`
      * becomes `<`, as in the JS), collapse spaces/tabs, squeeze blank lines —
      * chunker.js:19-34. */
    def cleanHtml(html: String): String = {
      var text = tagRe.matcher(html).replaceAll(" ")
      text = text.replace("&amp;", "&")
      text = text.replace("&lt;", "<")
      text = text.replace("&gt;", ">")
      text = text.replace("&quot;", "\"")
      text = text.replace("&#039;", "'")
      text = text.replace("&nbsp;", " ")
      text = spaceTabRe.matcher(text).replaceAll(" ")
      text = manyNewlinesRe.matcher(text).replaceAll("\n\n")
      jsTrim(text)
    }

    /** C4: code / quote / heading / list / paragraph — chunker.js:48-73. */
    def detectType(text: String): String = {
      val trimmed = jsTrim(text)
      if (trimmed.startsWith("```")) "code"
      else if (trimmed.startsWith(">")) "quote"
      else detectTypeTs(text)
    }

    /** [[detectType]] under a specific adapter port's semantics. */
    def detectType(text: String, variant: Variant): String = variant match {
      case Variant.Express => detectType(text)
      case Variant.Wp => detectTypeWp(text)
      case Variant.FastApi => detectTypeFastApi(text)
      case Variant.Ts => detectTypeTs(text)
      case Variant.Joomla => detectTypeJoomla(text)
      case Variant.Woo => detectTypeWoo(text)
      case Variant.Drupal => detectTypeWp(text) // ChunkerService.php:143-156 == WP's
    }

    /** astro/nextjs/vite chunker.ts detectType: heading first, then
      * `[-*+]` list, no code/quote — express string semantics; express is
      * this rule behind its code and quote checks. */
    private def detectTypeTs(text: String): String = {
      val trimmed = jsTrim(text)
      val lines = trimmed.split("\n", -1)
      if (lines.length == 1 && countWords(text) < 15) "heading"
      else {
        val listLines = lines.count(l => jsListLineRe.matcher(jsTrim(l)).find())
        if (lines.nonEmpty && listLines.toDouble / lines.length >= 0.5) "list"
        else "paragraph"
      }
    }

    /** PCRE (no /u): ASCII `\d`/`\s`, bullets `[-*]` only —
      * class-chunker.php:161. */
    private val wpListRe = Pattern.compile("^(\\d+[.)]\\s|[-*]\\s)")

    /** class-chunker.php:152-174: list FIRST (`$list_lines > 0 &&
      * $list_lines >= count($lines)/2` — float division), then single-line
      * `str_word_count < 15` heading, else paragraph. */
    private def detectTypeWp(text: String): String = {
      val trimmed = phpTrim(text)
      val lines = trimmed.split("\n", -1)
      val listLines = lines.count(l => wpListRe.matcher(phpTrim(l)).find())
      if (listLines > 0 && listLines >= lines.length / 2.0) "list"
      else if (lines.length == 1 && phpStrWordCount(trimmed) < 15) "heading"
      else "paragraph"
    }

    /** Joomla Chunker.php:96-117: heading first — `str_word_count($text)`
      * on the RAW (untrimmed) text, so a text ending "- \n" counts its
      * hyphen where the trimmed form "… -" would drop it under the
      * trailing-hyphen rule — then `[-*+]` list at ratio ≥ 0.5, else
      * paragraph. */
    private val joomlaListRe = Pattern.compile("^(\\d+[.)]\\s|[-*+]\\s)")
    private def detectTypeJoomla(text: String): String = {
      val lines = phpTrim(text).split("\n", -1)
      if (lines.length == 1 && phpStrWordCount(text) < 15) "heading"
      else {
        val listLines = lines.count(l => joomlaListRe.matcher(phpTrim(l)).find())
        if (lines.nonEmpty && listLines.toDouble / lines.length >= 0.5) "list"
        else "paragraph"
      }
    }

    /** WooCommerce class-chunker.php:140-157: list or paragraph ONLY — no
      * heading, no code/quote. The source class is `[-*•]` but see
      * [[Variant.Woo]]: the • is a dead byte-class alternative, so the
      * effective pattern is exactly [[wpListRe]] (one shared source of
      * truth for the PCRE-no-/u bullet class). */
    private def detectTypeWoo(text: String): String = {
      val lines = phpTrim(text).split("\n", -1)
      val listLines = lines.count(l => wpListRe.matcher(phpTrim(l)).find())
      if (listLines > 0 && listLines >= lines.length / 2.0) "list"
      else "paragraph"
    }

    /** chunker.py:39-54: single-splitlines-line `< 15`-word heading first,
      * then `[-*+]` list at ratio ≥ 0.5, else paragraph — no code/quote. */
    private def detectTypeFastApi(text: String): String = {
      val lines = pySplitlines(TextUtil.stripPy(text))
      if (lines.length == 1 && pyCountWords(text) < 15) "heading"
      else {
        val listLines = lines.count(l => pyListLineRe.matcher(TextUtil.stripPy(l)).find())
        if (lines.nonEmpty && listLines.toDouble / lines.length >= 0.5) "list"
        else "paragraph"
      }
    }

    /** Joomla Chunker.php `clean` (:75-92): `{...}` CMS shortcode strip,
      * PHP strip_tags (concatenating), HTML 4.01 entity decode with
      * strict numerics, whitespace normalization, PHP trim. */
    private val curlyShortcodeRe = Pattern.compile("\\{[^}]*\\}")
    def cleanJoomla(html: String): String = {
      var t = curlyShortcodeRe.matcher(html).replaceAll("")
      t = phpStripTags(t)
      t = HtmlEntities.decodePhpHtml4(t)
      t = spaceTabRe.matcher(t).replaceAll(" ")
      t = manyNewlinesRe.matcher(t).replaceAll("\n\n")
      phpTrim(t)
    }

    /** WooCommerce class-chunker.php `clean` (:30-49): `empty($content)`
      * early return (falsy "0" included), core `strip_shortcodes` ONLY
      * (no noisy-tag loop — that is WP's own), `wp_strip_all_tags($s,
      * true)` whose remove_breaks kills every paragraph boundary, the
      * FULL HTML5 entity decode, and the (now mostly no-op) whitespace
      * normalizations. */
    def cleanWoo(content: String): String = {
      if (content.isEmpty || content == "0") return ""
      var t = stripShortcodesCore(content)
      t = wpStripAllTags(t, removeBreaks = true)
      t = HtmlEntities.decodePhpHtml5(t)
      t = spaceTabRe.matcher(t).replaceAll(" ")
      t = manyNewlinesRe.matcher(t).replaceAll("\n\n")
      phpTrim(t)
    }

    /** Drupal ChunkerService.php `clean` (:29-41): plain concatenating
      * PHP `strip_tags` (Drupal has no shortcodes, so nothing else is
      * stripped), full `html_entity_decode(ENT_QUOTES | ENT_HTML5)`, then
      * the `[ \t]+` / `\n{3,}` collapses and PHP trim. Entities decode
      * AFTER the tag strip, so `&lt;b&gt;` surfaces as literal `<b>`
      * text. */
    def cleanDrupal(content: String): String = {
      var t = phpStripTags(content)
      t = HtmlEntities.decodePhpHtml5(t)
      t = spaceTabRe.matcher(t).replaceAll(" ")
      t = manyNewlinesRe.matcher(t).replaceAll("\n\n")
      phpTrim(t)
    }

    /** Joomla's packing (Chunker.php:40-57): a CHARACTER budget, not a
      * word budget — flush when the trim-joined candidate exceeds
      * TARGET_CHARS = 500 `mb_strlen` code points. */
    private def packJoomlaChars(paragraphs: Array[String]): Vector[String] = {
      val out = Vector.newBuilder[String]
      var current = ""
      paragraphs.foreach { p =>
        val combined = phpTrim(current + "\n\n" + p)
        if (current.nonEmpty &&
            combined.codePointCount(0, combined.length) > 500) {
          out += current
          current = p
        } else current = if (current.isEmpty) p else combined
      }
      if (phpTrim(current).nonEmpty) out += current
      out.result()
    }

    /** C2+C3+C5: paragraph split, greedy packing, prefixed ids —
      * chunker.js:82-122; `variant` selects the port's clean pipeline,
      * trim/word-count/type-detection string semantics, packing budget
      * (500 words; Woo 300 words; Joomla 500 JOINED characters; Drupal
      * 500 SUMMED characters), and id scheme (md5(url); Woo
      * `p{product_id}` — pass the product id as `url`). */
    def chunkContent(html: String, url: String,
        variant: Variant = Variant.Express): Vector[AChunk] = {
      import Variant._
      val text = variant match {
        case Express | Ts | FastApi => cleanHtml(html)
        case Wp => cleanWp(html)
        case Joomla => cleanJoomla(html)
        case Woo => cleanWoo(html)
        case Drupal => cleanDrupal(html)
      }
      // PHP empty($content): "" AND the falsy string "0" yield no chunks
      // (WP class-chunker.php:95, Woo :83; Drupal's `empty(trim($content))`
      // :58 sees the already-trimmed cleaned text, so it lands here too;
      // Joomla checks trim === '' only)
      if (text.isEmpty ||
          ((variant == Wp || variant == Woo || variant == Drupal) && text == "0"))
        return Vector.empty
      val trimF: String => String = variant match {
        case Express | Ts => jsTrim
        case Wp | Joomla | Woo | Drupal => phpTrim
        case FastApi => TextUtil.stripPy
      }
      val wcF: String => Int = variant match {
        case Express | Ts => countWords
        case Wp | Joomla | Woo | Drupal => phpStrWordCount
        case FastApi => pyCountWords
      }
      // PHP array_filter (no callback) also drops a falsy "0" paragraph
      val keep: String => Boolean = variant match {
        case Wp | Joomla | Woo | Drupal => p => p.nonEmpty && p != "0"
        case _ => p => p.nonEmpty
      }
      val paragraphs = paraSplitRe.split(text, -1).map(trimF).filter(keep)
      if (paragraphs.isEmpty) return Vector.empty

      val chunkTexts: Vector[String] = variant match {
        case Joomla => packJoomlaChars(paragraphs)
        case Drupal => packBySum(paragraphs, TextUtil.cpLength, 500)
        case Woo => packBySum(paragraphs, wcF, 300)
        case _ => packBySum(paragraphs, wcF, WordsPerChunk)
      }

      val idPrefix = if (variant == Woo) "p" + url else TextUtil.md5Hex(url)
      chunkTexts.zipWithIndex.map { case (t, i) =>
        AChunk(s"${idPrefix}_$i", t, detectType(t, variant), relevance = None)
      }
    }

    /** The WP clean (class-chunker.php:53-81): [[stripWpNoise]], then
      * `apply_filters('the_content')` — modeled as [[Wpautop]], the
      * structural member of the default chain; do_blocks / wptexturize /
      * convert_smilies / prepend_attachment / wp_filter_content_tags are
      * site-configurable rendering filters left unmodeled (documented
      * delta: wptexturize would curl quotes and dashes; do_shortcode is a
      * no-op here because registered shortcodes were already stripped) —
      * then `wp_strip_all_tags` (concatenating; NO entity decode — a
      * literal `&amp;` stays `&amp;` in WP-cleaned text), and the
      * whitespace normalizations + PHP trim. */
    def cleanWp(content: String): String = {
      var t = stripWpNoise(content)
      t = Wpautop(t)
      t = wpStripAllTags(t)
      t = spaceTabRe.matcher(t).replaceAll(" ")
      t = manyNewlinesRe.matcher(t).replaceAll("\n\n")
      phpTrim(t)
    }

  }

  /** Pieces dense in what the ports disagree on: bullets, ASCII and
    * Arabic-Indic ordinals, fences and quotes, every host's line breaks
    * and whitespace, "0", apostrophes and hyphens, and the markup each
    * clean keeps or strips. */
  private val pieces = Vector(
    "-", "*", "+", "•", "- ", "* ", "+ ", "• ", "1. ", "2) ", "10.", "٣. ", "١)",
    "```", "> ", ">", " ", "  ", "\t", "\n", "\n", "\n\n", "\n\n\n", "\r\n", "\r",
    "\u000B", "\f", "\u001C", "\u001D", "\u001E", "\u001F", "\u0085", "\u2028",
    "\u2029", "\u00A0", "\uFEFF", "\u0000", "0", "0", "word", "Word", "don't", "'tis",
    "stop-gap", "-", "x-", "42", "Chapter", "w", "w", "w", "é", "😀",
    "<p>", "</p>", "<br>", "<pre>", "</pre>", "<b>", "</b>", "&amp;", "&nbsp;", "&lt;b&gt;",
    "&#10;", "&#10;&#10;", "&#039;", "&hellip;", "[gallery]", "[/gallery]", "[ad id=3]",
    "{loadmodule x}", "<!-- wp:navigation -->x<!-- /wp:navigation -->")

  /** One line of `n` words, optionally ending in a hyphen and a break. */
  private def wordsLine(r: Random, n: Int): String =
    Seq.fill(n)(Seq("w", "word", "42", "don't", "a-b")(r.nextInt(5))).mkString(" ") +
      Seq("", " -", " -\n", "-\n", " - ", "\n", " -\r\n")(r.nextInt(7))

  private def listBlock(r: Random): String =
    Seq.fill(1 + r.nextInt(5)) {
      Seq("-", "*", "+", "•", "1.", "2)", "٣.", "x")(r.nextInt(8)) +
        Seq(" ", "\t", "\u00A0", "\u0085", "\uFEFF", "\u001F", "\u000B", "")(r.nextInt(8)) +
        "item " + r.nextInt(100)
    }.mkString(Seq("\n", "\r\n", "\r", "\u2028", "\n\n", "\f")(r.nextInt(6)))

  private def text(r: Random): String = {
    val body = r.nextInt(6) match {
      case 0 => wordsLine(r, 12 + r.nextInt(5))
      case 1 => listBlock(r)
      case 2 => Seq.fill(1 + r.nextInt(4))(
          if (r.nextInt(4) == 0) "0" else wordsLine(r, 1 + r.nextInt(30))).mkString("\n\n")
      case 3 => listBlock(r) + "\n" + wordsLine(r, 1 + r.nextInt(20))
      case _ => Seq.fill(r.nextInt(40))(pieces(r.nextInt(pieces.length))).mkString
    }
    // wrappers that keep paragraph breaks through the WP and Woo cleans
    r.nextInt(5) match {
      case 0 => "<pre>" + body + "</pre>"
      case 1 => body.replace("\n", "&#10;")
      case 2 => Seq(" ", "\n", "\t", "\u0000", "\u000B")(r.nextInt(5)) + body
      case _ => body
    }
  }

  private val corpus: Vector[String] = {
    val r = new Random(14L)
    Vector("", "0", " 0 ", "<b>0</b>", "0\n\n0", ("w " * 14) + "-\n", ("w " * 15).trim,
      ("w " * 14).trim, "- lonely bullet", "```\ncode\n```", "> quoted") ++
      Vector.fill(3600)(text(r))
  }

  test("the corpus holds a one-line text whose raw and trimmed PHP word counts straddle 15") {
    assert(corpus.exists { t =>
      val trimmed = phpTrim(t)
      !trimmed.contains('\n') && phpStrWordCount(t) >= 15 && phpStrWordCount(trimmed) < 15
    })
  }

  test("detectType equals the per-port bodies on every variant") {
    assert(corpus.length >= 3000)
    for (t <- corpus) {
      same(AdapterChunker.detectType(t), Legacy.detectType(t), t)
      for (v <- all7)
        same(AdapterChunker.detectType(t, v), Legacy.detectType(t, v), (v, t))
    }
  }

  test("every clean equals its own-tail form") {
    for (t <- corpus) {
      same(AdapterChunker.cleanHtml(t), Legacy.cleanHtml(t), t)
      same(AdapterChunker.cleanWp(t), Legacy.cleanWp(t), t)
      same(AdapterChunker.cleanJoomla(t), Legacy.cleanJoomla(t), t)
      same(AdapterChunker.cleanWoo(t), Legacy.cleanWoo(t), t)
      same(AdapterChunker.cleanDrupal(t), Legacy.cleanDrupal(t), t)
    }
  }

  test("chunkContent equals the variant dispatch, whole chunks, on every variant") {
    var chunked = 0
    for (t <- corpus; v <- all7) {
      val got = AdapterChunker.chunkContent(t, "http://x/" + t.length, v)
      same(got, Legacy.chunkContent(t, "http://x/" + t.length, v), (v, t))
      if (got.nonEmpty) chunked += 1
    }
    assert(chunked > corpus.length * 4)
  }
}
