package graft.extract

import java.util.regex.Pattern
import TextUtil.phpTrim

/** The cross-adapter chunker covering ALL NINE of the reference's
  * framework ports, which hold SEVEN distinct behaviors (see
  * [[Variant]]): express (the code/quote-detecting superset and the
  * default — `/root/reference/adapters/express/src/chunker.js:12-136`),
  * WordPress, FastAPI, the TS trio (astro/nextjs/vite), Joomla (own
  * clean + a trim-joined character packing budget), WooCommerce (own
  * clean, 300-word budget, product ids), and Drupal (own clean + a
  * sum-of-paragraph-lengths 500-CHARACTER budget — NOT the WordPress
  * word budget, and not Joomla's joined-candidate char budget either).
  */
object AdapterChunker {

  val WordsPerChunk = 500

  /** Which adapter port's semantics to run: the ports diverge in
    * chunk-type detection order and bullet classes, host-language
    * string semantics (trim / word count / line split), clean
    * pipelines, packing budgets, and id schemes. Each value carries its
    * port's rules as data — its [[Host]], clean, bullet set, detection
    * [[Order]], packer, id prefix, and whether a cleaned "0" is PHP
    * `empty` — read by the one [[detectType]] and [[chunkContent]]. */
  sealed abstract class Variant private[AdapterChunker] (
      private[AdapterChunker] val host: Host,
      private[AdapterChunker] val clean: String => String,
      bullets: String,
      private[AdapterChunker] val order: Order,
      private[AdapterChunker] val pack: Array[String] => Vector[String],
      private[AdapterChunker] val idPrefix: String => String = TextUtil.md5Hex,
      private[AdapterChunker] val zeroIsEmpty: Boolean = false) {
    private[AdapterChunker] val listRe = listLineRe(host.ws, bullets, host.flags)
  }
  object Variant {
    /** chunker.js:48-73 — code → quote → heading → list → paragraph,
      * `[-*+]` bullets, JS whitespace-split word count. The superset
      * variant (the only one detecting code/quote). */
    case object Express extends Variant(Js, cleanHtml, "-*+",
      CodeQuoteHeadingFirst, packBySum(_, countWords, WordsPerChunk))
    /** `/root/reference/adapters/wordpress/includes/class-chunker.php:152-174`
      * — LIST IS CHECKED BEFORE HEADING (a single-line bullet is a list
      * here, a heading in express), bullets are `[-*]` only (no `+`), no
      * code/quote detection, and the heading word count is PHP
      * `str_word_count` — alphabetic runs (with `'`/`-`), so digits
      * contribute nothing. Packing word budgets use `str_word_count` too
      * (class-chunker.php:112), paragraph filtering is PHP `array_filter`
      * (drops the falsy "0" paragraph, :100), and an all-content "0"
      * returns no chunks (`empty($content)`, :95-97). The clean is
      * [[cleanWp]]: noisy-shortcode strip, core `strip_shortcodes`
      * (registered tags only — unregistered `[markers]` SURVIVE), wp:
      * block comments, `the_content` filters (wpautop modeled), then
      * `wp_strip_all_tags` — concatenating PHP `strip_tags`, NO entity
      * decode (class-chunker.php:53-81). Because wpautop rewraps every
      * `\n\n` as `</p>\n<p>`, WP-cleaned paragraph boundaries are single
      * newlines; a literal `\n\n` reaches the packer only through
      * `<pre>` bodies. */
    case object Wp extends Variant(Php, cleanWp, "-*", ListFirst,
      packBySum(_, phpStrWordCount, WordsPerChunk), zeroIsEmpty = true)
    /** `/root/reference/adapters/fastapi/openfeeder_fastapi/chunker.py:39-54`
      * — heading before list (like express) but NO code/quote detection,
      * and Python string semantics: `splitlines()` boundaries (`\r`,
      * `\v`, `\f`, … split lines here; only `\n` does in JS/PHP),
      * `str.strip()`, `str.split()` word counting. */
    case object FastApi extends Variant(Py, cleanHtml, "-*+", HeadingFirst,
      packBySum(_, pyCountWords, WordsPerChunk))
    /** The three TypeScript ports — astro/nextjs/vite `src/chunker.ts`,
      * byte-identical detectType across them (astro :32-49) — heading
      * before list, `[-*+]` bullets, NO code/quote, JS string semantics;
      * clean/packing/ids are the express pipeline. */
    case object Ts extends Variant(Js, cleanHtml, "-*+", HeadingFirst,
      packBySum(_, countWords, WordsPerChunk))
    /** `/root/reference/adapters/joomla/src/Helper/Chunker.php` — its own
      * clean (`{...}` CMS-tag strip :79, PHP `strip_tags` :82 — which
      * CONCATENATES text across removed tags instead of spacing it,
      * `html_entity_decode(…, ENT_QUOTES)` :85 = the HTML 4.01 table
      * with strict numeric refs), CHARACTER-budget packing (`mb_strlen >
      * 500` on the trim-joined candidate, :45-52 — not a word budget!),
      * and heading-first detection with `str_word_count` on the RAW text
      * and `[-*+]` bullets (:96-117). */
    case object Joomla extends Variant(Php, cleanJoomla, "-*+", HeadingFirst,
      packJoomlaChars)
    /** `/root/reference/adapters/woocommerce/includes/class-chunker.php`
      * — a 300-word `str_word_count` budget (:20), ids `p{product_id}_i`
      * (:121, no md5 — pass the product id as the `url` argument), clean
      * via core `strip_shortcodes` (REGISTERED tags only — see
      * [[stripShortcodesCore]]; unregistered markers like `[ad id=3]`
      * survive into the text, :36) then `wp_strip_all_tags($s, true)`
      * whose remove_breaks collapses ALL whitespace runs to single
      * spaces (:39-40) — so paragraph boundaries never survive and real
      * content packs into ONE paragraph — then a FULL
      * `html_entity_decode(…, ENT_QUOTES | ENT_HTML5)` (:43, the HTML5
      * table with semicolon-required names — PHP parity, see
      * [[HtmlEntities.decodePhpHtml5]]), and list-vs-paragraph-ONLY
      * detection (:140-157) whose `[-*•]` bullet class is byte-compiled
      * without /u: a real "• " line starts with byte 0xE2 whose
      * continuation byte can never match `\s`, so the • alternative is
      * DEAD for valid UTF-8 — effectively `[-*]`, replicated as such. */
    case object Woo extends Variant(Php, cleanWoo, "-*", ListOnly,
      packBySum(_, phpStrWordCount, 300), "p" + _, zeroIsEmpty = true)
    /** `/root/reference/adapters/drupal/src/Service/ChunkerService.php`
      * — the SEVENTH behavior: Drupal is NOT WordPress. Packing is a
      * 500-CHARACTER budget (`CHARS_PER_CHUNK = 500`, :16): per
      * paragraph `mb_strlen` (code points, :74), flush on `current_len +
      * para_len > 500` where `current_len` is the SUM of paragraph
      * lengths — the `"\n\n"` joiners are NOT counted (:77-86) — which
      * differs from BOTH WP's 500 `str_word_count` words and Joomla's
      * `mb_strlen` of the trim-JOINED candidate. The clean is its own
      * (:29-41): plain concatenating PHP `strip_tags` (no shortcode or
      * block-comment strip — Drupal has neither), full
      * `html_entity_decode(ENT_QUOTES | ENT_HTML5)`, then the shared
      * whitespace collapses. Detection and ids are genuinely shared
      * with WP: list-before-heading with `[-*]` (:143-156) and
      * md5(url)-prefixed ids (:95-116). Empty check is
      * `empty(trim($content))` (:58) — the falsy "0" quirk applies to
      * the trimmed cleaned text. */
    case object Drupal extends Variant(Php, cleanDrupal, "-*", ListFirst,
      packBySum(_, TextUtil.cpLength, 500), zeroIsEmpty = true)
  }

  final case class AChunk(id: String, text: String, chunkType: String,
      relevance: Option[Double] = None)

  private val tagRe = Pattern.compile("<[^>]*>")
  private val spaceTabRe = Pattern.compile("[ \\t]+")
  private val manyNewlinesRe = Pattern.compile("\\n{3,}")
  private[extract] val paraSplitRe = Pattern.compile("\\n{2,}")

  /** JS whitespace — what both `/\s/` and `String.prototype.trim()`
    * accept: \t-\r, the Unicode space separators (Zs), U+2028, U+2029
    * and the BOM U+FEFF. Unlike Python's `str.isspace` ([[TextUtil.isPyWs]])
    * it excludes \x1c-\x1f and U+0085. */
  @inline private def isJsWs(c: Char): Boolean = c match {
    case '\t' | '\n' | '\u000B' | '\f' | '\r' | ' ' | '\u00A0' | '\u1680' |
         '\u2028' | '\u2029' | '\u202F' | '\u205F' | '\u3000' | '\uFEFF' => true
    case _ => c >= '\u2000' && c <= '\u200A'
  }

  /** C-locale `isspace`: the six units PHP `strip_tags` tests after a `<`
    * and PCRE's `\s` matches without /u. */
  @inline private def isCSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** A regex character class matching exactly the units `ws` accepts. */
  private def charClass(ws: Char => Boolean): String =
    (0 to 0xFFFF).filter(i => ws(i.toChar))
      .map(i => f"\\x{$i%x}").mkString("[", "", "]")

  private val jsWsSplitRe = Pattern.compile(charClass(isJsWs) + "+")

  /** `^(\d+[.)]\s|[bullets]\s)` under the host's `\s`: JS regexes and
    * PCRE without /u have an ASCII `\d`; Python `re` on str has a
    * Unicode `\d`. */
  private def listLineRe(ws: Char => Boolean, bullets: String, flags: Int): Pattern = {
    val s = charClass(ws)
    Pattern.compile(s"^(\\d+[.)]$s|[$bullets]$s)", flags)
  }

  /** A host language's string semantics, shared by every port written in
    * it: the trim, the word count, the line split, the list pattern's
    * `\s` (`ws`) and `\d` (`flags`), and whether paragraphs are filtered
    * by PHP `array_filter`, which also drops a falsy "0" paragraph. */
  private[AdapterChunker] final class Host(val trim: String => String,
      val words: String => Int, val lines: String => collection.IndexedSeq[String],
      val ws: Char => Boolean, val flags: Int, val dropsZero: Boolean)
  private val Js = new Host(jsTrim, countWords, _.split("\n", -1), isJsWs, 0,
    dropsZero = false)
  private val Php = new Host(phpTrim, phpStrWordCount, _.split("\n", -1), isCSpace, 0,
    dropsZero = true)
  private val Py = new Host(TextUtil.stripPy, pyCountWords, pySplitlines,
    TextUtil.isPyWs, Pattern.UNICODE_CHARACTER_CLASS, dropsZero = false)

  /** A port's detection order: code and quote first (express only), then
    * a heading test before the list test, after it, or not at all. */
  private[AdapterChunker] final class Order(val codeQuote: Boolean,
      val headingFirst: Boolean, val headingLast: Boolean)
  private val CodeQuoteHeadingFirst = new Order(true, true, false)
  private val HeadingFirst = new Order(false, true, false)
  private val ListFirst = new Order(false, false, true)
  private val ListOnly = new Order(false, false, false)

  /** JS `String.prototype.trim()`. */
  private[extract] def jsTrim(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && isJsWs(s.charAt(a))) a += 1
    while (b > a && isJsWs(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** The tail of every clean: `[ \t]+` → " ", `\n{3,}` → "\n\n", then the
    * host's trim (chunker.js:30-34 and each PHP port's `clean`). */
  private def collapseWs(t: String, trim: String => String): String =
    trim(manyNewlinesRe.matcher(spaceTabRe.matcher(t).replaceAll(" "))
      .replaceAll("\n\n"))

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
    collapseWs(text, Js.trim)
  }

  /** chunker.js:40-42. */
  def countWords(text: String): Int =
    jsWsSplitRe.split(jsTrim(text), -1).count(_.nonEmpty)

  /** C4: code / quote / heading / list / paragraph — chunker.js:48-73. */
  def detectType(text: String): String = detectType(text, Variant.Express)

  /** [[detectType]] under a specific adapter port's semantics: the
    * port's [[Order]] over one trim, one line split and one list count.
    * A text is a list when at least half its lines are list lines (WP's
    * `$list_lines > 0 && $list_lines >= count($lines)/2` and the other
    * ports' `ratio >= 0.5` agree on every line count, zero lines
    * included), and a heading when it is one line of fewer than 15
    * words. Heading-first ports count the raw text and list-first ports
    * the trimmed one; only PHP `str_word_count` can tell them apart, on
    * a trailing "-" that trimming exposes. */
  def detectType(text: String, variant: Variant): String = {
    val h = variant.host
    val order = variant.order
    val trimmed = h.trim(text)
    if (order.codeQuote && trimmed.startsWith("```")) return "code"
    if (order.codeQuote && trimmed.startsWith(">")) return "quote"
    val lines = h.lines(trimmed)
    def heading(counted: String) = lines.length == 1 && h.words(counted) < 15
    def list = {
      val n = lines.count(l => variant.listRe.matcher(h.trim(l)).find())
      n > 0 && 2 * n >= lines.length
    }
    if (order.headingFirst && heading(text)) "heading"
    else if (list) "list"
    else if (order.headingLast && heading(trimmed)) "heading"
    else "paragraph"
  }

  // ---- PHP string semantics -------------------------------------------

  /** PHP `str_word_count($s)` (C locale, no extra charlist): scans for
    * tokens of `[A-Za-z'-]`, where a token may start at `'`/`-` only when
    * not at position 0 of the string, and a trailing `-` as the LAST
    * character of the string is excluded before the scan (`e--` in the C
    * source) — so digits never contribute ("Chapter 22" counts 1), a bare
    * "--" mid-string counts as a word, and "ab -" counts 1, not 2.
    * Transliterated from ext/standard/string.c `php_str_word_count`. */
  private[extract] def phpStrWordCount(s: String): Int = {
    @inline def isAlpha(c: Char) =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    @inline def isWordChar(c: Char) = isAlpha(c) || c == '\'' || c == '-'
    // "the last character cannot be -": one trailing hyphen is trimmed
    val end = if (s.nonEmpty && s.charAt(s.length - 1) == '-') s.length - 1
      else s.length
    var i = 0; var count = 0
    while (i < end) {
      val c = s.charAt(i)
      if (isAlpha(c) || ((c == '\'' || c == '-') && i != 0)) {
        count += 1
        while (i < end && isWordChar(s.charAt(i))) i += 1
      } else i += 1
    }
    count
  }

  // ---- Python string semantics (FastAPI variant) ----------------------

  /** Python `str.splitlines()`: universal-newline boundaries (\n \r \r\n
    * \v \f \x1c \x1d \x1e \x85 U+2028 U+2029), no trailing empty line,
    * "" → zero lines. */
  private[extract] def pySplitlines(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val code = c.toInt
      val isBreak = code == 0x0A || code == 0x0D || code == 0x0B ||
        code == 0x0C || code == 0x1C || code == 0x1D || code == 0x1E ||
        code == 0x85 || code == 0x2028 || code == 0x2029
      if (isBreak) {
        out += s.substring(start, i)
        if (c == '\r' && i + 1 < s.length && s.charAt(i + 1) == '\n') i += 1
        i += 1; start = i
      } else i += 1
    }
    if (start < s.length) out += s.substring(start)
    out.result()
  }

  /** Python `len([w for w in text.strip().split() if w])` —
    * chunker.py:36-37. */
  private[extract] def pyCountWords(s: String): Int = {
    var i = 0; var count = 0; var inWord = false
    while (i < s.length) {
      if (TextUtil.isPyWs(s.charAt(i))) inWord = false
      else { if (!inWord) count += 1; inWord = true }
      i += 1
    }
    count
  }

  /** PHP `strip_tags` (`php_strip_tags_ex`, ext/standard/string.c): `<`
    * begins a tag unless the NEXT char is C-locale whitespace (`1 < 2`
    * stays text, but `I <3 u` swallows from `<3` on, and a trailing `<`
    * at end of string is dropped); `<!--` comments skip to `-->`;
    * inside a tag, quotes hide `>` (and only the MATCHING quote closes
    * — `alt="it's"` stays quoted through the apostrophe) and a nested
    * `<` bumps a depth counter so its `>` doesn't close the outer tag;
    * an unterminated tag swallows the rest. Unlike the canonical
    * tag-to-space regex, removed tags CONCATENATE their surrounding
    * text (`<p>a</p><p>b</p>` → `ab`). */
  def phpStripTags(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      val tagStart = c == '<' && (i + 1 >= n || !isCSpace(s.charAt(i + 1)))
      if (tagStart) {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else {
          var j = i + 1
          var quote: Char = 0
          var depth = 0
          var done = false
          while (j < n && !done) {
            val t = s.charAt(j)
            if (quote != 0) { if (t == quote) quote = 0; j += 1 }
            else if (t == '"' || t == '\'') { quote = t; j += 1 }
            else if (t == '<' && (j + 1 >= n || !isCSpace(s.charAt(j + 1)))) {
              depth += 1; j += 1
            }
            else if (t == '>') { if (depth > 0) { depth -= 1; j += 1 } else done = true }
            else j += 1
          }
          i = if (done) j + 1 else n
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Joomla Chunker.php `clean` (:75-92): `{...}` CMS shortcode strip,
    * PHP strip_tags (concatenating), HTML 4.01 entity decode with
    * strict numerics, whitespace normalization, PHP trim. */
  private val curlyShortcodeRe = Pattern.compile("\\{[^}]*\\}")
  def cleanJoomla(html: String): String = {
    var t = curlyShortcodeRe.matcher(html).replaceAll("")
    t = phpStripTags(t)
    t = HtmlEntities.decodePhpHtml4(t)
    collapseWs(t, Php.trim)
  }

  /** WordPress core's default-registered shortcode tags: the media
    * shortcodes from wp-includes/media.php (`add_shortcode` calls for
    * wp_caption/caption/gallery/playlist/audio/video) plus class-wp-embed
    * `embed`. The registered set is runtime site configuration; modeling
    * it as exactly the core defaults is the closed-form choice — a site
    * registering extra tags would strip more. Documented delta. */
  private val coreShortcodeTags =
    Seq("wp_caption", "caption", "gallery", "playlist", "audio", "video", "embed")
  private val coreShortcodeSet = coreShortcodeTags.toSet

  /** `get_shortcode_regex($tagnames)` (wp-includes/shortcodes.php),
    * transliterated with the same groups: 1 = optional `[` escape,
    * 2 = tag, 3 = attrs, 4 = self-closing `/`, 5 = body, 6 = optional
    * `]` escape. */
  private val coreShortcodeRe: Pattern = {
    val tags = coreShortcodeTags.map(Pattern.quote).mkString("|")
    Pattern.compile(
      "\\[" +
      "(\\[?)" +
      "(" + tags + ")" +
      "(?![\\w-])" +
      "(" +
        "[^\\]/]*" +
        "(?:" +
          "/(?!\\])" +
          "[^\\]/]*" +
        ")*?" +
      ")" +
      "(?:" +
        "(/)" +
        "\\]" +
      "|" +
        "\\]" +
        "(?:" +
          "(" +
            "[^\\[]*+" +
            "(?:" +
              "\\[(?!/\\2\\])" +
              "[^\\[]*+" +
            ")*+" +
          ")" +
          "\\[/\\2\\]" +
        ")?" +
      ")" +
      "(\\]?)")
  }

  /** `strip_shortcodes`'s present-tag precheck scanner
    * (wp-includes/shortcodes.php `\[([^<>&/\[\]\x00-\x20=]++)`). */
  private val shortcodeNameCandidateRe =
    Pattern.compile("\\[([^<>&/\\[\\]\\x00-\\x20=]++)")

  /** WP core `strip_shortcodes` (wp-includes/shortcodes.php), modeled on
    * the DEFAULT registered set [[coreShortcodeTags]]: bodied removal of
    * registered shortcodes (`strip_shortcode_tag` drops attrs AND body),
    * `[[tag]]` escape unwrapping, and `do_shortcodes_in_html_tags`
    * bracket-escaping so markers inside HTML elements/comments are
    * untouched. Unregistered markers like `[ad id=3]` SURVIVE — pinned
    * by golden. If no registered tag name appears, the input is returned
    * byte-identical (the precheck short-circuits before the `&#91;`
    * renormalization, exactly like core). */
  private[extract] def stripShortcodesCore(content: String): String = {
    if (!content.contains('[')) return content
    val cm = shortcodeNameCandidateRe.matcher(content)
    var present = false
    while (!present && cm.find())
      present = coreShortcodeSet.contains(cm.group(1))
    if (!present) return content
    // do_shortcodes_in_html_tags(ignore_html = true): pre-escape literal
    // escaped brackets, then escape brackets INSIDE html tokens so the
    // shortcode regex below (which runs on the whole string) cannot see
    // them; unescape_invalid_shortcodes restores at the end. Core only
    // escapes a token containing BOTH '[' and ']' (`$noopen || $noclose
    // → continue`, wp-includes/shortcodes.php) — a half-bracket token
    // like `<img alt="[gallery">` stays unescaped, so the regex can
    // match from inside it across the token boundary, exactly like
    // core.
    var c = content.replace("&#91;", "&#091;").replace("&#93;", "&#093;")
    c = {
      val m = Wpautop.htmlTokenRe.matcher(c)
      val sb = new java.lang.StringBuilder(c.length)
      var last = 0
      while (m.find()) {
        sb.append(c, last, m.start())
        val tok = m.group()
        sb.append(
          if (tok.indexOf('[') >= 0 && tok.indexOf(']') >= 0)
            tok.replace("[", "&#91;").replace("]", "&#93;")
          else tok)
        last = m.end()
      }
      sb.append(c, last, c.length)
      sb.toString
    }
    val m = coreShortcodeRe.matcher(c)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      // strip_shortcode_tag: [[tag]] unescapes; otherwise keep only the
      // escape-group brackets (i.e. remove tag, attrs, and body)
      val rep =
        if (m.group(1) == "[" && m.group(6) == "]")
          m.group(0).substring(1, m.group(0).length - 1)
        else m.group(1) + m.group(6)
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString.replace("&#91;", "[").replace("&#93;", "]")
  }

  /** `wp_strip_all_tags($text, $remove_breaks)` (wp-includes/
    * formatting.php): script/style removed WITH bodies, concatenating
    * PHP `strip_tags`, optional `[\r\n\t ]+` → single-space collapse,
    * PHP trim. NO entity decode — callers that want one (Woo, Drupal)
    * apply it themselves. */
  private val scriptStyleRe = Pattern.compile(
    "<(script|style)[^>]*?>.*?</\\1>",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val wsRunRe = Pattern.compile("[\\r\\n\\t ]+")
  private[extract] def wpStripAllTags(s: String,
      removeBreaks: Boolean = false): String = {
    var t = scriptStyleRe.matcher(s).replaceAll("")
    t = phpStripTags(t)
    if (removeBreaks) t = wsRunRe.matcher(t).replaceAll(" ")
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
    collapseWs(t, Php.trim)
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
    collapseWs(t, Php.trim)
  }

  /** Drupal ChunkerService.php `trimWords` (:120-127): PHP
    * `preg_split('/\s+/', trim($text), $num_words + 1)` keeps the
    * remainder in the last piece; if over budget the remainder is
    * popped and a THREE-DOT "..." appended (not the Woo U+2026). Words
    * are always re-joined with single spaces, so newlines in the input
    * never survive a summary. Call sites: ContentController.php:186
    * (40 words), :280 and :361 (30 words). */
  def trimWordsDrupal(text: String, numWords: Int): String = {
    val words = phpTrim(text).split("\\s+", numWords + 1)
    if (words.length > numWords) words.take(numWords).mkString(" ") + "..."
    else words.mkString(" ")
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

  /** Greedy paragraph packing: append each paragraph to the current
    * chunk (joined by "\n\n") unless the chunk is non-empty and the SUM
    * of the paragraphs' `size` would exceed `budget` — the joiners are not
    * counted. Sizes: express/WP/FastAPI/TS `WordsPerChunk` words and Woo
    * 300 words, under each host's word count (chunker.js:82-122); Drupal
    * 500 `mb_strlen` code points (ChunkerService.php:73-91). */
  private[extract] def packBySum(paragraphs: Array[String], size: String => Int,
      budget: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var current = ""
    var currentSize = 0
    paragraphs.foreach { p =>
      val pSize = size(p)
      if (currentSize > 0 && currentSize + pSize > budget) {
        out += current
        current = p
        currentSize = pSize
      } else {
        current = if (current.isEmpty) p else current + "\n\n" + p
        currentSize += pSize
      }
    }
    if (current.nonEmpty) out += current
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
    val h = variant.host
    val text = variant.clean(html)
    // PHP empty($content): "" AND the falsy string "0" yield no chunks
    // (WP class-chunker.php:95, Woo :83; Drupal's `empty(trim($content))`
    // :58 sees the already-trimmed cleaned text, so it lands here too;
    // Joomla checks trim === '' only)
    if (text.isEmpty || (variant.zeroIsEmpty && text == "0")) return Vector.empty
    // PHP array_filter (no callback) also drops a falsy "0" paragraph
    val paragraphs = paraSplitRe.split(text, -1).map(h.trim)
      .filter(p => p.nonEmpty && !(h.dropsZero && p == "0"))
    if (paragraphs.isEmpty) return Vector.empty

    val idPrefix = variant.idPrefix(url)
    variant.pack(paragraphs).zipWithIndex.map { case (t, i) =>
      AChunk(s"${idPrefix}_$i", t, detectType(t, variant), relevance = None)
    }
  }

  /** C7: WordPress shortcode / block-comment strip —
    * `/root/reference/adapters/wordpress/includes/class-chunker.php:28-81`.
    * 14 noisy shortcode tags (with optional body up to the closing tag),
    * then core `strip_shortcodes` over the registered set, and
    * `<!-- wp:navigation -->` style block comments. The transcript
    * analog: tool-call wrapper markup inside turn payloads. */
  private val stripShortcodes = Seq(
    "gallery", "embed", "video", "audio", "playlist", "caption", "ad",
    "adsense", "sidebar", "widget", "social", "share", "related_posts")
  private val shortcodeRes = stripShortcodes.map { tag =>
    val q = Pattern.quote(tag)
    Pattern.compile("\\[" + q + "[^\\]]*\\](?:.*?\\[/" + q + "\\])?", Pattern.DOTALL)
  }
  private val wpBlockCommentRe = Pattern.compile(
    "<!--\\s*wp:(navigation|widget|social-links|search|tag-cloud|categories|archives|calendar|rss|latest-comments)[\\s\\S]*?-->",
    Pattern.DOTALL)

  /** The noise half of the WP clean (class-chunker.php:53-71): the
    * 14-tag bodied loop, core `strip_shortcodes` (registered tags only —
    * unregistered `[markers]` survive, exactly as in the reference,
    * where `strip_shortcodes` consults the registered-tag table), and
    * the wp: block-comment strip. */
  def stripWpNoise(content: String): String = {
    var c = content
    shortcodeRes.foreach(re => c = re.matcher(c).replaceAll(""))
    c = stripShortcodesCore(c)
    c = wpBlockCommentRe.matcher(c).replaceAll("")
    c
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
    collapseWs(t, Php.trim)
  }

  /** WooCommerce `summarize` (class-chunker.php:58-73): source = the
    * short description unless PHP-empty (the falsy "0" counts as
    * empty), run through [[cleanWoo]]; PHP-empty cleaned text returns
    * ""; else capped at 50 `preg_split('/\\s+/')` (ASCII) words with a
    * U+2026 `…` — NOT the express three-dot "...". */
  def summariseWoo(shortDescription: String, description: String): String = {
    val source =
      if (shortDescription.nonEmpty && shortDescription != "0") shortDescription
      else description
    val text = cleanWoo(source)
    if (text.isEmpty || text == "0") ""
    else {
      val words = text.split("\\s+", -1)
      if (words.length > 50) words.take(50).mkString(" ") + "…" else text
    }
  }

  /** WP core `wp_trim_words($text, $num_words, $more)` (wp-includes/
    * formatting.php) — the WP content API's excerpt fallback is
    * `wp_trim_words(wp_strip_all_tags($post->post_content), 30, '...')`
    * (class-content-api.php:508): strip all tags (again — the function
    * strips internally too), split on `[\n\r\t ]+` with
    * PREG_SPLIT_NO_EMPTY — note the charset is NOT PHP `\s`: `\f` and
    * `\v` are word-INTERNAL here, unlike [[trimWordsDrupal]]'s `\s+` —
    * keep at most `numWords`, re-join with single spaces, append `more`
    * only when truncated. The preg_split limit slot consumed by a
    * leading empty piece (input starting with whitespace) is consumed
    * in PHP too: split-then-filter order is faithful. */
  def wpTrimWords(text: String, numWords: Int, more: String): String = {
    val words = wpStripAllTags(text)
      .split("[\\n\\r\\t ]+", numWords + 1).filter(_.nonEmpty)
    if (words.length > numWords) words.take(numWords).mkString(" ") + more
    else words.mkString(" ")
  }

  /** Joomla ContentController `generateSummary` (:355-368) — the FOURTH
    * summary behavior across the ports (express/TS `summarise`, Woo
    * 50-word U+2026, Drupal `trimWords`, WP `wp_trim_words`):
    * concatenating `strip_tags`, `html_entity_decode(ENT_QUOTES)` —
    * the HTML **4.01** table, NOT ENT_HTML5 — `\s+` → one space, PHP
    * trim, then `explode(' ')` (exact single-space split, safe because
    * the text was just normalized) capped at 40 words + three-dot
    * "...". */
  def summariseJoomla(introtext: String): String = {
    var t = phpStripTags(introtext)
    t = HtmlEntities.decodePhpHtml4(t)
    t = phpWsRe.matcher(t).replaceAll(" ")
    t = phpTrim(t)
    val words = t.split(" ", -1)
    if (words.length > 40) words.take(40).mkString(" ") + "..." else t
  }
  private val phpWsRe = Pattern.compile("\\s+")

  /** C6: first ~40 words + "..." — chunker.js:131-136 (the TS trio's
    * summarise is line-identical). */
  def summarise(html: String, words: Int = 40): String = {
    val text = cleanHtml(html)
    val wordList = jsWsSplitRe.split(text, -1).filter(_.nonEmpty)
    if (wordList.length <= words) text
    else wordList.take(words).mkString(" ") + "..."
  }
}
