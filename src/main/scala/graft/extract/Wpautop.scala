package graft.extract

import java.util.regex.{Matcher, Pattern}

/** WordPress `wpautop` — the newline→`<p>`/`<br />` filter that runs on
  * `the_content` before the WP adapter's chunker strips tags
  * (`/root/reference/adapters/wordpress/includes/class-chunker.php:74-76`
  * calls `apply_filters('the_content', $content)` and wpautop is the
  * structural step of that default chain). Transliterated rule-for-rule
  * from the public WP core source (wp-includes/formatting.php), same
  * regex order, because it materially changes chunk output: raw
  * `a\n\nb` becomes `<p>a</p>\n<p>b</p>\n`, which the concatenating
  * `wp_strip_all_tags` then renders as `a\nb` — paragraph boundaries in
  * WP-cleaned text are single newlines, and `\n\n` survives only inside
  * `<pre>` bodies (which wpautop placeholders out verbatim).
  *
  * The REST of the default `the_content` chain (do_blocks, wptexturize's
  * smart quotes, convert_smilies, prepend_attachment,
  * wp_filter_content_tags) is site-configurable rendering, documented as
  * a modeling delta at [[AdapterChunker.cleanWp]].
  */
object Wpautop {

  /** `get_html_split_regex()` (wp-includes/shortcodes.php): one token per
    * HTML comment, CDATA section, or element; PHP's conditional
    * `(?(?=!-)…|…)` is re-expressed as lookahead-guarded alternation
    * (Java has possessive quantifiers but not pattern conditionals). */
  private[extract] val htmlTokenRe: Pattern = Pattern.compile(
    "<(?:" +
      "(?=!--)!(?:-(?!->)[^-]*+)*+(?:-->)?" +              // comment
      "|(?=!\\[CDATA\\[)!\\[CDATA\\[[^\\]]*+(?:\\](?!\\]>)[^\\]]*+)*+(?:\\]\\]>)?" + // CDATA
      "|[^>]*>?" +                                          // element
      ")")

  /** `wp_replace_in_html_tags` with a single pair: apply `needle` →
    * `replace` INSIDE html tokens only (text between tokens untouched). */
  private[extract] def replaceInHtmlTokens(haystack: String, needle: String,
      replace: String): String = {
    val m = htmlTokenRe.matcher(haystack)
    val sb = new java.lang.StringBuilder(haystack.length)
    var last = 0
    while (m.find()) {
      sb.append(haystack, last, m.start())
      sb.append(m.group().replace(needle, replace))
      last = m.end()
    }
    sb.append(haystack, last, haystack.length)
    sb.toString
  }

  // wpautop's block-element alternation, verbatim from formatting.php
  // (current-era core: includes `math`, and `search` since WP 6.4)
  private val allBlocks =
    "(?:table|thead|tfoot|caption|col|colgroup|tbody|tr|td|th|div|dl|dd|" +
    "dt|ul|ol|li|pre|form|map|area|blockquote|address|math|style|p|" +
    "h[1-6]|hr|fieldset|legend|section|search|article|aside|hgroup|" +
    "header|footer|nav|figure|figcaption|details|menu|summary)"

  private val brBrRe = Pattern.compile("<br\\s*/?>\\s*<br\\s*/?>")
  private val openBlockRe = Pattern.compile("(<" + allBlocks + "[\\s/>])")
  private val closeBlockRe = Pattern.compile("(</" + allBlocks + ">)")
  private val optionOpenRe = Pattern.compile("\\s*<option")
  private val optionCloseRe = Pattern.compile("</option>\\s*")
  private val objectOpenRe = Pattern.compile("(<object[^>]*>)\\s*")
  private val objectCloseRe = Pattern.compile("\\s*</object>")
  private val paramEmbedRe = Pattern.compile("\\s*(</?(?:param|embed)[^>]*>)\\s*")
  private val avOpenRe = Pattern.compile("([<\\[](?:audio|video)[^>\\]]*[>\\]])\\s*")
  private val avCloseRe = Pattern.compile("\\s*([<\\[]/(?:audio|video)[>\\]])")
  private val sourceTrackRe = Pattern.compile("\\s*(<(?:source|track)[^>]*>)\\s*")
  private val figcapOpenRe = Pattern.compile("\\s*(<figcaption[^>]*>)")
  private val figcapCloseRe = Pattern.compile("</figcaption>\\s*")
  private val manyBreaksRe = Pattern.compile("\\n\\n+")
  private val paraSplitRe = Pattern.compile("\\n\\s*\\n")
  private val emptyPRe = Pattern.compile("<p>\\s*</p>")
  private val pInContainerRe = Pattern.compile("<p>([^<]+)</(div|address|form)>")
  private val pWrapsBlockRe =
    Pattern.compile("<p>\\s*(</?" + allBlocks + "[^>]*>)\\s*</p>")
  private val pLiRe = Pattern.compile("<p>(<li.+?)</p>")
  private val pBlockquoteRe =
    Pattern.compile("<p><blockquote([^>]*)>", Pattern.CASE_INSENSITIVE)
  private val pBeforeBlockRe = Pattern.compile("<p>\\s*(</?" + allBlocks + "[^>]*>)")
  private val blockBeforeClosePRe =
    Pattern.compile("(</?" + allBlocks + "[^>]*>)\\s*</p>")
  private val preserveNlRe =
    Pattern.compile("<(script|style|svg|math).*?</\\1>", Pattern.DOTALL)
  private val looseNlRe = Pattern.compile("(?<!<br />)\\s*\\n")
  private val brAfterBlockRe = Pattern.compile("(</?" + allBlocks + "[^>]*>)\\s*<br />")
  private val brBeforeBlockSubsetRe = Pattern.compile(
    "<br />(\\s*</?(?:p|li|div|dl|dd|dt|th|pre|td|ul|ol)[^>]*>)")
  private val trailingNlPRe = Pattern.compile("\\n</p>$")

  private def trimNl(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == '\n') a += 1
    while (b > a && s.charAt(b - 1) == '\n') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** `wpautop($text, $br = true)`, same statement order as the WP core
    * source. */
  def apply(input: String, br: Boolean = true): String = {
    if (TextUtil.phpTrim(input).isEmpty) return ""

    // Pad the end ("just to make things a little easier").
    var text = input + "\n"

    // <pre> bodies are placeholdered out untouched and restored at the end
    // (this is the only way a literal \n\n survives wpautop).
    val preTags = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (text.contains("<pre")) {
      val parts = text.split(Pattern.quote("</pre>"), -1)
      val lastPart = parts.last
      val sb = new java.lang.StringBuilder
      var i = 0
      parts.dropRight(1).foreach { part =>
        val start = part.indexOf("<pre")
        if (start < 0) sb.append(part) // malformed: WP drops the separator too
        else {
          val name = s"<pre wp-pre-tag-$i></pre>"
          preTags(name) = part.substring(start) + "</pre>"
          sb.append(part, 0, start).append(name)
          i += 1
        }
      }
      text = sb.append(lastPart).toString
    }

    // Change multiple <br>'s into two line breaks (future paragraphs).
    text = brBrRe.matcher(text).replaceAll("\n\n")
    // Double line break above block-level opening / below closing tags.
    text = openBlockRe.matcher(text).replaceAll("\n\n$1")
    text = closeBlockRe.matcher(text).replaceAll("$1\n\n")
    // Standardize newline characters to "\n".
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    // Newlines inside HTML tokens get placeholders so they survive as-is.
    text = replaceInHtmlTokens(text, "\n", " <!-- wpnl --> ")
    // Collapse breaks around option / object / audio-video / figcaption.
    if (text.contains("<option")) {
      text = optionOpenRe.matcher(text).replaceAll("<option")
      text = optionCloseRe.matcher(text).replaceAll("</option>")
    }
    if (text.contains("</object>")) {
      text = objectOpenRe.matcher(text).replaceAll("$1")
      text = objectCloseRe.matcher(text).replaceAll("</object>")
      text = paramEmbedRe.matcher(text).replaceAll("$1")
    }
    if (text.contains("<source") || text.contains("<track")) {
      text = avOpenRe.matcher(text).replaceAll("$1")
      text = avCloseRe.matcher(text).replaceAll("$1")
      text = sourceTrackRe.matcher(text).replaceAll("$1")
    }
    if (text.contains("<figcaption")) {
      text = figcapOpenRe.matcher(text).replaceAll("$1")
      text = figcapCloseRe.matcher(text).replaceAll("</figcaption>")
    }
    // Remove more than two contiguous line breaks.
    text = manyBreaksRe.matcher(text).replaceAll("\n\n")
    // Split on double line breaks, wrap every piece with <p>.
    val paragraphs = paraSplitRe.split(text, -1).filter(_.nonEmpty)
    val rebuilt = new java.lang.StringBuilder
    paragraphs.foreach(p => rebuilt.append("<p>").append(trimNl(p)).append("</p>\n"))
    text = rebuilt.toString
    // Fix-ups, same order as core.
    text = emptyPRe.matcher(text).replaceAll("")
    text = pInContainerRe.matcher(text).replaceAll("<p>$1</p></$2>")
    text = pWrapsBlockRe.matcher(text).replaceAll("$1")
    text = pLiRe.matcher(text).replaceAll("$1")
    text = pBlockquoteRe.matcher(text).replaceAll("<blockquote$1><p>")
    text = text.replace("</blockquote></p>", "</p></blockquote>")
    text = pBeforeBlockRe.matcher(text).replaceAll("$1")
    text = blockBeforeClosePRe.matcher(text).replaceAll("$1")
    if (br) {
      // Preserve newlines inside script/style/svg/math bodies.
      val m = preserveNlRe.matcher(text)
      val sb = new java.lang.StringBuilder
      while (m.find())
        m.appendReplacement(sb, Matcher.quoteReplacement(
          m.group().replace("\n", "<WPPreserveNewline />")))
      m.appendTail(sb)
      text = sb.toString
      // Normalize <br>, then break on remaining newlines.
      text = text.replace("<br>", "<br />").replace("<br/>", "<br />")
      text = looseNlRe.matcher(text).replaceAll("<br />\n")
      text = text.replace("<WPPreserveNewline />", "\n")
    }
    text = brAfterBlockRe.matcher(text).replaceAll("$1")
    text = brBeforeBlockSubsetRe.matcher(text).replaceAll("$1")
    text = trailingNlPRe.matcher(text).replaceAll("</p>")
    // Restore <pre> bodies and tokenized newlines.
    preTags.foreach { case (name, body) => text = text.replace(name, body) }
    if (text.contains("<!-- wpnl -->"))
      text = text.replace(" <!-- wpnl --> ", "\n").replace("<!-- wpnl -->", "\n")
    text
  }
}
