package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.JUnitSafe.{check, same}
import AdapterChunker._
import TextUtil.{md5Hex, stripPy}

/** Goldens for the adapter-variant chunker, per
  * `/root/reference/adapters/express/src/chunker.js:19-136` and the FastAPI
  * mirror `/root/reference/adapters/fastapi/openfeeder_fastapi/chunker.py:16-113`. */
class AdapterChunkerSpec extends AnyFunSuite {

  // C1: entity decode table + whitespace rules (chunker.js:19-34)
  test("cleanHtml: tag strip + 6 entities + whitespace") {
    assert(cleanHtml("<p>a &amp; b</p>") == "a & b")
    assert(cleanHtml("&lt;tag&gt;") == "<tag>")
    assert(cleanHtml("&quot;q&quot; &#039;s&#039; x&nbsp;y") == "\"q\" 's' x y")
    // sequential decode: &amp;lt; -> &lt; -> <  (JS replace-order artifact)
    assert(cleanHtml("&amp;lt;") == "<")
    assert(cleanHtml("a \t\t b") == "a b")
    assert(cleanHtml("a\n\n\n\n\nb") == "a\n\nb")
    assert(cleanHtml("  <div> padded </div>  ") == "padded")
    assert(cleanHtml("") == "")
  }

  test("countWords") {
    assert(countWords("one two three") == 3)
    assert(countWords("  a  \n b ") == 2)
    assert(countWords("") == 0)
    assert(countWords("   ") == 0)
  }

  // C4 variants: the WP port checks list BEFORE heading with [-*] bullets
  // and PHP string semantics (class-chunker.php:152-174); the FastAPI port
  // drops code/quote and uses Python string semantics (chunker.py:39-54).
  // FastAPI expectations below were generated by EXECUTING the reference
  // chunker.py (_detect_type / chunk_content) on these inputs; WP
  // expectations transliterate the PHP built-ins (str_word_count, trim,
  // array_filter falsy-"0", non-/u preg) from the PHP manual + C source.
  test("detectType variants: divergence goldens across the three ports") {
    import Variant._
    def all(text: String) =
      (detectType(text, Express), detectType(text, Wp), detectType(text, FastApi))
    // single-line bullet: WP's list-first order wins; others call it heading
    assert(all("- lonely bullet") == (("heading", "list", "heading")))
    // `+` bullets: express/fastapi [-*+], WP [-*] only
    assert(all("+ plus one\n+ plus two") == (("list", "paragraph", "list")))
    // code fence / quote: only express detects them
    assert(all("```\ncode here\n```") == (("code", "paragraph", "paragraph")))
    assert(all("> quoted wisdom") == (("quote", "heading", "heading")))
    // PHP str_word_count ignores digits: 16 whitespace words, 8 PHP words
    val numbers = "Chapter 22 Section 33 Part 44 Unit 55 Lesson 66 Module 77 Episode 88 Final 99"
    assert(all(numbers) == (("paragraph", "heading", "paragraph")))
    // \r: a line boundary only for Python splitlines
    assert(all("alpha beta\rgamma delta") == (("heading", "heading", "paragraph")))
    // agreement cases
    assert(all("- a\n- b\n- c") == (("list", "list", "list")))
    assert(all("* star one\n* star two\ntail") == (("list", "list", "list")))
    assert(all("1. first\n2) second") == (("list", "list", "list")))
  }

  test("phpStrWordCount: PHP word rules") {
    assert(phpStrWordCount("Chapter 22") == 1)
    assert(phpStrWordCount("don't stop-gap") == 2)
    assert(phpStrWordCount("a -- b") == 3) // mid-string hyphen run counts
    assert(phpStrWordCount("-abc") == 1) // leading hyphen at pos 0 skipped
    assert(phpStrWordCount("2nd place") == 2) // "nd" + "place"
    assert(phpStrWordCount("") == 0)
    assert(phpStrWordCount("123 456") == 0)
    // "the last character cannot be -" (e-- in the C source): one
    // trailing string-final hyphen is excluded before the scan
    assert(phpStrWordCount("ab -") == 1)
    assert(phpStrWordCount("ab-") == 1) // still one token, '-' inside run
    assert(phpStrWordCount("a --") == 2) // trim one '-': "a -" -> a, -
    assert(phpStrWordCount("-") == 0)
  }

  test("chunkContent variants: WP falsy-'0' handling and word budgets") {
    import Variant._
    // PHP empty("0") is true -> no chunks; JS/Python keep it
    assert(chunkContent("0", "http://x", Wp).isEmpty)
    assert(chunkContent("0", "http://x", Express).map(_.text) == Vector("0"))
    assert(chunkContent("0", "http://x", FastApi).map(_.text) == Vector("0"))
    // the reference fastapi chunker types the lone "0" chunk as heading
    assert(chunkContent("0", "http://x", FastApi).head.chunkType == "heading")
    val three = "real paragraph here\n\n0\n\nanother real paragraph"
    // Under the faithful WP clean, wpautop rewraps every \n\n as
    // </p>\n<p> BEFORE chunk() runs, so raw double newlines reach the
    // paragraph splitter as single \n: one chunk, and the "0" line
    // SURVIVES (array_filter never sees it as its own paragraph)
    assert(chunkContent(three, "http://x", Wp).map(_.text) ==
      Vector("real paragraph here\n0\nanother real paragraph"))
    // ...the array_filter falsy-"0" paragraph drop is still reachable —
    // through a <pre> body, the only place wpautop preserves \n\n
    assert(chunkContent(s"<pre>$three</pre>", "http://x", Wp).map(_.text) ==
      Vector("real paragraph here\n\nanother real paragraph"))
    assert(chunkContent(three, "http://x", FastApi).map(_.text) ==
      Vector("real paragraph here\n\n0\n\nanother real paragraph"))
    // packing budget counts PHP words in WP: 260 digit-"words" cost 0,
    // so WP packs both paragraphs into one chunk while express flushes
    // (WP input rides in a <pre> so its paragraph split survives wpautop)
    val digits = (1 to 260).map(_.toString).mkString(" ")
    val letters = (1 to 230).map(_ => "word").mkString(" ")
    val twoPara = s"$digits $letters\n\n$letters"
    assert(chunkContent(twoPara, "http://x", Express).length == 2)
    assert(chunkContent(s"<pre>$twoPara</pre>", "http://x", Wp).length == 1)
    // 300+300 PHP words exceed 500: the WP packer still flushes
    val wp300 = (1 to 300).map(_ => "word").mkString(" ")
    assert(chunkContent(s"<pre>$wp300\n\n$wp300</pre>", "http://x", Wp).length == 2)
    // ids share the md5(url) prefix in every variant
    assert(chunkContent(three, "http://x", FastApi).head.id ==
      "94831d84bdbc4feeb2ce9108660eada6_0") // executed reference value
  }

  test("TS/Joomla/Woo/Drupal variants: divergence goldens, all seven behaviors") {
    import Variant._
    // detection column order: Express, Wp, FastApi, Ts, Joomla, Woo,
    // Drupal — Drupal's detectType (ChunkerService.php:143-156) is
    // byte-equivalent to WP's (list-before-heading, [-*] bullets), so
    // its column always equals the Wp column; its distinctness is in
    // clean + packing (see the budget divergence test below)
    def all7(t: String) = Seq(Express, Wp, FastApi, Ts, Joomla, Woo, Drupal)
      .map(detectType(t, _))
    // single-line bullet: list-first ports (WP/Drupal) and list-only
    // (Woo) say list; every heading-first port says heading
    assert(all7("- lonely bullet") ==
      Seq("heading", "list", "heading", "heading", "heading", "list", "list"))
    // `+` bullets: in [-*+] ports only; Woo has no heading at all
    assert(all7("+ plus one\n+ plus two") ==
      Seq("list", "paragraph", "list", "list", "list", "paragraph", "paragraph"))
    // code fence / quote: express alone detects them
    assert(all7("```\ncode here\n```") ==
      Seq("code", "paragraph", "paragraph", "paragraph", "paragraph",
        "paragraph", "paragraph"))
    assert(all7("> quoted wisdom") ==
      Seq("quote", "heading", "heading", "heading", "heading", "paragraph",
        "heading"))
    // PHP str_word_count ignores digits: PHP heading-capable ports call
    // 16 whitespace words (8 PHP words) a heading
    val numbers = "Chapter 22 Section 33 Part 44 Unit 55 Lesson 66 Module 77 Episode 88 Final 99"
    assert(all7(numbers) ==
      Seq("paragraph", "heading", "paragraph", "paragraph", "heading",
        "paragraph", "heading"))
    // the Woo `[-*•]` class is byte-dead for • (and no other port has it)
    assert(all7("• item one\n• item two") == Seq.fill(7)("paragraph"))
    // str_word_count counts a hyphen that trimming leaves last (and so
    // drops): 15 PHP words raw, 14 trimmed — heading-first Joomla counts
    // the raw text, list-first WP and Drupal the trimmed one
    assert(all7(("w " * 14) + "-\n") ==
      Seq("paragraph", "heading", "paragraph", "paragraph", "paragraph",
        "paragraph", "heading"))
  }

  test("three-way packing budget divergence: WP words / Joomla joined chars / Drupal summed chars") {
    import Variant._
    // three 250-char single-word paragraphs: 3 PHP words, 250 code
    // points each — the same cleaned text packs three different ways
    val threePara = ("a" * 250) + "\n\n" + ("b" * 250) + "\n\n" + ("c" * 250)
    // WP: 500-WORD budget, 3 words total -> ONE chunk (input rides in a
    // <pre> so the paragraph boundaries survive wpautop)
    assert(chunkContent(s"<pre>$threePara</pre>", "u", Wp).map(_.text) ==
      Vector(threePara))
    // Joomla: mb_strlen of the trim-JOINED candidate; a+join+b is
    // 250+2+250 = 502 > 500 -> every paragraph flushes alone
    assert(chunkContent(threePara, "u", Joomla).map(_.text.length) ==
      Vector(250, 250, 250))
    // Drupal: SUM of paragraph lengths, joiners NOT counted; a+b = 500
    // <= 500 packs, +c = 750 > 500 flushes -> [a\n\nb, c]
    assert(chunkContent(threePara, "u", Drupal).map(_.text.length) ==
      Vector(502, 250))
    // Drupal ids are md5(url)-prefixed like WP's (ChunkerService.php:95)
    assert(chunkContent(threePara, "u", Drupal).map(_.id) ==
      Vector(md5Hex("u") + "_0", md5Hex("u") + "_1"))
  }

  test("Drupal clean: concatenating strip_tags + full ENT_HTML5 decode") {
    // strip_tags concatenates BEFORE entities decode, so tag-adjacent
    // text fuses and entity-encoded markup surfaces as literal text
    assert(cleanDrupal("<p>Caf&eacute; &amp; bar</p><p>second</p>") ==
      "Café & barsecond")
    assert(cleanDrupal("&lt;b&gt;not a tag&lt;/b&gt;") == "<b>not a tag</b>")
    // no shortcode strip of any kind: Drupal has no shortcodes
    assert(cleanDrupal("[gallery ids=\"1\"] stays") == "[gallery ids=\"1\"] stays")
    // numeric newline entities decode BEFORE the \n{3,} collapse
    assert(cleanDrupal("a&#10;&#10;&#10;&#10;b") == "a\n\nb")
    // empty(trim($content)): cleaned "0" yields no chunks (quirk shared
    // with WP/Woo, but via the :58 trim path)
    assert(chunkContent("<b>0</b>", "u", Variant.Drupal).isEmpty)
    // falsy "0" PARAGRAPH also drops (array_filter, ChunkerService.php:64)
    assert(chunkContent("keep one\n\n0\n\nkeep two", "u", Variant.Drupal)
      .map(_.text) == Vector("keep one\n\nkeep two"))
  }

  test("Drupal trimWords: remainder-preserving split, three-dot ellipsis") {
    // ChunkerService.php:120-127 — NOT the Woo U+2026
    assert(trimWordsDrupal("one two three four", 3) == "one two three...")
    assert(trimWordsDrupal("one two three", 3) == "one two three")
    assert(trimWordsDrupal("", 30) == "")
    // words re-join with single spaces: newlines never survive a summary
    assert(trimWordsDrupal("a\nb c", 40) == "a b c")
  }

  test("phpStripTags: PHP 8 strip_tags semantics") {
    // '<' + whitespace stays literal, ANY other next char opens a tag
    assert(phpStripTags("1 < 2 but <b>bold</b>") == "1 < 2 but bold")
    assert(phpStripTags("I <3 this product") == "I ") // '<3' swallows on
    assert(phpStripTags("size <10mm> fits") == "size  fits")
    assert(phpStripTags("tail <") == "tail ") // trailing '<' dropped
    assert(phpStripTags("<p>a</p><p>b</p>") == "ab") // concatenates
    assert(phpStripTags("a <!-- x > y --> b") == "a  b")
    assert(phpStripTags("<a href=\"x>y\">link</a>") == "link") // quoted >
    // mixed quotes: only the MATCHING quote closes (in_q semantics)
    assert(phpStripTags("<img alt=\"it's\">x") == "x")
    // nested '<' bumps the depth counter; its '>' can't close the tag
    assert(phpStripTags("<a <b> c>x") == "x")
    assert(phpStripTags("tail <unclosed") == "tail ")
  }

  test("PHP entity decode: strict numerics, HTML4-vs-HTML5 tables") {
    import graft.extract.HtmlEntities.{decodePhpHtml4, decodePhpHtml5}
    // semicolon required for numerics in BOTH PHP modes
    assert(decodePhpHtml4("&#65 &#66;") == "&#65 B")
    assert(decodePhpHtml5("&#65 &#66;") == "&#65 B")
    // doctype-disallowed code points stay verbatim (Win-1252 smart quote)
    assert(decodePhpHtml4("&#146;") == "&#146;")
    assert(decodePhpHtml5("&#146;") == "&#146;")
    assert(decodePhpHtml5("&#xD800;") == "&#xD800;") // surrogate
    // table split: &hearts; is HTML4; &hopf; is HTML5-only; &apos; is
    // not in ENT_HTML401; lang/rang changed code points between doctypes
    assert(decodePhpHtml4("&hearts;&hopf;&apos;") == "♥&hopf;&apos;")
    assert(decodePhpHtml5("&apos;") == "'")
    assert(decodePhpHtml4("&lang;") == "\u2329")
    assert(decodePhpHtml5("&lang;") == "\u27E8")
  }

  test("PHP entity decode: doctype rows of unicode_cp_is_allowed + strtol zeros") {
    import graft.extract.HtmlEntities.{decodePhpHtml4, decodePhpHtml5}
    // ENT_HTML5 allows U+000C (form feed); ENT_HTML401 does not
    assert(decodePhpHtml5("&#12;") == "\f")
    assert(decodePhpHtml4("&#12;") == "&#12;")
    // ...and excludes the Unicode noncharacters (FDD0-FDEF, nFFFE/nFFFF)
    // that ENT_HTML401's flat 0xE000-0x10FFFF row would admit
    assert(decodePhpHtml5("&#xFDD0;") == "&#xFDD0;")
    assert(decodePhpHtml5("&#xFFFE;") == "&#xFFFE;")
    assert(decodePhpHtml5("&#x1FFFF;") == "&#x1FFFF;")
    assert(decodePhpHtml4("&#xFDD0;") == "\uFDD0")
    assert(decodePhpHtml5("&#xFDF0;") == "\uFDF0") // first allowed after the gap
    assert(decodePhpHtml5("&#x10000;") == new String(Character.toChars(0x10000)))
    // PHP strtol: leading zeros are unbounded, the VALUE is what's capped
    assert(decodePhpHtml5("&#000000000065;") == "A")
    assert(decodePhpHtml5("&#x00000041;") == "A")
    assert(decodePhpHtml5("&#1114112;") == "&#1114112;") // 0x110000: too big
  }

  test("PHP named entities require the semicolon \u2014 legacy forms are verbatim") {
    import graft.extract.HtmlEntities.decodePhpHtml5
    // The W3C HTML5 entity list carries ~100 legacy no-semicolon forms
    // (&amp, &lt, ...) that BROWSERS honor while parsing, but PHP's
    // html_entity_decode never decodes them: process_named_entity_html
    // (php-src ext/standard/html.c) scans `while (*p != ';')` accepting
    // only [A-Za-z0-9] and fails on anything else, and
    // traverse_for_entities asserts `*next == ';'` before the table
    // lookup. Semicolon-required IS PHP parity, not a modeling seam.
    assert(decodePhpHtml5("&amp X") == "&amp X")
    assert(decodePhpHtml5("&ampX") == "&ampX")
    assert(decodePhpHtml5("&ampX;") == "&ampX;") // 'ampX' is no entity either
    assert(decodePhpHtml5("&amp") == "&amp")
    assert(decodePhpHtml5("&amp;") == "&")
    assert(decodePhpHtml5("&copy cat") == "&copy cat")
    assert(decodePhpHtml5("&copy; cat") == "\u00A9 cat")
  }

  test("wpautop: newline-to-markup rules (wp-includes/formatting.php)") {
    // the two canonical shapes
    assert(Wpautop("a\n\nb") == "<p>a</p>\n<p>b</p>\n")
    assert(Wpautop("a\nb") == "<p>a<br />\nb</p>\n")
    // double <br> becomes a paragraph break
    assert(Wpautop("first<br><br>second") == "<p>first</p>\n<p>second</p>\n")
    // block-level tags are unwrapped, not <p>-wrapped
    assert(Wpautop("x<div>a</div>y") == "<p>x</p>\n<div>a</div>\n<p>y</p>\n")
    // <pre> bodies are placeholdered out verbatim \u2014 the ONLY way \n\n
    // survives the filter
    assert(Wpautop("<pre>one\n\ntwo</pre>tail") ==
      "<pre>one\n\ntwo</pre>\n<p>tail</p>\n")
    assert(Wpautop("") == "")
    assert(Wpautop("  \n ") == "")
  }

  test("wpautop: canonical fix-up shapes (blockquote, lists, headings, in-tag newlines)") {
    // <p>-wrapped blockquote moves INSIDE (the two blockquote fix-ups)
    assert(Wpautop("<blockquote>quote</blockquote>") ==
      "<blockquote><p>quote</p></blockquote>\n")
    // <li> gets unwrapped by the dedicated <p>(<li…)</p> rule
    assert(Wpautop("<ul>\n<li>one</li>\n<li>two</li>\n</ul>") ==
      "<ul>\n<li>one</li>\n<li>two</li>\n</ul>\n")
    // block heading unwrapped, trailing prose wrapped
    assert(Wpautop("<h2>Title</h2>\nBody text here.") ==
      "<h2>Title</h2>\n<p>Body text here.</p>\n")
    // blocks between paragraphs never get <p>-wrapped
    assert(Wpautop("para one\n\n<div>block</div>\n\npara two") ==
      "<p>para one</p>\n<div>block</div>\n<p>para two</p>\n")
    // already-wrapped content is re-derived, not doubled
    assert(Wpautop("<p>already</p><p>wrapped</p>") ==
      "<p>already</p>\n<p>wrapped</p>\n")
    // a single <br> normalizes to <br /> without gaining a newline
    assert(Wpautop("line<br>break") == "<p>line<br />break</p>\n")
    // a newline INSIDE a tag is protected by the wpnl token round-trip
    // (wp_replace_in_html_tags) — no <br /> lands inside the attribute
    assert(Wpautop("<img src=\"x\"\nalt=\"y\">tail") ==
      "<p><img src=\"x\"\nalt=\"y\">tail</p>\n")
  }

  test("cleanWp is the faithful WP clean: wpautop + wp_strip_all_tags, no decode") {
    // class-chunker.php:74-81: apply_filters('the_content') then
    // wp_strip_all_tags \u2014 NOT the express tags-to-space + 6-entity chain
    // 1. entities do NOT decode
    assert(cleanWp("a &amp; b &eacute;") == "a &amp; b &eacute;")
    // 2. wpautop turns \n\n into </p>\n<p>, so the strip renders
    //    paragraph boundaries as SINGLE newlines...
    assert(cleanWp("<p>Caf&eacute; &amp; bar</p><p>second</p>") ==
      "Caf&eacute; &amp; bar\nsecond")
    // 3. ...while raw tag-adjacent text would CONCATENATE without it
    //    (wpautop's rewrap is what keeps any boundary at all)
    assert(wpStripAllTags("<p>a</p><p>b</p>") == "ab")
    // 4. script/style bodies are removed entirely
    assert(cleanWp("keep<script>var x = 1;</script>this") == "keepthis")
    // 5. unregistered shortcode markers SURVIVE (core strip_shortcodes
    //    consults the registered table; [ad] is in the chunker's own
    //    noisy-14 list, [unknown_tag] is nowhere)
    assert(cleanWp("[ad id=3]x[/ad] [caption]gone[/caption] [unknown_tag attr=1]") ==
      "[unknown_tag attr=1]")
  }

  test("stripShortcodesCore: registered-only, escapes, html-token protection") {
    // registered, bodied: attrs AND body drop (strip_shortcode_tag)
    assert(stripShortcodesCore("a [caption id=\"x\"]body[/caption] b") == "a  b")
    // self-closing form
    assert(stripShortcodesCore("a [gallery ids=\"1,2\" /] b") == "a  b")
    // unregistered markers survive byte-identical
    assert(stripShortcodesCore("[ad id=3] [unknown_tag]") == "[ad id=3] [unknown_tag]")
    // [[tag]] escaping unwraps one bracket pair
    assert(stripShortcodesCore("[[gallery]]") == "[gallery]")
    // markers inside HTML elements are protected (do_shortcodes_in_html_tags)
    assert(stripShortcodesCore("<img alt=\"[gallery]\"> [gallery ids=\"9\"]") ==
      "<img alt=\"[gallery]\"> ")
    // no registered tag present -> input returned byte-identical, BEFORE
    // the &#91; renormalization (the core precheck short-circuit)
    assert(stripShortcodesCore("keep &#91;literal&#93; [not_registered]") ==
      "keep &#91;literal&#93; [not_registered]")
    // tag-name boundary: (?![\w-]) keeps [gallerying] intact
    assert(stripShortcodesCore("[gallerying] [gallery]") == "[gallerying] ")
    // HALF-bracket tokens are NOT escaped (core's `$noopen || $noclose`
    // skip), so the shortcode regex matches from inside the attribute
    // ACROSS the token boundary — swallowing the rest of the tag up to
    // the first ']' exactly like core does
    assert(stripShortcodesCore("<img alt=\"[gallery\"> [caption]x[/caption] ok]") ==
      "<img alt=\"x[/caption] ok]")
  }

  test("Joomla: concatenating strip_tags, HTML4 strict entities, char packing") {
    import Variant.Joomla
    assert(cleanJoomla("{loadposition ad}Hello<p>a</p><p>b</p>") == "Helloab")
    // HTML 4.01 table: &hopf; (HTML5-only) and unterminated &#65 stay
    // verbatim; &apos; is XML/HTML5-only and stays too
    assert(cleanJoomla("&copy; &hopf; &#65 &#66;") == "© &hopf; &#65 B")
    assert(cleanJoomla("&apos;") == "&apos;")
    assert(cleanWoo("&apos;") == "'") // Woo's ENT_HTML5 decodes it
    // CHARACTER budget: two ~299-char paragraphs exceed 500 chars and
    // flush, where every word-budget port keeps them in one chunk
    val para = ("word " * 60).trim
    val two = s"$para\n\n$para"
    assert(chunkContent(two, "u", Joomla).length == 2)
    assert(chunkContent(two, "u", Variant.Express).length == 1)
  }

  test("Woo: remove_breaks single paragraph, 300-word budget, p-ids") {
    import Variant.Woo
    // wp_strip_all_tags(remove_breaks=true) collapses every break — the
    // paragraph split never fires on plain content: ONE chunk
    val c = chunkContent("<p>line one</p>\n\n<p>line two</p>", "42", Woo)
    assert(c.length == 1 && c.head.text == "line one line two")
    assert(c.head.id == "p42_0" && c.head.chunkType == "paragraph")
    // …except when breaks re-enter via numeric entities, which decode
    // AFTER the collapse — only then can the 300-word budget fire
    val manyWords = (1 to 260).map(_ => "word").mkString(" ")
    val viaEntities = s"$manyWords&#10;&#10;$manyWords"
    assert(chunkContent(viaEntities, "7", Woo).map(_.id) == Vector("p7_0", "p7_1"))
    // Woo shares the PHP falsy-"0" no-chunks quirk
    assert(chunkContent("0", "9", Woo).isEmpty)
  }

  test("summariseWoo: falsy source selection, 50-word cap, U+2026") {
    assert(summariseWoo("Short desc", "long ignored") == "Short desc")
    assert(summariseWoo("", "fallback text") == "fallback text")
    assert(summariseWoo("0", "fallback") == "fallback") // PHP empty("0")
    assert(summariseWoo("", "") == "")
    assert(summariseWoo("<b>0</b>", "x") == "") // cleaned text "0" is empty too
    val w60 = (1 to 60).map(i => s"w$i").mkString(" ")
    assert(summariseWoo(w60, "") ==
      (1 to 50).map(i => s"w$i").mkString(" ") + "…")
  }

  test("FastAPI variant passes the reference adapter's own test assertions") {
    // ported from /root/reference/adapters/fastapi/tests/
    // test_fastapi_adapter.py:491-516 (TestChunkContent) and :536-551
    // (TestDetectType) — run verbatim against the FastApi variant
    import Variant.FastApi
    assert(chunkContent("", "/test", FastApi).isEmpty)
    val single = chunkContent("<p>Hello world.</p>", "/test", FastApi)
    assert(single.length == 1 && single.head.text == "Hello world.")
    assert(single.head.relevance.isEmpty)
    assert(chunkContent("<p>Hello</p>", "/test", FastApi).head.id ==
      chunkContent("<p>Hello</p>", "/test", FastApi).head.id)
    assert(chunkContent("<p>Hello</p>", "/url-a", FastApi).head.id !=
      chunkContent("<p>Hello</p>", "/url-b", FastApi).head.id)
    assert(detectType("Short Title", FastApi) == "heading")
    assert(detectType("This is a longer piece of text that contains multiple words and forms a real paragraph with sufficient length.", FastApi) == "paragraph")
    assert(detectType("- item one\n- item two\n- item three", FastApi) == "list")
    assert(detectType("1. first\n2. second\n3. third", FastApi) == "list")
  }

  test("variant transliterations are total on junk input") {
    // the PHP/Python string transliterations carry manual index
    // arithmetic (trailing-hyphen trim, splitlines \r\n pairing, strip
    // bounds) — hammer them with adversarial soup; every variant must
    // return a valid type and chunk without throwing
    import Variant._
    val validTypes = Set("code", "quote", "heading", "list", "paragraph")
    val rnd = new scala.util.Random(4242)
    // '[', ']', '/' and tag-name fragments hammer the strip_shortcodes
    // regex (possessive quantifiers + backreferences) and the wpautop
    // pre/token scanners alongside the PHP/Python string-semantics soup
    val alphabet = "ab -\n\r\t\u000B\f\u001C\u0085\u2028\u2029'\u0000<>&;`*+1.)\"0\u00A0\u00E9\u20AC[]/gapreloy!-"
    (1 to 300).foreach { _ =>
      val s = (0 until rnd.nextInt(40)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
      for (v <- Seq(Express, Wp, FastApi, Ts, Joomla, Woo, Drupal)) {
        check(validTypes.contains(detectType(s, v)), s"$v type", s)
        val chunks = chunkContent(s, "http://fuzz", v)
        val prefix = if (v == Woo) "phttp://fuzz" else md5Hex("http://fuzz")
        chunks.zipWithIndex.foreach { case (c, i) =>
          assert(c.id == s"${prefix}_$i")
          assert(validTypes.contains(c.chunkType))
        }
      }
      assert(phpStrWordCount(s) >= 0)
      assert(pyCountWords(s) >= 0)
      assert(pySplitlines(s).mkString.length <= s.length)
      assert(stripPy(s).length <= s.length)
    }
  }

  // C4: type detection table (chunker.js:48-73)
  test("detectType") {
    assert(detectType("```js\ncode here\n```") == "code")
    assert(detectType("> quoted wisdom") == "quote")
    assert(detectType("Short heading line") == "heading")
    assert(detectType(("w " * 20).trim) == "paragraph") // 1 line but 20 words
    assert(detectType("- item one\n- item two\n- item three") == "list")
    assert(detectType("1. first\n2) second\n* third\n+ fourth") == "list")
    assert(detectType("intro line that is long enough to not be a heading at all\n- only one of two lines is a list item") == "list")
    assert(detectType("line one with plenty of words to avoid heading here\nline two\nline three\n- item") == "paragraph")
    // 14-word single line is heading; 15 words is not
    assert(detectType(("w " * 14).trim) == "heading")
    assert(detectType(("w " * 15).trim) == "paragraph")
  }

  // C3: 500-word packing boundaries (chunker.js:93-112)
  test("chunkContent packing: 0/1/500/501 words") {
    assert(chunkContent("", "u") == Vector.empty)
    assert(chunkContent("<br/>", "u") == Vector.empty)

    val one = chunkContent("hello world", "u")
    assert(one.length == 1 && one.head.text == "hello world")

    val p500 = ("w " * 500).trim
    val single = chunkContent(p500, "u")
    assert(single.length == 1) // exactly 500 fits

    // two paragraphs of 400+200 words -> second flushes (400+200>500)
    val two = chunkContent(("a " * 400).trim + "\n\n" + ("b " * 200).trim, "u")
    assert(two.length == 2)
    assert(countWords(two(0).text) == 400 && countWords(two(1).text) == 200)

    // 300+200 = exactly 500 -> packed together, joined by blank line
    val packed = chunkContent(("a " * 300).trim + "\n\n" + ("b " * 200).trim, "u")
    assert(packed.length == 1)
    assert(packed.head.text == ("a " * 300).trim + "\n\n" + ("b " * 200).trim)

    // a single >500-word paragraph is NOT split (packer is paragraph-aligned)
    val big = chunkContent(("c " * 700).trim, "u")
    assert(big.length == 1 && countWords(big.head.text) == 700)
  }

  // C5: chunk ids = md5(url) + "_" + i (chunker.js:114-121)
  test("chunk ids are md5-prefixed and indexed") {
    val cs = chunkContent(("a " * 400).trim + "\n\n" + ("b " * 200).trim,
      "https://example.com/page")
    val prefix = md5Hex("https://example.com/page")
    assert(prefix == "fb37c0ebf91888a33317e3b814bc2d71")
    assert(cs.map(_.id) == Vector(s"${prefix}_0", s"${prefix}_1"))
    assert(cs.forall(_.relevance.isEmpty))
  }

  // C6: summarise (chunker.js:131-136)
  test("summarise: 40-word cap with ellipsis") {
    val short = "only a few words here"
    assert(summarise(short) == short)
    val long = ("word " * 50).trim
    assert(summarise(long) == ("word " * 40).trim + "...")
    assert(summarise("<p>" + long + "</p>", 10) == ("word " * 10).trim + "...")
  }

  test("property fuzz: cross-variant packing invariants over random paragraph mixes") {
    import Variant._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // deterministic seeded sampling (offline cache has raw scalacheck,
    // no scalatest bridge — same pattern as PropertySpec)
    def sample[A](g: Gen[A], n: Int)(f: A => Unit): Unit = {
      var produced = 0; var seed = 60606L
      while (produced < n) {
        g.apply(Gen.Parameters.default, Seed(seed)) match {
          case Some(a) => f(a); produced += 1
          case None => ()
        }
        seed += 1
      }
    }
    // words exercise every word-count divergence (digits, apostrophes,
    // hyphens) but no HTML/entities/brackets, so each variant's clean is
    // an identity on the paragraph content and the PACKER is what's
    // under test; "0" paragraphs exercise the PHP array_filter drop
    val word = Gen.oneOf("alpha", "beta", "Gamma7", "x", "don't",
      "stop-gap", "42", "verylongcompoundword")
    val para = for {
      n <- Gen.choose(1, 80)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val parasGen = for {
      k <- Gen.choose(1, 12)
      ps <- Gen.listOfN(k, Gen.frequency(9 -> para, 1 -> Gen.const("0")))
    } yield ps
    def cp(s: String) = s.codePointCount(0, s.length)
    def paragraphsOf(c: AChunk) = c.text.split("\n{2,}", -1).toList
    // sum-metric variants: (variant, its own word/char metric, budget)
    val sumMetric: Seq[(Variant, String => Int, Int)] = Seq(
      (Express, countWords _, 500), (Ts, countWords _, 500),
      (Wp, s => phpStrWordCount(s), 500), (FastApi, s => pyCountWords(s), 500),
      (Woo, s => phpStrWordCount(s), 300), (Drupal, cp _, 500))
    val phpFamily: Set[Variant] = Set(Wp, Joomla, Woo, Drupal)
    sample(parasGen, 120) { ps =>
      val joined = ps.mkString("\n\n")
      for ((v, metric, budget) <- sumMetric :+ ((Joomla, cp _, 500))) {
        // input path that survives the variant's own clean with the
        // paragraph structure intact: WP needs a <pre> (wpautop destroys
        // raw \n\n), Woo needs numeric entities (remove_breaks)
        val input = v match {
          case Wp => "<pre>" + joined + "</pre>"
          case Woo => ps.mkString("&#10;&#10;")
          case _ => joined
        }
        val chunks = chunkContent(input, "u", v)
        val expected =
          if (phpFamily(v)) ps.filter(p => p.nonEmpty && p != "0")
          else ps.filter(_.nonEmpty)
        val allEmptyText = expected.isEmpty ||
          (phpFamily(v) && expected.mkString("\n\n") == "0")
        // 1. lossless: chunk paragraphs re-concatenate to the kept inputs
        if (allEmptyText) check(chunks.isEmpty, s"$v empty-text", joined)
        else same(chunks.flatMap(paragraphsOf).toList, expected, s"$v lossless: $joined")
        // 2. no empty chunks, ids sequential with the variant's prefix
        assert(chunks.forall(_.text.nonEmpty), s"$v nonempty")
        val prefix = if (v == Woo) "pu" else md5Hex("u")
        assert(chunks.zipWithIndex.forall { case (c, i) => c.id == s"${prefix}_$i" },
          s"$v ids")
        // 3. every chunk's type is reachable for that variant
        val okTypes: Set[String] = v match {
          case Express => Set("code", "quote", "heading", "list", "paragraph")
          case Woo => Set("list", "paragraph")
          case _ => Set("heading", "list", "paragraph")
        }
        assert(chunks.forall(c => okTypes(c.chunkType)), s"$v types")
        // 4. budget respected on every multi-paragraph chunk by the
        //    variant's OWN metric (single-paragraph chunks may exceed:
        //    no packer splits inside a paragraph)
        chunks.foreach { c =>
          val cps = paragraphsOf(c)
          if (cps.length >= 2) {
            if (v == Joomla) check(cp(c.text) <= 500, s"$v joined budget", c.text)
            else check(cps.map(metric).sum <= budget, s"$v summed budget", c.text)
          }
        }
        // 5. greedy: the first paragraph of the NEXT chunk would not
        //    have fit in this one (else the packer should have kept it)
        chunks.sliding(2).foreach {
          case Vector(a, b) =>
            val next = paragraphsOf(b).head
            if (v == Joomla)
              assert(cp(a.text) + 2 + cp(next) > 500, s"$v greedy")
            else
              assert(paragraphsOf(a).map(metric).sum + metric(next) > budget,
                s"$v greedy")
          case _ => ()
        }
      }
    }
  }

  test("summary behaviors: wp_trim_words vs Drupal trimWords vs Joomla generateSummary") {
    // \f is the discriminator: wp_trim_words splits on [\n\r\t ]+ only
    // (formatting.php), so "beta\fgamma" is ONE word there, while the
    // \s+ splitters (Drupal trimWords, express summarise) see two
    val text = "alpha beta\fgamma delta"
    assert(wpTrimWords(text, 3, "...") == "alpha beta\fgamma delta") // 3 wp-words: no cap
    assert(wpTrimWords(text, 2, "...") == "alpha beta\fgamma...")
    assert(trimWordsDrupal(text, 3) == "alpha beta gamma...") // 4 \s+-words: capped
    // wp_trim_words strips tags itself (script/style WITH bodies)
    assert(wpTrimWords("<script>var x;</script>alpha beta", 1, "...") == "alpha...")
    // Joomla generateSummary: concatenating strip_tags + the HTML 4.01
    // entity table (ENT_QUOTES default — &hopf; is HTML5-only, stays),
    // \s+ to one space, 40-word three-dot cap
    assert(summariseJoomla("<p>x &amp; y</p><p>&hopf;</p>") == "x & y&hopf;")
    val w50 = (1 to 50).map(i => s"w$i").mkString(" ")
    assert(summariseJoomla(w50) ==
      (1 to 40).map(i => s"w$i").mkString(" ") + "...")
    assert(summariseJoomla("") == "")
  }

  test("host-number parsing: parseInt vs int() vs (int) vs is_numeric") {
    import graft.extract.HostNumbers._
    // JS parseInt(s, 10): digit prefix, radix-10 only
    assert(jsParseInt10("15abc") == Some(15L))
    assert(jsParseInt10("1e2") == Some(1L))   // stops at 'e'
    assert(jsParseInt10("0x12") == Some(0L))  // radix 10: parses "0"
    assert(jsParseInt10("1_0") == Some(1L))
    assert(jsParseInt10(" 8 ") == Some(8L))
    assert(jsParseInt10("-3") == Some(-3L))
    assert(jsParseInt10("abc").isEmpty && jsParseInt10("").isEmpty)
    // Python int(): all-or-nothing, PEP 515 underscores
    assert(pyIntParse("1_0") == Some(10L))    // TEN — unique among hosts
    assert(pyIntParse("15abc").isEmpty)
    assert(pyIntParse("3.9").isEmpty && pyIntParse("1e2").isEmpty)
    assert(pyIntParse("1__0").isEmpty && pyIntParse("_1").isEmpty &&
      pyIntParse("1_").isEmpty)
    assert(pyIntParse(" 8 ") == Some(8L) && pyIntParse("-3") == Some(-3L))
    // PHP (int): longest leading NUMERIC prefix incl. exponent forms
    assert(phpIntCast("15abc") == 15L)
    assert(phpIntCast("1e2") == 100L)         // full float form converts
    assert(phpIntCast("3.9") == 3L)
    assert(phpIntCast("0x12") == 0L)          // no hex since PHP 7
    assert(phpIntCast("1_0") == 1L)
    assert(phpIntCast("abc") == 0L && phpIntCast("") == 0L)
    assert(phpIntCast(" 8 ") == 8L && phpIntCast("-3") == -3L)
    // PHP 8 is_numeric: whole string, trailing whitespace allowed
    assert(phpIsNumeric(" 8 ") && phpIsNumeric("1e2") && phpIsNumeric("3.9"))
    assert(!phpIsNumeric("15abc") && !phpIsNumeric("1_0") &&
      !phpIsNumeric("0x12") && !phpIsNumeric(""))
    // WP absint: "-3" becomes THREE (every other port floors to 1)
    assert(wpAbsInt("-3") == 3L)
  }

  test("sidecar ids: sha256 prefixes (indexer.py:383-392)") {
    // chunk id = sha256(f"{url}::chunk::{idx}")[:16], page id = sha256(f"page::{url}")[:16]
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    def hex(s: String) = sha.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(hex("https://e.com/::chunk::0").take(16).length == 16)
    assert(hex("page::https://e.com/").take(16).length == 16)
  }
}
