package graft.extract

/** HTML character-reference decoding.
  *
  * The reference pipeline parses HTML with BeautifulSoup+lxml
  * (`/root/reference/sidecar/chunker.py:543,631`), which decodes character
  * references in text nodes and attribute values. We reproduce that with the
  * FULL HTML5 named-entity table ([[Html5Entities]], 2125 names from the
  * published W3C list) plus numeric references (decimal and hex). Named
  * references require a terminating semicolon (libxml2 behavior); numeric
  * references are decoded with or without it, matching lenient parsers.
  */
object HtmlEntities {

  private val named: Map[String, String] = Html5Entities.table

  /** The HTML 4.01 named-entity table, PHP's ENT_HTML401 table, which
    * [[decodePhpHtml4]] decodes with on the Joomla clean and summary
    * paths: the 252 HTML 4.01 names with their [[Html5Entities]] values,
    * except `lang`/`rang`, which keep the 4.01 code points U+2329/U+232A
    * (HTML5 remapped those names to U+27E8/U+27E9). */
  private[extract] val html401: Map[String, String] = Seq(
    // XML / basic
    "amp", "lt", "gt", "quot",
    // Latin-1
    "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
    "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr", "deg",
    "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot", "cedil",
    "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest", "Agrave",
    "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig", "Ccedil", "Egrave",
    "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc", "Iuml", "ETH",
    "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml", "times",
    "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute", "THORN", "szlig",
    "agrave", "aacute", "acirc", "atilde", "auml", "aring", "aelig", "ccedil",
    "egrave", "eacute", "ecirc", "euml", "igrave", "iacute", "icirc", "iuml",
    "eth", "ntilde", "ograve", "oacute", "ocirc", "otilde", "ouml", "divide",
    "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml",
    // typographic / symbols
    "OElig", "oelig", "Scaron", "scaron", "Yuml", "fnof", "circ", "tilde",
    "ensp", "emsp", "thinsp", "zwnj", "zwj", "lrm", "rlm", "ndash", "mdash",
    "lsquo", "rsquo", "sbquo", "ldquo", "rdquo", "bdquo", "dagger", "Dagger",
    "bull", "hellip", "permil", "prime", "Prime", "lsaquo", "rsaquo", "oline",
    "frasl", "euro", "trade", "alefsym", "larr", "uarr", "rarr", "darr",
    "harr", "crarr", "lArr", "uArr", "rArr", "dArr", "hArr", "forall", "part",
    "exist", "empty", "nabla", "isin", "notin", "ni", "prod", "sum", "minus",
    "lowast", "radic", "prop", "infin", "ang", "and", "or", "cap", "cup",
    "int", "there4", "sim", "cong", "asymp", "ne", "equiv", "le", "ge", "sub",
    "sup", "nsub", "sube", "supe", "oplus", "otimes", "perp", "sdot",
    "hearts", "spades", "clubs", "diams", "loz", "lang", "rang", "lceil",
    "rceil", "lfloor", "rfloor", "weierp", "image", "real",
    // Greek
    "Alpha", "Beta", "Gamma", "Delta", "Epsilon", "Zeta", "Eta", "Theta",
    "Iota", "Kappa", "Lambda", "Mu", "Nu", "Xi", "Omicron", "Pi", "Rho",
    "Sigma", "Tau", "Upsilon", "Phi", "Chi", "Psi", "Omega", "alpha", "beta",
    "gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota", "kappa",
    "lambda", "mu", "nu", "xi", "omicron", "pi", "rho", "sigmaf", "sigma",
    "tau", "upsilon", "phi", "chi", "psi", "omega", "thetasym", "upsih",
    "piv",
  ).map(n => n -> named(n)).toMap ++ Map("lang" -> "\u2329", "rang" -> "\u232A")

  private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** Decode all character references in `s`. Unknown / malformed references
    * are left verbatim, matching libxml2's recovery behavior.
    */
  def decode(s: String): String = decodeWith(s, Lenient)

  /** How [[decodeWith]] reads references: [[Lenient]] is the parser's
    * decode (full HTML5 table, numerics with or without `;`); the two
    * PHP modes are `html_entity_decode` under ENT_HTML401 / ENT_HTML5,
    * each with its own named table and `unicode_cp_is_allowed` row. */
  private sealed abstract class Mode(val table: Map[String, String])
  private case object Lenient extends Mode(named)
  private case object PhpHtml401 extends Mode(html401)
  private case object PhpHtml5 extends Mode(named)

  /** PHP `html_entity_decode($s, ENT_QUOTES, 'UTF-8')` with the default
    * HTML 4.01 table (the Joomla adapter's decode): the HTML4 names —
    * NOT `&apos;`, which is XML/HTML5-only and stays verbatim under
    * ENT_HTML401 — and PHP's strict numerics (semicolon required,
    * doctype-disallowed code points left verbatim). */
  def decodePhpHtml4(s: String): String = decodeWith(s, PhpHtml401)

  /** PHP `html_entity_decode($s, ENT_QUOTES | ENT_HTML5, 'UTF-8')` (the
    * WooCommerce and Drupal adapters' decode): the full HTML5 named
    * table, PHP's strict numerics, and the HTML5 row of
    * `unicode_cp_is_allowed` (U+000C decodes here; noncharacters do
    * not).
    *
    * Semicolon-required named references ARE PHP parity, not a seam: the
    * W3C HTML5 entity list carries ~100 legacy no-semicolon forms
    * (`&amp`, `&lt`, …) that browsers honor while PARSING, but PHP's
    * `html_entity_decode` never reaches them — php-src
    * ext/standard/html.c `process_named_entity_html` scans `while (*p !=
    * ';')` accepting only `[A-Za-z0-9]` and returns FAILURE on anything
    * else, and `traverse_for_entities` asserts `*next == ';'` before the
    * table lookup. So `html_entity_decode('&amp X', ENT_QUOTES |
    * ENT_HTML5)` returns `&amp X` verbatim in every PHP version with the
    * 5.4+ decoder, exactly as this decoder does (golden-pinned in
    * AdapterChunkerSpec). */
  def decodePhpHtml5(s: String): String = decodeWith(s, PhpHtml5)

  /** PHP `unicode_cp_is_allowed` (ext/standard/html.c): numeric
    * references to doctype-disallowed code points are NOT decoded —
    * html_entity_decode leaves them verbatim (`&#146;`, the
    * scraped-Win-1252 smart quote, stays under both doctypes).
    *
    *  - HTML 4.01: tab/LF/CR, 0x20-0x7E, 0xA0-0xD7FF, 0xE000-0x10FFFF
    *    (C0/C1 controls, DEL, and surrogates excluded).
    *  - HTML 5: additionally allows U+000C (form feed) but excludes the
    *    Unicode noncharacters — U+FDD0-U+FDEF and every code point whose
    *    low 16 bits are FFFE/FFFF (`(code & 0xFFFF) >= 0xFFFE` in the C
    *    source's own comment).
    *
    * [[Lenient]] has no such row: it allows every code point. */
  private def phpCpAllowed(cp: Int, mode: Mode): Boolean =
    mode match {
      case Lenient => true
      case PhpHtml401 =>
        cp == 0x09 || cp == 0x0A || cp == 0x0D ||
          (cp >= 0x20 && cp <= 0x7E) || (cp >= 0xA0 && cp <= 0xD7FF) ||
          (cp >= 0xE000 && cp <= 0x10FFFF)
      case PhpHtml5 =>
        cp == 0x09 || cp == 0x0A || cp == 0x0C || cp == 0x0D ||
          (cp >= 0x20 && cp <= 0x7E) || (cp >= 0xA0 && cp <= 0xD7FF) ||
          (((cp >= 0xE000 && cp <= 0xFDCF) ||
            (cp >= 0xFDF0 && cp <= 0x10FFFF)) && (cp & 0xFFFF) < 0xFFFE)
    }

  /** Decode `s` under `mode`: the PHP modes are strict
    * (semicolon-required, disallowed-codepoint-verbatim), [[Lenient]]
    * decodes numeric references with or without the semicolon. PHP
    * numerics follow `strtol`: leading zeros are unbounded
    * (`&#000000000065;` decodes), the parsed VALUE is what's capped
    * (> 0x10FFFF fails verbatim, process_numeric_entity in
    * ext/standard/html.c). */
  private def decodeWith(s: String, mode: Mode): String = {
    if (s.indexOf('&') < 0) return s
    val phpNumericRules = mode ne Lenient
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else {
        var handled = false
        if (i + 1 < n && s.charAt(i + 1) == '#') {
          // numeric reference
          var j = i + 2
          var hex = false
          if (j < n && (s.charAt(j) == 'x' || s.charAt(j) == 'X')) { hex = true; j += 1 }
          val start = j
          while (j < n && (if (hex) Character.digit(s.charAt(j), 16) >= 0
                           else s.charAt(j) >= '0' && s.charAt(j) <= '9')) j += 1
          val terminated = j < n && s.charAt(j) == ';'
          // PHP's strtol skips leading zeros, so its 7-significant-digit
          // cap is a VALUE cap; the lenient parser path keeps its
          // raw-length cap (libxml2 parity, pinned elsewhere)
          var sig = start
          if (phpNumericRules) while (sig < j - 1 && s.charAt(sig) == '0') sig += 1
          val lenOk = if (phpNumericRules) j - sig <= 7 else j - start <= 7
          if (j > start && lenOk &&
              (!phpNumericRules || terminated)) {
            try {
              val cp = Integer.parseInt(s.substring(sig, j), if (hex) 16 else 10)
              if (Character.isValidCodePoint(cp) && cp != 0 &&
                  phpCpAllowed(cp, mode)) {
                sb.appendCodePoint(cp)
                i = if (terminated) j + 1 else j
                handled = true
              }
            } catch { case _: NumberFormatException => }
          }
        } else {
          var j = i + 1
          while (j < n && isNameChar(s.charAt(j)) && j - i <= 32) j += 1
          if (j < n && s.charAt(j) == ';' && j > i + 1) {
            mode.table.get(s.substring(i + 1, j)) match {
              case Some(rep) => sb.append(rep); i = j + 1; handled = true
              case None => ()
            }
          }
        }
        if (!handled) { sb.append('&'); i += 1 }
      }
    }
    sb.toString
  }
}
