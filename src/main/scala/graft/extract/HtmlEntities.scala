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

  /** The HTML 4.01 named-entity table plus `apos`; without `apos` it is
    * PHP's ENT_HTML401 table, which [[decodePhpHtml4]] decodes with on
    * the Joomla clean and summary paths. */
  private[extract] val html4Subset: Map[String, String] = Map(
    // XML / basic
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    // Latin-1
    "nbsp" -> " ", "iexcl" -> "¡", "cent" -> "¢",
    "pound" -> "£", "curren" -> "¤", "yen" -> "¥",
    "brvbar" -> "¦", "sect" -> "§", "uml" -> "¨",
    "copy" -> "©", "ordf" -> "ª", "laquo" -> "«",
    "not" -> "¬", "shy" -> "­", "reg" -> "®",
    "macr" -> "¯", "deg" -> "°", "plusmn" -> "±",
    "sup2" -> "²", "sup3" -> "³", "acute" -> "´",
    "micro" -> "µ", "para" -> "¶", "middot" -> "·",
    "cedil" -> "¸", "sup1" -> "¹", "ordm" -> "º",
    "raquo" -> "»", "frac14" -> "¼", "frac12" -> "½",
    "frac34" -> "¾", "iquest" -> "¿",
    "Agrave" -> "À", "Aacute" -> "Á", "Acirc" -> "Â",
    "Atilde" -> "Ã", "Auml" -> "Ä", "Aring" -> "Å",
    "AElig" -> "Æ", "Ccedil" -> "Ç", "Egrave" -> "È",
    "Eacute" -> "É", "Ecirc" -> "Ê", "Euml" -> "Ë",
    "Igrave" -> "Ì", "Iacute" -> "Í", "Icirc" -> "Î",
    "Iuml" -> "Ï", "ETH" -> "Ð", "Ntilde" -> "Ñ",
    "Ograve" -> "Ò", "Oacute" -> "Ó", "Ocirc" -> "Ô",
    "Otilde" -> "Õ", "Ouml" -> "Ö", "times" -> "×",
    "Oslash" -> "Ø", "Ugrave" -> "Ù", "Uacute" -> "Ú",
    "Ucirc" -> "Û", "Uuml" -> "Ü", "Yacute" -> "Ý",
    "THORN" -> "Þ", "szlig" -> "ß",
    "agrave" -> "à", "aacute" -> "á", "acirc" -> "â",
    "atilde" -> "ã", "auml" -> "ä", "aring" -> "å",
    "aelig" -> "æ", "ccedil" -> "ç", "egrave" -> "è",
    "eacute" -> "é", "ecirc" -> "ê", "euml" -> "ë",
    "igrave" -> "ì", "iacute" -> "í", "icirc" -> "î",
    "iuml" -> "ï", "eth" -> "ð", "ntilde" -> "ñ",
    "ograve" -> "ò", "oacute" -> "ó", "ocirc" -> "ô",
    "otilde" -> "õ", "ouml" -> "ö", "divide" -> "÷",
    "oslash" -> "ø", "ugrave" -> "ù", "uacute" -> "ú",
    "ucirc" -> "û", "uuml" -> "ü", "yacute" -> "ý",
    "thorn" -> "þ", "yuml" -> "ÿ",
    // typographic / symbols (HTML4)
    "OElig" -> "Œ", "oelig" -> "œ", "Scaron" -> "Š",
    "scaron" -> "š", "Yuml" -> "Ÿ", "fnof" -> "ƒ",
    "circ" -> "ˆ", "tilde" -> "˜",
    "ensp" -> " ", "emsp" -> " ", "thinsp" -> " ",
    "zwnj" -> "‌", "zwj" -> "‍", "lrm" -> "‎",
    "rlm" -> "‏", "ndash" -> "–", "mdash" -> "—",
    "lsquo" -> "‘", "rsquo" -> "’", "sbquo" -> "‚",
    "ldquo" -> "“", "rdquo" -> "”", "bdquo" -> "„",
    "dagger" -> "†", "Dagger" -> "‡", "bull" -> "•",
    "hellip" -> "…", "permil" -> "‰", "prime" -> "′",
    "Prime" -> "″", "lsaquo" -> "‹", "rsaquo" -> "›",
    "oline" -> "‾", "frasl" -> "⁄", "euro" -> "€",
    "trade" -> "™", "alefsym" -> "ℵ",
    "larr" -> "←", "uarr" -> "↑", "rarr" -> "→",
    "darr" -> "↓", "harr" -> "↔", "crarr" -> "↵",
    "lArr" -> "⇐", "uArr" -> "⇑", "rArr" -> "⇒",
    "dArr" -> "⇓", "hArr" -> "⇔",
    "forall" -> "∀", "part" -> "∂", "exist" -> "∃",
    "empty" -> "∅", "nabla" -> "∇", "isin" -> "∈",
    "notin" -> "∉", "ni" -> "∋", "prod" -> "∏",
    "sum" -> "∑", "minus" -> "−", "lowast" -> "∗",
    "radic" -> "√", "prop" -> "∝", "infin" -> "∞",
    "ang" -> "∠", "and" -> "∧", "or" -> "∨",
    "cap" -> "∩", "cup" -> "∪", "int" -> "∫",
    "there4" -> "∴", "sim" -> "∼", "cong" -> "≅",
    "asymp" -> "≈", "ne" -> "≠", "equiv" -> "≡",
    "le" -> "≤", "ge" -> "≥", "sub" -> "⊂",
    "sup" -> "⊃", "nsub" -> "⊄", "sube" -> "⊆",
    "supe" -> "⊇", "oplus" -> "⊕", "otimes" -> "⊗",
    "perp" -> "⊥", "sdot" -> "⋅",
    // HTML 4.01 symbols missing from the original subset (card suits,
    // ceilings/floors, script capitals, lozenge, angle brackets). NOTE
    // lang/rang use the HTML 4.01 code points U+2329/U+232A — HTML5
    // remapped those names to U+27E8/U+27E9, so the full HTML5 table
    // deliberately disagrees here.
    "hearts" -> "♥", "spades" -> "♠", "clubs" -> "♣",
    "diams" -> "♦", "loz" -> "◊",
    "lang" -> "\u2329", "rang" -> "\u232A",
    "lceil" -> "⌈", "rceil" -> "⌉",
    "lfloor" -> "⌊", "rfloor" -> "⌋",
    "weierp" -> "℘", "image" -> "ℑ", "real" -> "ℜ",
    // Greek
    "Alpha" -> "Α", "Beta" -> "Β", "Gamma" -> "Γ",
    "Delta" -> "Δ", "Epsilon" -> "Ε", "Zeta" -> "Ζ",
    "Eta" -> "Η", "Theta" -> "Θ", "Iota" -> "Ι",
    "Kappa" -> "Κ", "Lambda" -> "Λ", "Mu" -> "Μ",
    "Nu" -> "Ν", "Xi" -> "Ξ", "Omicron" -> "Ο",
    "Pi" -> "Π", "Rho" -> "Ρ", "Sigma" -> "Σ",
    "Tau" -> "Τ", "Upsilon" -> "Υ", "Phi" -> "Φ",
    "Chi" -> "Χ", "Psi" -> "Ψ", "Omega" -> "Ω",
    "alpha" -> "α", "beta" -> "β", "gamma" -> "γ",
    "delta" -> "δ", "epsilon" -> "ε", "zeta" -> "ζ",
    "eta" -> "η", "theta" -> "θ", "iota" -> "ι",
    "kappa" -> "κ", "lambda" -> "λ", "mu" -> "μ",
    "nu" -> "ν", "xi" -> "ξ", "omicron" -> "ο",
    "pi" -> "π", "rho" -> "ρ", "sigmaf" -> "ς",
    "sigma" -> "σ", "tau" -> "τ", "upsilon" -> "υ",
    "phi" -> "φ", "chi" -> "χ", "psi" -> "ψ",
    "omega" -> "ω", "thetasym" -> "ϑ", "upsih" -> "ϒ",
    "piv" -> "ϖ",
  )

  private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** Decode all character references in `s`. Unknown / malformed references
    * are left verbatim, matching libxml2's recovery behavior.
    */
  def decode(s: String): String =
    decodeWith(s, named, numericSemicolonOptional = true)

  /** PHP html_entity_decode doctype selector (ENT_HTML401 vs ENT_HTML5):
    * picks the `unicode_cp_is_allowed` row for numeric references. */
  private[extract] sealed trait PhpDoctype
  private[extract] case object PhpHtml401 extends PhpDoctype
  private[extract] case object PhpHtml5 extends PhpDoctype

  /** PHP `html_entity_decode($s, ENT_QUOTES, 'UTF-8')` with the default
    * HTML 4.01 table (the Joomla adapter's decode): the HTML4 names —
    * NOT `&apos;`, which is XML/HTML5-only and stays verbatim under
    * ENT_HTML401 — and PHP's strict numerics (semicolon required,
    * doctype-disallowed code points left verbatim). */
  def decodePhpHtml4(s: String): String =
    decodeWith(s, html4Subset - "apos", numericSemicolonOptional = false,
      phpNumericRules = true, phpDoctype = PhpHtml401)

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
  def decodePhpHtml5(s: String): String =
    decodeWith(s, named, numericSemicolonOptional = false,
      phpNumericRules = true, phpDoctype = PhpHtml5)

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
    */
  private def phpCpAllowed(cp: Int, doctype: PhpDoctype): Boolean =
    doctype match {
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

  /** [[decode]] against an arbitrary named table, with PHP-style strict
    * (semicolon-required, disallowed-codepoint-verbatim) or parser-style
    * lenient numeric references. PHP numerics follow `strtol`: leading
    * zeros are unbounded (`&#000000000065;` decodes), the parsed VALUE
    * is what's capped (> 0x10FFFF fails verbatim, process_numeric_entity
    * in ext/standard/html.c). */
  def decodeWith(s: String, table: Map[String, String],
      numericSemicolonOptional: Boolean,
      phpNumericRules: Boolean = false,
      phpDoctype: PhpDoctype = PhpHtml401): String = {
    if (s.indexOf('&') < 0) return s
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
              (numericSemicolonOptional || terminated)) {
            try {
              val cp = Integer.parseInt(s.substring(sig, j), if (hex) 16 else 10)
              if (Character.isValidCodePoint(cp) && cp != 0 &&
                  (!phpNumericRules || phpCpAllowed(cp, phpDoctype))) {
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
            table.get(s.substring(i + 1, j)) match {
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
