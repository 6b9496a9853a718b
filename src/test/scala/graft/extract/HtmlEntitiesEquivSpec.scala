package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.JUnitSafe.same

/** Equivalence of the derived HTML 4.01 table and the one-mode decoder
  * against the forms they replaced: a literal 4.01 value map and a
  * `decodeWith` with four independently settable flags. The `legacy*`
  * bodies below are verbatim copies of the replaced code. */
class HtmlEntitiesEquivSpec extends AnyFunSuite {

  private sealed trait PhpDoctype
  private case object PhpHtml401 extends PhpDoctype
  private case object PhpHtml5 extends PhpDoctype

  private val legacyHtml4Subset: Map[String, String] = Map(
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

  private def legacyDecodeWith(s: String, table: Map[String, String],
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

  test("derived HTML 4.01 table equals the replaced literal minus apos") {
    val legacy = legacyHtml4Subset - "apos"
    assert(legacy.size == 252)
    assert(HtmlEntities.html401 == legacy)
  }

  /** References dense in every decoder branch: bare `&`, `&#`, `&#x`,
    * names from both tables with and without `;`, unknown and over-long
    * names, leading zeros, surrogates, values above 0x10FFFF,
    * noncharacters, form feed and the Win-1252 range. */
  private def fuzzStrings(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val names = (Html5Entities.table.keys ++ legacyHtml4Subset.keys).toVector.sorted
    val fixed = Vector("&", "&#", "&#x", "&#X", ";", "&;", "&#;", "&#x;", "&apos;",
      "&lang;", "&rang;", "&notanentity;", "&" + "a" * 33 + ";", "&" + "b" * 31 + ";",
      "&amp", "&copy ", "&#12;", "&#xC;", "&#146;", "&#0;", "&#x0;", "&#xD800;",
      "&#55296;", "&#xDFFF;", "&#x110000;", "&#1114112;", "&#x10FFFF;", "&#xFFFE;",
      "&#xFFFF;", "&#xFDD0;", "&#xFDEF;", "&#xFDF0;", "&#x1FFFF;", "&#x10000;",
      "&#000000000065;", "&#x00000041;", "&#0000065", "&#99999999;", "&#x7F;",
      "&#9;", "&#10;", "&#13;", "&#127;", "&#160;", "a", " ", "x;", "\u00e9", "&&")
    def digits(hex: Boolean): String = {
      val alphabet = if (hex) "0123456789abcdefABCDEF" else "0123456789"
      val zeros = "0" * (if (rnd.nextInt(4) == 0) rnd.nextInt(10) else 0)
      zeros + Seq.fill(1 + rnd.nextInt(9))(alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    def token(): String = rnd.nextInt(6) match {
      case 0 => fixed(rnd.nextInt(fixed.size))
      case 1 => "&" + names(rnd.nextInt(names.size)) + ";"
      case 2 => "&" + names(rnd.nextInt(names.size)) + (if (rnd.nextBoolean()) " " else "")
      case 3 => "&#" + digits(hex = false) + (if (rnd.nextInt(3) > 0) ";" else "")
      case 4 => (if (rnd.nextBoolean()) "&#x" else "&#X") + digits(hex = true) +
        (if (rnd.nextInt(3) > 0) ";" else "")
      case _ => rnd.alphanumeric.take(rnd.nextInt(4)).mkString
    }
    Seq.fill(n)(Seq.fill(1 + rnd.nextInt(12))(token()).mkString)
  }

  test("decode, decodePhpHtml4 and decodePhpHtml5 equal the four-flag decodeWith") {
    val named = Html5Entities.table
    val html4 = legacyHtml4Subset - "apos"
    val strings = fuzzStrings(3000, seed = 11L)
    var decodedSome = 0
    strings.foreach { s =>
      val lenient = legacyDecodeWith(s, named, numericSemicolonOptional = true)
      same(HtmlEntities.decode(s), lenient, s"decode: $s")
      same(HtmlEntities.decodePhpHtml4(s), legacyDecodeWith(s, html4,
        numericSemicolonOptional = false, phpNumericRules = true,
        phpDoctype = PhpHtml401), s"decodePhpHtml4: $s")
      same(HtmlEntities.decodePhpHtml5(s), legacyDecodeWith(s, named,
        numericSemicolonOptional = false, phpNumericRules = true,
        phpDoctype = PhpHtml5), s"decodePhpHtml5: $s")
      if (lenient != s) decodedSome += 1
    }
    // the corpus must reach the decoding branches, not only the verbatim ones
    assert(decodedSome > strings.size / 2)
  }
}
