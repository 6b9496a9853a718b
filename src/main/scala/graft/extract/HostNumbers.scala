package graft.extract

/** Host-language numeric parsing, transliterated for the query-param
  * surfaces where the nine ports genuinely diverge on the SAME raw
  * string (`?limit=1e2` is 1 to express, a 400-free fallback-to-10 in
  * FastAPI, and 100 to the PHP ports):
  *
  *  - [[jsParseInt10]]: ECMAScript `parseInt(s, 10)` — the express/TS
  *    chain `parseInt(raw || '10', 10) || 10` (content.js:297-301).
  *  - [[pyIntParse]]: Python `int(str)` — strict full-string parse with
  *    PEP 515 underscores, everything else raises (router.py:255-263
  *    wraps it in try/except → default).
  *  - [[phpIntCast]]: PHP `(int) $str` — longest leading NUMERIC prefix
  *    (integer or float syntax INCLUDING exponent) truncated toward
  *    zero, else the digit prefix, else 0 (Drupal
  *    ContentController.php:147, Joomla (int) casts).
  *  - [[phpIsNumeric]]: PHP 8 `is_numeric` — full numeric string with
  *    optional leading AND trailing whitespace (trailing allowed since
  *    PHP 8.0; the WP plugin requires PHP 7.4+ but current deployments
  *    run 8.x — version note documented), no hex; the WP page-mode
  *    limit gate (class-content-api.php:369).
  */
object HostNumbers {

  /** ECMAScript `parseInt(s, 10)`: skip WhiteSpace, optional sign, then
    * the longest decimal-digit prefix; None for NaN (no digits). */
  def jsParseInt10(s: String): Option[Long] = {
    @inline def ws(c: Char) = c == ' ' || c == '\t' || c == '\n' ||
      c == '\r' || c == '\u000B' || c == '\f' || c == '\uFEFF' ||
      Character.getType(c) == Character.SPACE_SEPARATOR
    var i = 0
    val n = s.length
    while (i < n && ws(s.charAt(i))) i += 1
    var sign = 1L
    if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) {
      if (s.charAt(i) == '-') sign = -1L
      i += 1
    }
    val start = i
    var v = 0L
    while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
      if (v < 1e15.toLong) v = v * 10 + (s.charAt(i) - '0')
      i += 1
    }
    if (i == start) None else Some(sign * v)
  }

  /** Python `int(str)`: strip whitespace, optional sign, decimal digits
    * with PEP 515 single underscores BETWEEN digits; anything else
    * raises ValueError → None. `int("1_0")` is 10 where every other
    * host sees 1 (or rejects). */
  def pyIntParse(s: String): Option[Long] = {
    val t = TextUtil.stripPy(s)
    if (t.isEmpty) return None
    var i = 0
    var sign = 1L
    if (t.charAt(0) == '+' || t.charAt(0) == '-') {
      if (t.charAt(0) == '-') sign = -1L
      i = 1
    }
    if (i >= t.length) return None
    var v = 0L
    var prevDigit = false
    while (i < t.length) {
      val c = t.charAt(i)
      if (c >= '0' && c <= '9') {
        if (v < 1e15.toLong) v = v * 10 + (c - '0')
        prevDigit = true
        i += 1
      } else if (c == '_') {
        // single underscores, only between digits
        if (!prevDigit || i + 1 >= t.length ||
            !(t.charAt(i + 1) >= '0' && t.charAt(i + 1) <= '9')) return None
        prevDigit = false
        i += 1
      } else return None
    }
    Some(sign * v) // loop end ⇒ ≥1 digit and no trailing underscore
  }

  private val phpNumericPrefixRe =
    """[ \t\n\r\f]*[+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?""".r
  private val phpFullNumericRe =
    ("""[ \t\n\r\f]*[+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?""" +
     """[ \t\n\r\f]*""").r

  /** PHP `(int) $string` (zend_strtod leading-numeric semantics,
    * PHP 7+): the longest leading numeric prefix — including float and
    * exponent forms, so `(int)"1e2"` is 100 — truncated toward zero;
    * no prefix → 0; hex is NOT recognized in string conversion. */
  def phpIntCast(s: String): Long =
    phpNumericPrefixRe.findPrefixOf(s) match {
      case Some(p) => p.trim.toDouble.toLong
      case None => 0L
    }

  /** PHP 8 `is_numeric`: entire string is numeric, leading AND trailing
    * whitespace allowed (trailing since 8.0). */
  def phpIsNumeric(s: String): Boolean =
    phpFullNumericRe.pattern.matcher(s).matches()

  /** WP `absint`: `abs( (int) $x )`. */
  def wpAbsInt(s: String): Long = math.abs(phpIntCast(s))
}
