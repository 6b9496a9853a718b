package graft.extract

import java.util.regex.Pattern

/** Scalar text helpers shared across the extraction pipeline.
  *
  * Regex flags are chosen for parity with Python `re` on str patterns
  * (Unicode-aware character classes): see `/root/reference/sidecar/chunker.py`
  * `_clean_text` (:81-83), `_NOISE_CLASSES` (:48-51), `_split_long_text`
  * (:86-101), `parse_iso_duration` (:108-133).
  */
object TextUtil {

  /** Python-`\s` (str) whitespace: Unicode White_Space ∪ \x1c-\x1f.
    * (Character.isWhitespace covers \x1c-\x1f; isSpaceChar adds the
    * no-break spaces; 0x85 NEL is in neither.) */
  @inline def isPyWs(c: Char): Boolean =
    Character.isWhitespace(c) || Character.isSpaceChar(c) || c.toInt == 0x85

  /** `_clean_text`: collapse whitespace runs to one space, strip ends.
    * `/root/reference/sidecar/chunker.py:81-83`. Single-pass, allocation
    * only for the result (hot path: called once per DOM element). */
  def cleanText(text: String): String = {
    val n = text.length
    // fast path: already clean (no ws runs, no non-space ws, no edge ws)
    var i = 0
    var clean = n > 0 && !isPyWs(text.charAt(0)) && !isPyWs(text.charAt(n - 1))
    while (clean && i < n) {
      val c = text.charAt(i)
      if (c == ' ') { if (i + 1 < n && isPyWs(text.charAt(i + 1))) clean = false }
      else if (isPyWs(c)) clean = false
      i += 1
    }
    if (clean || n == 0) return text
    val sb = new java.lang.StringBuilder(n)
    i = 0
    var pendingSpace = false
    while (i < n) {
      val c = text.charAt(i)
      if (isPyWs(c)) { if (sb.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Python `str.strip()` (strips Unicode whitespace incl. \x1c-\x1f). */
  def stripPy(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isPyWs(s.charAt(a))) a += 1
    while (b > a && isPyWs(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** PHP `trim()` default charlist: " \t\n\r\0\x0B" — ASCII only. */
  def phpTrim(s: String): String = {
    val chars = " \t\n\r\u0000\u000B"
    var a = 0; var b = s.length
    while (a < b && chars.indexOf(s.charAt(a)) >= 0) a += 1
    while (b > a && chars.indexOf(s.charAt(b - 1)) >= 0) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  private val sha256Local = ThreadLocal.withInitial(
    () => java.security.MessageDigest.getInstance("SHA-256"))
  private val md5Local = ThreadLocal.withInitial(
    () => java.security.MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex SHA-256 of the UTF-8 bytes (Python `hashlib.sha256(s.encode()).hexdigest()`). */
  def sha256Hex(s: String): String = hexDigest(sha256Local, s)

  /** Lowercase hex MD5 of the UTF-8 bytes (PHP `md5($s)`). */
  def md5Hex(s: String): String = hexDigest(md5Local, s)

  private def hexDigest(local: ThreadLocal[java.security.MessageDigest],
      s: String): String = {
    val md = local.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexDigits((d(i) >> 4) & 0xF)
      out(i * 2 + 1) = hexDigits(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Percent-encodes the UTF-8 bytes of `s` (a lone surrogate encodes as
    * `?`, so `%3F`), uppercase hex, keeping ASCII letters, digits and the
    * ASCII `marks`: Python's `urllib.parse.quote` with `marks = "_.-~/"`
    * ([[graft.extract.Robots.quote]]). */
  def percentEncode(s: String, marks: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xFF).toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9') || (c < 0x80 && marks.indexOf(c) >= 0)) sb.append(c)
      else sb.append('%').append(upperHex((b >> 4) & 0xF)).append(upperHex(b & 0xF))
    }
    sb.toString
  }
  private val upperHex = "0123456789ABCDEF".toCharArray

  /** Sentence-boundary splitter of `_split_long_text`:
    * `re.split(r"(?<=[.!?])\s+", text)` — `/root/reference/sidecar/chunker.py:92`.
    *
    * Hand-rolled single pass instead of `Pattern.split` on
    * `(?<=[.!?])[\s\x1c-\x1f\x85]+`: the lookbehind + Unicode-class regex
    * measured ~5× slower and this is ~25% of the whole extraction hot
    * loop on long-text payloads. Semantics are identical by construction:
    * split at every maximal run of Python-`\s` whitespace whose
    * immediately preceding character is `.`, `!` or `?` (greedy run =
    * maximal run here, since the lookbehind constrains only the run's
    * first character), `limit = -1` trailing-empty behavior preserved
    * (a terminal match yields a trailing "" token). Pinned against the
    * regex by the PropertySpec fuzz. */
  def splitSentences(text: String): Array[String] = {
    val n = text.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 1 // a match needs a preceding char
    while (i < n) {
      val c = text.charAt(i)
      if (isPyWs(c) && {
            val p = text.charAt(i - 1); p == '.' || p == '!' || p == '?'
          }) {
        var j = i + 1
        while (j < n && isPyWs(text.charAt(j))) j += 1
        out += text.substring(start, i)
        start = j
        i = j + 1
      } else i += 1
    }
    out += text.substring(start, n)
    out.toArray
  }

  /** Max chunk chars before sentence-split — `_MAX_CHUNK_LEN`,
    * `/root/reference/sidecar/chunker.py:54`.
    * NOTE: Python `len()` counts code points; we count code points too so
    * astral-plane text (emoji) splits identically. */
  val MaxChunkLen = 1500

  def cpLength(s: String): Int = s.codePointCount(0, s.length)

  /** Noise-class detector regex — `_NOISE_CLASSES`,
    * `/root/reference/sidecar/chunker.py:48-51`. Python `\b` is
    * Unicode-aware; UNICODE_CHARACTER_CLASS makes Java match. */
  val noiseClasses: Pattern = Pattern.compile(
    "(ad\\b|ads\\b|advert|banner|cookie|sidebar|menu|social|share|comment|popup|modal|newsletter|promo)",
    Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CHARACTER_CLASS | Pattern.UNICODE_CASE)

  def isNoise(s: String): Boolean = s.nonEmpty && noiseClasses.matcher(s).find()

  /** ISO-8601 duration humanizer — `parse_iso_duration`,
    * `/root/reference/sidecar/chunker.py:108-133`.
    * `PT25M`→"25 min", `PT1H30M`→"1h 30 min", `P1DT2H`→"1d 2h",
    * `PT45S`→"45s"; unparseable → raw input; empty → "". */
  private val isoDuration: Pattern = Pattern.compile(
    "^P(?:(\\d+)D)?T?(?:(\\d+)H)?(?:(\\d+)M)?(?:(\\d+)S)?$",
    Pattern.CASE_INSENSITIVE)

  def parseIsoDuration(duration: String): String = {
    if (duration == null || duration.isEmpty) return ""
    val m = isoDuration.matcher(stripPy(duration))
    if (!m.matches()) return duration
    // BigInt: Python int() is arbitrary-precision, so PT{20+ digits}S must
    // humanize rather than throw (a NumberFormatException here would fail
    // the whole task inside mapPartitions)
    def g(i: Int): BigInt = Option(m.group(i)).filter(_.nonEmpty).map(BigInt(_)).getOrElse(BigInt(0))
    val (d, h, mi, s) = (g(1), g(2), g(3), g(4))
    val parts = Seq(
      if (d != 0) Some(s"${d}d") else None,
      if (h != 0) Some(s"${h}h") else None,
      if (mi != 0) Some(s"$mi min") else None,
      if (s != 0) Some(s"${s}s") else None,
    ).flatten
    if (parts.nonEmpty) parts.mkString(" ") else duration
  }
}
