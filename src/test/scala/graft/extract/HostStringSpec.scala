package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.JUnitSafe.same
import AdapterChunker.Variant

/** The host-language string rules the adapter ports share: whitespace sets
  * checked over all 65,536 UTF-16 units, list-line patterns, the greedy
  * paragraph packer, and the hex digests behind chunk and page ids. */
class HostStringSpec extends AnyFunSuite {

  private def units(ranges: (Int, Int)*): Set[Char] =
    ranges.flatMap { case (a, b) => a to b }.map(_.toChar).toSet

  /** python3: `[c for c in map(chr, range(0x10000)) if c.isspace()]`. */
  private val pySpace: Set[Char] = units((0x09, 0x0D), (0x1C, 0x20), (0x85, 0x85),
    (0xA0, 0xA0), (0x1680, 0x1680), (0x2000, 0x200A), (0x2028, 0x2029),
    (0x202F, 0x202F), (0x205F, 0x205F), (0x3000, 0x3000))

  /** node: the units both `/\s/.test(c)` and `c.trim() === ""` accept. */
  private val jsSpace: Set[Char] =
    pySpace -- units((0x1C, 0x1F), (0x85, 0x85)) + '\uFEFF'

  private val allUnits = (0 to 0xFFFF).map(_.toChar)

  test("Python whitespace: stripPy and the FastAPI word count use exactly str.isspace") {
    assert(pySpace.size == 29)
    assert(allUnits.filter(c => TextUtil.stripPy(s"${c}x$c") == "x").toSet == pySpace)
    assert(allUnits.filter(c => AdapterChunker.pyCountWords(s"a${c}b") == 2).toSet == pySpace)
  }

  test("JS whitespace: jsTrim and countWords use exactly /\\s/ and trim()") {
    assert(jsSpace.size == 25)
    assert(allUnits.filter(c => AdapterChunker.jsTrim(s"${c}x$c") == "x").toSet == jsSpace)
    assert(allUnits.filter(c => AdapterChunker.countWords(s"a${c}b") == 2).toSet == jsSpace)
    // summarise re-joins the same words
    assert(AdapterChunker.summarise("a\uFEFFb\u0085c", words = 1) == "a...")
  }

  test("JS list lines: ASCII digits and JS whitespace") {
    for (v <- Seq(Variant.Express, Variant.Ts)) {
      assert(AdapterChunker.detectType("١. a\n١. b", v) == "paragraph", v)
      assert(AdapterChunker.detectType("1.\u0085a\n1.\u0085b", v) == "paragraph", v)
      assert(AdapterChunker.detectType("1.\uFEFFa\n1.\uFEFFb", v) == "list", v)
      assert(AdapterChunker.detectType("1. a\n2) b", v) == "list", v)
    }
  }

  test("FastAPI list lines: Unicode digits and Python whitespace") {
    assert(AdapterChunker.detectType("1.\u001Fa\n1.\u001Fb", Variant.FastApi) == "list")
    assert(AdapterChunker.detectType("١. a\n١. b", Variant.FastApi) == "list")
    assert(AdapterChunker.detectType("1.\uFEFFa\n1.\uFEFFb", Variant.FastApi) == "paragraph")
  }

  /** The Drupal packer before it became [[AdapterChunker.packBySum]]. */
  private def oldDrupal(paragraphs: Array[String]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var current = ""
    var currentLen = 0
    paragraphs.foreach { p =>
      val pLen = p.codePointCount(0, p.length)
      if (currentLen > 0 && currentLen + pLen > 500) {
        out += current
        current = p
        currentLen = pLen
      } else {
        current = if (current.isEmpty) p else current + "\n\n" + p
        currentLen += pLen
      }
    }
    if (current.nonEmpty) out += current
    out.result()
  }

  /** The word-budget packer before it became [[AdapterChunker.packBySum]]. */
  private def oldWords(paragraphs: Array[String], wcF: String => Int,
      budget: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var current = ""
    var currentWords = 0
    paragraphs.foreach { para =>
      val paraWords = wcF(para)
      if (currentWords > 0 && currentWords + paraWords > budget) {
        out += current
        current = para
        currentWords = paraWords
      } else {
        current = if (current.isEmpty) para else current + "\n\n" + para
        currentWords += paraWords
      }
    }
    if (current.nonEmpty) out += current
    out.result()
  }

  test("packBySum == the old Drupal character and word-budget loops") {
    val rnd = new scala.util.Random(20261017L)
    val pieces = Vector("a", "word", "😀", "été", "x-y", "42",
      "𐐷ab", "it's", "\u3000", "\u0085", "--")
    def paragraph(): String =
      Vector.fill(rnd.nextInt(160))(pieces(rnd.nextInt(pieces.size))).mkString(" ")
    val wordCounts = Seq[String => Int](AdapterChunker.countWords,
      AdapterChunker.phpStrWordCount, AdapterChunker.pyCountWords)
    var charLenDiffers = 0
    for (_ <- 0 until 300) {
      val paras = Array.fill(rnd.nextInt(12))(paragraph())
      val drupal = AdapterChunker.packBySum(paras, TextUtil.cpLength, 500)
      assert(drupal == oldDrupal(paras), paras.toSeq)
      if (AdapterChunker.packBySum(paras, _.length, 500) != drupal) charLenDiffers += 1
      for (wc <- wordCounts; budget <- Seq(AdapterChunker.WordsPerChunk, 300))
        assert(AdapterChunker.packBySum(paras, wc, budget) == oldWords(paras, wc, budget))
    }
    // surrogate pairs make code-point and UTF-16 lengths pack differently
    assert(charLenDiffers > 0)
  }

  /** `Robots.quote` before it called [[TextUtil.percentEncode]]. */
  private def oldQuote(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      val keep = c < 0x80 && ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || "_.-~/".indexOf(c) >= 0)
      if (keep) sb.append(c) else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  test("percentEncode: quote equals its old loop") {
    val quote = Robots.quote _
    allUnits.foreach(c => same(quote(c.toString), oldQuote(c.toString), c.toInt))
    val rnd = new scala.util.Random(20261019L)
    val pieces = Vector("a", "Z", "0", "/", "_.-~", "!*'()", " ", "%", "+", "?&=#",
      "\u0000", "\u007F", "\u0080", "é", "\u07FF", "\u0800", "€", "\uFFFF",
      "😀", "𐐷", "\uD800", "\uDBFF", "\uDC00", "\uDFFF", "\uDC00\uD800")
    var lone = 0
    for (_ <- 0 until 3000) {
      val s = Vector.fill(rnd.nextInt(24))(pieces(rnd.nextInt(pieces.size))).mkString
      if (s.codePoints().anyMatch(cp => cp >= 0xD800 && cp <= 0xDFFF)) lone += 1
      same(quote(s), oldQuote(s), s)
    }
    // the corpus holds strings whose lone surrogates encode as `?`
    assert(lone > 0)
  }

  test("hex digests and sidecar ids match MessageDigest") {
    def hex(alg: String, s: String) = java.security.MessageDigest.getInstance(alg)
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    for (s <- Seq("", "https://e.com/", "é😀")) {
      assert(TextUtil.sha256Hex(s) == hex("SHA-256", s))
      assert(TextUtil.md5Hex(s) == hex("MD5", s))
    }
    assert(graft.job.ExtractJob.chunkId("https://e.com/", 3) ==
      hex("SHA-256", "https://e.com/::chunk::3").take(16))
    assert(graft.job.ExtractJob.pageId("https://e.com/") ==
      hex("SHA-256", "page::https://e.com/").take(16))
  }
}
