package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.JUnitSafe.{check, same}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY.md §5 plan item 4): invariants that must hold for
  * ANY input, not just the goldens. Deterministic seeded sampling (the
  * offline cache has raw scalacheck only, no scalatest bridge). */
class PropertySpec extends AnyFunSuite {

  lazy val spark: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("property-spec")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private def forAll[A](g: Gen[A], minSuccessful: Int)(f: A => Unit): Unit = {
    var produced = 0
    var seed = 42L
    while (produced < minSuccessful) {
      g.apply(Gen.Parameters.default, Seed(seed)) match {
        case Some(a) => f(a); produced += 1
        case None => ()
      }
      seed += 1
    }
  }

  private val word = Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(12))
  private val sentence = for {
    n <- Gen.choose(3, 12)
    ws <- Gen.listOfN(n, word)
    p <- Gen.oneOf(".", "!", "?")
  } yield ws.mkString(" ") + p
  private val paragraph = for {
    n <- Gen.choose(1, 30)
    ss <- Gen.listOfN(n, sentence)
  } yield ss.mkString(" ")

  private val htmlDoc: Gen[String] = for {
    nBlocks <- Gen.choose(1, 10)
    blocks <- Gen.listOfN(nBlocks, Gen.oneOf(
      paragraph.map(p => s"<p>$p</p>"),
      paragraph.map(p => s"<h2>$p</h2>"),
      paragraph.map(p => s"<blockquote>$p</blockquote>"),
      paragraph.map(p => s"<ul><li>$p</li></ul>"),
      paragraph.map(p => s"<pre>$p</pre>"),
      paragraph.map(p => s"<div class=\"sidebar\"><p>$p</p></div>")))
  } yield s"<html><body>${blocks.mkString("\n")}</body></html>"

  test("splitSentences: hand-rolled scanner == the reference regex (r07 optimization pin)") {
    // the original implementation, kept here as the semantic oracle:
    // re.split(r"(?<=[.!?])\s+", text) with Python-str \s
    val rx = java.util.regex.Pattern.compile(
      "(?<=[.!?])[\\s\\x1c-\\x1f\\x85]+",
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    val wsChars = Seq(" ", "\t", "\n", "\r", "\f", "\u000b", "\u001c", "\u001f",
      "\u0085", "\u00a0", "\u2007", "\u2028", "\u3000", " \n\t")
    val tokens = Gen.oneOf(
      word, Gen.oneOf(".", "!", "?", "...", "?!", ".x.", ""),
      Gen.oneOf(wsChars))
    val text = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, tokens)).map(_.mkString)
    forAll(text, 500) { t =>
      same(TextUtil.splitSentences(t).toSeq, rx.split(t, -1).toSeq, t)
    }
    // edge cases the generator may miss
    Seq("", ".", ". ", " .", "a. b! c? d", "a.  \n b", "a .b", "!!", "! ! !",
      "a. b", "x?y", "tail. ").foreach { t =>
      same(TextUtil.splitSentences(t).toSeq, rx.split(t, -1).toSeq, t)
    }
  }

  test("no chunk exceeds 1500 code points (E7 invariant)") {
    forAll(paragraph, 50) { p =>
      val longText = (p + " ") * 20
      ChunkHtml("u", s"<html><body><p>${longText.trim}</p></body></html>")
        .chunks.foreach { c =>
          assert(TextUtil.cpLength(c.text) <= 1500 ||
            // a single sentence longer than 1500 cannot be split further
            !TextUtil.splitSentences(c.text).exists(s => TextUtil.cpLength(s) < TextUtil.cpLength(c.text)))
        }
    }
  }

  test("no empty chunks ever (validator FAIL condition, checks.py:338-343)") {
    forAll(htmlDoc, 100) { html =>
      ChunkHtml("u", html).chunks.foreach(c => assert(c.text.nonEmpty))
    }
  }

  test("every chunk's text appears in the cleaned document text") {
    forAll(htmlDoc, 100) { html =>
      val page = ChunkHtml("u", html)
      val fullClean = TextUtil.cleanText(HtmlDom.parse(html).getText)
      page.chunks.filter(c => c.chunkType != "code").foreach { c =>
        // split chunks are substrings of the cleaned text modulo the
        // single-space join at split boundaries
        c.text.split(" ").filter(_.nonEmpty).foreach(w => assert(fullClean.contains(w)))
      }
    }
  }

  test("extraction is deterministic (same input → same output)") {
    forAll(htmlDoc, 50) { html =>
      assert(ChunkHtml("u", html) == ChunkHtml("u", html))
    }
  }

  test("in-page dedup: no two chunks share identical text unless split from one block") {
    forAll(paragraph, 50) { p =>
      val html = s"<html><body><p>$p</p><p>$p</p><p>$p</p></body></html>"
      val texts = ChunkHtml("u", html).chunks.map(_.text)
      assert(texts.distinct.length == texts.length)
    }
  }

  test("adapter packing: no chunk over budget unless a single paragraph exceeds it") {
    forAll(Gen.listOf(paragraph), 50) { paras =>
      val html = paras.mkString("\n\n")
      AdapterChunker.chunkContent(html, "u").foreach { c =>
        val parasIn = c.text.split("\n\n")
        assert(AdapterChunker.countWords(c.text) <= AdapterChunker.WordsPerChunk ||
          parasIn.length == 1 ||
          parasIn.exists(p => AdapterChunker.countWords(p) > AdapterChunker.WordsPerChunk) ||
          // greedy rule: the last-added paragraph pushed it over only if
          // removing it goes under budget — never two over-budget jumps
          AdapterChunker.countWords(parasIn.dropRight(1).mkString(" ")) <= AdapterChunker.WordsPerChunk)
      }
    }
  }

  test("adapter chunk ids are unique and sequential") {
    forAll(Gen.listOf(paragraph), 30) { paras =>
      val cs = AdapterChunker.chunkContent(paras.mkString("\n\n"), "https://u/x")
      assert(cs.map(_.id).distinct.length == cs.length)
      cs.zipWithIndex.foreach { case (c, i) => assert(c.id.endsWith(s"_$i")) }
    }
  }

  test("sync bucket partition is total and disjoint (T2/J5)") {
    forAll(Gen.listOf(Gen.choose(0L, 1000L)), 50) { tss =>
      val since = 200L; val until = 800L; val mid = 500L
      val inWindow = tss.filter(t => t >= since && t <= until)
      val added = inWindow.filter(_ >= mid)
      val updated = inWindow.filter(_ < mid)
      assert(added.length + updated.length == inWindow.length)
      assert(added.intersect(updated).isEmpty)
    }
  }

  test("sync token round-trips (T3)") {
    forAll(Gen.choose(0L, 4102444800L), 100) { epoch =>
      val iso = SyncCodec.toIsoUtc(epoch.toDouble)
      val token = SyncCodec.encodeSyncToken(iso)
      assert(SyncCodec.decodeSyncToken(token).contains(epoch.toDouble))
      assert(SyncCodec.parseSince(token).contains(epoch.toDouble))
      assert(SyncCodec.parseSince(iso).contains(epoch.toDouble))
    }
  }

  test("iso duration: humanized parse is stable and never throws") {
    forAll(Gen.asciiPrintableStr, 200) { s =>
      val once = TextUtil.parseIsoDuration(s)
      assert(TextUtil.parseIsoDuration(s) == once)
    }
  }

  test("html parser never throws on arbitrary input") {
    forAll(Gen.asciiPrintableStr, 300) { s =>
      val doc = HtmlDom.parse(s)
      assert(doc != null)
      ChunkHtml("u", s) // full pipeline robustness
    }
  }

  test("entity decode is identity on entity-free text") {
    forAll(Gen.alphaNumStr, 100) { s =>
      assert(HtmlEntities.decode(s) == s)
    }
  }

  /** Adversarial soup: unbalanced tags, stray brackets, entities, unicode,
    * nulls-adjacent controls — the shapes a 10^12-turn corpus WILL contain. */
  private val soup: Gen[String] = {
    val frag = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(40)),
      Gen.oneOf("<", ">", "</", "/>", "<!", "<!--", "-->", "&", "&#", "&#x",
        "&amp;", "&notreal;", "<p", "<p>", "</p>", "<table>", "<td>", "</b>",
        "<script>", "</script>", "<svg>", "<div/>", "é中😀"),
      word.map(w => s"<$w attr='${w}x>"),
      paragraph)
    for {
      n <- Gen.choose(1, 25)
      fs <- Gen.listOfN(n, frag)
    } yield fs.mkString
  }

  test("full per-turn extraction never throws on adversarial soup, both tool paths") {
    val ts0 = new java.sql.Timestamp(graft.job.Transcripts.EpochStart * 1000L)
    forAll(soup, 300) { s =>
      val h = graft.job.ExtractJob.extractOne(
        graft.model.Turn("c", 0, "user", s, "browser", ts0))
      assert(h.n_chunks == h.chunks.length)
      assert(h.chunks.forall(c => c.text.nonEmpty))
      val r = graft.job.ExtractJob.extractOne(
        graft.model.Turn("c", 0, "user", s, "render", ts0))
      assert(r.n_chunks == r.chunks.length)
      assert(r.chunks.forall(c => c.chunk_type == "span"))
      // the 50 KB cap invariant holds even through entity expansion-free flatten
      assert(r.bytes_in >= 0 && r.bytes_out >= 0)
    }
  }

  test("hashing-trick featurization is deterministic and local==distributed-semantics") {
    forAll(paragraph, 100) { p =>
      val a = graft.ops.VectorOps.featurizeLocal(p, 64)
      val b = graft.ops.VectorOps.featurizeLocal(p, 64)
      assert(a == b)
      assert(a.keys.forall(k => k >= 0 && k < 64))
      assert(a.values.forall(_ != 0L))
    }
  }

  test("robots parse/canFetch and sitemap parse never throw on arbitrary input") {
    val junk: Gen[String] = Gen.listOf(Gen.oneOf(
      word, Gen.oneOf("User-agent:", "Disallow:", "Allow: /a", "%", "%2",
        "#c", ":", "<loc>", "</loc>", "<![CDATA[", "]]>", " ", "<",
        "&amp;", "&bad;", "//", "xmlns=\"x", "<urlset", "?q=", " ")))
      .map(_.mkString(" "))
    forAll(junk, 200) { s =>
      val r = Robots.parse(s) // must not throw
      // canFetch total on arbitrary agents/urls (quote/unquote round)
      r.canFetch("Any/1.0", s)
      r.canFetch("", s)
      assert(Robots.quote(Robots.unquote(s)) != null)
      Sitemap.parse(s) // malformed input must degrade to empty, not throw
      ()
    }
  }

  test("encodeUriComponent round-trips through unquote for any string") {
    val samples = Seq.newBuilder[String]
    forAll(Gen.listOf(Gen.oneOf(word, Gen.const("é😀&?/+%"), Gen.const(" ")))
        .map(_.mkString), 150)(samples += _)
    val t = spark; import t.implicits._
    import org.apache.spark.sql.functions.col
    val encoded = samples.result().toDF("v")
      .select(col("v"), graft.query.Gateway.encodeUriComponent(col("v")))
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(encoded.length == 150)
    encoded.foreach { case (s, enc) =>
      // the encoding is fully reversible (lossless percent-encoding)
      same(Robots.unquote(enc), s, s"round trip of $s")
      // output alphabet is URL-safe: every byte unreserved or %XX
      check(enc.forall(c =>
        c == '%' || c.isLetterOrDigit && c < 128 || "-_.!~*'()".contains(c)),
        "URL-unsafe output", enc)
    }
  }
}
