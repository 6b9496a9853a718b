package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import HtmlDom._

class HtmlDomSpec extends AnyFunSuite {

  test("basic tree + getText with no separators") {
    val doc = parse("<html><body><div>a<p>b</p>c</div></body></html>")
    assert(doc.getText == "abc")
    val p = doc.find("p").get
    assert(p.getText == "b")
  }

  test("attributes: quoting styles, entity decode, case folding") {
    val doc = parse("""<div CLASS="x  y" data-A='1' checked plain=v title="a&amp;b">t</div>""")
    val d = doc.find("div").get
    assert(d.classList == Seq("x", "y"))
    assert(d.attr("data-a").contains("1"))
    assert(d.attr("checked").contains(""))
    assert(d.attr("plain").contains("v"))
    assert(d.attr("title").contains("a&b"))
  }

  test("self-closing syntax on non-void elements is ignored (libxml2 parity)") {
    // lxml/libxml2 treats <div/> as an OPEN div: following content nests
    val doc = parse("<body><div/>inside</div><p>after</p></body>")
    assert(doc.find("div").get.getText == "inside")
    // but foreign content (svg) honors the flag
    val svg = parse("<body><div><svg><rect/><circle/></svg></div><p>x</p></body>")
    assert(svg.find("rect").get.children.isEmpty)
    assert(svg.find("p").get.getText == "x")
  }

  test("void elements don't nest") {
    val doc = parse("<p>a<br>b<img src=x>c</p>")
    assert(doc.find("p").get.getText == "abc")
    assert(doc.find("br").get.children.isEmpty)
  }

  test("script/style content is raw and excluded from surrounding text") {
    val doc = parse("<body><script>if (a<b) { x() }</script><p>keep</p></body>")
    assert(doc.find("script").get.getText == "if (a<b) { x() }")
    assert(doc.find("p").get.getText == "keep")
  }

  test("full HTML5 entity table: 2125 names, HTML4 subset intact, long tail works") {
    assert(graft.extract.Html5Entities.table.size == 2125)
    // superset property: every legacy HTML4 entity resolves to the same
    // value — EXCEPT lang/rang, whose code points HTML5 remapped
    // (U+2329/U+232A → U+27E8/U+27E9); the HTML 4.01 table deliberately
    // keeps the 4.01 values for the PHP (Joomla) decode path
    graft.extract.HtmlEntities.html401.foreach { case (n, v) =>
      if (n == "lang" || n == "rang") {
        assert(v == (if (n == "lang") "\u2329" else "\u232A"))
        assert(graft.extract.HtmlEntities.decode(s"&$n;") ==
          (if (n == "lang") "\u27E8" else "\u27E9"))
      } else
        assert(graft.extract.HtmlEntities.decode(s"&$n;") == v, s"&$n; diverged")
    }
    // HTML5-only long tail
    assert(graft.extract.HtmlEntities.decode("&CounterClockwiseContourIntegral;") == "∳")
    assert(graft.extract.HtmlEntities.decode("&fjlig;") == "fj") // multi-char value
    assert(graft.extract.HtmlEntities.decode("&Afr;") == new String(Character.toChars(0x1D504)))
    assert(graft.extract.HtmlEntities.decode("&ThickSpace;") == "  ")
    assert(graft.extract.HtmlEntities.decode("&nleqslant;") == "⩽̸")
    // still strict about the semicolon and unknown names
    assert(graft.extract.HtmlEntities.decode("&fjlig x") == "&fjlig x")
    assert(graft.extract.HtmlEntities.decode("&notarealentity;") == "&notarealentity;")
  }

  test("comments and doctype are dropped") {
    val doc = parse("<!DOCTYPE html><!-- c --><html><body><p>x<!-- inner -->y</p></body></html>")
    assert(doc.find("p").get.getText == "xy")
  }

  test("entities decoded in text") {
    val doc = parse("<p>fish &amp; chips &eacute; &#233; &#xE9; &unknown; &amp</p>")
    assert(doc.find("p").get.getText == "fish & chips é é é &unknown; &amp")
  }

  test("implied close: p closes p, li closes li") {
    val doc = parse("<body><p>one<p>two<ul><li>a<li>b</ul></body>")
    val ps = doc.findAll("p")
    assert(ps.map(_.getText) == Seq("one", "two"))
    assert(doc.findAll("li").map(_.getText) == Seq("a", "b"))
    // ul is not inside p (p implicitly closed)
    assert(doc.find("ul").get.parent.name == "body")
  }

  test("implicit html/head/body synthesis + stray text wrapped in p") {
    val doc = parse("<title>T</title><h1>Head</h1>plain tail text")
    assert(doc.find("title").get.parent.name == "head")
    val body = doc.find("body").get
    assert(body.find("h1").isDefined)
    val p = body.find("p").get
    assert(p.getText == "plain tail text")
  }

  test("bare text only input becomes p under body") {
    val doc = parse("just some plain text")
    assert(doc.find("body").get.children.collect { case e: HElem => e.name } == Seq("p"))
    assert(doc.getText == "just some plain text")
  }

  test("inline run wrapped together") {
    val doc = parse("<body>before <b>bold</b> after<div>block</div></body>")
    val body = doc.find("body").get
    val names = body.children.collect { case e: HElem => e.name }.toSeq
    assert(names == Seq("p", "div"))
    assert(body.find("p").get.getText == "before bold after")
  }

  test("decompose removes subtree from traversal") {
    val doc = parse("<body><div id=x><p>gone</p></div><p>stay</p></body>")
    doc.findAll((e: HElem) => e.attr("id").contains("x")).foreach(_.decompose())
    assert(doc.findAll("p").map(_.getText) == Seq("stay"))
  }

  test("mismatched close tags ignored; unclosed tags recovered") {
    val doc = parse("<body><p>a</span></p><div>b</body>")
    assert(doc.find("p").get.getText == "a")
    assert(doc.find("div").get.getText == "b")
  }

  test("tag soup: mis-nested formatting closes to the matching open (libxml2, no adoption agency)") {
    // libxml2's htmlParseEndTag pops the stack to the matching open tag,
    // closing everything above it; it does NOT re-open formatting elements
    // the way the HTML5 adoption-agency algorithm (html5lib) does. The
    // reference parses with lxml=libxml2, so </b> here closes both i and b,
    // the italic tail lands in p, and the stray </i> is ignored.
    val doc = parse("<body><p>alpha <b>bold <i>both</b> tail</i> end</p></body>")
    val p = doc.find("p").get
    assert(p.getText == "alpha bold both tail end") // document order preserved
    val b = doc.find("b").get
    assert(b.getText == "bold both") // tail is OUTSIDE b
    assert(doc.find("i").get.parent.name == "b")
  }

  test("tag soup: table character data stays in place (libxml2, no foster parenting)") {
    // HTML5 tree builders move ('foster-parent') stray table text before
    // the table; libxml2 keeps it where it appears, so document-order text
    // is unchanged. The north rule's per-turn text equality rides on this.
    val doc = parse("<body><table><tr><td>cell one</td></tr>stray text" +
      "<tr><td>cell two</td></tr></table></body>")
    assert(doc.find("table").get.getText == "cell onestray textcell two")
    // implied end tags inside the table still fire
    val doc2 = parse("<table><tr><td>a<td>b<tr><td>c</table>")
    assert(doc2.findAll(_.name == "td").map(_.getText) == Seq("a", "b", "c"))
    assert(doc2.findAll(_.name == "tr").length == 2)
  }

  test("descendants order is document order") {
    val doc = parse("<body><div><h1>t</h1><p>a</p></div><p>b</p></body>")
    val names = doc.find("body").get.descendants.collect { case e: HElem => e.name }.toVector
    assert(names == Vector("div", "h1", "p", "p"))
  }

  test("duplicate html attrs merged (lang preserved)") {
    val doc = parse("<html lang=\"fr-CA\"><body><html lang=\"xx\"><p>t</p></body></html>")
    assert(doc.find("html").get.attr("lang").contains("fr-CA"))
  }

  test("rcdata title decodes entities, ignores tags") {
    val doc = parse("<head><title>a &amp; <b> c</title></head>")
    assert(doc.find("title").get.getText == "a & <b> c")
    assert(doc.find("b").isEmpty)
  }

  test("pathological nesting depth does not blow the stack") {
    val deep = "<div>" * 200000 + "<p>payload text survives here</p>" + "</div>" * 200000
    val doc = parse(deep)
    assert(doc.getText == "payload text survives here")
    // full pipeline stays safe too; the <p> beyond the cap still chunks
    // (div-wrapped bare text would not chunk — same as the reference)
    val page = graft.extract.ChunkHtml("u", deep)
    assert(page.chunks.map(_.text) == Vector("payload text survives here"))
  }

  test("pathological unclosed tags do not blow the stack") {
    val deep = "<p>" + "<span>" * 300000 + "tail"
    assert(parse(deep).getText == "tail")
  }
}
