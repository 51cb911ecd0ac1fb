package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import java.util.regex.Pattern

class DomSpec extends AnyFunSuite {

  private def parse(s: String) = HtmlParser.parse(s)

  test("basic parse + serialize round trip") {
    val doc = parse("<div class=\"a  b\"><p>hi</p><br><img src=\"x.png\"></div>")
    assert(doc.serialized ==
      "<div class=\"a b\"><p>hi</p><br/><img src=\"x.png\"/></div>")
  }

  test("entities decoded on parse, minimal re-escape on serialize") {
    val doc = parse("<p>a &amp; b &lt;c&gt; &hellip;</p>")
    val p = doc.find("p")
    assert(p.text == "a & b <c> …")
    assert(doc.serialized == "<p>a &amp; b &lt;c&gt; …</p>")
  }

  test("attr values: entity decode, bare attrs, quotes") {
    val doc = parse("<a href='x?a=1&amp;b=2' data-k = v disabled>t</a>")
    val a = doc.find("a")
    assert(a.attr("href") == "x?a=1&b=2")
    assert(a.attr("data-k") == "v")
    assert(a.hasAttr("disabled") && a.attr("disabled") == "")
    assert(doc.serialized ==
      "<a href=\"x?a=1&amp;b=2\" data-k=\"v\" disabled>t</a>")
  }

  test("script is raw text, no entity decode, ends at </script") {
    val doc = parse("<script>if (a &lt; b) { x = '<div>'; }</script><p>q</p>")
    val s = doc.find("script")
    assert(s.children.head.asInstanceOf[Text].data ==
      "if (a &lt; b) { x = '<div>'; }")
    assert(doc.find("p").text == "q")
    assert(doc.serialized ==
      "<script>if (a &lt; b) { x = '<div>'; }</script><p>q</p>")
  }

  test("unclosed tags close at EOF; stray end tags ignored") {
    val doc = parse("<div><p>a</div></b>after")
    // html.parser: </div> pops p then div; </b> ignored; 'after' top-level
    assert(doc.serialized == "<div><p>a</p></div>after")
  }

  test("comments parse, serialize, excluded from .text, found by findTexts") {
    val doc = parse("<div>a<!-- note -->b</div>")
    val div = doc.find("div")
    assert(div.text == "ab")
    assert(KernelOracles.findTexts(div).exists(_.isInstanceOf[Comment]))
    assert(doc.serialized == "<div>a<!-- note -->b</div>")
    Extract.commentStrip(doc)
    assert(doc.serialized == "<div>ab</div>")
  }

  test("class/rel multi-valued normalization") {
    val doc = parse("<a class=\" x \t y \" rel=\"tag  me\">z</a>")
    val a = doc.find("a")
    assert(a.attr("class") == "x y")
    assert(a.attr("rel") == "tag me")
  }

  test("multi-valued normalization: regex-\\s parity incl. vertical tab") {
    // normTokens must equal split("\\s+") semantics: VT (U+000B) IS regex \s
    val doc = parse("<a class=\"x\u000By\">z</a><b class=\"plain one\">q</b>")
    assert(doc.find("a").attr("class") == "x y")
    // already-normalized fast path returns the value unchanged
    assert(doc.find("b").attr("class") == "plain one")
    // bare class attr → empty list → empty string
    val bare = parse("<i class>t</i>")
    assert(bare.find("i").attr("class") == "")
  }

  test("duplicate attrs: first position, latest value (dict semantics)") {
    val doc = parse("<a id=\"one\" href=\"h\" id=\"two\">t</a>")
    val a = doc.find("a")
    assert(a.attr("id") == "two")
    // position of `id` stays first (Python dict re-assignment keeps slot)
    assert(doc.serialized == "<a id=\"two\" href=\"h\">t</a>")
  }

  test("start tags with many attrs grow the scratch correctly") {
    val attrs = (1 to 12).map(i => s"a$i=\"v$i\"").mkString(" ")
    val doc = parse(s"<div $attrs>x</div>")
    val d = doc.find("div")
    (1 to 12).foreach(i => assert(d.attr(s"a$i") == s"v$i"))
    assert(d.attrs.size == 12)
  }

  test("AttrMap: insertion order, update-in-place, remove shifts left") {
    val m = new AttrMap
    m("a") = "1"; m("b") = "2"; m("c") = "3"
    assert(m.size == 3 && m.keysIterator.toList == List("a", "b", "c"))
    m("b") = "two" // update keeps position
    assert(m.keysIterator.toList == List("a", "b", "c") && m.get("b").contains("two"))
    m.remove("a")
    assert(m.keysIterator.toList == List("b", "c") && !m.contains("a"))
    m.remove("zzz") // no-op
    assert(m.size == 2)
    m("d") = null // bare attr
    assert(m.contains("d") && m.get("d").contains(null))
    var seen = List.empty[(String, String)]
    m.foreachEntry((k, v) => seen = seen :+ (k, v))
    assert(seen == List(("b", "two"), ("c", "3"), ("d", null)))
  }

  test("getText with separator vs fast empty-sep path agree on content") {
    val doc = parse("<div>a<span>b</span>c<!--no--><script>raw</script></div>")
    val d = doc.find("div")
    assert(d.text == "abcraw") // comment invisible, raw text visible
    assert(d.getText("|") == "a|b|c|raw")
  }

  test("nested find / findParent / siblings") {
    val doc = parse("<div><a><span>in</span></a><hr><p>x</p>text<p>y</p></div>")
    val span = doc.find("span")
    assert(span.findParent(Set("a", "script")).name == "a")
    val p2 = doc.findAll("p")(1)
    assert(p2.findPreviousSibling(e => e.name != "br" && e.name != "hr").name == "p")
    val p1 = doc.findAll("p").head
    assert(p1.findPreviousSibling(e => e.name != "br" && e.name != "hr").name == "a")
    assert(p2.previousSiblingTexts.head.data == "text")
    assert(p1.findNextSibling().name == "p")
  }

  test("findAllPrevious reverse document order, extract semantics") {
    val doc = parse("<div><a>1</a><b>2</b><c><d>3</d></c></div>")
    val d = doc.find("d")
    val prev = d.findAllPrevious().map(_.name)
    assert(prev == Seq("c", "b", "a", "div"))
    doc.find("b").extract()
    assert(doc.serialized == "<div><a>1</a><c><d>3</d></c></div>")
  }

  test("strainer materializes only matching subtrees") {
    val strainer = HtmlParser.ClassStrainer(
      Pattern.compile("thing.*link|usertext border"))
    val doc = HtmlParser.parse(
      "<div class=\"outer\"><div class=\"thing x link\"><p>keep</p></div>" +
        "<div class=\"usertext border\"><em>also</em></div>" +
        "<p>drop</p></div>", strainer)
    assert(doc.serialized ==
      "<div class=\"thing x link\"><p>keep</p></div>" +
        "<div class=\"usertext border\"><em>also</em></div>")
  }

  test("self-closing and void handling") {
    val doc = parse("<div/><p>after</p>")
    assert(doc.serialized == "<div></div><p>after</p>")
    val doc2 = parse("<br/><meta charset=\"utf-8\">")
    assert(doc2.serialized == "<br/><meta charset=\"utf-8\"/>")
  }

  test("fb:share-button style names parse") {
    val doc = parse("<fb:share-button href=\"x\">s</fb:share-button>")
    assert(doc.find("fb:share-button") != null)
  }

  test("directives and PIs survive") {
    val doc = parse("a<?php x ?>b<!ENTITY y>c")
    assert(doc.serialized == "a<?php x ?>b<!ENTITY y>c")
    assert(doc.findAll((_: Elem) => true).isEmpty)
  }
}
