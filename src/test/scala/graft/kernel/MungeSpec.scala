package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

class MungeSpec extends AnyFunSuite {

  /** Soft hyphens vary with the committed pattern subset; structural tests
    * compare hyphen-free output (HyphenateSpec pins the hyphen placement).
    */
  private def noShy(s: String): String = s.replace("­", "")

  private def mungeHtml(html: String, url: String = "http://t.test/a/b"): String = {
    val doc = HtmlParser.parse(html)
    val root = doc.childElems.head
    noShy(Munge.munge(doc, Extract.SelNode(root), url))
  }

  test("M2: br directly after p stripped") {
    assert(mungeHtml("<div><p>paragraph text here</p><br><em>next element</em></div>")
      == "<div><p>paragraph text here</p><em>next element</em></div>")
  }

  test("M3: trailing hrs stripped until non-hr") {
    // NB root-container descent (clean.py:203) runs after, so the single
    // remaining <p> becomes the output root — reference pass order.
    assert(mungeHtml("<div><p>body text keeps</p><hr><hr></div>")
      == "<p>body text keeps</p>")
    // trailing text node ends the loop
    assert(mungeHtml("<div><hr>tail</div>") == "<div><hr/>tail</div>")
  }

  test("M4: empty strip cascades to parent") {
    assert(mungeHtml("<div><section>stays</section><div><p>  </p></div></div>")
      == "<section>stays</section>") // + root-container descent
    // br/hr-only subtrees count as empty
    assert(mungeHtml("<div><em>keep</em><p><br></p></div>")
      == "<em>keep</em>")
  }

  test("M5: root containers descend to single child") {
    assert(mungeHtml("<div><div><p>the actual content</p></div></div>")
      == "<p>the actual content</p>")
  }

  test("M6: low-scored descendants stripped at <= -2") {
    val doc = HtmlParser.parse("<div><p>keep this text</p><span>drop</span></div>")
    val root = doc.childElems.head
    val span = doc.find("span")
    span.setScore(-2.0)
    val out = Munge.munge(doc, Extract.SelNode(root), "http://t.test/")
    assert(!out.contains("drop"))
  }

  test("M7: attrs stripped from descendants, root keeps (quirk); onchange survives") {
    // Two children prevent root-container descent.
    val out = mungeHtml(
      "<div class=\"x\" id=\"y\"><p class=\"inner\" onclick=\"f()\" " +
        "onchange=\"g()\">body text</p><em>second child</em></div>")
    assert(out == "<div class=\"x\" id=\"y\"><p onchange=\"g()\">body text</p>" +
      "<em>second child</em></div>")
  }

  test("M8: urls absolutized (href/src/object data/param movie)") {
    val out = mungeHtml(
      "<div><a href=\" x.html \">l</a><img src=\"i.png\"/>" +
        "<object data=\"o.swf\"></object><param name=\"movie\" value=\"m.swf\"/></div>",
      "http://t.test/a/b")
    assert(out.contains("href=\"http://t.test/a/x.html\""))
    assert(out.contains("src=\"http://t.test/a/i.png\""))
    assert(out.contains("data=\"http://t.test/a/o.swf\""))
    assert(out.contains("value=\"http://t.test/a/m.swf\""))
  }

  test("M9: image alignment from style; class path dead for descendants") {
    // Reference order: _MungeStripAttrs deletes `class` from every
    // descendant BEFORE _MungeImages runs (clean.py:205-209), so the
    // class-based alignment branch can never fire on non-root images.
    val out = mungeHtml(
      "<div><img src=\"a.png\" style=\"float: left\"/>" +
        "<img src=\"b.png\" class=\"alignright\"/>" +
        "<img src=\"c.png\" align=\"top\" class=\"alignleft\"/>some text</div>")
    assert(out.contains("src=\"http://t.test/a/a.png\" style=\"float: left\" align=\"left\""))
    assert(!out.contains("align=\"right\""))
    assert(out.contains("align=\"top\""))
    // A root <img> keeps class (M7 quirk) but findAll('img') excludes the
    // root too — so the class-alignment branch is entirely dead in
    // production; replicated.
    val doc = HtmlParser.parse("<img src=\"x.png\" class=\"left\"/>")
    val img = doc.childElems.head
    val o2 = Munge.munge(doc, Extract.SelNode(img), "http://t.test/")
    assert(!o2.contains("align="))
  }

  test("M10: header downgrade capped at h6") {
    assert(mungeHtml("<div><h1>heading number one</h1><h5>heading number five</h5>some body</div>")
      .contains("<h3>"))
    assert(!mungeHtml("<div><h5>heading number five</h5>x</div>").contains("<h7>"))
    assert(mungeHtml("<div><h5>heading number five</h5>x</div>").contains("<h6>"))
  }

  test("M11: hyphenation — soft hyphens, pre exemption, whitespace collapse") {
    val out = mungeHtml("<div><p>hyphenation   and\n newlines</p><pre>hyphenation  kept</pre></div>")
    // whitespace collapsed to single spaces outside <pre>
    assert(out.contains("hyphenation and newlines"))
    assert(out.contains("<pre>hyphenation  kept</pre>"))
    // ≤4-char words unsplit
    assert(Hyphenate.hyphenateWordShy("word") == "word")
    assert(Hyphenate.hyphenateWordShy("a") == "a")
  }

  test("M11: exception words") {
    assert(Hyphenate.hyphenateWordShy("associate") == Seq("as", "so", "ciate").mkString(Hyphenate.Shy))
    assert(Hyphenate.hyphenateWordShy("table") == Seq("ta", "ble").mkString(Hyphenate.Shy))
    assert(Hyphenate.hyphenateWordShy("project") == "project")
    assert(Hyphenate.hyphenateWordShy("present") == "present")
  }

  test("M12: noscript renamed to div") {
    assert(mungeHtml("<div><noscript>alt body text</noscript>more content</div>")
      .contains("<div>alt body text</div>"))
  }

  test("fused hyphenating serializer == mungeHyphenate then serialize") {
    // every quirk class: plain text, entities kept verbatim, comments and
    // raw script text downgraded+escaped+hyphenated, <pre> exempt (incl.
    // nested), directive/PI nodes, score attrs, void elems, multi-space
    val html = "<div class=\"c\"><p>extraordinary hyphenation   example</p>" +
      "<pre>unhyphenatable   preserved <b>extraordinary</b></pre>" +
      "<script>if (a &lt; b) { international(); }</script>" +
      "<!-- considerable commentary --><?pi data?><!DIRECTIVE>" +
      "<p>ent&amp;ities &hellip; remain</p><img src=\"x.png\"><br></div>"
    val doc1 = HtmlParser.parse(html)
    val root1 = doc1.find("div")
    root1.setScore(7.0)
    KernelOracles.mungeHyphenate(root1)
    val twoPass = KernelOracles.serialized(root1)

    val doc2 = HtmlParser.parse(html)
    val root2 = doc2.find("div")
    root2.setScore(7.0)
    val sb = new StringBuilder
    Munge.serializeHyphenated(root2, sb)
    assert(sb.toString == twoPass)

    // selection root INSIDE a <pre>: whole subtree exempt in both paths
    val p1 = HtmlParser.parse("<pre><div>extraordinary   spacing</div></pre>")
    val in1 = p1.find("div")
    KernelOracles.mungeHyphenate(in1)
    val exp = KernelOracles.serialized(in1)
    val p2 = HtmlParser.parse("<pre><div>extraordinary   spacing</div></pre>")
    val in2 = p2.find("div")
    val sb2 = new StringBuilder
    Munge.serializeHyphenated(in2, sb2)
    assert(sb2.toString == exp)
  }

  test("string selection returned as-is (clean.py:195-197)") {
    val doc = HtmlParser.parse("<p>x</p>")
    assert(Munge.munge(doc, Extract.SelStr("<p>Scoring error.</p>"), "u")
      == "<p>Scoring error.</p>")
  }
}
