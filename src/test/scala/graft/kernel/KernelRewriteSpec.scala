package graft.kernel

import java.nio.ByteBuffer
import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The bulk rewrites of three kernel scans — `Extract.preCleanHtml`
  * (indexOf-driven range copies), `Patterns.textLen` (one walk, collapse
  * while appending) and `Clean.decodeHtml` (`new String(bytes, cs)`) —
  * against the implementations they replaced, kept here verbatim as
  * oracles. Seeded, so a failure reproduces.
  */
class KernelRewriteSpec extends AnyFunSuite {

  private def check(prop: Prop, tests: Int, seed: Long): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(tests)
      .withInitialSeed(Seed(seed))
      .withWorkers(1)
    val r = Test.check(params, prop)
    assert(r.passed, s"${r.status} after ${r.succeeded} passed")
  }

  // ------------------------------------------------------- preCleanHtml

  /** The char-by-char scan `preCleanHtml` replaced. */
  private def preCleanOracle(html: String): String = {
    if (html.indexOf("<!DOCTYPE") < 0 && html.indexOf("&nbsp;") < 0)
      return html
    val n = html.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var run = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && html.startsWith("<!DOCTYPE", i)) {
        val gt = html.indexOf('>', i + 9)
        if (gt >= 0) {
          sb.append(html, run, i)
          i = gt + 1
          run = i
        } else i += 1
      } else if (c == '&' && html.startsWith("&nbsp;", i)) {
        sb.append(html, run, i)
        sb.append(' ')
        i += 6
        run = i
      } else i += 1
    }
    sb.append(html, run, n)
    val out = sb.toString
    if (out.contains("&nbsp;")) out.replace("&nbsp;", " ") else out
  }

  private val PreCleanTokens = Seq(
    "<!DOCTYPE", "<!DOCTYPE x>", ">", "<", "&nbsp;", "&nb", "sp;", "&",
    "é", "漢", "text", " ")

  test("preCleanHtml equals the char-by-char scan on DOCTYPE/&nbsp; token soup") {
    val page = Gen.listOf(Gen.oneOf(PreCleanTokens)).map(_.mkString)
    check(Prop.forAll(page)(s => Extract.preCleanHtml(s) == preCleanOracle(s)),
      tests = 20000, seed = 1L)
    // the cases the scan's jumps exist for, pinned by name
    for (s <- Seq("&nb<!DOCTYPE x>sp;", "<!DOCTYPE &nbsp;>&nbsp;", "<!DOCTYPE <!DOCTYPE x>",
        "&nbsp;<!DOCTYPE", "<!DOCTYPE&nbsp;", "a<!DOCTYPE x>&nbsp;<!DOCTYPE y>b"))
      assert(Extract.preCleanHtml(s) == preCleanOracle(s), s)
  }

  // ------------------------------------------------------------ textLen

  private val AOrScript = Set("a", "script")

  /** The two-copy `textLen` the single walk replaced: every text's own
    * findParent, a stripped concatenation, then a collapsed copy of it.
    */
  private def textLenOracle(tag: Elem): Int = {
    val sb = new StringBuilder
    for (t <- tag.findTexts) {
      if (t.findParent(AOrScript) == null) {
        val s = t.data
        var a = 0
        var b = s.length
        while (a < b && Py.isSpace(s.charAt(a))) a += 1
        while (b > a && Py.isSpace(s.charAt(b - 1))) b -= 1
        while (a < b) { sb.append(s.charAt(a)); a += 1 }
      }
    }
    val collapsed = new StringBuilder(sb.length)
    var i = 0
    var inRun = false
    while (i < sb.length) {
      val c = sb.charAt(i)
      if (c == ' ' || c == '\t') {
        if (!inRun) collapsed.append(' ')
        inRun = true
      } else { collapsed.append(c); inRun = false }
      i += 1
    }
    val n = collapsed.length
    var len = 0
    i = 0
    while (i < n) {
      if (collapsed.charAt(i) == '&') {
        var j = i + 1
        var k = 0
        while (k < 6 && j < n && collapsed.charAt(j) != ';') { j += 1; k += 1 }
        if (k >= 2 && j < n && collapsed.charAt(j) == ';') i = j + 1
        else { len += 1; i += 1 }
      } else { len += 1; i += 1 }
    }
    len
  }

  private val TextTokens = Seq(
    " ", "\t", " \t  ", "\n", " ", "x", "word", "&", ";", "&amp;",
    "&nbsp;", "&ab;", "&a b;", "&a \t b;", "&abcdefg;", "& ;", "&\t\t;")

  private val genText: Gen[String] = Gen.listOf(Gen.oneOf(TextTokens)).map(_.mkString)

  private def genNode(depth: Int): Gen[DNode] =
    if (depth <= 0) genText.map(new Text(_))
    else Gen.frequency(
      3 -> genText.map(new Text(_)),
      1 -> genText.map(new Comment(_)),
      3 -> genElem(depth))

  private def genElem(depth: Int): Gen[Elem] = for {
    name <- Gen.oneOf("a", "script", "p", "div", "span", "td")
    n <- Gen.choose(0, 4)
    kids <- Gen.listOfN(n, genNode(depth - 1))
  } yield {
    val e = new Elem(name)
    kids.foreach(e.append)
    e
  }

  private def elemsOf(root: Elem): Seq[Elem] =
    root +: root.descendants.collect { case e: Elem => e }.toSeq

  test("textLen equals the two-copy oracle on every element of generated DOMs") {
    val doc = genElem(4).map { e => val d = Dom.newDocument(); d.append(e); d }
    check(Prop.forAllNoShrink(doc) { d =>
      elemsOf(d).forall(e => Patterns.textLen(e) == textLenOracle(e)) :| d.serialized
    }, tests = 5000, seed = 2L)
    // a leaf block under an <a>: bs4's per-text findParent climbs past it
    val d = HtmlParser.parse("<div><a href=x><p>long enough &amp; text</p></a></div>")
    val p = d.find("p")
    assert(Patterns.textLen(p) == 0 && textLenOracle(p) == 0)
    assert(Patterns.textLen(d.find("div")) == 0)
  }

  // --------------------------------------------------------- decodeHtml

  /** The decoder path `new String(bytes, cs)` replaced. */
  private def decodeOracle(cs: Charset, bytes: Array[Byte]): String =
    cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
      .decode(ByteBuffer.wrap(bytes)).toString

  /** ASCII-heavy bytes with high bytes and controls mixed in, so multibyte
    * charsets see both valid and malformed sequences.
    */
  private val genBytes: Gen[Array[Byte]] = Gen.listOf(Gen.frequency(
    4 -> Gen.choose(0x20, 0x7e), 4 -> Gen.choose(0x80, 0xff), 1 -> Gen.choose(0x00, 0x1f)))
    .map(_.map(_.toByte).toArray)

  /** A page that declares `cs`: decodeHtml's meta-first detection picks
    * it, so the bytes reach the final decode under exactly that charset.
    */
  private def declaring(cs: Charset, body: Array[Byte]): Array[Byte] =
    s"<meta charset=\"${cs.name}\">".getBytes(StandardCharsets.US_ASCII) ++ body

  /** Every charset the no-declaration cascade can return. */
  private val CascadeCharsets = Seq("UTF-16", "UTF-8", "Shift_JIS", "EUC-JP", "EUC-KR",
    "Big5", "GBK", "windows-1252").map(Charset.forName)

  test("decodeHtml equals the REPLACE decoder under every cascade charset") {
    for ((cs, i) <- CascadeCharsets.zipWithIndex) {
      check(Prop.forAll(genBytes) { body =>
        val page = declaring(cs, body)
        Clean.decodeHtml(page) == decodeOracle(cs, page)
      }, tests = 3000, seed = 30L + i)
    }
  }

  test("decodeHtml equals the REPLACE decoder under every declarable charset") {
    // a <meta charset> may name any charset the JVM has
    val all = Charset.availableCharsets().values().asScala.toSeq
    for ((cs, i) <- all.zipWithIndex) {
      check(Prop.forAll(genBytes) { body =>
        val page = declaring(cs, body)
        Clean.decodeHtml(page) == decodeOracle(cs, page)
      }, tests = 200, seed = 1000L + i)
    }
  }
}
