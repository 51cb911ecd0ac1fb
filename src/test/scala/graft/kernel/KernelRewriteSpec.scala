package graft.kernel

import java.nio.ByteBuffer
import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Kernel rewrites against the implementations they replaced, kept here
  * or in [[KernelOracles]] verbatim as oracles: `Extract.preCleanHtml`
  * (indexOf-driven range copies), `Patterns.textLen` (a count without a
  * copy unless an '&' occurs), `Clean.decodeHtml` (`new String(bytes,
  * cs)`), `Py.floatRepr` (precision search from the shortest decimal's
  * length), `HtmlParser.parse` with `Extract.commentStrip` (interned
  * names with their flags, text runs taken whole, recorded comments),
  * `Munge.serializeHyphenated` (one scan per text node), `Elem.serialize`
  * (one element writer and one escape loop for both serializers),
  * `Hyphenate.hyphenateWordShy` (the joined form built from the break
  * points) and the memoized attribute rules of `Patterns`. Seeded, so a
  * failure reproduces.
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
    for (t <- KernelOracles.findTexts(tag)) {
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

  /** Pieces of entities that only match once two texts are joined
    * (`&am` + `p;`), with '&'-free words and spaces, so blocks with and
    * without an '&' both occur.
    */
  private val SplitTokens = Seq(
    " ", "\t", "x", "word", "words", ";", "&", "&a", "&am", "p;", "mp;", "&nb",
    "sp;", "&abcdef", "g;")

  private def tokenText(tokens: Seq[String]): Gen[String] =
    Gen.listOf(Gen.oneOf(tokens)).map(_.mkString)

  private val splitText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.oneOf(SplitTokens.filterNot(_.contains('&'))),
    1 -> Gen.oneOf(SplitTokens.filter(_.contains('&'))))).map(_.mkString)

  private def genNode(depth: Int, text: Gen[String]): Gen[DNode] =
    if (depth <= 0) text.map(new Text(_))
    else Gen.frequency(
      3 -> text.map(new Text(_)),
      1 -> text.map(new Comment(_)),
      3 -> genElem(depth, text))

  private def genElem(depth: Int, text: Gen[String]): Gen[Elem] = for {
    name <- Gen.oneOf("a", "script", "p", "div", "span", "td")
    n <- Gen.choose(0, 4)
    kids <- Gen.listOfN(n, genNode(depth - 1, text))
  } yield {
    val e = new Elem(name)
    kids.foreach(e.append)
    e
  }

  private def elemsOf(root: Elem): Seq[Elem] =
    root +: root.descendants.collect { case e: Elem => e }.toSeq

  test("textLen equals the two-copy oracle on every element of generated DOMs") {
    def docs(text: Gen[String]) =
      genElem(4, text).map { e => val d = Dom.newDocument(); d.append(e); d }
    def matches(d: Elem) =
      elemsOf(d).forall(e => Patterns.textLen(e) == textLenOracle(e)) :| d.serialized
    check(Prop.forAllNoShrink(docs(tokenText(TextTokens)))(matches), tests = 5000, seed = 2L)
    check(Prop.forAllNoShrink(docs(splitText))(matches), tests = 5000, seed = 3L)
    // an entity split across two texts (and a tag) still counts as 0
    val split = HtmlParser.parse("<div><p>&am<b>p;</b> x</p><p>&a</p><p>b;</p></div>")
    assert(Patterns.textLen(split.find("p")) == 1 && textLenOracle(split.find("p")) == 1)
    assert(Patterns.textLen(split.find("div")) == 1 && textLenOracle(split.find("div")) == 1)
    // a leaf block under an <a>: bs4's per-text findParent climbs past it
    val d = HtmlParser.parse("<div><a href=x><p>long enough &amp; text</p></a></div>")
    val p = d.find("p")
    assert(Patterns.textLen(p) == 0 && textLenOracle(p) == 0)
    assert(Patterns.textLen(d.find("div")) == 0)
  }

  // ---------------------------------------------------------- floatRepr

  /** `Py.floatRepr` with its precision search from 1 digit up. */
  private def floatReprOracle(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isPosInfinity) return "inf"
    if (d.isNegInfinity) return "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val ad = math.abs(d)
    var prec = 1
    var s = String.format("%.0e", Double.box(ad))
    while (s.toDouble != ad && prec < 17) {
      prec += 1
      s = String.format("%." + (prec - 1) + "e", Double.box(ad))
    }
    val eIdx = s.indexOf('e')
    val digits = s.substring(0, eIdx).replace(".", "") // significant digits
    val exp = s.substring(eIdx + 1).toInt // decimal exponent of leading digit
    val out = new StringBuilder
    if (neg) out.append('-')
    if (exp < -4 || exp >= 16) {
      out.append(digits.charAt(0))
      if (digits.length > 1) {
        out.append('.').append(digits.substring(1))
      }
      out.append('e')
      out.append(if (exp < 0) '-' else '+')
      val ae = math.abs(exp)
      if (ae < 10) out.append('0')
      out.append(ae)
    } else if (exp >= digits.length - 1) {
      out.append(digits)
      var k = digits.length - 1
      while (k < exp) { out.append('0'); k += 1 }
      out.append(".0")
    } else if (exp >= 0) {
      out.append(digits.substring(0, exp + 1)).append('.')
        .append(digits.substring(exp + 1))
    } else {
      out.append("0.")
      var k = -1
      while (k > exp) { out.append('0'); k -= 1 }
      out.append(digits)
    }
    out.toString
  }

  /** Scores as the kernel builds them: rule points times depth decay,
    * summed one propagation at a time (`Patterns.applyScore`).
    */
  private val genScore: Gen[Double] = Gen.listOf(for {
    p <- Gen.oneOf(Patterns.AttrPoints.map(_._1).toSeq.distinct)
    depth <- Gen.choose(0, Patterns.MaxScoreDepth)
  } yield p * Patterns.DepthDecay(depth)).map(_.foldLeft(0.0)(_ + _))

  /** Decimals with few significant digits, where the shortest decimal
    * and the `%e` search are most likely to disagree in length.
    */
  private val genShortDecimal: Gen[Double] = for {
    n <- Gen.choose(-99999, 99999)
    k <- Gen.choose(-20, 20)
  } yield n * math.pow(10, k)

  test("floatRepr equals the search from precision 1 on every kind of double") {
    val gens = Seq(
      Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble),
      Gen.choose(0.0, 100.0),
      genScore,
      genShortDecimal)
    for ((g, i) <- gens.zipWithIndex)
      check(Prop.forAllNoShrink(g)(d => (Py.floatRepr(d) == floatReprOracle(d)) :| d.toString),
        tests = 20000, seed = 40L + i)
    for (d <- Seq(Double.MinPositiveValue, Double.MaxValue, java.lang.Double.MIN_NORMAL,
        1e16, 1e-5, 9.999999999999999e22, 1e23, 2e23, 5e-324, 0.1 + 0.2, 100.0, 1.0))
      assert(Py.floatRepr(d) == floatReprOracle(d), d.toString)
  }

  // ------------------------------------------------- hyphenation memo

  test("hyphenation memo: words with one hash, length and first char each hyphenate as themselves") {
    // "Aa" and "BB" have the same String hash, so these 8 words share a
    // memo slot and differ only inside: a probe that compared less than
    // the whole range would hand one word another's hyphenation.
    val words = for (a <- Seq("Aa", "BB"); b <- Seq("Aa", "BB"); c <- Seq("Aa", "BB"))
      yield s"under$a$b${c}standing"
    assert(words.map(_.hashCode).distinct.size == 1)
    val text = (words ++ words.reverse ++ words).mkString(" ")
    val sb = new StringBuilder
    Munge.serializeHyphenated(HtmlParser.parse(s"<p>$text</p>").find("p"), sb)
    val expected = (words ++ words.reverse ++ words).map(Hyphenate.hyphenateWordShy)
    assert(sb.toString == expected.mkString("<p>", " ", "</p>"))
  }

  // -------------------------------------------------------- hyphenation

  /** The `hyphenate` module's exception words. */
  private val ExceptionWords = Seq("associate", "associates", "declination", "obligatory",
    "philanthropic", "present", "presents", "project", "projects", "reciprocity",
    "recognizance", "reformation", "retribution", "table")

  /** Syllable-like runs, so that patterns fire, with letters, digits,
    * punctuation and non-ASCII chars, some of whose lower case is longer
    * ('İ') or whose upper case is ('ß', 'ﬀ').
    */
  private val genWordPiece: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("tion", "ex", "pre", "con", "ing", "ab", "st", "ph", "ly", "ment", "ous",
      "hy", "phen", "er", "al", "ize", "a", "e", "i", "o", "u"),
    2 -> Gen.alphaChar.map(_.toString),
    1 -> Gen.oneOf("é", "ß", "İ", "ı", "漢", "ﬀ", "Σ", "'", "-", "1", "&", "."))

  private def genWordOf(lo: Int, hi: Int): Gen[String] = for {
    n <- Gen.choose(lo, hi)
    pieces <- Gen.listOfN(hi, genWordPiece)
  } yield pieces.mkString.take(n)

  private def mixCase(w: String): Gen[String] = Gen.oneOf(
    Gen.const(w), Gen.const(w.toUpperCase(java.util.Locale.ROOT)), Gen.const(w.capitalize),
    Gen.listOfN(w.length, Gen.oneOf(true, false))
      .map(up => w.zip(up).map { case (c, u) => if (u) c.toUpper else c }.mkString))

  test("hyphenation: the joined form equals the old pieces joined with soft hyphens") {
    // the memo keeps words of at most 48 chars, so both sides of it occur
    val word = Gen.frequency(
      2 -> genWordOf(1, 4), 6 -> genWordOf(5, 48), 2 -> genWordOf(49, 90),
      2 -> Gen.oneOf(ExceptionWords)).flatMap(mixCase)
    def same(w: String) = {
      val exp = KernelOracles.hyphenateWord(w).mkString(Hyphenate.Shy)
      // twice: the first call may fill the memo, the second reads it
      Hyphenate.hyphenateWordShy(w) == exp && Hyphenate.hyphenateWordShy(w) == exp
    }
    check(Prop.forAllNoShrink(word)(w => same(w) :| w), tests = 20000, seed = 54L)
    for (w <- ExceptionWords; v <- Seq(w, w.toUpperCase(java.util.Locale.ROOT), w.capitalize))
      assert(same(v), v)
  }

  // ---------------------------------------------------------- tokenizer

  /** Every node of a tree: its kind, name, attrs in order and data, so
    * two trees that serialize alike but split text or type nodes
    * differently still differ.
    */
  private def dump(n: DNode, sb: StringBuilder = new StringBuilder): String = {
    n match {
      case e: Elem =>
        sb.append('<').append(e.name)
        e.attrs.foreachEntry((k, v) => sb.append(' ').append(k).append('=').append(String.valueOf(v)))
        sb.append('>')
        e.children.foreach(dump(_, sb))
        sb.append("</>")
      case t: Text => sb.append(t.getClass.getSimpleName).append('[').append(t.data).append(']')
    }
    sb.toString
  }

  /** Names of every shape the intern table meets: mixed case, short and
    * long, non-ASCII, digits and dashes, and long runs over a two-letter
    * alphabet, which often share a slot and a length and differ in one
    * char.
    */
  private val genName: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("div", "DIV", "Div", "p", "P", "a", "A", "br", "BR", "img", "input",
      "script", "SCRIPT", "style", "Style", "pre", "span", "li", "ul", "td", "h1",
      "blockquote", "noscript", "x-y", "dív", "ü"),
    2 -> (for {
      first <- Gen.oneOf('a', 'b', 'Q')
      n <- Gen.choose(0, 13)
      rest <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'B', '1', '-', 'é', 'ı'))
    } yield (first +: rest).mkString))

  private val genAttrName: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("class", "CLASS", "Class", "id", "ID", "href", "HREF", "rel", "title",
      "src", "data-x", "onclick", "data-a-very-long-name", "ünï", "x"),
    1 -> genName)

  private val genValue: Gen[String] = Gen.listOf(Gen.oneOf(
    "x", "y z", " a  b ", "\t", "\n", "\u000B", "&amp;", "&amp", "&lt;", "&#60;", "&#x3c;",
    "&bogus;", "&", ";", ">", "<", "é", "漢", "'", "\"", "/")).map(_.mkString)

  private val genAttr: Gen[String] = for {
    n <- genAttrName
    v <- genValue
    form <- Gen.choose(0, 4)
  } yield form match {
    case 0 => n                                                  // bare
    case 1 => n + "=\"" + v.replace("\"", "") + "\""             // double-quoted
    case 2 => n + "='" + v.replace("'", "") + "'"                // single-quoted
    case 3 => n + "=" + v.filterNot(c => c == ' ' || c == '>' || c == '\t' || c == '\n')
    case _ => n + " = \"" + v.replace("\"", "") + "\""           // spaced
  }

  private val genStartTag: Gen[String] = for {
    name <- genName
    n <- Gen.choose(0, 4)
    attrs <- Gen.listOfN(n, genAttr)
    dup <- Gen.oneOf(true, false)
    close <- Gen.frequency(8 -> ">", 2 -> "/>", 1 -> " / >", 1 -> "", 1 -> " ")
  } yield {
    val as = if (dup && attrs.nonEmpty) attrs :+ attrs.head.toUpperCase else attrs
    "<" + name + as.map(" " + _).mkString + close
  }

  private val genSoupToken: Gen[String] = Gen.frequency(
    10 -> genStartTag,
    6 -> genName.map(n => "</" + n + ">"),
    1 -> genName.map(n => "</" + n + " x>"),
    1 -> genName.map(n => "</" + n),
    8 -> Gen.oneOf("text", "two words", " ", "\n", "é", "漢字", "&amp;", "&amp", "&amp;amp;",
      "&lt;", "&#169;", "&#x20AC;", "&#0;", "&nbsp;", "&bogus;", "&", "&#", "<", "< b", "a<b",
      "<1", "<>", "</ p>", "</>", "=", "\"", ">"),
    2 -> Gen.oneOf("<!-- c -->", "<!---->", "<!-- unterminated", "<!-->", "<!DOCTYPE html>",
      "<!x>", "<!", "<?php x ?>", "<? unterminated", "<?>"),
    2 -> Gen.oneOf("<script>if (a < b && c > d) {}</script>", "<style>a>b{}</STYLE >",
      "<SCRIPT>x</script >", "<script>unterminated", "<style></style>", "<script/>"))

  private val genSoup: Gen[String] = Gen.listOf(genSoupToken).map(_.mkString)

  /** The strainer the reddit route parses with, and one on exact class. */
  private val Strainers = Seq(
    HtmlParser.ClassStrainer(java.util.regex.Pattern.compile("x|é")),
    HtmlParser.ClassStrainer(null, exact = "y"))

  test("tokenizer: tag soup parses to the same tree as the old tokenizer, before and after the comment strip") {
    check(Prop.forAllNoShrink(genSoup, Gen.choose(0, 9)) { (html, k) =>
      val strainer = if (k < Strainers.size) Strainers(k) else null
      val got = HtmlParser.parse(html, strainer)
      val exp = KernelOracles.OldHtmlParser.parse(html, strainer)
      val parsed = dump(got) == dump(exp)
      Extract.commentStrip(got)
      KernelOracles.commentStrip(exp)
      (parsed && dump(got) == dump(exp)) :| html
    }, tests = 100000, seed = 50L)
  }

  // --------------------------------------------------------- serializer

  /** Text with every whitespace kind `Py.isSpace` knows, entity-looking
    * runs (which survive parsing as "&amp;amp;"), escapable chars inside
    * words, and short and long words, ASCII or not.
    */
  private val genProse: Gen[String] = Gen.listOf(Gen.oneOf(
    "a", "word", "words", "hyphenation", "extraordinary", "internationalization",
    "uncharacteristically", "R&amp;D", "AT&amp;T", "x&lt;y", "a&gt;b", "&amp;amp;",
    "&amp;ab;", "&amp;abcdefg;", "&amp;a b;", "café", "naïveté", "Straße", "漢字テキスト",
    " ", "  ", "\t", "\n", " ", " ", "\u0085", "\u001c", "　")).map(_.mkString)

  private val genProseToken: Gen[String] = Gen.frequency(
    6 -> genProse,
    2 -> Gen.oneOf("<p>", "</p>", "<div>", "</div>", "<b>", "</b>", "<pre>", "</pre>",
      "<PRE>", "<br>", "<img src=x>", "<span class=c>", "</span>"),
    1 -> genProse.map(t => "<!--" + t + "-->"),
    1 -> genProse.map(t => "<script>" + t.replace("<", "") + "</script>"),
    1 -> Gen.oneOf("<!DOCTYPE x>", "<?pi data?>"))

  test("serializer: one scan per text node equals M11 as a pass, then serialize") {
    val page = Gen.listOf(genProseToken).map(_.mkString)
    check(Prop.forAllNoShrink(page, Gen.choose(0, 1000), Gen.oneOf(true, false)) { (html, k, scored) =>
      val a = HtmlParser.parse(html)
      val b = HtmlParser.parse(html)
      // the k-th element as the selection root: often under a <pre>
      val elems = elemsOf(a)
      val i = k % elems.size
      val (ra, rb) = (elems(i), elemsOf(b)(i))
      if (scored) { ra.setScore(k * 0.37); rb.setScore(k * 0.37) }
      val sb = new StringBuilder
      Munge.serializeHyphenated(ra, sb)
      KernelOracles.mungeHyphenate(rb)
      (sb.toString == KernelOracles.serialized(rb)) :| html
    }, tests = 20000, seed = 51L)
  }

  /** Scores negative, fractional and integral, and ones Python writes
    * in exponent form.
    */
  private val genScoreValue: Gen[Double] = Gen.oneOf(
    genScore, genShortDecimal, Gen.choose(-50, 50).map(_.toDouble),
    Gen.oneOf(-2.0, -1.5, -0.0, 0.0, 11.0, 1e16, 1e-5))

  /** One edit to an element of a parsed tree: a score, an attr with
    * `"`, `&`, `<` or `>` in its value, a bare attr, a string "score"
    * attr, a void child with or without children, or a text child.
    */
  private val genEdit: Gen[Elem => Unit] = Gen.frequency(
    3 -> genScoreValue.map(d => (e: Elem) => e.setScore(d)),
    2 -> (for (n <- genAttrName; v <- genValue) yield (e: Elem) => e.setAttr(n, v)),
    1 -> genAttrName.map(n => (e: Elem) => e.setAttr(n, null)),
    1 -> genValue.map(v => (e: Elem) => e.setAttr("score", v)),
    2 -> (for {
      name <- Gen.oneOf(Dom.VoidElements.toSeq)
      kids <- Gen.listOf(genValue)
    } yield { (e: Elem) =>
      val v = new Elem(name)
      kids.foreach(k => v.append(new Text(k)))
      e.append(v)
    }),
    2 -> genValue.map(v => (e: Elem) => e.append(new Text(v))))

  test("serializer: Elem.serialize equals the old element serializer on edited tag soup") {
    val edits = Gen.listOf(Gen.zip(Gen.choose(0, 1000), genEdit))
    check(Prop.forAllNoShrink(genSoup, edits) { (html, es) =>
      val doc = HtmlParser.parse(html)
      val elems = elemsOf(doc)
      for ((k, edit) <- es) edit(elems(k % elems.size))
      elemsOf(doc).forall(e => e.serialized == KernelOracles.serialized(e)) :| html
    }, tests = 10000, seed = 53L)
  }

  // --------------------------------------------- memoized attribute rules

  /** Values that hit and miss the rules of every attr, in mixed case, long
    * ones the memo does not keep, and random runs.
    */
  private val genRuleValue: Gen[String] = Gen.frequency(
    6 -> Gen.listOf(Gen.oneOf(
      "side", "sidebar", "Side", "ad", "ads", "ads main", "main", "post", "post 12", "12",
      "comment", "comments", "story", "storybody", "footer", "non footer", "hidden",
      "overflow hidden", "tag", "tags", "share", "email", "nav", "leftnavigation", "article",
      "article tool", "gallery", "gallery caption", "!!!", " ", "-", "_",
      "http://", "https://", "www.", "twitter.com/share", "twitter.com/home?status=x",
      "facebook.com/share", "javascript:void(0)", "reddit.com", "digg.com/submit",
      "feedads", "feed.x.com/~ab/", "feed.example/1.0/", "doubleclick.net", "1x1.trans.gif",
      "/social/qm.gif", "smilies", "display", ":", "none", "display : none", "DISPLAY:NONE",
      "abcdefghijklmnopqrstuvwxyz0123456789a#0123456789012345")).map(_.mkString),
    1 -> Gen.alphaNumStr,
    1 -> Gen.listOfN(130, Gen.oneOf("share ", "side ", "x ")).map(_.mkString)) // > 256 chars

  private val RuleAttrs = (Patterns.AttrPoints.map(_._2) ++ Patterns.AttrStrip.map(_._1)).distinct :+ "other"

  test("attribute rules: memoized verdicts equal one regex find per rule, on first sight and from the memo") {
    check(Prop.forAllNoShrink(genRuleValue) { v =>
      RuleAttrs.forall { attr =>
        val exp = (KernelOracles.pointMatches(attr, v).toSeq, KernelOracles.stripMatches(attr, v))
        // twice: the first call may fill the memo, the second reads it
        Seq.fill(2)((
          Patterns.PointAttrs.find(_.attr == attr).fold(Seq.empty[Int])(_.matches(v).toSeq),
          Patterns.StripAttrs.exists(sa => sa.attr == attr && sa.matches(v))))
          .forall(_ == exp)
      } :| v
    }, tests = 20000, seed = 52L)
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
