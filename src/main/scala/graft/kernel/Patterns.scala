package graft.kernel

import java.util.regex.Pattern
import scala.collection.mutable

/** Node scoring + junk stripping — port of the reference's
  * readability/patterns.py (tables verbatim; SURVEY.md §2.5-§2.6) and the
  * score-propagation helpers from readability/util.py:49-85.
  *
  * Fidelity decisions from SURVEY.md §0.1 baked in:
  *  - rule guards use has_attr semantics (patterns.py:322,409);
  *  - DEBUG-only attrs (score_href / score_out_link / score_has_embed)
  *    never exist, so their tests are constant-false (patterns.py:334,359,393);
  *  - the dead `form` branch (patterns.py:390-392) is not implemented.
  */
object Patterns {

  /** patterns.py:34 */
  val FalsePositiveThreshold = 15

  /** util.py:49-50 — (1 - d/12)^5 for d=0..5, frozen to the CPython-computed
    * constants (SURVEY.md §2.5 C9) so scores are bit-stable.
    */
  val DepthDecay: Array[Double] = Array(
    1.0, 0.6472278485082303, 0.401877572016461, 0.2373046875,
    0.13168724279835398, 0.06754356352880654)
  val MaxScoreDepth = 5

  /** util.py:44-45 */
  val TagNamesBlock: Set[String] =
    Set("blockquote", "div", "li", "p", "pre", "td", "th")
  val TagNamesHeader: Set[String] = Set("h1", "h2", "h3", "h4", "h5", "h6")

  private val FLAGS = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE
  private def reAny(p: String) = Pattern.compile(p, FLAGS)
  private def reWhole(p: String) =
    Pattern.compile("(^|!!!)" + p + "($|!!!)", FLAGS)
  private def reWord(p: String) = Pattern.compile("\\b" + p + "\\b", FLAGS)

  /** patterns.py:48-127 — 77 rules (points, attr, regex). */
  val AttrPoints: Array[(Double, String, Pattern)] = Array(
    (-15.0, "classid", reWhole("side")),
    (-15.0, "classid", reWord("email")),
    (-15.0, "classid", reWord("twitter")),
    (-10.0, "classid", reWord("ghost")),
    (-10.0, "classid", reWord("(item|panel) \\d")),
    (-10.0, "classid", reWord("overlay")),
    (-10.0, "classid", reWord("print")),
    (-10.0, "classid", reWord("topics?")),
    (-7.0, "classid", reWhole("bio box")),
    (-5.0, "classid", reAny("menu")),
    (-5.0, "classid", reAny("social")),
    (-5.0, "classid", reWord("ad")),
    (-5.0, "classid", reWord("(?<!padding )bottom")),
    (-5.0, "classid", reWord("dontprint")),
    (-5.0, "classid", reWord("footer")),
    (-5.0, "classid", reWord("global")),
    (-5.0, "classid", reWord("hotspot")),
    (-5.0, "classid", reWord("icons")),
    (-5.0, "classid", reWord("lightbox")),
    (-5.0, "classid", reWord("links")),
    (-5.0, "classid", reWord("more")),
    (-5.0, "classid", reWord("post date")),
    (-5.0, "classid", reWord("site")),
    (-5.0, "rel", reWord("tag")),
    (-3.0, "classid", reAny("embed")),
    (-2.0, "classid", reWord("extras?")),
    (-2.0, "classid", reWord("meta(data)?")),
    (2.0, "classid", reWord("(?<!ads )main")),
    (2.0, "classid", reWord("text")),
    (4.0, "classid", reWord("article(?! tool)")),
    (5.0, "classid", reAny("^article")),
    (5.0, "classid", reAny("gallery(?! (caption|icon|item))")),
    (5.0, "classid", reAny("photo")),
    (5.0, "classid", reWhole("main(img)?")),
    (5.0, "classid", reWhole("permalink")),
    (5.0, "classid", reWhole("page")),
    (5.0, "classid", reWhole("readme")),
    (5.0, "classid", reWord("body(text)?")),
    (5.0, "classid", reWord("content")),
    (5.0, "classid", reWord("primary column")),
    (5.0, "classid", reWord("single")),
    (10.0, "classid", reAny("^(article|kona) ?(body|copy)")),
    (10.0, "classid", reWord("entry")),
    (10.0, "classid", reWord("usertext-body")),
    (10.0, "classid", reWhole("meme image holder")),
    (10.0, "classid", reWhole("moreatboingboing")),
    (10.0, "classid", reWhole("story")),
    (10.0, "classid", reWord("(player|video)")),
    (10.0, "classid", reWord("post(id)?[- ]?(\\d+|body|content)?")),
    (10.0, "classid", reWord("snap preview")),
    (10.0, "classid", reWord("(?<!ad )wide")),
    (10.0, "classid", reWhole("meat")),
    (10.0, "classid", reWhole("post( \\d+)?")),
    (12.0, "classid", reWhole("article span image")),
    (12.0, "classid", reWhole("h?entry( \\d+)?")),
    (20.0, "classid", reWhole("large image")),
    (20.0, "classid", reWhole("story(body|block)")),
    (20.0, "classid", reWhole("player")),
    (-3.0, "href", reAny("(delicious\\.com|del\\.icio\\.us)/post")),
    (-3.0, "href", reAny(
      "(buzz\\.yahoo|digg|mixx|propeller|reddit|stumbleupon)\\.com/submit")),
    (-3.0, "href", reAny("(facebook|linkedin)\\.com/share")),
    (-3.0, "href", reAny("(newsvine|yahoo)\\.com/buzz")),
    (-3.0, "href", reAny("^javascript:")),
    (-3.0, "href", reAny("add(this|toany)\\.com")),
    (-3.0, "href", reAny("api\\.tweetmeme\\.com")),
    (-3.0, "href", reAny("digg\\.com/tools/diggthis")),
    (-3.0, "href", reAny("fark\\.com.*(farkit|new_url)")),
    (-3.0, "href", reAny("furl.net/storeIt")),
    (-3.0, "href", reAny("fusion\\.google\\.com/add")),
    (-3.0, "href", reAny("google\\.com/(bookmark|reader/link)")),
    (-3.0, "href", reAny("myshare\\.url\\.com")),
    (-3.0, "href", reAny("newsvine.com/_tools")),
    (-3.0, "href", reAny("pheedo\\.com")),
    (-3.0, "href", reAny("twitter\\.com/home\\?status")),
    (-3.0, "href", reWord("share")),
    (-3.0, "href", reWord("sponsor")),
    (-2.0, "href", reWord("feedads")))

  /** patterns.py:128-231 — 86 strip rules (attr, regex). */
  val AttrStrip: Array[(String, Pattern)] = Array(
    ("classid", reAny("adsense")),
    ("classid", reAny("add(this|toany)")),
    ("classid", reWord("comment")),
    ("classid", reAny("disqus")),
    ("classid", reAny("functions")),
    ("classid", reAny("popular")),
    ("classid", reAny("^post_(\\d+_)?info")),
    ("classid", reAny("reportabuse")),
    ("classid", reAny("share(bar|box|Post|this)")),
    ("classid", reAny("signin")),
    ("classid", reAny("text ad")),
    ("classid", reAny("(controls?|tool)(box|s)(?! container)")),
    ("classid", reWord("(left|right)?nav(igation)?(?! wrap)")),
    ("classid", reWord("(post)?author(box)?|authdesc")),
    ("classid", reWord("ad( ?block|tag)")),
    ("classid", reWord("archive")),
    ("classid", reWord("byline")),
    ("classid", reWord("cnn( ftrcntnt|Footer)")),
    ("classid", reWord("cnn stry(btmcntnt|btntoolsbottom|cbftrtxt|lctcqrelt)")),
    ("classid", reWord("facebook like")),
    ("classid", reWord("(?<!non )foot(er)?(feature)?")),
    ("classid", reWord("(?<!overflow )hid(den|e)")),
    ("classid", reWord("horizontal posts")),
    ("classid", reWord("icons")),
    ("classid", reWord("ilikethis")),
    ("classid", reWord("logo")),
    ("classid", reWord("metavalue")),
    ("classid", reWord("more articles")),
    ("classid", reWord("post labels?")),
    ("classid", reWord("post share")),
    ("classid", reWord("postmetadata")),
    ("classid", reWord("read more")),
    ("classid", reWord("related\\d*")),
    ("classid", reWord("relatedtopics")),
    ("classid", reWord("replies")),
    ("classid", reWord("retweet")),
    ("classid", reWord("shop(box|rotator)")),
    ("classid", reWord("siteheader")),
    ("classid", reWord("snap nopreview")),
    ("classid", reWord("social")),
    ("classid", reWord("tag(ged|s| cloud)")),
    ("classid", reWord("talkback")),
    ("classid", reWord("wdt button")),
    ("classid", reWord("widget")),
    ("classid", reWhole("ads?( main)?")),
    ("classid", reWhole("article break")),
    ("classid", reWhole("article inline runaround left")),
    ("classid", reWhole("a(uthor )?info")),
    ("classid", reWhole("blippr nobr")),
    ("classid", reWhole("breadcrumb")),
    ("classid", reWhole("catsandtags")),
    ("classid", reWhole("dont print")),
    ("classid", reWhole("feedflare")),
    ("classid", reWhole("more stories")),
    ("classid", reWhole("pag(es|ination)")),
    ("classid", reWhole("post( date| info|ed on|edby|s)")),
    ("classid", reWhole("prevnext")),
    ("classid", reWhole("previously\\d?|moreatboingboing")),
    ("classid", reWhole("promoColumn")),
    ("classid", reWhole("(recent|related) posts")),
    ("classid", reWhole("respon(d|ses)")),
    ("classid", reWhole("rightrail")),
    ("classid", reWhole("search(bar)?")),
    ("classid", reWhole("seealso")),
    ("classid", reWhole("sexy bookmarks")),
    ("classid", reWhole("share")),
    ("classid", reWhole("side(bar)?\\d*")),
    ("classid", reWhole("sociable")),
    ("classid", reWhole("story date")),
    ("classid", reWhole("notes( container)?")),
    ("classid", reWhole("post (details|notes)")),
    ("src", reAny("doubleclick\\.net")),
    ("src", reAny("invitemedia\\.com")),
    ("src", reAny("quantserve\\.com")),
    ("src", reAny("leenks\\.com/webmasters")),
    ("src", reAny("reddit\\.com")),
    ("src", reAny("stumbleupon\\.com")),
    ("src", reAny("1x1.trans.gif")),
    ("src", reWord("smilies")),
    ("id", reWhole("^[a-z0-9]{37}#[0-9]{16}$")),
    ("classid", reWhole("vanilla credit|scribol")),
    ("style", reAny("display\\s*:\\s*none")),
    ("src", reAny("/social/qm.gif")),
    ("href", reWord("feedads")),
    ("href", reAny("^https?://feed[^/]+/(~.{1,3}|1\\.0)/")),
    ("src", reAny("^https?://feed[^/]+/(~.{1,3}|1\\.0)/")))

  /** patterns.py:232-244 */
  val ReRelatedHeader: Pattern = Pattern.compile(
    "\\b(" +
      "also on" +
      "|(for|read) more" +
      "|more.*(coverage|news|resources)" +
      "|most popular" +
      "|(popular|similar) (articles?|entries|posts?|stories)" +
      "|read more" +
      "|related" +
      "|see also" +
      "|suggested links" +
      ")\\b" +
      "|more\\.\\.\\.", FLAGS)

  /** patterns.py:246-248 */
  val DoNotStripTags: Set[String] = Set("html", "body")
  val StripTags: Set[String] =
    Set("head", "iframe", "link", "meta", "script", "style",
        "fb:share-button")

  private val ReCamel1 = Pattern.compile("(.)([A-Z][a-z]+)")
  private val ReCamel2 = Pattern.compile("([a-z0-9])([A-Z])")

  // Global memo for separateWords: class/id vocabulary is Zipfian across
  // a web corpus, so the two camelCase regex passes + two replaces +
  // lowercase re-run on the same strings endlessly. Pure function,
  // bounded, safe across Spark task threads (same pattern as the
  // Hyphenate memo).
  private val SepMemoMax = 1 << 17
  private val SepMemoMaxKeyLen = 128
  private val sepMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** patterns.py:251-269 — camelCase/underscore/hyphen → spaced lowercase. */
  def separateWords(s: String): String = {
    val cached = sepMemo.get(s)
    if (cached != null) return cached
    var r = ReCamel1.matcher(s).replaceAll("$1 $2")
    r = ReCamel2.matcher(r).replaceAll("$1 $2")
    r = r.replace('_', ' ').replace('-', ' ')
    val res = r.toLowerCase
    if (s.length <= SepMemoMaxKeyLen && sepMemo.size < SepMemoMax)
      sepMemo.put(s, res)
    res
  }

  /** util.py:61-85 — depth-decayed ancestor score propagation.
    * Stops entirely at a positive-scored <li>; init score to 0.0 when absent
    * or non-float.
    */
  def applyScore(tag0: Elem, score: Double): Unit = {
    var tag = tag0
    var depth = 0
    while (tag != null && depth <= MaxScoreDepth) {
      if (tag.name == "li" && score > 0) return
      val decayed = score * DepthDecay(depth)
      if (!tag.hasScore) tag.setScore(0.0)
      tag.setScore(tag.score + decayed)
      tag = tag.parent
      depth += 1
    }
  }

  /** util.py:189-195, DEBUG=False branch: strip = detach subtree. */
  def strip(node: DNode): Unit = if (node != null) node.extract()

  /** patterns.py:272-288 */
  def findPreviousHeader(tag0: Elem): (DNode, String) = {
    var tag = tag0
    // Pop up through single-child wrappers (guarded against a null parent —
    // the reference would AttributeError there; SURVEY.md §7.5.4).
    while (tag.parent != null && hasOneChildElem(tag.parent))
      tag = tag.parent
    val header = tag.findPreviousSibling(e => e.name != "br" && e.name != "hr")
    if (header != null) return (header, header.getText(" "))
    val texts = tag.previousSiblingTexts
    if (texts.nonEmpty) return (texts.head, texts.head.data)
    (null, "")
  }

  /** `e.childElems.length == 1`, counting no further than two. */
  private def hasOneChildElem(e: Elem): Boolean = {
    val cs = e.children
    var n = 0
    var i = 0
    while (i < cs.length && n < 2) {
      if (cs(i).isInstanceOf[Elem]) n += 1
      i += 1
    }
    n == 1
  }

  /** patterns.py:291-296 */
  def isLeafBlock(tag: Elem): Boolean =
    TagNamesBlock.contains(tag.name) &&
      tag.find((e: Elem) => TagNamesBlock.contains(e.name)) == null

  private val ReBlockquoteList = Pattern.compile("(<br.*?> - .*){2,}")
  private val ReStyleWidth = Pattern.compile("width:\\s*(\\d+)px")
  private val ReStyleHeight = Pattern.compile("height:\\s*(\\d+)px")

  /** patterns.py:299-309 */
  def isList(tag: Elem): Boolean = {
    if (tag.name == "ul" || tag.name == "ol") return true
    if (tag.name == "blockquote" &&
        ReBlockquoteList.matcher(tag.serialized).find()) return true
    if (tag.name == "center" &&
        tag.children.count {
          case e: Elem => e.name == "a"
          case _       => false
        } >= 8) return true
    false
  }

  /** patterns.py:421-437 + util.py:197-213 — pixel area or None(=-1). */
  def tagSize(tag: Elem): Long = {
    var w: String = null
    var h: String = null
    if (tag.hasAttr("width") && tag.hasAttr("height")) {
      w = tag.attr("width"); h = tag.attr("height")
    } else if (tag.hasAttr("style")) {
      val style = tag.attr("style")
      val mw = ReStyleWidth.matcher(style)
      val mh = ReStyleHeight.matcher(style)
      if (mw.find() && mh.find()) { w = mw.group(1); h = mh.group(1) }
      else return -1
    } else return -1
    if (w == "100%") w = "600"
    if (h == "100%") h = "400"
    val wi = pyInt(w)
    val hi = pyInt(h)
    if (wi == null || hi == null) return -1
    if (wi < 25 || hi < 25) return 1
    wi.toLong * hi.toLong
  }

  /** Python int(str): optional sign, ASCII digits, surrounding whitespace. */
  private def pyInt(s: String): Integer = {
    val t = Py.strip(s)
    if (t.isEmpty) return null
    var i = 0
    if (t.charAt(0) == '+' || t.charAt(0) == '-') i = 1
    if (i >= t.length) return null
    var k = i
    while (k < t.length) {
      val c = t.charAt(k)
      if (c < '0' || c > '9') return null
      k += 1
    }
    try Integer.valueOf(t.toInt)
    catch { case _: NumberFormatException => null }
  }

  private val AOrScript = Set("a", "script")

  /** patterns.py:440-448 — text length excluding <a>/<script> text, with
    * space/tab runs collapsed and entity-looking sequences removed.
    */
  def textLen(tag: Elem): Int = {
    // bs4's per-text findParent climbs past `tag` to the root: under an
    // <a>/<script> ancestor (or being one) every text is excluded.
    if (AOrScript.contains(tag.name) || tag.findParent(AOrScript) != null) return 0
    // Most blocks hold no '&', and then the length is just the collapsed
    // length, counted without copying a char. An entity can span two
    // texts once they are joined, so a block with an '&' (-1) builds the
    // joined text and drops the entities from that.
    val n = collapsedLen(tag)
    if (n >= 0) n else lenWithoutEntities(tag)
  }

  /** Length of the texts [[appendCollapsedTexts]] would append, or -1 as
    * soon as one of them holds an '&'. Per-text lengths add up: a
    * str.strip()ped text neither starts nor ends with a space or tab, so
    * no [ \t]+ run spans two texts.
    */
  private def collapsedLen(e: Elem): Int = {
    val cs = e.children
    var len = 0
    var i = 0
    while (i < cs.length) {
      val n = cs(i) match {
        case c: Elem => if (AOrScript.contains(c.name)) 0 else collapsedLen(c)
        case t: Text => strippedCollapsedLen(t.data)
      }
      if (n < 0) return -1
      len += n
      i += 1
    }
    len
  }

  /** `appendStrippedCollapsed(s, _)`'s length, or -1 if `s` holds an '&'. */
  private def strippedCollapsedLen(s: String): Int = {
    var a = 0
    var b = s.length
    while (a < b && Py.isSpace(s.charAt(a))) a += 1
    while (b > a && Py.isSpace(s.charAt(b - 1))) b -= 1
    var len = 0
    var inRun = false
    while (a < b) {
      val c = s.charAt(a)
      if (c == ' ' || c == '\t') {
        if (!inRun) len += 1
        inRun = true
      } else if (c == '&') return -1
      else { len += 1; inRun = false }
      a += 1
    }
    len
  }

  /** textLen of a block holding an '&': the collapsed joined text, with
    * &[^;]{2,6}; sequences counted as 0 — a count, not a replaceAll.
    * Entity matching must see the COLLAPSED text (a run inside
    * [^;]{2,6} collapses to one char and can enable a match).
    */
  private def lenWithoutEntities(tag: Elem): Int = {
    val collapsed = new java.lang.StringBuilder
    appendCollapsedTexts(tag, collapsed)
    val n = collapsed.length
    var len = 0
    var i = 0
    while (i < n) {
      if (collapsed.charAt(i) == '&') {
        var j = i + 1
        var k = 0
        while (k < 6 && j < n && collapsed.charAt(j) != ';') { j += 1; k += 1 }
        if (k >= 2 && j < n && collapsed.charAt(j) == ';') i = j + 1 // entity: length 0
        else { len += 1; i += 1 }
      } else { len += 1; i += 1 }
    }
    len
  }

  /** Every text (comments included, as bs4 findAll(text=True)) under `e`
    * outside <a>/<script>, str.strip()ped and space/tab-run collapsed.
    */
  private def appendCollapsedTexts(e: Elem, sb: java.lang.StringBuilder): Unit = {
    val cs = e.children
    var i = 0
    while (i < cs.length) {
      cs(i) match {
        case c: Elem => if (!AOrScript.contains(c.name)) appendCollapsedTexts(c, sb)
        case t: Text => appendStrippedCollapsed(t.data, sb)
      }
      i += 1
    }
  }

  /** Python str.strip() of `s`, [ \t]+ runs as one ' ', appended in place. */
  private def appendStrippedCollapsed(s: String, sb: java.lang.StringBuilder): Unit = {
    var a = 0
    var b = s.length
    while (a < b && Py.isSpace(s.charAt(a))) a += 1
    while (b > a && Py.isSpace(s.charAt(b - 1))) b -= 1
    var inRun = false
    while (a < b) {
      val c = s.charAt(a)
      if (c == ' ' || c == '\t') {
        if (!inRun) sb.append(' ')
        inRun = true
      } else { sb.append(c); inRun = false }
      a += 1
    }
  }

  type HitCounter =
    mutable.LinkedHashMap[(Double, String, String), mutable.ArrayBuffer[Elem]]

  // ---- rule-engine acceleration (semantics-preserving) -------------------
  // Most rules target the synthesized `classid`, whose distinct values are
  // few (and usually ""), so its verdicts are memoized per value, turning
  // O(nodes × rules) regex work into O(distinct classids × rules). The
  // memo is a GLOBAL bounded concurrent map rather than per-document (r03:
  // per-document caches re-ran ~163 regex finds per distinct classid per
  // document); values are immutable and threads may race benignly. Other
  // attrs (href, src, id, style, rel) are tested per node: cleaning 7,500
  // distinct article pages once each, they reached the rules under 3
  // times a page against 45 classid lookups, and a memo that never
  // evicts would fill with page-unique values such as links. The strip
  // test is a pure any-match, so each attr's strip rules are fused into
  // one alternation Pattern (all rules share FLAGS). Point application
  // stays per-rule (points, parent suppression and the hit_counter need
  // rule identity); results are additive so grouping by attr does not
  // change scores, and the false-positive undo is order-insensitive.
  private val RuleMemoMax = 1 << 17
  private val RuleMemoMaxKeyLen = 256

  /** A classid-only memo: a new map for classid, else null (no memo). */
  private def ruleMemo[V](attr: String): java.util.concurrent.ConcurrentHashMap[String, V] =
    if (attr == "classid") new java.util.concurrent.ConcurrentHashMap[String, V]() else null

  private def memoize[V](memo: java.util.concurrent.ConcurrentHashMap[String, V],
                         value: String)(compute: => V): V = {
    if (memo == null) return compute
    val got = memo.get(value)
    if (got != null) return got
    val v = compute
    if (value.length <= RuleMemoMaxKeyLen && memo.size < RuleMemoMax) memo.put(value, v)
    v
  }

  /** The point rules of one attr, in AttrPoints order. */
  private[kernel] final class PointAttr(val attr: String, rules: Array[Int]) {
    private val memo = ruleMemo[Array[Int]](attr)
    /** Indices (into AttrPoints) of this attr's rules matching `value`. */
    def matches(value: String): Array[Int] =
      memoize(memo, value)(rules.filter(i => AttrPoints(i)._3.matcher(value).find()))
  }

  /** The strip rules of one attr as one alternation. */
  private[kernel] final class StripAttr(val attr: String, any: Pattern) {
    private val memo = ruleMemo[java.lang.Boolean](attr)
    def matches(value: String): Boolean =
      memoize(memo, value)(java.lang.Boolean.valueOf(any.matcher(value).find())).booleanValue
  }

  private[kernel] val PointAttrs: Array[PointAttr] =
    AttrPoints.map(_._2).distinct.map(attr =>
      new PointAttr(attr, AttrPoints.indices.filter(AttrPoints(_)._2 == attr).toArray))
  private[kernel] val StripAttrs: Array[StripAttr] =
    AttrStrip.map(_._1).distinct.map { attr =>
      val rules = AttrStrip.filter(_._1 == attr)
      new StripAttr(attr, Pattern.compile(
        rules.map(r => "(?:" + r._2.pattern + ")").mkString("|"), FLAGS))
    }
  /** Hit-counter key of each AttrPoints rule, built once. */
  private val RuleKeys: Array[(Double, String, String)] =
    AttrPoints.map { case (points, attr, re) => (points, attr, re.pattern) }

  /** Per-document evaluation context (hit counter; match memos are global). */
  final class Ctx {
    val hc: HitCounter = mutable.LinkedHashMap.empty
  }

  /** patterns.py:312-382 */
  def score(tag: Elem, url: String, ctx: Ctx): Unit = {
    if (tag.name == "body") return

    if (tag.name == "article") applyScore(tag, 10)
    else if (tag.name == "section") applyScore(tag, 1)

    // Point patterns (has_attr semantics — SURVEY.md §0.1).
    val hc = ctx.hc
    var a = 0
    while (a < PointAttrs.length) {
      val pa = PointAttrs(a)
      val value = tag.attr(pa.attr)
      if (value != null) {
        val matched = pa.matches(value)
        if (matched.length > 0) {
          val p = tag.parent
          val pv = if (p == null) null else p.attr(pa.attr)
          val parentMatched = if (pv == null) Array.emptyIntArray else pa.matches(pv)
          for (i <- matched) {
            if (!parentMatched.contains(i)) applyScore(tag, AttrPoints(i)._1)
            hc.getOrElseUpdate(RuleKeys(i), mutable.ArrayBuffer.empty) += tag
          }
        }
      }
      a += 1
    }

    // Links (patterns.py:334-349).
    if (tag.name == "a" && tag.hasAttr("href")) {
      val href = tag.attr("href")
      val thatUrl =
        try Py.urljoin(url, href)
        catch { case _: Exception => null }
      if (thatUrl != null) {
        if (url == thatUrl || url == Py.unquote(href)) {
          applyScore(tag, -1.5)
          strip(tag)
        } else if (Py.netloc(url) != Py.netloc(thatUrl)) {
          applyScore(tag, 1.0)
        }
      }
    }

    // Blocks (patterns.py:352-367).
    if (isLeafBlock(tag)) {
      val tl = textLen(tag)
      if (tl == 0) {
        val anchor = tag.find("a")
        val img = tag.find("img")
        if (anchor != null && img == null) applyScore(tag, -2)
      } else {
        if (tl < 20 && tag.name != "td") applyScore(tag, -0.75)
        if (tl > 50) applyScore(tag, 3)
        if (tl > 250) applyScore(tag, 4)
      }
    }

    // Images (patterns.py:370-382).
    if (tag.name == "img") {
      applyScore(tag, 1.5)
      if (tag.hasAttr("alt") && tag.attr("alt").length > 50)
        applyScore(tag, 2)
      val size = tagSize(tag)
      if (size >= 0) {
        if (size <= 625) applyScore(tag, -1.5)
        if (size >= 50000) applyScore(tag, 3)
        if (size >= 250000) applyScore(tag, 4)
      }
    }
  }

  /** patterns.py:385-418 — returns true if the subtree was stripped. */
  def stripTest(tag: Elem): Boolean = {
    if (DoNotStripTags.contains(tag.name)) return false

    if (StripTags.contains(tag.name)) {
      // iframe score_has_embed keeper is constant-false in prod (§0.1).
      if (tag.text.length > 2000) return false
      strip(tag)
      return true
    }

    if (isList(tag)) {
      val (header, headerText) = findPreviousHeader(tag)
      if (headerText.length < 100 &&
          ReRelatedHeader.matcher(headerText).find()) {
        strip(tag)
        strip(header)
        return true
      }
    }

    // Fused any-match per attr (strip has no per-rule identity to keep).
    var a = 0
    while (a < StripAttrs.length) {
      val sa = StripAttrs(a)
      val v = tag.attr(sa.attr)
      if (v != null && sa.matches(v)) {
        strip(tag)
        return true
      }
      a += 1
    }
    false
  }

  /** patterns.py:451-481 — the pre-order DFS + false-positive undo. */
  def process(root: Elem, url: String): Unit = {
    val ctx = new Ctx
    processInner(root, url, ctx)
    // False-positive undo (top run only).
    for ((key, tags) <- ctx.hc if tags.length >= FalsePositiveThreshold) {
      val (points, _, _) = key
      if (points >= 0) {
        for (tag <- tags) applyScore(tag, -1 * points)
      }
    }
  }

  private def processInner(root: Elem, url: String, ctx: Ctx): Unit = {
    // classid synthesis (patterns.py:454-457).
    val clsRaw = root.attr("class")
    val idRaw = root.attr("id")
    val cls = separateWords(if (clsRaw == null) "" else clsRaw)
    val id = separateWords(if (idRaw == null) "" else idRaw)
    // fast path for the dominant no-class/no-id case: "" + "!!!" + ""
    // strips to "" — skip the three concat/strip allocations
    val classid =
      if (cls.isEmpty && id.isEmpty) ""
      else Py.strip(Py.strip(cls) + "!!!" + Py.strip(id), "!")
    root.setAttr("classid", classid)

    score(root, url, ctx)
    if (stripTest(root)) return
    // snapshot the child ELEMS before recursing (the reference iterates a
    // bs4 findAll result list: a child stripping itself must not shift
    // its next sibling out of the iteration) — flat array, not the
    // childElems collect-to-Seq allocation chain per element
    val cs = root.children
    var n = 0
    var i = 0
    while (i < cs.length) {
      if (cs(i).isInstanceOf[Elem]) n += 1
      i += 1
    }
    if (n > 0) {
      val snap = new Array[Elem](n)
      var j = 0
      i = 0
      while (i < cs.length) {
        cs(i) match {
          case e: Elem => snap(j) = e; j += 1
          case _       =>
        }
        i += 1
      }
      j = 0
      while (j < n) { processInner(snap(j), url, ctx); j += 1 }
    }
  }
}
