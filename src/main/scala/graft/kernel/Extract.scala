package graft.kernel

import java.util.Locale
import java.util.regex.Pattern

/** Content selection — port of the reference's
  * readability/extract_content.py (SURVEY.md §2.4-§2.5 C11-C14, §2.6 R5-R6).
  */
object Extract {

  /** The selected "tag" is either a DOM node or a plain string
    * (extract_content.py:44 reddit title fallback, :99 scoring error) —
    * _Munge returns strings as-is (clean.py:195-197).
    */
  sealed trait Selected
  final case class SelNode(node: DNode) extends Selected
  final case class SelStr(s: String) extends Selected

  final case class Result(soup: Elem, selected: Selected)

  /** Raised where the reference would crash with AttributeError/TypeError on
    * a malformed special-case page (e.g. gfycat without <video>); the Spark
    * layer converts it into an error row (SURVEY.md §2.9 D8).
    */
  final class ExtractException(msg: String) extends Exception(msg)

  private val FLAGS = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE
  private val ReReddit =
    Pattern.compile("^http://(www\\.)?reddit\\.com/.*/comments/", FLAGS)
  private val ReGfycat = Pattern.compile("^https://gfycat.com/[a-zA-Z]+$", FLAGS)
  private val ReXkcd = Pattern.compile("^http://(www\\.)?xkcd\\.com/\\d+", FLAGS)
  private val ReGoogleGroups = Pattern.compile("^http://groups\\.google\\.com/", FLAGS)
  private val ReTxt = Pattern.compile("\\.txt(\\?|$)", FLAGS)

  private val RedditStrainer = HtmlParser.ClassStrainer(
    Pattern.compile("thing.*link|usertext border"))
  private val GroupsStrainer = HtmlParser.ClassStrainer(null, exact = "maincontbox")

  private val ReUsertextBody = Pattern.compile("\\busertext-body\\b")
  private val ReTitleClass = Pattern.compile("\\btitle\\b")

  /** bs4 find(attrs={'class': matcher}) — token-wise or joined match. */
  private def classMatches(e: Elem, re: Pattern): Boolean = {
    val cls = e.attr("class")
    cls != null && {
      cls.split(" ").exists(t => re.matcher(t).find()) ||
      re.matcher(cls).find()
    }
  }

  private def classEquals(e: Elem, s: String): Boolean = {
    val cls = e.attr("class")
    cls != null && (cls == s || cls.split(" ").contains(s))
  }

  /** extract_content.py:35-70 */
  def extractFromHtml(url: String, html: String): Result = {
    if (ReReddit.matcher(url).find()) {
      val soup = HtmlParser.parse(html, RedditStrainer)
      var body: Elem = soup.find((e: Elem) => classMatches(e, ReUsertextBody))
      if (body == null) {
        val a = soup.find((e: Elem) =>
          e.name == "a" && classMatches(e, ReTitleClass))
        // `body = body and body.text or soup` (extract_content.py:44):
        // a non-empty title text is a *string* selection; otherwise the soup.
        if (a != null && a.text.nonEmpty) return Result(soup, SelStr(a.text))
        return Result(soup, SelNode(soup))
      }
      Result(soup, SelNode(body))
    } else if (ReGfycat.matcher(url).find()) {
      val soup = HtmlParser.parse(html)
      val vid = soup.find("video")
      if (vid == null)
        throw new ExtractException("gfycat page without <video>")
      vid.delAttr("autoplay")
      vid.setAttr("controls", "controls")
      Result(soup, SelNode(vid))
    } else if (ReXkcd.matcher(url).find()) {
      val soup = HtmlParser.parse(html)
      val img = soup.find((e: Elem) => e.hasAttr("alt") && e.hasAttr("title"))
      if (img == null || img.parent == null || img.parent.parent == null)
        throw new ExtractException("xkcd page without alt+title tag")
      val cont = img.parent.parent
      for (t <- cont.findAll((e: Elem) => e.name == "br" || e.name == "div"))
        Patterns.strip(t)
      Result(soup, SelNode(cont))
    } else if (ReGoogleGroups.matcher(url).find()) {
      val soup = HtmlParser.parse(html, GroupsStrainer)
      extractGeneric(url, soup.serialized)
    } else if (ReTxt.matcher(url).find()) {
      val soup = Dom.newDocument()
      val pre = new Elem("pre")
      pre.insert(0, new Text(html))
      soup.insert(0, pre)
      Result(soup, SelNode(soup))
    } else {
      extractGeneric(url, html)
    }
  }

  /** util.py:167-170 — `re.sub(r'<!DOCTYPE.*?>') then .replace('&nbsp;')`
    * as ONE copying scan instead of two (regex engine pass + full-copy
    * replace per document).  `<!DOCTYPE.*?>` DOTALL non-greedy ≡ skip to
    * the first '>' (no '>' → no match, chars pass through); neither
    * Python's re.sub nor this scan rescans assembled output.  A `&nbsp;`
    * that only materializes when a DOCTYPE is cut out from inside it
    * ("&nb<!DOCTYPE x>sp;") is caught by the post-scan contains check,
    * which replays the reference's second pass — exact equivalence.
    */
  def preCleanHtml(html: String): String = {
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

  /** util.py:94-97 */
  def commentStrip(soup: Elem): Unit =
    for (t <- soup.findTexts if t.isInstanceOf[Comment]) t.extract()

  /** extract_content.py:73-116 */
  def extractGeneric(url: String, html0: String): Result = {
    val html = preCleanHtml(html0)
    val soup = HtmlParser.parse(html)
    commentStrip(soup)

    val titleTag = soup.find("title")
    val title =
      if (titleTag != null) titleTag.text.toLowerCase(Locale.ROOT) else ""

    // _TransformBrsToParagraphs is a no-op in the pinned reference
    // environment (extract_content.py:164 reads a nonexistent property —
    // SURVEY.md §0.1); intentionally not applied. The INTENDED transform
    // is preserved as `transformBrsToParagraphsIntended` below with a
    // documentation fixture (CleanSpec "C14 intended br->p transform") —
    // wire it here iff upstream ever fixes `next_tagSibling`.

    Patterns.process(soup, url)
    siteSpecific(url, soup)

    val titleHeader = findTitleHeader(soup, title)
    if (titleHeader != null) {
      Patterns.applyScore(titleHeader, 11)
      if (!url.contains("flickr.com")) stripBefore(titleHeader)
    }

    // Candidate selection (extract_content.py:95-100): stable sort by score
    // ascending; max score wins, document-order-last tie-break.
    val nodes = soup.findAll((e: Elem) => e.hasScore)
    val scored = nodes.sortBy(_.score).takeRight(15)
    if (scored.isEmpty) return Result(soup, SelStr("<p>Scoring error.</p>"))
    val best = scored.last

    transformDivsToPs(best)
    Result(soup, SelNode(best))
  }

  /** Stop tags for the intended br→p gather (util.py:44-47:
    * TAG_NAMES_BLOCK ∪ TAG_NAMES_HEADER ∪ {br}).
    */
  private val BrToPStopTags = Set(
    "blockquote", "div", "li", "p", "pre", "td", "th",
    "h1", "h2", "h3", "h4", "h5", "h6", "br")

  /** The INTENDED _TransformBrsToParagraphs (extract_content.py:156-190)
    * — DISABLED in the pipeline, kept as executable documentation
    * (VERDICT r03 task 7). In the pinned reference the pass never fires:
    * line 164 walks `next_tagSibling`, a property that does not exist on
    * bs4 tags, so the sibling scan returns None on its first step and
    * every call is a no-op; the engine preserves that no-op for byte
    * parity (C14, SURVEY.md §0.1). If upstream ever fixed the property
    * to `nextSibling`, the reference WOULD do this: a <br> followed
    * (across whitespace-only text nodes) by another <br> marks a
    * paragraph break — the siblings before the first <br> back to the
    * nearest block/header/br boundary move into a fresh <p> that
    * replaces it, and the second <br> is stripped.
    */
  def transformBrsToParagraphsIntended(soup: Elem): Unit =
    for (tag <- soup.findAll("br")) transformBrsInner(tag)

  private def transformBrsInner(tag: Elem): Unit = {
    if (tag.parent == null) return // stripped by an earlier pair
    // scan forward for the partner <br>: whitespace-only text continues
    // the scan, anything else aborts (extract_content.py:162-176)
    var next: DNode = tag
    var partner: Elem = null
    while (partner == null) {
      next = next.nextSibling
      next match {
        case null => return
        case e: Elem => if (e.name == "br") partner = e else return
        case t: Text => if (t.data.trim.nonEmpty) return
      }
    }
    // gather preceding siblings up to the nearest stop tag
    // (extract_content.py:178-183; NavigableStrings never stop the walk)
    var contents = List.empty[DNode]
    var prev = tag.previousSibling
    var stop = false
    while (prev != null && !stop) {
      prev match {
        case e: Elem if BrToPStopTags(e.name) => stop = true
        case n => val p = n.previousSibling; contents ::= n; prev = p
      }
    }
    val newp = new Elem("p")
    contents.zipWithIndex.foreach { case (n, i) => newp.insert(i, n) }
    partner.extract()
    tag.replaceWith(newp)
  }

  /** extract_content.py:119-130 */
  def findTitleHeader(root: Elem, titleText: String): Elem = {
    if (titleText.length < 10) return null
    for (header <- root.findAll(Patterns.TagNamesHeader)) {
      val ht = header.text.toLowerCase(Locale.ROOT)
      if (ht.length >= 20 && (ht.contains(titleText) || titleText.contains(ht)))
        return header
    }
    null
  }

  /** extract_content.py:133-141 */
  def siteSpecific(url: String, root: Elem): Unit = {
    if (url.contains("www.cracked.com")) {
      val t1 = root.find((e: Elem) => classEquals(e, "Column2"))
      if (t1 != null) Patterns.strip(t1)
      val t2 = root.find((e: Elem) => classEquals(e, "userStyled"))
      if (t2 != null) Patterns.applyScore(t2, 20)
    }
    if (url.contains(".reddit.com")) {
      val t = root.find((e: Elem) => classEquals(e, "side"))
      if (t != null) Patterns.strip(t)
    }
  }

  /** extract_content.py:144-153 — strip everything before the title header
    * (document order), skipping its ancestors; then the header itself.
    */
  def stripBefore(stripTag: Elem): Unit = {
    val ancestors = stripTag.ancestors.toSet
    for (tag <- stripTag.findAllPrevious()) {
      if (!ancestors.contains(tag)) Patterns.strip(tag)
    }
    Patterns.strip(stripTag)
  }

  /** extract_content.py:193-196 — C13: leaf <div> → <p> inside selection. */
  def transformDivsToPs(root: Elem): Unit = {
    for (tag <- root.findAll("div")) {
      if (tag.find((e: Elem) => Patterns.TagNamesBlock.contains(e.name)) == null)
        tag.name = "p"
    }
  }
}
