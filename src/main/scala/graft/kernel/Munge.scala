package graft.kernel

import java.util.regex.Pattern

/** Post-selection cleanup — port of the reference's readability/clean.py
  * munge pipeline (M1-M13, SURVEY.md §2.7). Pass order is normative
  * (clean.py:193-220). DEBUG=False attr stripping (clean.py:64-70).
  */
object Munge {

  private val FLAGS = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE

  /** clean.py:42-43 */
  val ReAligned: Pattern =
    Pattern.compile("(?:_|\\b)(?:align|float:\\s*)?(left|right)(?:_|\\b)", FLAGS)

  /** clean.py:44-70 — note the 'onchange ' trailing-space quirk: a real
    * `onchange` attr is never stripped (SURVEY.md §0.1).
    */
  val StripAttrs: Seq[String] = Seq(
    "onblur", "onchange ", "onclick", "ondblclick", "onfocus", "onkeydown",
    "onkeypress", "onkeyup", "onload", "onmousedown", "onmousemove",
    "onmouseout", "onmouseover", "onmouseup", "onreset", "onselect",
    "onsubmit", "onunload",
    // DEBUG=False additions:
    "class", "id", "classid", "score")

  /** clean.py:193-220 — returns the serialized munged selection. */
  def munge(soup: Elem, selected: Extract.Selected, url: String): String = {
    selected match {
      case Extract.SelStr(s) => s
      case Extract.SelNode(tag0) =>
        var tag = tag0
        mungeStripSiteSpecific(tag, url)
        mungeStripBrsAfterPs(tag)
        mungeStripRules(tag)
        mungeStripEmpties(tag)
        tag = mungeStripRootContainers(tag)
        mungeStripLowScored(tag)
        mungeStripAttrs(tag)
        fixUrls(tag, url)
        mungeImages(tag)
        mungeHeaderDowngrade(tag)
        mungeNoscript(tag)
        // M11+M13 fused: hyphenation applied at serialize time (no
        // pass rewriting text nodes in place) — byte-equivalent to
        // hyphenate-then-serialize, spec'd in MungeSpec and
        // KernelRewriteSpec.
        // Presized buffer: the default 16-char builder doubles ~10
        // times for a typical article (repeated array copies).
        val sb = new StringBuilder(1 << 14)
        serializeHyphenated(tag, sb)
        sb.toString
    }
  }

  /** clean.py:335-338 (M1/X8) */
  def mungeStripSiteSpecific(root: Elem, url: String): Unit = {
    if (url.contains("smashingmagazine.com")) {
      for (t <- root.findAll((e: Elem) =>
             e.name == "table" && e.attr("width") == "650"))
        Patterns.strip(t)
    }
  }

  /** clean.py:281-285 (M2) */
  def mungeStripBrsAfterPs(root: Elem): Unit = {
    for (tag <- root.findAll("p")) {
      val next = tag.findNextSibling()
      if (next != null && next.name == "br") Patterns.strip(next)
    }
  }

  /** clean.py:327-332 (M3) — strip trailing <hr>s; a trailing string node
    * ends the loop (the reference's AttributeError guard).
    */
  def mungeStripRules(root: Elem): Unit = {
    var continue = true
    while (continue) {
      root.children.lastOption match {
        case Some(e: Elem) if e.name == "hr" => Patterns.strip(e)
        case _ => continue = false
      }
    }
  }

  private val EmptyStripTags = Set(
    "a", "center", "div", "li", "ol", "p", "table", "td", "th", "tr",
    "span", "ul", "h1", "h2", "h3", "h4", "h5", "h6")

  /** "Keep" test for the empties cascade, fused into ONE early-exit
    * recursive walk (clean.py:288-309 runs two subtree passes per
    * candidate: `strip(tag.text)` and `tag.find(lambda ...)`) — a tag
    * survives iff it has a visible non-space text descendant OR any elem
    * descendant that isn't br/hr.  Pure predicate, so the OR order is
    * immaterial; fusing avoids two iterator constructions per candidate
    * (r03 profile: this cascade was the heaviest munge slice).
    */
  private def mustKeepNonEmpty(tag: Elem): Boolean = {
    val cs = tag.children
    var i = 0
    while (i < cs.length) {
      cs(i) match {
        case e: Elem =>
          if (e.name != "br" && e.name != "hr") return true
          if (mustKeepNonEmpty(e)) return true
        case t: Text if t.visible =>
          val d = t.data
          var j = 0
          val m = d.length
          while (j < m) {
            if (!Py.isSpace(d.charAt(j))) return true
            j += 1
          }
        case _ =>
      }
      i += 1
    }
    false
  }

  /** clean.py:288-309 (M4) — strip empty tags, cascading to parents. */
  def mungeStripEmpties(root: Elem): Unit = {
    def stripIfEmpty(tag: Elem): Unit = {
      if (tag == null || !EmptyStripTags.contains(tag.name)) return
      if (mustKeepNonEmpty(tag)) return
      val parent = tag.parent
      Patterns.strip(tag)
      stripIfEmpty(parent)
    }
    for (tag <- root.findAll(EmptyStripTags)) stripIfEmpty(tag)
  }

  /** clean.py:312-315 (M6) */
  def mungeStripLowScored(root: Elem): Unit = {
    for (tag <- root.findAll((e: Elem) => e.attrs.contains("score"))) {
      if (tag.hasScore && tag.score <= -2) Patterns.strip(tag)
    }
  }

  /** clean.py:318-324 (M5) — descend through single-child containers. */
  def mungeStripRootContainers(root: Elem): Elem = {
    val childTags = root.childElems
    if (childTags.length != 1) return root
    if (Py.strip(root.childTexts.map(_.data).mkString("")).nonEmpty)
      return root
    mungeStripRootContainers(childTags.head)
  }

  /** clean.py:275-278 (M7) — descendants only: the selection root keeps its
    * attrs (root_tag.findAll(True) excludes the root — reference quirk,
    * observable in production output; replicated).
    */
  private val StripAttrSet: Set[String] = StripAttrs.toSet

  def mungeStripAttrs(root: Elem): Unit = {
    // iterate the attrs PRESENT on each tag (usually 0-3) instead of
    // probing all 22 strip keys per tag; same removals ('onchange ' can
    // never be a parsed attr name, so the trailing-space quirk holds)
    for (tag <- root.descendants) tag match {
      case e: Elem if e.attrs.nonEmpty =>
        var doomed: List[String] = Nil
        for (k <- e.attrs.keysIterator)
          if (StripAttrSet.contains(k)) doomed = k :: doomed
        doomed.foreach(e.delAttr)
      case _ =>
    }
  }

  /** clean.py:169-190 (M8) — absolutize href/src/object-data/param-movie,
    * root tag included.
    */
  def fixUrls(parent: Elem, baseUrl: String): Unit = {
    def fix(tag: Elem, attr: String): Unit = {
      val v = tag.attr(attr)
      if (v == null) return
      try tag.setAttr(attr, Py.urljoin(baseUrl, Py.strip(v)))
      catch { case _: Exception => } // ValueError path: leave as-is
    }
    // one traversal applying all four selectors (the reference runs four
    // findAll passes, clean.py:169-190, but the fixes touch DISJOINT attrs
    // and never mutate the tree shape, so per-node fusion is
    // order-equivalent)
    def fixNode(t: Elem): Unit = {
      if (t.hasAttr("href")) fix(t, "href")
      if (t.hasAttr("src")) fix(t, "src")
      if (t.name == "object" && t.hasAttr("data")) fix(t, "data")
      if (t.name == "param" && t.attr("name") == "movie" && t.hasAttr("value"))
        fix(t, "value")
    }
    for (n <- parent.descendants) n match {
      case e: Elem => fixNode(e)
      case _       =>
    }
    fixNode(parent)
  }

  /** clean.py:249-267 (M9) */
  def mungeImages(root: Elem): Unit = {
    for (img <- root.findAll("img") if !img.hasAttr("align")) {
      var applied = false
      if (img.hasAttr("style")) {
        val m = ReAligned.matcher(img.attr("style"))
        if (m.find()) { img.setAttr("align", m.group(1)); applied = true }
      }
      if (!applied && img.hasAttr("class")) {
        val m = ReAligned.matcher(img.attr("class"))
        if (m.find()) img.setAttr("align", m.group(1))
      }
    }
  }

  /** clean.py:244-246 (M10) */
  def mungeHeaderDowngrade(root: Elem): Unit = {
    for (tag <- root.findAll(Patterns.TagNamesHeader)) {
      val n = tag.name.charAt(1) - '0'
      tag.name = "h" + math.min(6, n + 2)
    }
  }

  private val PreOnly = Set("pre")

  /** clean.py:223-241 (M11), applied as the text node is serialized (M13):
    * every text node outside <pre> is split by `re.split(r'(&[^;]{2,6};)')`
    * into entity-looking runs, kept verbatim, and other parts, in which
    * each whitespace run becomes one space and each word is hyphenated;
    * the result is HTML-text-escaped. One scan does all of it, with the
    * escaped hyphenation of a long word taken from this thread's memo.
    *
    * `[^;]{2,6}` is greedy and can only stop at the first `;` or after 6
    * chars, so an entity is `&`, then 2 to 6 non-`;` chars, then `;`,
    * tried at each `&` from the left. An empty part yields nothing (the
    * reference's `if part`), and a part's leading or trailing whitespace
    * run yields one space, as Python's split gives an empty first or last
    * word. Escaping is char-local and the soft hyphen is not escaped, so
    * escaping each appended piece equals escaping the joined text.
    */
  private def appendHyphenatedText(
      s: String, out: StringBuilder, memo: Hyphenate.RangeMemo): Unit = {
    val n = s.length
    var i = 0
    var wordStart = -1
    var h = 0            // the word's String hash, for the memo probe
    var esc = false      // the word holds a char that escapes
    var inWs = false     // in a whitespace run of the current part
    while (i < n) {
      val c = s.charAt(i)
      val entityEnd = if (c == '&') entityEndAt(s, i) else -1
      if (entityEnd > 0) {
        if (wordStart >= 0) { appendWord(s, wordStart, i, h, esc, out, memo); wordStart = -1 }
        Dom.escape(s, i, entityEnd, false, out)
        inWs = false // the next part starts
        i = entityEnd
      } else {
        if (Py.isSpace(c)) {
          if (wordStart >= 0) { appendWord(s, wordStart, i, h, esc, out, memo); wordStart = -1 }
          if (!inWs) { out.append(' '); inWs = true }
        } else {
          if (wordStart < 0) { wordStart = i; h = 0; esc = false }
          h = 31 * h + c
          if (c == '&' || c == '<' || c == '>') esc = true
          inWs = false
        }
        i += 1
      }
    }
    if (wordStart >= 0) appendWord(s, wordStart, n, h, esc, out, memo)
  }

  /** End (past the `;`) of the `&[^;]{2,6};` match at `s(i) == '&'`, or -1. */
  private def entityEndAt(s: String, i: Int): Int = {
    val n = s.length
    var j = i + 1
    var k = 0
    while (k < 6 && j < n && s.charAt(j) != ';') { j += 1; k += 1 }
    if (k >= 2 && j < n && s.charAt(j) == ';') j + 1 else -1
  }

  /** One word, escaped: ≤4 chars never split, so it is copied (in bulk
    * when nothing in it escapes); a longer one comes from the memo.
    */
  private def appendWord(
      s: String, from: Int, until: Int, h: Int, esc: Boolean,
      out: StringBuilder, memo: Hyphenate.RangeMemo): Unit =
    if (until - from > 4) Hyphenate.appendHyphenatedEscaped(memo, s, from, until, h, esc, out)
    else if (esc) Dom.escape(s, from, until, false, out)
    // bulk java append — the (s, from, until) overload on the SCALA
    // StringBuilder auto-tuples (appends "(s,from,until)" literally)
    else out.underlying.append(s, from, until)

  /** clean.py:270-272 (M12) */
  def mungeNoscript(root: Elem): Unit =
    for (tag <- root.findAll("noscript")) tag.name = "div"

  /** Serialize `root` into `sb` with M11 hyphenation fused in.
    * Byte-equivalent to hyphenating every text node in place (the
    * reference's M11 pass) followed by `root.serialize`, replicating the
    * reference quirks that two-pass order encodes:
    *  - EVERY string node outside <pre> (plain Text, but also Comment,
    *    RawText and Directive/ProcIn — bs4 findAll(text=True) returns all
    *    NavigableStrings) is coerced to plain text, hyphenated, and
    *    serialized ESCAPED;
    *  - string nodes with a <pre> ancestor (including ancestors ABOVE the
    *    selection root) keep their original node-type serialization.
    */
  def serializeHyphenated(root: Elem, sb: StringBuilder): Unit = {
    val memo = Hyphenate.rangeMemo()
    root.serializeWith(sb, root.findParent(PreOnly) != null, (t, inPre, out) =>
      if (inPre) t.serialize(out) else appendHyphenatedText(t.data, out, memo))
  }
}
