package graft.kernel

/** Streaming HTML tokenizer → Dom tree.
  *
  * Spec'd to the behavior of Python's html.parser under bs4's
  * HTMLParserTreeBuilder (the reference parses with
  * `bs4.BeautifulSoup(html, 'html.parser')`, extract_content.py:75):
  *  - tag/attr names lowercased; no implied-tag reconstruction;
  *  - stray end tags ignored; unclosed tags closed at EOF;
  *  - void elements (Dom.VoidElements) never take children;
  *  - `<x/>` self-closing honored for any tag;
  *  - script/style contents are raw text (no entity decoding, serialized
  *    unescaped), ended only by `</\s*name`;
  *  - character references decoded in text and attribute values
  *    (convert_charrefs=True), Entities.unescape semantics;
  *  - `class`/`rel` etc. normalized as whitespace-token lists;
  *  - optional strainer (bs4 SoupStrainer(attrs={'class': ...}),
  *    extract_content.py:38-40,60-61): only matching subtrees materialize —
  *    the reference's parse-time pruning (SURVEY.md §2.3 P3).
  */
object HtmlParser {

  private val WsSplitRe = java.util.regex.Pattern.compile("\\s+")

  /** Strainer: materialize subtrees whose root's `class` matches. */
  final case class ClassStrainer(re: java.util.regex.Pattern,
                                 exact: String = null) {
    def matches(classAttr: String): Boolean = {
      if (classAttr == null) return false
      val tokens = WsSplitRe.split(classAttr).filter(_.nonEmpty)
      if (exact != null)
        tokens.contains(exact) || classAttr == exact
      else
        tokens.exists(t => re.matcher(t).find()) ||
        re.matcher(classAttr).find()
    }
  }

  // Tag/attr-name interning: names are extremely Zipfian (div/p/a/span,
  // href/class/src/id...), so a direct-mapped table keyed on the raw char
  // range returns a SHARED canonical lowercase name, with the facts the
  // tokenizer asks about it, without a per-occurrence substring or
  // toLowerCase. The scan that finds a name's end also folds its String
  // hash, so a probe is a slot index, a length compare and a
  // `regionMatches`. Canonical strings are JVM-interned: they are the same
  // instances as the literals the kernel looks attrs up by, and two names
  // are equal iff they are `eq`. Slots hold one immutable entry each
  // (array reference writes are atomic, fields are final), so global racy
  // replacement is safe; collisions just replace.
  private final class Name(
      val raw: String,
      val canon: String,
      val isVoid: Boolean,       // Dom.VoidElements: never takes children
      val multiValued: Boolean,  // Dom.MultiValuedAttrs: a token list
      val rawTextEnd: java.util.regex.Pattern) // script/style: `</\s*name`, else null
  private final val NameBits = 12
  private val nameSlots = new Array[Name](1 << NameBits)

  // raw-text terminators, compiled once (the per-tag Pattern.compile
  // showed up in the r03 parse profile)
  private val RawTextEnd: Map[String, java.util.regex.Pattern] =
    Seq("script", "style").map(n => n -> java.util.regex.Pattern.compile(
      "</\\s*" + n, java.util.regex.Pattern.CASE_INSENSITIVE)).toMap

  /** The interned name of `s[from, until)`, whose String hash is `h`. */
  private def name(s: String, from: Int, until: Int, h: Int): Name = {
    val idx = (h ^ (h >>> 16)) & ((1 << NameBits) - 1)
    val e = nameSlots(idx)
    if (e != null && e.raw.length == until - from &&
        s.regionMatches(from, e.raw, 0, until - from)) return e
    val raw = s.substring(from, until)
    val canon = raw.toLowerCase.intern()
    val n = new Name(raw, canon, Dom.VoidElements.contains(canon),
      Dom.MultiValuedAttrs.contains(canon), RawTextEnd.getOrElse(canon, null))
    nameSlots(idx) = n
    n
  }

  def parse(html: String, strainer: ClassStrainer = null): Document = {
    val doc = Dom.newDocument()
    // Logical open-tag stack, parallel arrays (name, elem-or-null when
    // unmaterialized under a strainer); names are interned, so a pop
    // compares them by identity.
    var stackNames = new Array[String](32)
    var stackElems = new Array[Elem](32)
    stackNames(0) = Dom.DocumentName
    stackElems(0) = doc
    var depth = 1
    val scratch = new TagScratch
    val n = html.length
    // Text between two tokens is the contiguous range html[textFrom, i):
    // a '<' that opens no token stays in it as data.
    var textFrom = 0
    // Position of the first '&' at or after the last search (n if none).
    // Text ranges only move forward, so one indexOf per '&' in the page
    // answers every range's "holds a reference?" question.
    var amp = -1

    def curElem: Elem = {
      var i = depth - 1
      while (i >= 0) {
        if (stackElems(i) != null) return stackElems(i)
        i -= 1
      }
      doc
    }

    def materialized: Boolean = {
      // inside a materialized subtree (or no strainer at all)
      if (strainer == null) return true
      var i = depth - 1
      while (i >= 1) { // skip the document sentinel
        if (stackElems(i) != null) return true
        i -= 1
      }
      false
    }

    /** Emits html[textFrom, until) as a Text node. A run without '&' is
      * one substring; one with a reference is decoded whole, which equals
      * decoding its '<'-separated pieces one by one: a '<' never belongs
      * to a character reference.
      */
    def flushText(until: Int): Unit = {
      if (until > textFrom && materialized) {
        if (amp < textFrom) {
          amp = html.indexOf('&', textFrom)
          if (amp < 0) amp = n
        }
        val data =
          if (amp >= until) html.substring(textFrom, until)
          else {
            val sb = new StringBuilder(until - textFrom)
            Entities.unescapeAppend(html, textFrom, until, sb)
            sb.toString
          }
        appendNode(new Text(data))
      }
    }

    /** force=true for an elem that matched the strainer itself (it becomes
      * the root of a newly materialized subtree).
      */
    def appendNode(n: DNode, force: Boolean = false): Unit = {
      if (!force && !materialized) return
      val parent = curElem
      // coalesce adjacent plain-text nodes (html.parser buffers runs)
      val cs = parent.children
      if (cs.nonEmpty && n.getClass == classOf[Text]) {
        val last = cs(cs.length - 1)
        if (last.getClass == classOf[Text]) {
          val p = last.asInstanceOf[Text]
          p.data = p.data + n.asInstanceOf[Text].data
          return
        }
      }
      parent.append(n)
    }

    var i = 0
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0 || lt + 1 >= n) i = n // the rest, a final '<' included, is text
      else {
        i = lt
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          flushText(i)
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            val c =
              if (end < 0) { val c = new Comment(html.substring(i + 4)); i = n; c }
              else { val c = new Comment(html.substring(i + 4, end)); i = end + 3; c }
            if (materialized) { appendNode(c); doc.comments += c }
          } else {
            val gt = html.indexOf('>', i + 2)
            if (gt < 0) { appendNode(new Directive(html.substring(i + 2))); i = n }
            else { appendNode(new Directive(html.substring(i + 2, gt))); i = gt + 1 }
          }
          textFrom = i
        } else if (c1 == '?') {
          flushText(i)
          val gt = html.indexOf('>', i + 2)
          if (gt < 0) { appendNode(new ProcIn(html.substring(i + 2))); i = n }
          else { appendNode(new ProcIn(html.substring(i + 2, gt))); i = gt + 1 }
          textFrom = i
        } else if (c1 == '/') {
          if (i + 2 < n && isNameStart(html.charAt(i + 2))) {
            var j = i + 2
            var h = 0
            var c = html.charAt(j)
            while (!isNameEnd(c)) {
              h = 31 * h + c
              j += 1
              c = if (j < n) html.charAt(j) else '>'
            }
            val nm = name(html, i + 2, j, h).canon
            val gt = html.indexOf('>', j)
            flushText(i)
            // pop to matching open tag; ignore if none
            var d = depth - 1
            while (d >= 1 && (stackNames(d) ne nm)) d -= 1
            if (d >= 1) depth = d
            i = if (gt < 0) n else gt + 1
            textFrom = i
          } else {
            // bogus end tag: html.parser treats `</...>` as comment-ish;
            // the '<' stays text (tolerant fallback)
            i += 1
          }
        } else if (isNameStart(c1) && parseStartTag(html, i, scratch)) {
          val st = scratch
          flushText(i)
          val tag = st.name
          val mat = materialized || (strainer != null &&
            strainer.matches(st.classAttrOrNull))
          var elem: Elem = null
          if (mat) {
            elem = new Elem(tag.canon)
            var a = 0
            while (a < st.nattrs) {
              val k = st.anames(a)
              val v = st.avalues(a)
              elem.attrs.append(k.canon, if (k.multiValued) normTokens(v) else v)
              a += 1
            }
            appendNode(elem, force = true)
          }
          if (!tag.isVoid && !st.selfClosing) {
            if (tag.rawTextEnd != null) {
              // raw-text mode: until </name
              val m = tag.rawTextEnd.matcher(html)
              val found = m.find(st.end)
              val rawEnd = if (found) m.start() else n
              if (rawEnd > st.end && elem != null) {
                elem.append(new RawText(html.substring(st.end, rawEnd)))
              }
              if (found) {
                val gt = html.indexOf('>', m.end())
                i = if (gt < 0) n else gt + 1
              } else i = n
            } else {
              if (depth == stackNames.length) {
                stackNames = java.util.Arrays.copyOf(stackNames, depth * 2)
                stackElems = java.util.Arrays.copyOf(stackElems, depth * 2)
              }
              stackNames(depth) = tag.canon
              stackElems(depth) = elem
              depth += 1
              i = st.end
            }
          } else i = st.end
          textFrom = i
        } else i += 1 // a '<' that opens nothing is text
      }
    }
    flushText(n)
    doc
  }

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isNameEnd(c: Char): Boolean =
    c == '>' || c == '/' || isSpaceChar(c)

  /** Reusable per-parse start-tag scratch: attr pairs land in growable
    * parallel arrays instead of a per-tag LinkedHashMap (the r03 parse
    * profile's dominant allocation — two maps per element, one here and a
    * copy in Elem).  Duplicate attr keeps first position, latest value
    * (Python dict re-assignment semantics, what bs4 builds from
    * html.parser's pair list).
    */
  private final class TagScratch {
    var name: Name = _
    var selfClosing: Boolean = false
    var end: Int = 0
    var nattrs: Int = 0
    var anames = new Array[Name](8)
    var avalues = new Array[String](8)

    def reset(): Unit = { nattrs = 0; selfClosing = false }

    def put(k: Name, v: String): Unit = {
      var i = 0
      while (i < nattrs) {
        if (anames(i).canon eq k.canon) { avalues(i) = v; return }
        i += 1
      }
      if (nattrs == anames.length) {
        anames = java.util.Arrays.copyOf(anames, nattrs * 2)
        avalues = java.util.Arrays.copyOf(avalues, nattrs * 2)
      }
      anames(nattrs) = k; avalues(nattrs) = v; nattrs += 1
    }

    /** class attr value for the strainer: absent → null, bare → "". */
    def classAttrOrNull: String = {
      var i = 0
      while (i < nattrs) {
        if (anames(i).canon eq "class") {
          val v = avalues(i)
          return if (v == null) "" else v
        }
        i += 1
      }
      null
    }
  }

  /** Parse `<name attrs...>` starting at `<` into `out`; false if
    * malformed/unterminated (html.parser then emits the '<' as data).
    */
  private def parseStartTag(html: String, start: Int, out: TagScratch): Boolean = {
    val n = html.length
    var i = start + 1
    var h = 0
    var c = html.charAt(i)
    while (c != '>' && c != '/' && !isSpaceChar(c)) {
      h = 31 * h + c
      i += 1
      if (i >= n) return false
      c = html.charAt(i)
    }
    out.reset()
    out.name = name(html, start + 1, i, h)
    var done = false
    while (!done) {
      while (i < n && isSpaceChar(html.charAt(i))) i += 1
      if (i >= n) return false
      val c = html.charAt(i)
      if (c == '>') { i += 1; done = true }
      else if (c == '/') {
        if (i + 1 < n && html.charAt(i + 1) == '>') {
          out.selfClosing = true; i += 2; done = true
        } else i += 1 // stray '/' skipped (attrfind tolerant)
      } else {
        // attribute name
        val as = i
        var h = 0
        var d = c
        while (!isSpaceChar(d) && d != '=' && d != '>' && d != '/') {
          h = 31 * h + d
          i += 1
          if (i >= n) return false
          d = html.charAt(i)
        }
        val aname = if (i > as) name(html, as, i, h) else null
        while (i < n && isSpaceChar(html.charAt(i))) i += 1
        var avalue: String = null
        if (i < n && html.charAt(i) == '=') {
          i += 1
          while (i < n && isSpaceChar(html.charAt(i))) i += 1
          if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
            val q = html.charAt(i)
            val ve = html.indexOf(q, i + 1)
            if (ve < 0) return false
            avalue = Entities.unescape(html.substring(i + 1, ve))
            i = ve + 1
          } else {
            val vs = i
            while (i < n && !isSpaceChar(html.charAt(i)) &&
                   html.charAt(i) != '>') i += 1
            avalue = Entities.unescape(html.substring(vs, i))
          }
        }
        if (aname != null) out.put(aname, avalue) // duplicate: latest wins
      }
    }
    out.end = i
    true
  }

  private def isSpaceChar(c: Char): Boolean =
    c <= ' ' && (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f')

  /** Java-regex \s membership ([ \t\n\x0B\f\r]) — normTokens must match
    * `split("\\s+")` exactly, which includes vertical tab unlike the
    * tokenizer's isSpaceChar.
    */
  private def isWsRegexChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
    c == '\r'

  /** Multi-valued attr normalization: bs4 splits on whitespace into a list;
    * we store the single-space rejoin (serialization + `' '.join` parity).
    * Bare attr (null) → "" (bs4: empty list).  Single-scan equivalent of
    * `v.split("\\s+").filter(_.nonEmpty).mkString(" ")` without the
    * per-call Pattern compile; already-normalized values return unchanged.
    */
  private def normTokens(v: String): String = {
    if (v == null) return ""
    val n = v.length
    if (n == 0) return ""
    // fast path: no leading/trailing ws, no runs, no non-space ws chars
    var i = 0
    var prevSpace = true // treat position -1 as space → rejects leading ' '
    var clean = true
    while (clean && i < n) {
      val c = v.charAt(i)
      if (c > ' ') prevSpace = false
      else if (c == ' ') { if (prevSpace) clean = false else prevSpace = true }
      else if (isWsRegexChar(c)) clean = false
      else prevSpace = false
      i += 1
    }
    if (clean && !prevSpace) return v
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      val c = v.charAt(i)
      if (isWsRegexChar(c)) {
        if (sb.length > 0 && sb.charAt(sb.length - 1) != ' ') sb.append(' ')
      } else sb.append(c)
      i += 1
    }
    if (sb.length > 0 && sb.charAt(sb.length - 1) == ' ')
      sb.setLength(sb.length - 1)
    sb.toString
  }
}
