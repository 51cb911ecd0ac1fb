package graft.kernel

import scala.collection.mutable

/** Kernel implementations that faster ones replaced, kept verbatim (bar
  * names) as oracles for KernelRewriteSpec and MungeSpec:
  *  - [[OldHtmlParser]]: the tokenizer that hashed and compared each name
  *    in its own walks, asked Scala Sets about void, multi-valued and raw
  *    text names, copied every text run through a buffer and kept its
  *    open-element stack in ArrayBuffers;
  *  - [[commentStrip]]: the comment strip that walked every text node;
  *  - [[mungeHyphenate]]: M11 as its own pass, rewriting text nodes in
  *    place before `serialize` escapes them;
  *  - [[pointMatches]] and [[stripMatches]]: one regex find per rule per
  *    node, with no memo;
  *  - [[serialize]]: the element serializer with its own escape loops,
  *    before the plain and the hyphenating serializer shared one;
  *  - [[hyphenateWord]]: hyphenation as a list of pieces between break
  *    points (without its memo), which callers joined with soft hyphens.
  */
object KernelOracles {

  object OldHtmlParser {

    // Tag/attr-name interning: names are extremely Zipfian (div/p/a/span,
    // href/class/src/id...), so a direct-mapped cache keyed on the raw char
    // range returns a SHARED canonical lowercase string without the
    // per-occurrence substring+toLowerCase allocations.  Slots hold one
    // immutable entry each (array reference writes are atomic, entries are
    // final) so global racy replacement is safe; collisions just replace.
    private final class NameEntry(val raw: String, val canon: String)
    private final val NameBits = 12
    private val nameSlots = new Array[NameEntry](1 << NameBits)

    /** Canonical lowercase copy of `s[from,until)` via the intern cache. */
    private def canonName(s: String, from: Int, until: Int): String = {
      var h = 0
      var i = from
      while (i < until) { h = h * 31 + s.charAt(i); i += 1 }
      val idx = (h ^ (h >>> 16)) & ((1 << NameBits) - 1)
      val e = nameSlots(idx)
      if (e != null && e.raw.length == until - from) {
        val raw = e.raw
        var j = 0
        while (j < raw.length && s.charAt(from + j) == raw.charAt(j)) j += 1
        if (j == raw.length) return e.canon
      }
      val raw = s.substring(from, until)
      val canon = raw.toLowerCase
      nameSlots(idx) = new NameEntry(raw, canon)
      canon
    }

    private val CdataElements = Set("script", "style")
    // precompiled raw-text terminators (the per-tag Pattern.compile showed
    // up in the r03 parse profile — script/style are the only members)
    private val CdataEndRe: Map[String, java.util.regex.Pattern] =
      CdataElements.map(n => n -> java.util.regex.Pattern.compile(
        "</\\s*" + n, java.util.regex.Pattern.CASE_INSENSITIVE)).toMap

    def parse(html: String, strainer: HtmlParser.ClassStrainer = null): Elem = {
      val doc = Dom.newDocument()
      // Logical open-tag stack, parallel arrays (name, elem-or-null when
      // unmaterialized under a strainer) — no per-push tuple allocation.
      val stackNames = mutable.ArrayBuffer[String](Dom.DocumentName)
      val stackElems = mutable.ArrayBuffer[Elem](doc)
      val textBuf = new StringBuilder
      val scratch = new TagScratch

      def curElem: Elem = {
        var i = stackElems.length - 1
        while (i >= 0) {
          if (stackElems(i) != null) return stackElems(i)
          i -= 1
        }
        doc
      }

      def materialized: Boolean = {
        // inside a materialized subtree (or no strainer at all)
        if (strainer == null) return true
        var i = stackElems.length - 1
        while (i >= 1) { // skip the document sentinel
          if (stackElems(i) != null) return true
          i -= 1
        }
        false
      }

      def flushText(raw: Boolean = false): Unit = {
        if (textBuf.nonEmpty) {
          if (materialized) {
            val t = if (raw) new RawText(textBuf.toString)
                    else new Text(textBuf.toString)
            appendNode(t)
          }
          textBuf.clear()
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

      val n = html.length
      var i = 0
      while (i < n) {
        val lt = html.indexOf('<', i)
        if (lt < 0) {
          Entities.unescapeAppend(html, i, n, textBuf)
          i = n
        } else {
          if (lt > i) Entities.unescapeAppend(html, i, lt, textBuf)
          i = lt
          if (i + 1 >= n) { textBuf.append('<'); i += 1 }
          else {
            val c1 = html.charAt(i + 1)
            if (c1 == '!') {
              if (html.startsWith("<!--", i)) {
                val end = html.indexOf("-->", i + 4)
                val (data, next) =
                  if (end < 0) (html.substring(i + 4), n)
                  else (html.substring(i + 4, end), end + 3)
                flushText()
                appendNode(new Comment(data))
                i = next
              } else {
                val gt = html.indexOf('>', i + 2)
                val (data, next) =
                  if (gt < 0) (html.substring(i + 2), n)
                  else (html.substring(i + 2, gt), gt + 1)
                flushText()
                appendNode(new Directive(data))
                i = next
              }
            } else if (c1 == '?') {
              val gt = html.indexOf('>', i + 2)
              val (data, next) =
                if (gt < 0) (html.substring(i + 2), n)
                else (html.substring(i + 2, gt), gt + 1)
              flushText()
              appendNode(new ProcIn(data))
              i = next
            } else if (c1 == '/') {
              if (i + 2 < n && isNameStart(html.charAt(i + 2))) {
                var j = i + 2
                while (j < n && !isNameEnd(html.charAt(j))) j += 1
                val name = canonName(html, i + 2, j)
                val gt = html.indexOf('>', j)
                val next = if (gt < 0) n else gt + 1
                flushText()
                // pop to matching open tag; ignore if none
                var k = stackNames.length - 1
                while (k >= 1 && stackNames(k) != name) k -= 1
                if (k >= 1) {
                  stackNames.remove(k, stackNames.length - k)
                  stackElems.remove(k, stackElems.length - k)
                }
                i = next
              } else {
                // bogus end tag: html.parser treats `</...>` as comment-ish;
                // emit as literal text of '<' (tolerant fallback)
                textBuf.append('<')
                i += 1
              }
            } else if (isNameStart(c1)) {
              if (!parseStartTag(html, i, scratch)) {
                textBuf.append('<'); i += 1
              } else {
                val st = scratch
                flushText()
                val name = st.name
                val mat = materialized || (strainer != null &&
                  strainer.matches(st.classAttrOrNull))
                var elem: Elem = null
                if (mat) {
                  elem = new Elem(name)
                  var a = 0
                  while (a < st.nattrs) {
                    val k = st.anames(a)
                    val v = st.avalues(a)
                    elem.attrs(k) =
                      if (Dom.MultiValuedAttrs.contains(k)) normTokens(v)
                      else v
                    a += 1
                  }
                  appendNode(elem, force = true)
                }
                val void = Dom.VoidElements.contains(name)
                if (!void && !st.selfClosing) {
                  if (CdataElements.contains(name)) {
                    // raw-text mode: until </name
                    val m = CdataEndRe(name).matcher(html)
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
                    stackNames += name
                    stackElems += elem
                    i = st.end
                  }
                } else i = st.end
              }
            } else {
              textBuf.append('<')
              i += 1
            }
          }
        }
      }
      flushText()
      doc
    }

    private def isNameStart(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

    private def isNameEnd(c: Char): Boolean =
      c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\n' ||
      c == '\r' || c == '\f'

    /** Reusable per-parse start-tag scratch: attr pairs land in growable
      * parallel arrays instead of a per-tag LinkedHashMap (the r03 parse
      * profile's dominant allocation — two maps per element, one here and a
      * copy in Elem).  Duplicate attr keeps first position, latest value
      * (Python dict re-assignment semantics, what bs4 builds from
      * html.parser's pair list).
      */
    private final class TagScratch {
      var name: String = _
      var selfClosing: Boolean = false
      var end: Int = 0
      var nattrs: Int = 0
      var anames = new Array[String](8)
      var avalues = new Array[String](8)

      def reset(): Unit = { nattrs = 0; selfClosing = false }

      def put(k: String, v: String): Unit = {
        var i = 0
        while (i < nattrs) {
          if (anames(i) == k) { avalues(i) = v; return }
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
          if (anames(i) == "class") {
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
      val nameStart = i
      while (i < n && html.charAt(i) != '>' && html.charAt(i) != '/' &&
             !isSpaceChar(html.charAt(i))) i += 1
      if (i >= n) return false
      out.reset()
      out.name = canonName(html, nameStart, i)
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
          while (i < n && !isSpaceChar(html.charAt(i)) &&
                 html.charAt(i) != '=' && html.charAt(i) != '>' &&
                 html.charAt(i) != '/') i += 1
          if (i >= n) return false
          val aname = canonName(html, as, i)
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
          if (aname.nonEmpty) out.put(aname, avalue) // duplicate: latest wins
        }
      }
      out.end = i
      true
    }

    private def isSpaceChar(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

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
        if (c == ' ') { if (prevSpace) clean = false else prevSpace = true }
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

  /** bs4 findAll(text=True): ALL string-node descendants incl. comments. */
  def findTexts(root: Elem): collection.Seq[Text] = {
    val out = new mutable.ArrayBuffer[Text]
    def rec(e: Elem): Unit = {
      val cs = e.children
      var i = 0
      while (i < cs.length) {
        cs(i) match {
          case c: Elem => rec(c)
          case t: Text => out += t
          case _       =>
        }
        i += 1
      }
    }
    rec(root)
    out
  }

  /** util.py:94-97, as a walk over every text node. */
  def commentStrip(soup: Elem): Unit =
    for (t <- findTexts(soup) if t.isInstanceOf[Comment]) t.extract()

  private val PreOnly = Set("pre")

  /** clean.py:223-241 (M11) — hyphenate every text node outside <pre>;
    * entity-looking runs pass through; whitespace collapses to single
    * spaces. NB replaces Comment nodes with plain text (reference quirk on
    * non-generic paths where comments survive).
    */
  def mungeHyphenate(root: Elem): Unit = {
    for (text <- findTexts(root)) {
      if (text.findParent(PreOnly) == null) {
        val s = text.data
        val out = hyphenateRun(s)
        // unchanged plain Text nodes can stay in place; subclasses
        // (Comment/RawText) must still be downgraded to plain Text — the
        // reference's unicode() coercion changes their serialization
        if (out != s || text.getClass != classOf[Text])
          replaceWith(text, new Text(out))
      }
    }
  }

  private def replaceWith(old: DNode, n: DNode): Unit = {
    val p = old.parent
    if (p == null) return
    val i = p.children.indexWhere(_ eq old)
    n.extract()
    p.children(i) = n
    n.parent = p
    old.parent = null
  }

  /** `re.split(r'(&[^;]{2,6};)')` with captured separators, entity parts
    * verbatim, word parts whitespace-collapsed + hyphenated.
    */
  private def hyphenateRun(s: String): String = {
    val out = new StringBuilder(s.length + (s.length >> 3))
    val n = s.length
    var i = 0
    var segStart = 0
    while (i < n) {
      if (s.charAt(i) == '&') {
        var j = i + 1
        var k = 0
        while (k < 6 && j < n && s.charAt(j) != ';') { j += 1; k += 1 }
        if (k >= 2 && j < n && s.charAt(j) == ';') {
          appendHyphenatedWords(s, segStart, i, out)
          out.underlying.append(s, i, j + 1) // the entity, untouched
          i = j + 1
          segStart = i
        } else i += 1
      } else i += 1
    }
    appendHyphenatedWords(s, segStart, n, out)
    out.toString
  }

  /** `' '.join(hyphenate(w) for w in re.split(r'\s+', part))` for the
    * substring [from, until); empty parts are skipped (`if part`).
    */
  private def appendHyphenatedWords(s: String, from: Int, until: Int, out: StringBuilder): Unit = {
    if (from >= until) return
    var i = from
    var wordStart = -1
    var inWs = false
    while (i < until) {
      val c = s.charAt(i)
      if (Py.isSpace(c)) {
        if (wordStart >= 0) {
          out.append(Hyphenate.hyphenateWordShy(s.substring(wordStart, i))); wordStart = -1
        }
        if (!inWs) { out.append(' '); inWs = true }
      } else {
        if (wordStart < 0) wordStart = i
        inWs = false
      }
      i += 1
    }
    if (wordStart >= 0) out.append(Hyphenate.hyphenateWordShy(s.substring(wordStart, until)))
  }

  /** Indices (into AttrPoints) of the `attr` rules whose regex finds a
    * match in `value`, each rule tried in turn.
    */
  def pointMatches(attr: String, value: String): Array[Int] =
    Patterns.AttrPoints.indices.filter { i =>
      val (_, a, re) = Patterns.AttrPoints(i)
      a == attr && re.matcher(value).find()
    }.toArray

  /** Does some `attr` rule of AttrStrip find a match in `value`? */
  def stripMatches(attr: String, value: String): Boolean =
    Patterns.AttrStrip.exists { case (a, re) => a == attr && re.matcher(value).find() }

  /** `e.serialized` as the element serializer wrote it: elements
    * recurse here, plain text escapes with [[escapeText]], and every
    * other string node writes itself.
    */
  def serialized(e: Elem): String = {
    val sb = new StringBuilder; serialize(e, sb); sb.toString
  }

  private def serialize(e: Elem, sb: StringBuilder): Unit = {
    def child(n: DNode): Unit = n match {
      case c: Elem                                => serialize(c, sb)
      case t: Text if t.getClass == classOf[Text] => escapeText(t.data, sb)
      case t                                      => t.serialize(sb)
    }
    if (e.isDocument) { e.children.foreach(child); return }
    sb.append('<').append(e.name)
    e.attrs.foreachEntry { (k, v) =>
      sb.append(' ').append(k)
      if (k == "score" && e.hasScore) {
        sb.append("=\"").append(Py.floatRepr(e.score)).append('"')
      } else if (v != null) {
        sb.append("=\"")
        escapeAttr(v, sb)
        sb.append('"')
      }
    }
    if (Dom.VoidElements.contains(e.name) && e.children.isEmpty) {
      sb.append("/>")
    } else {
      sb.append('>')
      var i = 0
      while (i < e.children.length) { child(e.children(i)); i += 1 }
      sb.append("</").append(e.name).append('>')
    }
  }

  /** bs4 minimal formatter: text escapes &, <, >. */
  def escapeText(s: String, sb: StringBuilder): Unit = {
    var i = 0
    var from = 0 // clean-run start; bulk-append runs between escapes
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&' || c == '<' || c == '>') {
        if (i > from) sb.underlying.append(s, from, i)
        sb.append(if (c == '&') "&amp;" else if (c == '<') "&lt;" else "&gt;")
        from = i + 1
      }
      i += 1
    }
    if (s.length > from) sb.underlying.append(s, from, s.length)
  }

  /** Attribute values additionally escape the quote. */
  def escapeAttr(s: String, sb: StringBuilder): Unit = {
    val n = s.length
    var i = 0
    var from = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&' || c == '<' || c == '>' || c == '"') {
        if (i > from) sb.underlying.append(s, from, i)
        sb.append(
          if (c == '&') "&amp;"
          else if (c == '<') "&lt;"
          else if (c == '>') "&gt;"
          else "&quot;")
        from = i + 1
      }
      i += 1
    }
    if (n > from) sb.underlying.append(s, from, n)
  }

  /** hyphenate.hyphenate_word: pieces of `word` between legal break points. */
  def hyphenateWord(word: String): Seq[String] = {
    if (word.length <= 4) return Seq(word)
    computeHyphenation(word)
  }

  private def computeHyphenation(word: String): Seq[String] = {
    import Hyphenate.{exceptionMap, root}
    val lower = word.toLowerCase(java.util.Locale.ROOT)
    val points: Array[Int] = exceptionMap.get(lower) match {
      case Some(p) => p
      case None =>
        val work = "." + lower + "."
        val pts = new Array[Int](work.length + 1)
        var i = 0
        while (i < work.length) {
          var t = root
          var j = i
          var continue = true
          while (continue && j < work.length) {
            val n = t.children.get(work.charAt(j))
            if (n == null) continue = false
            else {
              t = n
              if (t.points != null) {
                val p = t.points
                var k = 0
                while (k < p.length) {
                  if (p(k) > pts(i + k)) pts(i + k) = p(k)
                  k += 1
                }
              }
              j += 1
            }
          }
          i += 1
        }
        // no hyphens in the first two or last two characters
        pts(1) = 0; pts(2) = 0
        pts(pts.length - 2) = 0; pts(pts.length - 3) = 0
        pts
    }
    val pieces = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    while (i < word.length && i + 2 < points.length) {
      cur.append(word.charAt(i))
      if (points(i + 2) % 2 == 1) { pieces += cur.toString; cur.clear() }
      i += 1
    }
    // zip(word, points[2:]) stops at the shorter; trailing chars of `word`
    // beyond points are dropped by zip in Python — points is always long
    // enough (len(word)+2 or +3), so append any remainder defensively.
    while (i < word.length) {
      cur.append(word.charAt(i))
      i += 1
    }
    pieces += cur.toString
    pieces.toSeq
  }
}
