package graft.kernel

import scala.collection.mutable

/** Mutable DOM ADT — the kernel-private tree the extractor works on.
  *
  * Never crosses a Spark row boundary (SURVEY.md §1.2): built by HtmlParser
  * inside mapPartitions, mutated by Patterns/Extract/Munge, serialized to the
  * output string. Semantics mirror bs4 4.x on html.parser as specified in
  * SURVEY.md §2.3 P2 (no implied tags, void elements, raw-text script/style).
  *
  * Node kinds: Elem (bs4 Tag), Text (NavigableString), Comment, RawText
  * (script/style contents — serialized unescaped), Directive (<!...>),
  * ProcIn (<?...>). `.text` includes Text and RawText but not Comment /
  * Directive / ProcIn (bs4 4.9+ get_text semantics); bs4
  * findAll(text=True) returns ALL string nodes, comments too — the
  * reference relies on this in CommentStrip (util.py:94-97) and hyphenation
  * (clean.py:224).
  */
sealed abstract class DNode {
  var parent: Elem = _

  /** Index in parent.children, maintained lazily via indexOf (trees are
    * small: one document each).
    */
  def extract(): this.type = {
    if (parent != null) {
      val i = parent.children.indexWhere(_ eq this)
      if (i >= 0) parent.children.remove(i)
      parent = null
    }
    this
  }

  /** Ancestors, nearest first (bs4 .parents — includes the document root). */
  def ancestors: Iterator[Elem] = new Iterator[Elem] {
    private var cur = DNode.this.parent
    def hasNext: Boolean = cur != null
    def next(): Elem = { val r = cur; cur = cur.parent; r }
  }

  /** bs4 findParent(name): nearest ancestor with any of the names. */
  def findParent(names: Set[String]): Elem =
    ancestors.find(a => names.contains(a.name)).orNull

  def serialize(sb: StringBuilder): Unit

  final def serialized: String = {
    val sb = new StringBuilder; serialize(sb); sb.toString
  }
}

class Text(var data: String) extends DNode {
  /** Included in .text? (plain text and raw text yes; comments etc. no) */
  def visible: Boolean = true
  def serialize(sb: StringBuilder): Unit = Dom.escape(data, 0, data.length, false, sb)
}

final class RawText(d: String) extends Text(d) {
  override def serialize(sb: StringBuilder): Unit = sb.append(data)
}

final class Comment(d: String) extends Text(d) {
  override def visible: Boolean = false
  override def serialize(sb: StringBuilder): Unit =
    sb.append("<!--").append(data).append("-->")
}

final class Directive(d: String) extends Text(d) {
  override def visible: Boolean = false
  override def serialize(sb: StringBuilder): Unit =
    sb.append("<!").append(data).append(">")
}

final class ProcIn(d: String) extends Text(d) {
  override def visible: Boolean = false
  override def serialize(sb: StringBuilder): Unit =
    sb.append("<?").append(data).append(">")
}

/** Insertion-ordered attr map over parallel arrays: elements carry 0-3
  * attrs almost always, so linear probing beats hashing and the
  * LinkedHashMap-per-element allocation chain (map + table + entry per
  * attr) that dominated the parse profile.  Update-in-place keeps first
  * position with latest value (Python dict re-assignment semantics).
  * Arrays are allocated on first insert — attr-less tags cost nothing.
  */
final class AttrMap {
  private var ks: Array[String] = _
  private var vs: Array[String] = _
  private var n = 0

  /** Keys the parser stores and the names callers ask for are mostly the
    * same interned strings, so an identity pass finds them without a
    * char compare; a key built at run time is still found by `equals`.
    */
  def indexOf(k: String): Int = {
    var i = 0
    while (i < n) { if (ks(i) eq k) return i; i += 1 }
    i = 0
    while (i < n) { if (ks(i) == k) return i; i += 1 }
    -1
  }

  def valueAt(i: Int): String = vs(i)
  def size: Int = n
  def isEmpty: Boolean = n == 0
  def nonEmpty: Boolean = n > 0
  def contains(k: String): Boolean = indexOf(k) >= 0

  def get(k: String): Option[String] = {
    val i = indexOf(k)
    if (i < 0) None else Some(vs(i))
  }

  def update(k: String, v: String): Unit = {
    val i = indexOf(k)
    if (i >= 0) vs(i) = v else append(k, v)
  }

  /** Adds a key the caller knows is absent (the parser's are deduplicated). */
  private[kernel] def append(k: String, v: String): Unit = {
    if (ks == null) {
      ks = new Array[String](4); vs = new Array[String](4)
    } else if (n == ks.length) {
      ks = java.util.Arrays.copyOf(ks, n * 2)
      vs = java.util.Arrays.copyOf(vs, n * 2)
    }
    ks(n) = k; vs(n) = v; n += 1
  }

  def remove(k: String): Unit = {
    val i = indexOf(k)
    if (i < 0) return
    var j = i
    while (j < n - 1) { ks(j) = ks(j + 1); vs(j) = vs(j + 1); j += 1 }
    n -= 1
    ks(n) = null; vs(n) = null
  }

  def keysIterator: Iterator[String] = new Iterator[String] {
    private var i = 0
    def hasNext: Boolean = i < n
    def next(): String = { val k = ks(i); i += 1; k }
  }

  def foreachEntry(f: (String, String) => Unit): Unit = {
    var i = 0
    while (i < n) { f(ks(i), vs(i)); i += 1 }
  }
}

class Elem(var name: String) extends DNode {
  /** Insertion-ordered attrs; value null = bare attr (serialized bare).
    * "class"/"rel" are normalized to single-space-joined token lists at parse
    * time (bs4 stores them as lists; matching and serialization agree).
    * A "score" key may be present as a placeholder for the float score below
    * (bs4 stores the float directly in the attr dict; we keep dict position
    * for serialization order fidelity but the value in `score`).
    */
  val attrs: AttrMap = new AttrMap
  // initial backing array of 4 (not ArrayBuffer's default 16): most
  // elements have few children and every element pays this allocation
  val children: mutable.ArrayBuffer[DNode] = new mutable.ArrayBuffer[DNode](4)
  var score: Double = 0.0
  var hasScore: Boolean = false // "type(tag['score']) is float"

  def isDocument: Boolean = name == Dom.DocumentName

  def attr(n: String): String = {
    val i = attrs.indexOf(n)
    if (i < 0) null
    else {
      val v = attrs.valueAt(i)
      if (v == null) "" else v
    }
  }

  def hasAttr(n: String): Boolean = attrs.contains(n)

  def setAttr(n: String, v: String): Unit = attrs(n) = v

  def delAttr(n: String): Unit = {
    attrs.remove(n)
    if (n == "score") { hasScore = false; score = 0.0 }
  }

  def setScore(v: Double): Unit = {
    if (!attrs.contains("score")) attrs("score") = null
    score = v
    hasScore = true
  }

  def append(n: DNode): Unit = { n.extract(); n.parent = this; children += n }

  def insert(i: Int, n: DNode): Unit = {
    n.extract(); n.parent = this; children.insert(i, n)
  }

  /** All descendant nodes, document (pre-)order, excluding self.
    * Array-backed explicit stack — this iterator is constructed once per
    * findAll/find/text call across the whole kernel, so the
    * mutable.Stack + reverseIterator allocations it used to make per node
    * were a measurable slice of the munge/process profile.
    */
  def descendants: Iterator[DNode] = new Iterator[DNode] {
    private var stack = new Array[DNode](32)
    private var top = 0
    pushChildren(Elem.this)

    private def pushChildren(e: Elem): Unit = {
      val cs = e.children
      var i = cs.length - 1
      if (top + cs.length > stack.length) {
        stack = java.util.Arrays.copyOf(
          stack, math.max(stack.length * 2, top + cs.length))
      }
      while (i >= 0) { stack(top) = cs(i); top += 1; i -= 1 }
    }

    def hasNext: Boolean = top > 0
    def next(): DNode = {
      top -= 1
      val n = stack(top)
      n match {
        case e: Elem if e.children.nonEmpty => pushChildren(e)
        case _                              =>
      }
      n
    }
  }

  /** bs4 findAll(pred): descendant elems matching, doc (pre-)order.
    * Direct recursive fill into one buffer — this and find are
    * called once per pass per document, and the former
    * iterator+collect+List chain was a measurable allocation source.
    */
  def findAll(pred: Elem => Boolean): collection.Seq[Elem] = {
    val out = new mutable.ArrayBuffer[Elem]
    def rec(e: Elem): Unit = {
      val cs = e.children
      var i = 0
      while (i < cs.length) {
        cs(i) match {
          case c: Elem =>
            if (pred(c)) out += c
            rec(c)
          case _ =>
        }
        i += 1
      }
    }
    rec(this)
    out
  }

  def findAll(name: String): collection.Seq[Elem] = findAll(_.name == name)

  def findAll(names: Set[String]): collection.Seq[Elem] = findAll(e => names(e.name))

  def find(pred: Elem => Boolean): Elem = {
    val cs = children
    var i = 0
    while (i < cs.length) {
      cs(i) match {
        case c: Elem =>
          if (pred(c)) return c
          val r = c.find(pred)
          if (r != null) return r
        case _ =>
      }
      i += 1
    }
    null
  }

  def find(name: String): Elem = find((e: Elem) => e.name == name)

  /** Direct child elements (findAll(True, recursive=False)). */
  def childElems: Seq[Elem] = children.collect { case e: Elem => e }.toSeq

  /** Direct child text nodes (findAll(text=True, recursive=False)). */
  def childTexts: Seq[Text] = children.collect { case t: Text => t }.toSeq

  /** bs4 Tag.text / get_text(): visible strings concatenated. */
  def text: String = {
    val sb = new java.lang.StringBuilder
    appendVisibleText(sb)
    sb.toString
  }

  private def appendVisibleText(sb: java.lang.StringBuilder): Unit = {
    val cs = children
    var i = 0
    while (i < cs.length) {
      cs(i) match {
        case e: Elem                => e.appendVisibleText(sb)
        case t: Text if t.visible   => sb.append(t.data)
        case _                      =>
      }
      i += 1
    }
  }

  def getText(sep: String): String = {
    if (sep.isEmpty) return text
    val parts = descendants.collect { case t: Text if t.visible => t.data }
    parts.mkString(sep)
  }

  /** bs4 findPreviousSibling(fn): nearest previous sibling Elem matching. */
  def findPreviousSibling(pred: Elem => Boolean): Elem = {
    if (parent == null) return null
    val i = parent.children.indexWhere(_ eq this)
    var k = i - 1
    while (k >= 0) {
      parent.children(k) match {
        case e: Elem if pred(e) => return e
        case _                  =>
      }
      k -= 1
    }
    null
  }

  /** bs4 findNextSibling(): nearest following sibling Elem. */
  def findNextSibling(): Elem = {
    if (parent == null) return null
    val i = parent.children.indexWhere(_ eq this)
    var k = i + 1
    while (k < parent.children.length) {
      parent.children(k) match {
        case e: Elem => return e
        case _       =>
      }
      k += 1
    }
    null
  }

  /** bs4 findPreviousSiblings(text=True): previous sibling string nodes,
    * nearest first (includes comments — SoupStrainer text matching applies
    * to all NavigableStrings).
    */
  def previousSiblingTexts: Seq[Text] = {
    if (parent == null) return Seq.empty
    val i = parent.children.indexWhere(_ eq this)
    (0 until i).reverseIterator
      .map(parent.children(_))
      .collect { case t: Text => t }
      .toSeq
  }

  /** bs4 findAllPrevious(): every Elem strictly before this node in document
    * order over the whole tree, nearest (reverse document order) first.
    * Includes ancestors (bs4's previous-element chain passes through them).
    */
  def findAllPrevious(): Seq[Elem] = {
    val root = ancestors.toSeq.lastOption.getOrElse(
      this.asInstanceOf[Elem])
    val before = mutable.ArrayBuffer.empty[Elem]
    val it = root.descendants
    var found = false
    while (it.hasNext && !found) {
      it.next() match {
        case e: Elem if e eq this => found = true
        case e: Elem              => before += e
        case _                    =>
      }
    }
    // reverse doc order; ancestors ARE included by bs4 (filtered by callers)
    before.reverseIterator.filter(e => !e.isDocument).toSeq
  }

  def serialize(sb: StringBuilder): Unit = serializeWith(sb, false, Dom.NodeText)

  /** Writes this element: start tag, attrs (a float score in Python's
    * repr), `/>` when it is void and empty, else its children and end tag;
    * the document root writes only its children. Every string node below
    * goes to `text`, told whether a `<pre>` is above it; `inPre` says
    * whether one is above this element.
    */
  private[kernel] def serializeWith(sb: StringBuilder, inPre: Boolean, text: TextWriter): Unit = {
    val tagged = !isDocument
    if (tagged) {
      sb.append('<').append(name)
      attrs.foreachEntry { (k, v) =>
        sb.append(' ').append(k)
        if (k == "score" && hasScore) {
          sb.append("=\"").append(Py.floatRepr(score)).append('"')
        } else if (v != null) {
          sb.append("=\"")
          Dom.escape(v, 0, v.length, true, sb)
          sb.append('"')
        }
      }
      if (children.isEmpty && Dom.VoidElements.contains(name)) { sb.append("/>"); return }
      sb.append('>')
    }
    val childPre = inPre || name == "pre"
    var i = 0
    while (i < children.length) {
      children(i) match {
        case e: Elem => e.serializeWith(sb, childPre, text)
        case t: Text => text.write(t, childPre, sb)
      }
      i += 1
    }
    if (tagged) sb.append("</").append(name).append('>')
  }
}

/** How [[Elem.serializeWith]] writes a string node; `inPre`: a `<pre>` is above it. */
private[kernel] trait TextWriter { def write(t: Text, inPre: Boolean, sb: StringBuilder): Unit }

/** The parse root. It records the comment nodes the parser attached, so
  * [[Extract.commentStrip]] removes them without walking the tree.
  */
final class Document extends Elem(Dom.DocumentName) {
  private[kernel] val comments = new mutable.ArrayBuffer[Comment]
}

object Dom {
  val DocumentName = "[document]"

  /** bs4 HTMLTreeBuilder.empty_element_tags (the html.parser builder). */
  val VoidElements: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "keygen",
    "link", "menuitem", "meta", "param", "source", "track", "wbr",
    "basefont", "bgsound", "command", "frame", "image", "isindex", "nextid",
    "spacer")

  /** Attributes bs4 treats as whitespace-separated lists on any tag. */
  val MultiValuedAttrs: Set[String] = Set("class", "rel", "rev", "headers",
    "accesskey", "dropzone")

  def newDocument(): Document = new Document

  /** Each string node as its own kind writes itself. */
  private[kernel] val NodeText: TextWriter = (t, _, sb) => t.serialize(sb)

  /** bs4's minimal formatter over `s[from, until)`: `&`, `<` and `>`
    * escape, and `"` too in an attribute value (`quote`).
    */
  def escape(s: String, from: Int, until: Int, quote: Boolean, sb: StringBuilder): Unit = {
    var i = from
    var run = from // clean-run start; bulk-append runs between escapes
    while (i < until) {
      val c = s.charAt(i)
      // all four escapable chars sort at or below '>', letters above it
      if (c <= '>' && (c == '&' || c == '<' || c == '>' || (quote && c == '"'))) {
        if (i > run) sb.underlying.append(s, run, i)
        sb.append(
          if (c == '&') "&amp;"
          else if (c == '<') "&lt;"
          else if (c == '>') "&gt;"
          else "&quot;")
        run = i + 1
      }
      i += 1
    }
    if (until > run) sb.underlying.append(s, run, until)
  }
}
