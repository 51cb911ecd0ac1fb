package graft.kernel

import com.fasterxml.jackson.core.io.schubfach.DoubleToDecimal

/** CPython-compatible string / URL / float primitives.
  *
  * The reference engine (arantius/readability-api) is Python 3; its observable
  * output depends on CPython semantics of `str.strip`, `urllib.parse.urljoin`,
  * `urllib.parse.unquote`, and `str(float)`. These are re-specified here from
  * public CPython documentation and verified by unit tests (PySpec.scala).
  * No Spark imports — pure kernel code (SURVEY.md §7.1).
  */
object Py {

  /** Python whitespace (str.strip()/str.split()): ASCII whitespace,
    * \x1c-\x1f, \x85, and Unicode space/line/paragraph separators
    * (includes  , which Java's Character.isWhitespace rejects).
    */
  def isSpace(c: Char): Boolean =
    if (c > ' ' && c < '\u007f') false // printable ASCII, the common case
    else c match {
      case ' ' | '\t' | '\n' | '' | '\f' | '\r' => true
      case '' | '' | '' | '' | '' => true
      case _ =>
        val t = Character.getType(c)
        t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
    }

  /** Python `str.strip()` (no-arg). */
  def strip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isSpace(s.charAt(i))) i += 1
    while (j > i && isSpace(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** Python `s.strip(chars)`. */
  def strip(s: String, chars: String): String = {
    var i = 0
    var j = s.length
    while (i < j && chars.indexOf(s.charAt(i)) >= 0) i += 1
    while (j > i && chars.indexOf(s.charAt(j - 1)) >= 0) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** Python `str(float)` — shortest round-trip decimal repr.
    * Java 17's Double.toString is not always shortest (Ryu landed in JDK 19),
    * so compute the shortest precision that round-trips, then format
    * Python-style: integral floats as "1.0"; exponent form when the decimal
    * exponent is < -4 or >= 16 (rendered "1e+16" / "1.5e-05").
    *
    * The precision search starts one below the digit count of Schubfach's
    * shortest decimal ([[shortestDigits]]): no precision below the shortest
    * round-tripping length can round-trip, and the one below covers
    * Schubfach picking a 2-digit decimal where a 1-digit one exists. So the
    * first accepted `%e` string is the one a search from 1 would accept,
    * after at most a few formats instead of up to 17.
    */
  def floatRepr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isPosInfinity) return "inf"
    if (d.isNegInfinity) return "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val ad = math.abs(d)
    var prec = math.max(1, shortestDigits(ad) - 1)
    var s = String.format("%." + (prec - 1) + "e", Double.box(ad))
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

  /** Significant digits of Schubfach's shortest decimal for a finite
    * `ad > 0` (leading and trailing zeros and the point dropped, exponent
    * ignored).
    */
  private def shortestDigits(ad: Double): Int = {
    val r = DoubleToDecimal.toString(ad)
    val e = r.indexOf('E')
    var j = if (e < 0) r.length else e
    var i = 0
    while (r.charAt(i) == '0' || r.charAt(i) == '.') i += 1
    while (r.charAt(j - 1) == '0' || r.charAt(j - 1) == '.') j -= 1
    val dot = r.indexOf('.', i)
    if (dot >= 0 && dot < j) j - i - 1 else j - i
  }

  // ------------------------------------------------------------------ URLs

  final case class UrlParts(scheme: String, netloc: String, path: String,
                            query: String, fragment: String)

  private def isSchemeChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
    (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'

  /** urllib.parse.urlsplit: (scheme, netloc, path, query, fragment). */
  def urlsplit(url: String): UrlParts = {
    var rest = url
    var scheme = ""
    val i = rest.indexOf(':')
    if (i > 0) {
      val cand = rest.substring(0, i)
      if (cand.charAt(0).isLetter && cand.forall(isSchemeChar)) {
        scheme = cand.toLowerCase
        rest = rest.substring(i + 1)
      }
    }
    var nl = ""
    if (rest.startsWith("//")) {
      var j = 2
      while (j < rest.length && rest.charAt(j) != '/' &&
             rest.charAt(j) != '?' && rest.charAt(j) != '#') j += 1
      nl = rest.substring(2, j)
      rest = rest.substring(j)
    }
    var fragment = ""
    val h = rest.indexOf('#')
    if (h >= 0) { fragment = rest.substring(h + 1); rest = rest.substring(0, h) }
    var query = ""
    val q = rest.indexOf('?')
    if (q >= 0) { query = rest.substring(q + 1); rest = rest.substring(0, q) }
    UrlParts(scheme, nl, rest, query, fragment)
  }

  def urlunsplit(p: UrlParts): String = {
    val sb = new StringBuilder
    if (p.scheme.nonEmpty) sb.append(p.scheme).append(':')
    var path = p.path
    if (p.netloc.nonEmpty || path.startsWith("//")) {
      if (path.nonEmpty && !path.startsWith("/")) path = "/" + path
      sb.append("//").append(p.netloc)
    }
    sb.append(path)
    if (p.query.nonEmpty) sb.append('?').append(p.query)
    if (p.fragment.nonEmpty) sb.append('#').append(p.fragment)
    sb.toString
  }

  /** urllib.parse.urlparse(url)[1] — the netloc. */
  def netloc(url: String): String = urlsplit(url).netloc

  private val UsesRelative = Set("", "ftp", "http", "gopher", "nntp", "imap",
    "wais", "file", "https", "shttp", "mms", "prospero", "rtsp", "rtspu",
    "sftp", "svn", "svn+ssh", "ws", "wss", "itms-services")

  /** Python 3 urllib.parse.urljoin — faithful port of Lib/urllib/parse.py
    * (3.8+): relative url inherits the base scheme; '..' pops
    * unconditionally; empty interior segments of a relative path are
    * filtered after the merge; a trailing '.'/'..' leaves a trailing slash;
    * an all-popped path collapses to "/".
    */
  def urljoin(base: String, url: String): String = {
    if (base.isEmpty) return url
    if (url.isEmpty) return base
    val b = urlsplit(base)
    val u0 = urlsplit(url)
    val scheme = if (u0.scheme.nonEmpty) u0.scheme else b.scheme
    if (scheme != b.scheme || !UsesRelative.contains(scheme)) return url
    if (u0.netloc.nonEmpty)
      return urlunsplit(UrlParts(scheme, u0.netloc, u0.path, u0.query,
                                 u0.fragment))
    val nl = b.netloc
    if (u0.path.isEmpty && u0.query.isEmpty)
      return urlunsplit(UrlParts(scheme, nl, b.path, b.query, u0.fragment))
    if (u0.path.isEmpty)
      return urlunsplit(UrlParts(scheme, nl, b.path, u0.query, u0.fragment))
    val baseParts = {
      val p = b.path.split("/", -1).toBuffer
      if (p.nonEmpty && p.last != "") p.remove(p.length - 1)
      p
    }
    val segments: Seq[String] =
      if (u0.path.startsWith("/")) u0.path.split("/", -1).toSeq
      else {
        val all = (baseParts ++ u0.path.split("/", -1)).toSeq
        if (all.length > 2)
          all.head +: all.slice(1, all.length - 1).filter(_.nonEmpty) :+ all.last
        else all
      }
    val resolved = scala.collection.mutable.ArrayBuffer.empty[String]
    for (seg <- segments) seg match {
      case ".." => if (resolved.nonEmpty) resolved.remove(resolved.length - 1)
      case "."  => ()
      case s    => resolved += s
    }
    if (segments.last == "." || segments.last == "..") resolved += ""
    val joined = resolved.mkString("/")
    val path = if (joined.isEmpty) "/" else joined
    urlunsplit(UrlParts(scheme, nl, path, u0.query, u0.fragment))
  }

  /** urllib.parse.unquote: %XX percent-decode as UTF-8 (errors='replace');
    * invalid escapes pass through unchanged.
    */
  def unquote(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val out = new StringBuilder
    val bytes = new java.io.ByteArrayOutputStream
    def flush(): Unit = if (bytes.size() > 0) {
      out.append(new String(bytes.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8))
      bytes.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && isHex(s, i + 1) && isHex(s, i + 2)) {
        bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else {
        flush(); out.append(c); i += 1
      }
    }
    flush()
    out.toString
  }

  private def isHex(s: String, i: Int): Boolean =
    i < s.length && {
      val c = s.charAt(i)
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    }

  /** urllib.parse.quote — Django's |urlencode uses safe="/". */
  def quote(s: String, safe: String = "/"): String = {
    val sb = new StringBuilder
    for (b <- s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) {
      val c = (b & 0xff).toChar
      val ok = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
               (c >= '0' && c <= '9') || c == '_' || c == '.' || c == '-' ||
               c == '~' || safe.indexOf(c) >= 0
      if (ok) sb.append(c) else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }
}
