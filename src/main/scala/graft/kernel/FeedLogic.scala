package graft.kernel

import java.util.regex.Pattern

/** Pure sub-operators of the feed path and corpus dataflow — the
  * network-free parts of readability/extract_feed.py, feed.py and
  * third_party/autorss.py (SURVEY.md §2.8, §2.9 D1/D7).
  */
object FeedLogic {

  /** extract_feed.py:49 */
  val MinFeedTextLen = 512

  /** extract_feed.py:72-73 */
  def trimQuery(url: String): String = url.split("\\?")(0)

  /** extract_feed.py:149-152 */
  def urlsMatch(url1: String, url2: String, trim: Boolean): Boolean =
    (if (trim) trimQuery(url1) else url1) == url2

  /** extract_feed.py:129-152 — F3 entry matching over (link,
    * feedburnerOriglink) pairs; first hit wins, exact before trimmed.
    */
  def findEntry(entries: Seq[(String, String)], url: String,
                finalUrl: String): Option[Int] = {
    def matching(target: String, trim: Boolean): Option[Int] = {
      entries.zipWithIndex.collectFirst {
        case ((link, orig), i)
            if (link != null && urlsMatch(link, target, trim)) ||
               (orig != null && urlsMatch(orig, target, trim)) => i
      }
    }
    matching(url, trim = false)
      .orElse(matching(finalUrl, trim = false))
      .orElse(matching(trimQuery(url), trim = true))
      .orElse(matching(trimQuery(finalUrl), trim = true))
  }

  /** util.py:133-149 — F4 content choice. contents: (type, value) pairs. */
  def feedEntryContent(contents: Seq[(String, String)],
                       summaryDetail: String, summary: String): String = {
    if (contents.nonEmpty) {
      if (contents.length == 1) return contents.head._2
      contents.find(_._1 == "text/html") match {
        case Some((_, v)) => return v
        case None         =>
      }
    }
    if (summaryDetail != null) return summaryDetail
    if (summary != null) return summary
    ""
  }

  private val ReTrailingEllipsis = Pattern.compile("\\[?\\.\\.\\.\\]?\\s*$")
  // no DOTALL: a comment spanning lines is left for the parse (see below)
  private val ReLineComment = Pattern.compile("<!--.*?-->")

  /** extract_feed.py:103-120 — F5 quality gates + F6 cleanup. Returns the
    * processed soup, or the rejection reason (Left).
    */
  def feedContentGate(content0: String, url: String): Either[String, Elem] = {
    val content = Extract.preCleanHtml(content0)
    if (content.isEmpty) return Left("no content found")
    // NB the reference regex-strips comments with re.sub WITHOUT re.S
    // (extract_feed.py:108) — multiline comments survive into the parse and
    // are then dropped by CommentStrip.
    val html = ReLineComment.matcher(content).replaceAll("")
    val soup = HtmlParser.parse(html)
    Extract.commentStrip(soup)
    for (t <- soup.findAll("script")) Patterns.strip(t)
    val text = soup.text
    if (ReTrailingEllipsis.matcher(text).find()) Left("trailing ellipsis")
    else if (text.length < MinFeedTextLen)
      Left(s"text too short (${text.length})")
    else {
      Patterns.process(soup, url)
      Right(soup)
    }
  }

  /** third_party/autorss.py:18-42 — F1 feed link discovery, matching the
    * reference's SGMLParser LinkParser semantics:
    *   - scan tags in document order; STOP at `</head>` or `<body>`;
    *   - a `<link>` whose attrs contain exactly rel="alternate" AND
    *     type="application/rss+xml" or "application/atom+xml" ends the
    *     scan (setnomoretags) whether or not it carries href — a matching
    *     link without href yields NO feed (autorss returns '');
    *   - comments are not tag soup; script/style BODIES are skipped to
    *     their closing tag. NB the second point is a DELIBERATE DEVIATION
    *     (ADVICE r02): the reference's LinkParser is a plain SGMLParser
    *     subclass with no `setliteral()`, so it tokenizes markup-like
    *     strings INSIDE script text (`document.write('<body>')` ends its
    *     scan; an embedded '<link rel=alternate…>' string would match).
    *     Treating script/style as CDATA is the saner behavior for web-scale
    *     corpora and is pinned by FeedLogicSpec as this engine's contract.
    * Implemented as a single forward char scan over the raw html — the
    * note path runs this per document, so it must not re-parse the DOM
    * (head-prefix cost only, like autorss's BUFFERSIZE streaming).
    */
  def rssLinkFromHtml(html: String): Option[String] = {
    val n = html.length
    var i = 0
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) return None
      if (html.startsWith("<!--", lt)) {
        val end = html.indexOf("-->", lt + 4)
        i = if (end < 0) n else end + 3
      } else {
        var p = lt + 1
        val closing = p < n && html.charAt(p) == '/'
        if (closing) p += 1
        val nameStart = p
        while (p < n && isNameChar(html.charAt(p))) p += 1
        val name = html.substring(nameStart, p).toLowerCase(java.util.Locale.ROOT)
        if (name.isEmpty) { i = lt + 1 }
        else {
          // find tag end, honoring quoted attribute values
          var q = p
          var inQ: Char = 0
          while (q < n && (inQ != 0 || html.charAt(q) != '>')) {
            val c = html.charAt(q)
            if (inQ == 0 && (c == '"' || c == '\'')) inQ = c
            else if (inQ != 0 && c == inQ) inQ = 0
            q += 1
          }
          val tagEnd = math.min(q, n)
          if (!closing && name == "link") {
            val attrs = parseAttrs(html, p, tagEnd)
            val matches = attrs.contains(("rel", "alternate")) &&
              (attrs.contains(("type", "application/rss+xml")) ||
                attrs.contains(("type", "application/atom+xml")))
            if (matches) // setnomoretags: scan ends here, href or not
              return attrs.collectFirst { case ("href", v) => v }
          } else if ((!closing && name == "body") || (closing && name == "head")) {
            return None
          } else if (!closing && (name == "script" || name == "style")) {
            val close = indexOfIgnoreCase(html, "</" + name, tagEnd)
            i = if (close < 0) n else close
            // continue; the </script> tag itself is consumed next round
          }
          if (!(!closing && (name == "script" || name == "style")))
            i = tagEnd + 1
        }
      }
    }
    None
  }

  private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '-' || c == ':'

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    var i = math.max(from, 0)
    val last = s.length - needle.length
    while (i <= last) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  private val ReAttr = Pattern.compile(
    """([a-zA-Z][a-zA-Z0-9_:.-]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?""")

  /** SGMLParser-style attribute list: names lowercased, values unquoted
    * with the standard entity/charref replacement.
    */
  private def parseAttrs(html: String, from: Int, to: Int): List[(String, String)] = {
    val m = ReAttr.matcher(html).region(from, to)
    val out = List.newBuilder[(String, String)]
    while (m.find()) {
      val name = m.group(1).toLowerCase(java.util.Locale.ROOT)
      val raw = Option(m.group(2)).getOrElse(name) // minimized attr → value = name
      val v =
        if (raw.length >= 2 &&
            (raw.charAt(0) == '"' || raw.charAt(0) == '\'') &&
            raw.charAt(raw.length - 1) == raw.charAt(0))
          raw.substring(1, raw.length - 1)
        else raw
      out += name -> unescapeBasic(v)
    }
    out.result()
  }

  private val ReBasicEntity =
    Pattern.compile("&(#\\d+|#[xX][0-9a-fA-F]+|amp|lt|gt|quot|apos);")

  /** sgmllib's attribute entity replacement: the five named refs + charrefs. */
  private def unescapeBasic(s: String): String = {
    if (s.indexOf('&') < 0) return s
    ReBasicEntity.matcher(s).replaceAll { mr =>
      val g = mr.group(1)
      val repl = g match {
        case "amp" => "&"; case "lt" => "<"; case "gt" => ">"
        case "quot" => "\""; case "apos" => "'"
        case _ if g.startsWith("#x") || g.startsWith("#X") =>
          Integer.parseInt(g.substring(2), 16).toChar.toString
        case _ => Integer.parseInt(g.substring(1)).toChar.toString
      }
      java.util.regex.Matcher.quoteReplacement(repl)
    }
  }

  /** feed.py:142-148 — D1 entry key: base64(sha256(utf8(id or link))). */
  def entryId(id: String, link: String): String = {
    val src = if (id != null) id else link
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.util.Base64.getEncoder.encodeToString(digest)
  }

  /** feed.py:45-46,171-179 — D7 adaptive interval update. */
  val MinUpdateIntervalSec: Double = 3600.0
  val MaxUpdateIntervalSec: Double = 259200.0

  def updateInterval(current: Double, hadNewItems: Boolean): Double = {
    var f = current * (if (hadNewItems) 0.9 else 1.1)
    if (f < MinUpdateIntervalSec) f = MinUpdateIntervalSec
    if (f > MaxUpdateIntervalSec) f = MaxUpdateIntervalSec
    f
  }

  private val ReAtParam = Pattern.compile("\\?at=[^?&]+")

  /** main.py:62 — U9 `at=` param strip. */
  def stripAtParam(url: String): String =
    ReAtParam.matcher(url).replaceAll("")
}
