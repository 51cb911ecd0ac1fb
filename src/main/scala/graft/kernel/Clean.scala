package graft.kernel

import java.nio.charset.{Charset, StandardCharsets}
import java.util.regex.Pattern

import scala.util.control.NonFatal

/** The per-document extraction pipeline — batch analogue of the reference's
  * readability/clean.py `Clean`/`_Clean` (SURVEY.md §3.1): URL normalization
  * (U1-U10), template short-circuits (U5-U8), the generic/special extractors
  * (§2.4-2.6), the munge pipeline (§2.7) and the M14 wrapper.
  *
  * Network-era behaviors (fetch, redirects, content-type sniffing, live feed
  * extraction) have no input in an archived-pages table and are out of the
  * kernel (SURVEY.md §0, §7.6); URL-classification template paths are kept
  * because they only interpolate the URL.
  */
object Clean {

  final case class Cleaned(finalUrl: String, content: String, note: String,
                           error: String)

  private val FLAGS = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE

  val MaxUrlDisplayLen = 60

  private val ReFragment = Pattern.compile("#.*")
  private val ReUtmParam = Pattern.compile("[?&]utm_[^&]+")
  private val ReGoogleCachePdf =
    Pattern.compile("^https?://docs.google.com.*cache:.*?:(.*?\\.pdf)", FLAGS)
  private val ReGoogleDocId =
    Pattern.compile("^https?://docs.google.com.*docid=(.*?)(&|$)", FLAGS)
  private val ReYoutube =
    Pattern.compile("^https?://www\\.youtube\\.com/watch", FLAGS)
  private val ReYoutubeV = Pattern.compile("v=([^&]+)")
  private val RePdf = Pattern.compile("\\.pdf(\\?|$)", FLAGS)
  private val ReImage = Pattern.compile("\\.(gif|jpe?g|png)(\\?|$)", FLAGS)
  private val ReUtmPair = Pattern.compile("utm_[a-z]+=[^&]+(&?)")
  private val ReTrailingSeparators = Pattern.compile("[?&]+$")

  /** util.py:88-91 (U1) — fetch-time utm strip (applied per redirect hop in
    * the reference; exposed for the relational surface + tests).
    */
  def cleanUrl(url0: String): String = {
    val url = ReUtmPair.matcher(url0).replaceAll("$1")
    ReTrailingSeparators.matcher(url).replaceAll("")
  }

  /** clean.py:104-111 (U2/U3 + fragment/utm strip). */
  def normalizeUrl(url0: String): String = {
    var url = url0.replace("#!", "?_escaped_fragment_=")
    url = ReFragment.matcher(url).replaceAll("")
    url = ReUtmParam.matcher(url).replaceAll("")
    url.replace("www.reddit.com", "old.reddit.com")
  }

  // ------------------------------------------------------- templates (U5-U8)
  // Verbatim from the reference's Django templates (each file ends with \n);
  // {{ x }} values HTML-escaped (Django autoescape), |urlencode = quote
  // (safe="/"), |urlizetrunc:70 per Django defaults.

  /** Django's conditional_escape for template variables. */
  def djangoEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&#x27;")

  /** templates/google-docs.html */
  def googleDocsTemplate(docid: String, url: String): String =
    "Google Docs item:\n<ul>\n<li><a href=\"http://docs.google.com/viewer?a=v&pid=writely&srcid=" +
      djangoEscape(docid) +
      "&chrome=false&pli=1\">Open Preview</a></li>\n<li><a href=\"" +
      djangoEscape(url) + "\">Open Original</a></li>\n</ul>\n"

  /** templates/youtube.html */
  def youtubeTemplate(videoId: String): String =
    "<center>\n<iframe width=\"640\" height=\"390\" src=\"https://www.youtube.com/embed/" +
      djangoEscape(videoId) +
      "\" frameborder=\"0\"></iframe>\n</center>\n"

  /** templates/pdf.html */
  def pdfTemplate(url: String): String = {
    val enc = djangoEscape(Py.quote(url))
    "<ul>\n<li><a href=\"http://docs.google.com/gview?url=" + enc +
      "&embedded=true\">View PDF as Images</a> (via Google)</li>\n" +
      "<li><a href=\"http://view.samurajdata.se/ps.php?url=" + enc +
      "\">View PDF as Images</a> (via Samuraj Data)</li>\n" +
      "<li><a href=\"" + djangoEscape(url) + "\">Open PDF</a></li>\n</ul>\n"
  }

  /** templates/image.html — Django |urlizetrunc:70. */
  def imageTemplate(url: String): String =
    "(Image from " + urlizetrunc(url, 70) + "):<br>\n<img src=\"" +
      djangoEscape(url) + "\">\n"

  /** Django urlizetrunc: anchor with nofollow, display truncated with '…'. */
  def urlizetrunc(url: String, limit: Int): String = {
    val display =
      if (url.length > limit) url.substring(0, limit - 1) + "…" else url
    "<a href=\"" + djangoEscape(url) + "\" rel=\"nofollow\">" +
      djangoEscape(display) + "</a>"
  }

  // ---------------------------------------------------------- decode (S4)

  private val ReMetaCharset = Pattern.compile(
    "<meta(?!\\s*(?:name|value)\\s*=)[^>]*?charset\\s*=[\\s\"']*([^\\s\"'/>]*)",
    FLAGS)

  /** Decode the html payload: meta-charset regex (clean.py:76) over an
    * ISO-8859-1 preview FIRST — the reference consults the declaration
    * before any sniffing, so a page whose body merely begins with
    * BOM-looking bytes still honors its declared charset (ADVICE r03:
    * the r03 ordering took the BOM path first, silently decoding such
    * pages as UTF-16; a genuine UTF-16 page can never match the
    * NUL-interleaved meta sniff, so meta-first loses nothing).
    *
    * Without a declaration, a DETERMINISTIC cascade stands in for the
    * reference's chardet sniff:
    *   1. UTF-16 BOM → UTF-16 (BOM-driven endianness);
    *   2. strictly valid UTF-8 → UTF-8 (multibyte sequences are
    *      self-validating; random Latin-1 is valid UTF-8 with
    *      probability ~0 per non-ASCII byte pair);
    *   3. east-asian byte-pattern discrimination (VERDICT r03 task 5) —
    *      see `detectEastAsian`;
    *   4. otherwise windows-1252 (chardet's own answer for the common
    *      non-UTF-8 western case; superset of ISO-8859-1 on printable
    *      bytes).
    * Undecodable bytes → U+FFFD.
    */
  def decodeHtml(bytes: Array[Byte]): String = {
    val preview = new String(bytes, StandardCharsets.ISO_8859_1)
    val m = ReMetaCharset.matcher(preview)
    val declared: Option[Charset] =
      if (m.find()) {
        try Some(Charset.forName(m.group(1)))
        catch { case _: Exception => Some(StandardCharsets.UTF_8) }
      } else None
    val cs: Charset = declared.getOrElse {
      if (hasUtf16Bom(bytes)) StandardCharsets.UTF_16 // BOM-driven LE/BE
      else if (isValidUtf8(bytes)) StandardCharsets.UTF_8
      else detectEastAsian(bytes).getOrElse(Charset.forName("windows-1252"))
    }
    // String(bytes, cs) always replaces malformed and unmappable input
    // with the charset's default replacement, as a REPLACE decoder does,
    // and copies the page once.
    new String(bytes, cs)
  }

  private def hasUtf16Bom(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && {
      val b0 = bytes(0) & 0xff
      val b1 = bytes(1) & 0xff
      (b0 == 0xff && b1 == 0xfe) || (b0 == 0xfe && b1 == 0xff)
    }

  private def isValidUtf8(bytes: Array[Byte]): Boolean = {
    val dec = StandardCharsets.UTF_8.newDecoder() // REPORT by default
    try { dec.decode(java.nio.ByteBuffer.wrap(bytes)); true }
    catch { case _: java.nio.charset.CharacterCodingException => false }
  }

  // ----------------------- east-asian discrimination (no-meta, non-UTF-8)

  /** Minimum multi-byte units before an east-asian verdict — below this
    * the evidence is indistinguishable from stray cp1252 punctuation.
    */
  val MinEastAsianUnits = 4

  /** Deterministic Shift-JIS / EUC-JP / EUC-KR / Big5 / GBK
    * discrimination for no-meta, non-UTF-8 pages (VERDICT r03 task 5,
    * extended with EUC-JP + Big5 in r05 per VERDICT r04 task 3 — the
    * reference reaches for chardet's statistical models here,
    * clean.py:137-138; this is a documented, reproducible byte-pattern
    * cascade, not a chardet port):
    *
    *  1. Shift-JIS when the stream walks cleanly under the SJIS state
    *     machine, does NOT walk as an EUC-family stream, and contains ≥1
    *     pair with lead 0x81-0x9F — the hiragana/katakana/punctuation
    *     rows ubiquitous in real Japanese text and structurally invalid
    *     as EUC leads.
    *  2. EUC-JP when the stream walks as EUC-family (now including the
    *     SS2 half-width-kana form 0x8E+[A1-DF] and the SS3 JIS X 0212
    *     form 0x8F+pair) AND either an SS2/SS3 unit occurs (structurally
    *     impossible in EUC-KR, whose 0x8E/0x8F are not lead bytes) or
    *     ≥30% of units sit in the kana rows 0xA4/0xA5 — real Japanese
    *     text is hiragana-dominated, while Korean/Chinese EUC text has
    *     ~0% in those rows (GB2312 row 0xA4/0xA5 IS kana but only for
    *     quoted Japanese).
    *  3. EUC-KR when every multi-byte unit is lead 0xA1-0xFE +
    *     trail 0xA1-0xFE AND ≥90% of pair leads sit in the Hangul
    *     syllable rows 0xB0-0xC8. Korean text is ~100% Hangul rows;
    *     Chinese GB2312 text spreads leads across 0xB0-0xF7 (frequent
    *     hanzi cluster in the pinyin-ordered level-1 area but never at
    *     ~100% in the 0xB0-0xC8 slice), so 0.9 separates them.
    *  4. Big5 when the stream walks under the Big5 state machine (lead
    *     0xA1-0xF9, trail 0x40-0x7E ∪ 0xA1-0xFE) AND ≥1 low trail
    *     (0x40-0x7E) occurs. Every Big5 stream also walks as GBK, so
    *     Big5 must be tried first; the low-trail requirement is the
    *     discriminator — GB2312-subset text (the dominant real-world
    *     GBK case) has no low trails at all, while ~half of real Big5
    *     hanzi do.
    *  5. GBK when the stream walks under the GBK state machine
    *     (lead 0x81-0xFE, trail 0x40-0xFE except 0x7F) AND a majority
    *     of pairs have trail ≥ 0xA1 (double-high). Real GB2312-subset
    *     text is dominated by double-high pairs; cp1252 western text
    *     whose accented bytes are each followed by an ASCII letter
    *     (e.g. "Müller für Bücher") walks the GBK machine but never
    *     produces a double-high pair, so the majority rule sends it to
    *     the cp1252 fallback (ADVICE r04).
    *  6. Otherwise None → the cp1252 fallback.
    *
    * Known limits (documented deviation, SURVEY.md §0.1): kana-free
    * all-kanji EUC-JP (no SS2/SS3, <30% rows 0xA4/0xA5) lands on GBK;
    * GBK text written mostly with low-trail extension hanzi (outside
    * GB2312) misdetects as Big5; pathological SJIS text avoiding the
    * 0x81-0x9F rows falls through. Each verdict additionally needs
    * MinEastAsianUnits multi-byte units.
    */
  def detectEastAsian(bytes: Array[Byte]): Option[Charset] = {
    val sjis = sjisUnits(bytes)
    val euc = eucUnits(bytes)
    if (sjis._1 >= MinEastAsianUnits && sjis._2 >= 1 && euc == null)
      return Some(Charset.forName("Shift_JIS"))
    if (euc != null && euc.units >= MinEastAsianUnits) {
      if (euc.ss23 >= 1 || euc.kana * 10 >= euc.units * 3)
        return Some(Charset.forName("EUC-JP"))
      if (euc.ss23 == 0 && euc.hangul * 10 >= euc.units * 9)
        return Some(Charset.forName("EUC-KR"))
    }
    val big5 = big5Pairs(bytes)
    if (big5 != null && big5._1 >= MinEastAsianUnits && big5._2 >= 1)
      return Some(Charset.forName("Big5"))
    val gbk = gbkPairs(bytes)
    if (gbk != null && gbk._1 >= MinEastAsianUnits && gbk._2 * 2 >= gbk._1)
      return Some(Charset.forName("GBK"))
    None
  }

  /** (units, leadRow81to9F) if the stream walks under Shift-JIS —
    * singles 0x00-0x7F, lone kana 0xA1-0xDF, pairs lead 0x81-0x9F /
    * 0xE0-0xFC + trail 0x40-0x7E / 0x80-0xFC; (-1, 0) otherwise.
    */
  private def sjisUnits(bytes: Array[Byte]): (Int, Int) = {
    var i = 0; var units = 0; var distinct = 0
    while (i < bytes.length) {
      val c = bytes(i) & 0xff
      if (c <= 0x7f) i += 1
      else if (c >= 0xa1 && c <= 0xdf) { units += 1; i += 1 } // half-width kana
      else if ((c >= 0x81 && c <= 0x9f) || (c >= 0xe0 && c <= 0xfc)) {
        if (i + 1 >= bytes.length) return (-1, 0)
        val t = bytes(i + 1) & 0xff
        if ((t >= 0x40 && t <= 0x7e) || (t >= 0x80 && t <= 0xfc)) {
          units += 1
          if (c <= 0x9f) distinct += 1
          i += 2
        } else return (-1, 0)
      } else return (-1, 0)
    }
    (units, distinct)
  }

  /** EUC-family walk result: total multi-byte units, Hangul-row pairs
    * (lead 0xB0-0xC8), kana-row units (lead 0xA4/0xA5 pairs + SS2
    * half-width kana), and SS2/SS3 escape units.
    */
  private final case class EucWalk(units: Int, hangul: Int, kana: Int, ss23: Int)

  /** EUC-family walk: singles 0x00-0x7F; pairs lead+trail 0xA1-0xFE;
    * the EUC-JP-only SS2 form 0x8E+[0xA1-0xDF] and SS3 form 0x8F+pair.
    * null if any byte violates the family.
    */
  private def eucUnits(bytes: Array[Byte]): EucWalk = {
    var i = 0; var units = 0; var hangul = 0; var kana = 0; var ss23 = 0
    while (i < bytes.length) {
      val c = bytes(i) & 0xff
      if (c <= 0x7f) i += 1
      else if (c == 0x8e) { // SS2: half-width kana (EUC-JP only)
        if (i + 1 >= bytes.length) return null
        val t = bytes(i + 1) & 0xff
        if (t >= 0xa1 && t <= 0xdf) { units += 1; kana += 1; ss23 += 1; i += 2 }
        else return null
      } else if (c == 0x8f) { // SS3: JIS X 0212 3-byte form (EUC-JP only)
        if (i + 2 >= bytes.length) return null
        val t1 = bytes(i + 1) & 0xff
        val t2 = bytes(i + 2) & 0xff
        if (t1 >= 0xa1 && t1 <= 0xfe && t2 >= 0xa1 && t2 <= 0xfe) {
          units += 1; ss23 += 1; i += 3
        } else return null
      } else if (c >= 0xa1 && c <= 0xfe) {
        if (i + 1 >= bytes.length) return null
        val t = bytes(i + 1) & 0xff
        if (t >= 0xa1 && t <= 0xfe) {
          units += 1
          if (c >= 0xb0 && c <= 0xc8) hangul += 1
          if (c == 0xa4 || c == 0xa5) kana += 1
          i += 2
        } else return null
      } else return null
    }
    EucWalk(units, hangul, kana, ss23)
  }

  /** (pairs, lowTrailPairs) if the stream walks under Big5 (lead
    * 0xA1-0xF9, trail 0x40-0x7E ∪ 0xA1-0xFE); null otherwise.
    */
  private def big5Pairs(bytes: Array[Byte]): (Int, Int) = {
    var i = 0; var pairs = 0; var low = 0
    while (i < bytes.length) {
      val c = bytes(i) & 0xff
      if (c <= 0x7f) i += 1
      else if (c >= 0xa1 && c <= 0xf9) {
        if (i + 1 >= bytes.length) return null
        val t = bytes(i + 1) & 0xff
        if ((t >= 0x40 && t <= 0x7e) || (t >= 0xa1 && t <= 0xfe)) {
          pairs += 1
          if (t <= 0x7e) low += 1
          i += 2
        } else return null
      } else return null
    }
    (pairs, low)
  }

  /** (pairs, doubleHighPairs) if the stream walks under GBK (lead
    * 0x81-0xFE, trail 0x40-0xFE except 0x7F); null otherwise. The
    * double-high count (trail ≥ 0xA1) backs the majority rule that
    * rejects cp1252 accent+ASCII-letter streams (ADVICE r04).
    */
  private def gbkPairs(bytes: Array[Byte]): (Int, Int) = {
    var i = 0; var pairs = 0; var high = 0
    while (i < bytes.length) {
      val c = bytes(i) & 0xff
      if (c <= 0x7f) i += 1
      else if (c >= 0x81 && c <= 0xfe) {
        if (i + 1 >= bytes.length) return null
        val t = bytes(i + 1) & 0xff
        if (t >= 0x40 && t <= 0xfe && t != 0x7f) {
          pairs += 1
          if (t >= 0xa1) high += 1
          i += 2
        } else return null
      } else return null
    }
    (pairs, high)
  }

  // ------------------------------------------------------------- pipeline

  /** clean.py:83-89 — the M14 wrapper. */
  def wrap(url: String, html: String): String = {
    val truncated =
      if (url.length > MaxUrlDisplayLen) url.substring(0, 60) + "…" else url
    "Content extracted from: <a href='" + url + "'>" + truncated +
      "</a><hr>\n" + html
  }

  /** Batch _Clean (clean.py:92-166): returns (finalUrl, innerHtml, note). */
  def cleanInner(url0: String, html: String): (String, String, String) = {
    var url = normalizeUrl(url0)

    val mCache = ReGoogleCachePdf.matcher(url)
    if (mCache.find()) {
      url = mCache.group(1)
      if (!url.contains("http")) url = "http://" + url
    }

    val mDoc = ReGoogleDocId.matcher(url)
    if (mDoc.find())
      return (url, googleDocsTemplate(mDoc.group(1), url), "google-docs")

    if (ReYoutube.matcher(url).find()) {
      val mv = ReYoutubeV.matcher(url)
      if (!mv.find())
        throw new Extract.ExtractException("youtube watch URL without v=")
      return (url, youtubeTemplate(mv.group(1)), "youtube")
    }
    if (RePdf.matcher(url).find()) return (url, pdfTemplate(url), "pdf")
    if (ReImage.matcher(url).find()) return (url, imageTemplate(url), "image")

    // Feed-extraction path requires a live feed fetch — always falls through
    // to content extraction in the batch engine (SURVEY.md §3.1/§7.6) with
    // the reference's note format (clean.py:152-161):
    //   'cleaned content, <RssErrorClass>, <message>'
    val result = Extract.extractFromHtml(url, html)
    val content = Munge.munge(result.soup, result.selected, url)
    (url, content, feedFallthroughNote(url, html))
  }

  private val ReGoogleFeedGuard =
    Pattern.compile("^https?://(docs|spreadsheets)\\.google\\.", FLAGS)

  /** The note the reference's _Clean records when FeedExtractor raises
    * (clean.py:149-161, extract_feed.py:84-126): `'cleaned content, %s, %s'
    * % (e.__class__.__name__, e)`. Batch determination (no network):
    *   - 'reddit.com/' in url → bare RssError (clean.py:151; str(e) = '')
    *   - docs/spreadsheets.google → UnsupportedRssError('skip google docs')
    *   - no feed <link> in the html → NoRssError('no feed link')
    *   - feed link present → the fetch can never happen in the batch
    *     engine → NoRssError('could not download/parse feed') (the exact
    *     error the reference raises when the feed URL yields no parse,
    *     extract_feed.py:99 — the documented batch deviation is that this
    *     branch is taken unconditionally instead of fetching).
    */
  def feedFallthroughNote(url: String, html: String): String = {
    val (cls, msg) =
      if (url.contains("reddit.com/")) ("RssError", "")
      else if (ReGoogleFeedGuard.matcher(url).find())
        ("UnsupportedRssError", "skip google docs")
      else FeedLogic.rssLinkFromHtml(html) match {
        case None    => ("NoRssError", "no feed link")
        case Some(_) => ("NoRssError", "could not download/parse feed")
      }
    s"cleaned content, $cls, $msg"
  }

  /** Full per-row kernel: decode → route → extract → munge → wrap.
    * Total, and the one place a kernel crash becomes a row (SURVEY.md
    * D8 — row failure must never be task failure): an `Exception` → note
    * `error`; a `StackOverflowError` or another `NonFatal` → note
    * `kernel-failure`. StackOverflowError is the ONE fatal converted: an
    * adversarially deep DOM overflows the recursive traversals, the stack
    * is unwound at this catch, and CPython raises the equivalent
    * RecursionError (an Exception its per-entry handler catches) on the
    * same page. OutOfMemoryError/LinkageError still fail the task (ADVICE
    * r01). No retry: the kernel is a pure function of its bytes.
    */
  def clean(url: String, htmlBytes: Array[Byte]): Cleaned = {
    try {
      val html = decodeHtml(htmlBytes)
      val (finalUrl, inner, note) = cleanInner(url, html)
      Cleaned(finalUrl, wrap(finalUrl, inner), note, null)
    } catch {
      case e: Exception =>
        Cleaned(url, null, "error",
          e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      case _: StackOverflowError =>
        Cleaned(url, null, "kernel-failure", "StackOverflowError: dom depth")
      case NonFatal(e) =>
        Cleaned(url, null, "kernel-failure", e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").take(200))
    }
  }
}
