package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import graft.kernel._

/** Single-layer view of `graft.kernel`: what one `Clean.clean` costs and
  * how that cost splits across its phases, measured by calling the
  * kernel's public functions directly on the workload's own pages.
  *
  * Each phase is the difference between two nested prefixes of the
  * pipeline, so no phase needs a hook inside the kernel. Routing and the
  * wrapper are timed on their own and not taken as a remainder, so the
  * phase sum can be checked against the full call.
  */
object KernelProfile {

  val Phases = Seq("decode", "parse", "patterns", "select", "munge", "serialize",
    "feednote", "residual")

  final case class Result(cleanUs: Double, shares: Map[String, Double], phaseSumErr: Double)

  private final case class P(url: String, bytes: Array[Byte], html: String,
      route: Int, content: String)
  // route: 0 = URL template (no extraction), 1 = special extractor, 2 = generic
  private val Template = 0
  private val Generic = 2

  // The corpus' only special-extractor route is `.txt`; reddit, gfycat,
  // xkcd and groups urls never occur in it.
  private val ReTxt = java.util.regex.Pattern.compile("\\.txt(\\?|$)",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  private def prepare(pages: Seq[(String, Array[Byte])]): Array[P] = pages.map { case (u, b) =>
    val c = Clean.clean(u, b)
    val route =
      if (!c.note.startsWith("cleaned content")) Template
      else if (ReTxt.matcher(Clean.normalizeUrl(u)).find()) 1
      else Generic
    val html = Clean.decodeHtml(b)
    val content = if (route == Template) null else Clean.cleanInner(u, html)._2
    P(u, b, html, route, content)
  }.toArray

  /** Munge.munge without its final serialize. */
  private def mungePasses(sel: Extract.Selected, url: String): Unit = sel match {
    case Extract.SelNode(t0: Elem) =>
      var tag = t0
      Munge.mungeStripSiteSpecific(tag, url)
      Munge.mungeStripBrsAfterPs(tag)
      Munge.mungeStripRules(tag)
      Munge.mungeStripEmpties(tag)
      tag = Munge.mungeStripRootContainers(tag)
      Munge.mungeStripLowScored(tag)
      Munge.mungeStripAttrs(tag)
      Munge.fixUrls(tag, url)
      Munge.mungeImages(tag)
      Munge.mungeHeaderDowngrade(tag)
      Munge.mungeNoscript(tag)
    case _ =>
  }

  // Keeps results alive without touching them (a String hashCode would
  // rescan the whole page and bias every phase that returns one).
  private var sink = 0L
  private def use(x: AnyRef): Unit = if (x != null) sink += 1

  /** Nested prefixes of the pipeline; level k does everything level k-1
    * does plus one phase.
    */
  private val levels: Seq[P => Unit] = Seq(
    p => use(Clean.decodeHtml(p.bytes)),
    p => {
      use(Clean.decodeHtml(p.bytes))
      if (p.route == Generic) use(HtmlParser.parse(Extract.preCleanHtml(p.html)))
    },
    p => {
      use(Clean.decodeHtml(p.bytes))
      if (p.route == Generic) {
        val soup = HtmlParser.parse(Extract.preCleanHtml(p.html))
        Extract.commentStrip(soup)
        Patterns.process(soup, p.url)
      }
    },
    p => {
      use(Clean.decodeHtml(p.bytes))
      if (p.route != Template) use(Extract.extractFromHtml(p.url, p.html))
    },
    p => {
      use(Clean.decodeHtml(p.bytes))
      if (p.route != Template) {
        val r = Extract.extractFromHtml(p.url, p.html)
        mungePasses(r.selected, p.url)
      }
    },
    p => {
      use(Clean.decodeHtml(p.bytes))
      if (p.route != Template) {
        val r = Extract.extractFromHtml(p.url, p.html)
        use(Munge.munge(r.soup, r.selected, p.url))
      }
    },
    p => {
      use(Clean.decodeHtml(p.bytes))
      if (p.route != Template) {
        val r = Extract.extractFromHtml(p.url, p.html)
        use(Munge.munge(r.soup, r.selected, p.url))
        use(Clean.feedFallthroughNote(p.url, p.html))
      }
    })

  /** Routing (url normalisation, template rendering) and the wrapper. */
  private val residual: P => Unit = p =>
    if (p.route == Template) {
      val (u, inner, _) = Clean.cleanInner(p.url, p.html)
      use(Clean.wrap(u, inner))
    } else use(Clean.wrap(Clean.normalizeUrl(p.url), p.content))

  private val full: P => Unit = p => use(Clean.clean(p.url, p.bytes))

  /** One round: every function on every page, the functions in a
    * rotating order so cache misses land on all of them alike. Returns
    * microseconds by function and page.
    */
  private def round(ps: Array[P], fns: IndexedSeq[P => Unit], shift: Int): Array[Array[Double]] = {
    val t = Array.ofDim[Double](fns.size, ps.length)
    var i = 0
    while (i < ps.length) {
      var j = 0
      while (j < fns.size) {
        val k = (i + j + shift) % fns.size
        val t0 = System.nanoTime()
        fns(k)(ps(i))
        t(k)(i) = (System.nanoTime() - t0) / 1e3
        j += 1
      }
      i += 1
    }
    t
  }

  /** Phase shares of `Clean.clean` over `pages` on this thread. Each
    * (function, page) call keeps its median over the rounds, so a
    * collector pause that lands on one call in one round drops out.
    */
  def phases(pages: Seq[(String, Array[Byte])], minSeconds: Double): Result = {
    val ps = prepare(pages)
    val fns = (levels ++ Seq(residual, full)).toIndexedSeq
    round(ps, fns, 0)
    val rounds = Seq.newBuilder[Array[Array[Double]]]
    val t0 = System.nanoTime()
    var n = 0
    while (n < 5 || (System.nanoTime() - t0) / 1e9 < minSeconds) {
      n += 1
      rounds += round(ps, fns, n)
    }
    val rs = rounds.result()
    val med = fns.indices.map(k => ps.indices.map(i => Stats.median(rs.map(_(k)(i)))).sum)
    val l = med.take(levels.size)
    val (res, whole) = (med(levels.size), med(levels.size + 1))
    val parts = Seq(l(0)) ++ (1 until l.size).map(k => l(k) - l(k - 1)) :+ res
    Result(
      cleanUs = whole / ps.length,
      shares = Phases.zip(parts.map(_ / whole)).toMap,
      phaseSumErr = (parts.sum - whole) / whole)
  }

  /** `Clean.clean` throughput on `threads` plain JVM threads, no Spark. */
  def threadsDocsPerS(pages: Seq[(String, Array[Byte])], threads: Int, minSeconds: Double): Double = {
    val ps = pages.toArray
    def leg(n: Int): Double = {
      val next = new AtomicInteger(0)
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { _ =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (i < n) {
            val (u, b) = ps(i % ps.length)
            use(Clean.clean(u, b))
            i = next.getAndIncrement()
          }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      n / ((System.nanoTime() - t0) / 1e9)
    }
    // legs of about half a second each, sized from a warm-up leg
    val n = math.max(ps.length, (leg(ps.length) * 0.5).toInt)
    val rates = Seq.newBuilder[Double]
    val t0 = System.nanoTime()
    var k = 0
    while (k < 3 || (System.nanoTime() - t0) / 1e9 < minSeconds) {
      rates += leg(n)
      k += 1
    }
    Stats.median(rates.result())
  }
}
