package graft.spark

import graft.kernel.{Clean, FeedLogic}

/** Three-way agreement for the URL operators (U1/U2/U3/U9/U10): the
  * kernel's per-row Java regexes, the Catalyst column expressions in
  * Relational.u1UrlOps, and (via the driver's DuckDB compare) the RE2
  * oracle must produce identical strings for every synthesized URL —
  * including the reference's quirks (the '?'-eating utm strip, the bare
  * '?&&' residue, fragment-before-reddit ordering).
  */
class UrlOpsSpec extends SparkSpec {

  test("kernel regexes == Catalyst columns for every URL slice") {
    val rows = Relational.u1UrlOps(spark, sf001).collect()
    assert(rows.length >= 500)
    // all five slices present
    assert(rows.map(_.getAs[Long]("doc_id") % 5).distinct.length == 5)
    rows.foreach { r =>
      val url = r.getAs[String]("url")
      assert(r.getAs[String]("clean_url") == Clean.cleanUrl(url),
        s"U1 clean_url mismatch for $url")
      val norm = Clean.normalizeUrl(url)
      assert(r.getAs[String]("norm_url") == norm,
        s"U2/U3 norm_url mismatch for $url")
      assert(r.getAs[String]("at_url") == FeedLogic.stripAtParam(url),
        s"U9 at_url mismatch for $url")
      // U10 mirrors Clean.wrap's truncation of the final url
      val display = r.getAs[String]("display_url")
      val expected =
        if (norm.length > Clean.MaxUrlDisplayLen) norm.substring(0, 60) + "…"
        else norm
      assert(display == expected, s"U10 display mismatch for $url")
      assert(Clean.wrap(norm, "").contains(s"'>$display</a>"),
        s"display_url must be exactly what Clean.wrap renders for $url")
    }
    // the quirky slices actually exercised their quirks
    assert(rows.exists(r => r.getAs[String]("clean_url").contains("?&&")))
    assert(rows.exists(r => r.getAs[String]("norm_url").contains("old.reddit.com")))
    assert(rows.exists(r => r.getAs[String]("norm_url").contains("?_escaped_fragment_=")))
    assert(rows.exists(r => r.getAs[String]("display_url").endsWith("…")))
    assert(rows.exists(r => r.getAs[String]("at_url").contains(".example/f&x=1")))
  }

  test("d1 entry key: Relational.entryKeyCol == kernel FeedLogic.entryId") {
    val s = spark
    import s.implicits._
    val srcs = Seq("abc", "http://feed.test/a?q=1&b=2", "17|F",
      "Bücher|日本語|ünïcödé-tökèn", "")
    val got = srcs.toDF("src")
      .select(org.apache.spark.sql.functions.col("src"),
        Relational.entryKeyCol(org.apache.spark.sql.functions.col("src")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.keySet == srcs.toSet)
    srcs.foreach(src =>
      assert(got(src) == FeedLogic.entryId(src, null), s"D1 key mismatch for '$src'"))
  }

  test("u5/u6/u8 templates: SQL replace chains == kernel template emitters") {
    val rows = Relational.u5Templates(spark, sf001).collect()
    assert(rows.length >= 500)
    rows.foreach { r =>
      val docid = r.getAs[String]("docid")
      val vid = r.getAs[String]("vid")
      val imgUrl = r.getAs[String]("img_url")
      val pageUrl = r.getAs[String]("page_url")
      assert(r.getAs[String]("gdocs_html") == Clean.googleDocsTemplate(docid, pageUrl),
        s"U5 mismatch for $docid")
      assert(r.getAs[String]("youtube_html") == Clean.youtubeTemplate(vid),
        s"U6 mismatch for $vid")
      assert(r.getAs[String]("image_html") == Clean.imageTemplate(imgUrl),
        s"U8 mismatch for $imgUrl")
    }
    // both truncation branches and every escapable char exercised
    assert(rows.exists(_.getAs[String]("image_html").contains("…")))
    assert(rows.exists(r => !r.getAs[String]("image_html").contains("…")))
    assert(rows.forall(r => Seq("&amp;", "&lt;", "&gt;", "&quot;", "&#x27;")
      .forall(r.getAs[String]("gdocs_html").contains)))
  }

  test("u7 pdf template: SQL quote chain == Py.quote, html == kernel pdfTemplate") {
    val rows = Relational.u7Pdf(spark, sf001).collect()
    assert(rows.length >= 500)
    rows.foreach { r =>
      val url = r.getAs[String]("pdf_url")
      assert(r.getAs[String]("pdf_enc") == graft.kernel.Py.quote(url),
        s"U7 quote mismatch for $url")
      assert(r.getAs[String]("pdf_html") == Clean.pdfTemplate(url),
        s"U7 template mismatch for $url")
      // the synthesized urls actually take the pdf route end-to-end
      val (routedUrl, html, note) = Clean.cleanInner(url, "")
      assert(note == "pdf" && routedUrl == url &&
        html == r.getAs[String]("pdf_html"),
        s"U7 route mismatch for $url")
    }
    // both routing-regex branches exercised: bare .pdf$ and .pdf?query
    assert(rows.exists(_.getAs[String]("pdf_url").endsWith(".pdf")))
    assert(rows.exists(_.getAs[String]("pdf_url").contains(".pdf?")))
    // every chained quote target appears in some url (chain fully exercised)
    for (ch <- ": ()&=,?'")
      assert(rows.exists(_.getAs[String]("pdf_url").contains(ch.toString)),
        s"quote target '$ch' never synthesized")
  }

  test("f4 content choice: array HOF CASE == kernel feedEntryContent per slice") {
    val rows = Relational.f4ContentChoice(spark, sf001).collect()
    assert(rows.length >= 500)
    rows.foreach { r =>
      val docId = r.getAs[Long]("doc_id")
      val contents: Seq[(String, String)] = (docId % 4) match {
        case 0 => Seq(("text/plain", s"plain$docId"))
        case 1 => Seq(("text/plain", "p1"), ("text/html", s"html$docId"))
        case 2 => Seq(("text/plain", "p2"), ("application/xhtml+xml", "x2"))
        case _ => Seq.empty
      }
      val sd = if (docId % 4 == 2) s"sd$docId" else null
      val sum = if (docId % 4 == 3) s"sum$docId" else null
      assert(r.getAs[String]("chosen") ==
        FeedLogic.feedEntryContent(contents, sd, sum),
        s"F4 mismatch for doc $docId")
    }
    // every branch fired: single, html-pick, fall-through-to-summary_detail, summary
    val got = rows.map(r => (r.getAs[Long]("doc_id") % 4, r.getAs[String]("chosen")))
    assert(got.exists { case (m, v) => m == 0 && v.startsWith("plain") })
    assert(got.exists { case (m, v) => m == 1 && v.startsWith("html") })
    assert(got.exists { case (m, v) => m == 2 && v.startsWith("sd") })
    assert(got.exists { case (m, v) => m == 3 && v.startsWith("sum") })
  }

  test("f3 entry match: relational argmin over (phase, idx) == kernel findEntry") {
    val rows = Relational.f3EntryMatch(spark, sf001).collect()
    assert(rows.length >= 500)
    rows.foreach { r =>
      val docId = r.getAs[Long]("doc_id")
      val base = s"http://feed$docId.test"
      val entries = Seq(
        (s"$base/a?q=1", null: String),
        (s"$base/b", s"$base/orig"),
        (s"$base/c?x=2", null: String))
      val url = (docId % 5) match {
        case 0 => s"$base/a?q=1"
        case 1 => s"$base/nope"
        case 2 => s"$base/a?q=9"
        case 3 => s"$base/c"
        case _ => s"$base/zz"
      }
      val finalUrl = if (docId % 5 == 1) s"$base/orig" else url
      val expected = FeedLogic.findEntry(entries, url, finalUrl).map(_.toLong)
      val got = Option(r.get(1)).map(_.asInstanceOf[Long])
      assert(got == expected, s"doc $docId: got $got, kernel says $expected")
    }
    // every phase slice resolves as designed (incl. the NULL no-match)
    def m(k: Long) = rows.filter(_.getAs[Long]("doc_id") % 5 == k)
      .map(r => Option(r.get(1)).map(_.asInstanceOf[Long])).distinct.toSeq
    assert(m(0) == Seq(Some(0L))) // phase 1: url exact
    assert(m(1) == Seq(Some(1L))) // phase 2: finalUrl vs origlink
    assert(m(2) == Seq(Some(0L))) // phase 3: query-trimmed url
    assert(m(3) == Seq(Some(2L))) // phase 3 via trimmed entry link
    assert(m(4) == Seq(None))     // no match -> NULL
  }
}
