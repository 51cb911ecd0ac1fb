package graft.spark

import graft.kernel.Clean

/** SQL surface of the kernel: extract_readable must agree byte-for-byte
  * with the kernel and with the mapPartitions path.
  */
class ExtractExpressionSpec extends SparkSpec {

  test("extract_readable via SQL matches the kernel byte-identically") {
    ExtractReadable.register(spark)
    PagesGen.asDataFrame(spark, sf001).limit(40).createOrReplaceTempView("pages_v")
    val rows = spark.sql(
      """SELECT url, extract_readable(url, html) AS r FROM pages_v""")
      .selectExpr("url", "r.content", "r.note", "r.error")
      .collect()
    assert(rows.length == 40)
    val byUrl = PagesGen.fromDocuments(spark, sf001).collect()
      .map(p => p.url -> p.html).toMap
    rows.foreach { r =>
      val k = Clean.clean(r.getString(0), byUrl(r.getString(0)))
      assert(r.getString(1) == k.content)
      assert(r.getString(2) == k.note)
      assert(r.getString(3) == k.error)
    }
  }

  test("extract_readable rejects wrong argument types at analysis time") {
    ExtractReadable.register(spark)
    PagesGen.asDataFrame(spark, sf001).limit(1).createOrReplaceTempView("pages_v2")
    val e = intercept[Exception] {
      spark.sql("SELECT extract_readable(html, html) FROM pages_v2").collect()
    }
    assert(e.getMessage.toLowerCase.contains("extract_readable") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("extract_readable is null-safe") {
    ExtractReadable.register(spark)
    val r = spark.sql("SELECT extract_readable(CAST(NULL AS STRING), CAST(NULL AS BINARY)) AS r")
      .collect()(0)
    assert(r.get(0) == null)
  }

  test("extract_readable turns pathological nesting into an error struct") {
    ExtractReadable.register(spark)
    val s = spark
    import s.implicits._
    val deep = ("<div>" * 100000) + "x" + ("</div>" * 100000)
    val row = Seq(("http://deep.example/p", deep.getBytes("UTF-8")))
      .toDF("url", "html")
      .selectExpr("extract_readable(url, html) AS r")
      .selectExpr("r.note AS note", "r.error AS error")
      .collect()(0)
    assert(row.getAs[String]("error") != null)
    assert(row.getAs[String]("note") == "kernel-failure")
  }

  test("extract_readable applies the typed path's size cap") {
    ExtractReadable.register(spark)
    val s = spark
    import s.implicits._
    val url = "http://giant.example/p"
    val html = Array.fill[Byte](ExtractJob.DefaultMaxHtmlBytes + 1)('a'.toByte)
    val r = Seq((url, html)).toDF("url", "html")
      .selectExpr("extract_readable(url, html) AS r")
      .selectExpr("r.content", "r.note", "r.error")
      .collect()(0)
    val k = ExtractJob.extractOne(url, html, 0, ExtractJob.DefaultMaxHtmlBytes)
    assert(k.note == "size-cap")
    assert((r.getString(0), r.getString(1), r.getString(2)) == (k.content, k.note, k.error))
  }
}
