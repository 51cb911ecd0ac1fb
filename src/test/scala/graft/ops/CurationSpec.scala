package graft.ops

import java.nio.file.Files

import graft.spark.SparkSpec

/** The t20 funnel over a planted corpus (every status reachable,
  * first-gate-wins pinned) and a component-consistency check on the real
  * synthesized table.
  */
class CurationSpec extends SparkSpec {

  private lazy val plantedDir: String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-curation").toString
    // ≥15 words, en stopwords throughout → passes lang + quality
    val base = "the alpha of beta and gamma to delta in epsilon " +
      "the zeta of eta and theta to iota in kappa the lambda of mu"
    val docs = Seq(
      // doc_id, text, lang (the mixing stratum; 'de' keeps rate 1.0 so
      // statuses below are deterministic across hash families)
      (0L, base, "de"),                       // kept
      (1L, base, "de"),                       // exact-dup of 0
      (2L, base + " omega tail", "de"),       // near-dup of 0 (J = 18/20 on its shingles)
      (3L, "zzz qqq www rrr sss ttt uuu vvv", "de"), // no stopwords → 'und' → lang
      (4L, "the of and", "de"),               // en-pred but 3 words → quality
      // long en doc with NO shingle in common with base (every trigram
      // has a distinct content word) → passes lang+quality+dedup; its
      // 'en' stratum (rate 0.30) makes it bucket-dependent
      (5L, "the panda of quokka and lemur to gecko in otter " +
        "the walrus of heron and crane to raven in finch the osprey of stork", "en")
    ).map { case (i, t, l) => (i, t, l, s"src$i", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("planted funnel: every gate fires, first-gate-wins, dup_of only on dups") {
    for (fam <- Seq(HashFamily.Xx64, HashFamily.Md5Mirror)) withConf(HashFamily.ConfKey -> fam.name) {
      val rows = Curation.funnel(spark, plantedDir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("status"), Option(r.get(2)).map(_.asInstanceOf[Long]))))
        .toMap
      // doc5 passes every gate except (possibly) sampling — its stratum
      // is 'en' (rate 0.30), so the expected side of the threshold comes
      // from the family's own bucket value
      val bucket5 = spark.sql(
        s"SELECT ${Sampling.bucketSql(spark)} AS b FROM (SELECT CAST(5 AS BIGINT) AS doc_id)")
        .head().getLong(0)
      val want5 = if (bucket5 < 300000L) "kept" else "sampled-out"
      assert(rows == Map(
        0L -> (("kept", None)),
        1L -> (("exact-dup", Some(0L))),
        2L -> (("near-dup", Some(0L))),
        3L -> (("lang", None)),
        4L -> (("quality", None)),
        5L -> ((want5, None))), s"$fam: $rows (bucket5=$bucket5)")
    }
  }

  test("funnel statuses are consistent with the standalone components (sf0.001)") {
    val status = Curation.funnel(spark, sf001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    val pred = TextOps.langId(spark, sf001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    val qual = TextOps.qualityScore(spark, sf001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Double]("stopword_ratio")))).toMap
    val dedup = Dedup.dedupPipeline(spark, sf001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    val sampled = Sampling.stratifiedSample(spark, sf001).collect()
      .map(_.getLong(0)).toSet
    assert(status.keySet == pred.keySet)
    for ((id, st) <- status) {
      val (nw, ratio) = qual(id)
      val expected =
        if (pred(id) != "en") "lang"
        else if (ratio < Curation.MinStopwordRatio || nw < Curation.MinWords) "quality"
        else if (dedup(id) != "kept") dedup(id)
        else if (!sampled.contains(id)) "sampled-out"
        else "kept"
      assert(st == expected, s"doc $id: funnel=$st components=$expected")
    }
    // the funnel is non-degenerate on the real corpus
    assert(status.values.toSet.size >= 4, s"statuses: ${status.values.toSet}")
  }

  test("persisted-verdict funnel == inline recompute funnel (production shape identity)") {
    // VERDICT r05 task 2: the driver query persists the dedup verdicts
    // and joins the read-back; this pins that the production shape and
    // the self-contained recompute shape answer identically.
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    assert(rows(Curation.funnel(spark, sf001)) ==
      rows(Curation.funnelInline(spark, sf001)))
  }

  test("funnel honors graft.staging.dir for the verdict table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-staging").toString
    withConf(Staging.ConfKey -> dir) {
      val got = Curation.funnel(spark, sf001).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val base = Curation.funnelInline(spark, sf001).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == base)
      assert(new java.io.File(dir).listFiles()
        .exists(_.getName.startsWith("t20_dedup_verdicts")))
    }
  }
}
