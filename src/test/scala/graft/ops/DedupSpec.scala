package graft.ops

import java.nio.file.Files

import graft.spark.SparkSpec

/** Dedup/similarity operators over a planted corpus: the synthetic
  * `documents` word salad contains no near-dups at sf0.001, so these specs
  * write a temp corpus with known exact-dup / near-dup / distinct structure
  * and assert the operators find exactly the planted pairs.
  */
class DedupSpec extends SparkSpec {

  private lazy val plantedDir: String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-dedup").toString
    val base = (0 until 40)
      .map(i => s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i")
    val doc0 = base.mkString(" ")                       // 240 tokens
    val doc1 = doc0                                     // exact dup of 0
    val doc2 = doc0 + " omega tail"                     // near dup of 0
    val doc3 = (0 until 40)                             // distinct
      .map(i => s"kappa$i lambda$i mu$i nu$i xi$i omicron$i").mkString(" ")
    val doc4 = "tiny doc"                               // < 3 tokens
    val docs = Seq(doc0, doc1, doc2, doc3, doc4).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", s"src$i", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    val rnd = new java.util.Random(7)
    def vec(seed: Array[Float], noise: Float): Array[Float] =
      seed.map(x => x + noise * rnd.nextFloat())
    val v0 = Array.fill(64)(rnd.nextGaussian().toFloat)
    val v3 = Array.fill(64)(rnd.nextGaussian().toFloat)
    val vecs = Seq(
      (0L, v0.toSeq, 0), (1L, vec(v0, 0.01f).toSeq, 0), // near-identical pair
      (2L, vec(v0, 0.05f).toSeq, 0),
      (3L, v3.toSeq, 1), (4L, vec(v3, 0.01f).toSeq, 1))
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("token delimiter: explicit class, \\x0B splits like Java \\s (ADVICE r04)") {
    // The pinned class must keep Java-\s semantics — INCLUDING U+000B
    // vertical tab, which RE2's \s does not match. Three tokens here, so
    // shingles emits the single 3-shingle "a b c"; if \x0B stopped being
    // a delimiter the row would read "a\u000Bb c" instead.
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a\u000Bb c")).toDF("doc_id", "text")
    val sh = Dedup.shingles(df).collect().map(_.getAs[String]("shingle"))
    assert(sh.toSeq == Seq("a b c"))
    // and both engine literals spell out the vertical tab explicitly —
    // neither side leans on its engine's \s default
    assert(Tokenize.SparkWs.contains("x0B") && Tokenize.DuckWs.contains("x0b"))
  }

  test("exact dedup groups the identical pair under min keeper id") {
    val rows = Dedup.exact(spark, plantedDir).collect()
    assert(rows.length == 4) // 5 docs, one exact-dup pair
    val dup = rows.find(_.getAs[Long]("n") == 2).get
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("minhash+LSH finds exact and near dup pairs, not distinct ones") {
    val pairs = Dedup.minhashLsh(spark, plantedDir, th = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("est_jaccard")))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)))
    val exact = pairs.find(p => (p._1, p._2) == ((0L, 1L))).get
    assert(exact._3 == 1.0)
    assert(keys.contains((0L, 2L)) && keys.contains((1L, 2L)))
    assert(keys.forall { case (a, b) => Set(a, b).subsetOf(Set(0L, 1L, 2L)) })
  }

  test("t17 incremental: planted batch finds its corpus dups, corpus never self-pairs") {
    // plantedDir batch slice (doc_id % 4 == 0) = {0, 4}; corpus = {1, 2, 3}.
    // doc1 is doc0's exact dup and doc2 its near dup — both standing
    // corpus, so both must surface as 'corpus' hits of new doc 0; tiny
    // doc4 matches nothing; the (1,2) corpus-corpus pair must NOT appear.
    for (fam <- Seq(HashFamily.Xx64, HashFamily.Md5Mirror)) withConf(HashFamily.ConfKey -> fam.name) {
      val rows = Dedup.minhashIncremental(spark, plantedDir, th = 0.5)
        .collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
          r.getAs[String]("source")))
        .toSet
      assert(rows == Set((0L, 1L, "corpus"), (0L, 2L, "corpus")),
        s"incremental $fam: $rows")
    }
  }

  test("t17 incremental == minhashLsh pairs touching the batch, re-oriented") {
    // On the real synthesized table: restricting the full-corpus LSH pair
    // set to pairs with at least one batch doc and re-orienting each as
    // (new_id, dup_of) must reproduce t17 exactly — est_jaccard included.
    val full = Dedup.minhashLsh(spark, sf001, th = 0.5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("est_jaccard")))
    val expected = full.flatMap { case (a, b, e) =>
      (a % 4 == 0, b % 4 == 0) match {
        case (true, true)  => Some((b, a, e, "batch")) // earlier id wins
        case (true, false) => Some((a, b, e, "corpus"))
        case (false, true) => Some((b, a, e, "corpus"))
        case _             => None
      }
    }.toSet
    val got = Dedup.minhashIncremental(spark, sf001, th = 0.5).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("est_jaccard"), r.getAs[String]("source"))).toSet
    assert(got == expected, s"diff: ${(got diff expected) ++ (expected diff got)}")
    assert(got.nonEmpty, "vacuous equivalence: no pair touches the batch slice")
  }

  test("t19 decontamination: planted benchmark doc flags its dups, not distinct docs") {
    // plantedDir benchmark slice (doc_id % 97 == 0) = {0}; corpus =
    // {1, 2, 3, 4}. doc1 (exact dup) shares ALL of doc0's 238 distinct
    // shingles; doc2 (near dup, 2 appended tokens) shares those plus has
    // 2 novel ones; doc3 (distinct vocab) and doc4 (no common shingle)
    // must not be flagged.
    val rows = Dedup.decontaminate(spark, plantedDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("eval_id"),
        r.getAs[Long]("n_shared"))).toSet
    assert(rows == Set((1L, 0L, 238L), (2L, 0L, 238L)), s"got: $rows")
  }

  test("simhash: identical docs get identical signatures; near dups within hamming 3") {
    val pairs = Dedup.simhashDedup(spark, plantedDir, maxHamming = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("hamming")))
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((0L, 1L)) == 0L)
    assert(m.contains((0L, 2L)))
    assert(!m.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("n-gram jaccard: exact pair = 1.0, near pair high, cross pairs absent") {
    val rows = Dedup.ngramJaccard(spark, plantedDir, th = 0.05)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(rows((0L, 1L)) == 1.0)
    assert(rows((0L, 2L)) > 0.9)
    assert(!rows.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("n-gram jaccard df cap bounds hot-shingle join groups (VERDICT r03 task 3)") {
    // 30 docs that share ONLY the stop-shingle "of the and": uncapped, the
    // self-join meets on it and emits all C(30,2)=435 pairs (a k² group —
    // the 100 TB straggler shape); with the df cap the hot shingle is
    // dropped from the shingle space and no pair survives.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-hotshingle").toString
    val docs = (0 until 30)
      .map(i => (i.toLong, s"of the and u${i}a u${i}b u${i}c u${i}d", "en", s"s$i", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    val uncapped = Dedup.ngramJaccard(spark, dir, th = 0.05, maxDf = 1000).count()
    assert(uncapped == 435L, s"expected the full k² flood without a cap, got $uncapped")
    val capped = Dedup.ngramJaccard(spark, dir, th = 0.05, maxDf = 10)
    assert(capped.count() == 0L, "df cap should remove the only shared shingle")
    // the hot-list anti-join must broadcast (tiny by construction). It is
    // inspected on the pre-materialization relation: ngramJaccard
    // localCheckpoints the capped shingles, which truncates the anti-join
    // out of the downstream executed plan.
    val plan = Dedup.cappedShingles(
        Dedup.shingles(spark.read.parquet(s"$dir/documents.parquet")), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"hot-shingle filter should be a broadcast anti-join:\n$plan")
  }

  test("embedding cosine near-dup ranks the planted near-identical pairs first") {
    val all = Dedup.embeddingCosine(spark, plantedDir, topPairs = 100)
      .collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(all.nonEmpty) // rank-based output is never vacuous
    val top2 = all.take(2)
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // the two noise-0.01 planted twins outrank everything else
    assert(top2 == Set((0L, 1L), (3L, 4L)))
    assert(all.take(2).forall(_.getAs[Double]("cosine") > 0.99))
    // every candidate-verified pair carries the EXACT cosine: it must
    // agree with the brute-force baseline's value for the same pair
    val brute = Dedup.embeddingCosineBruteForce(spark, plantedDir, topPairs = 100)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cosine"))
      .toMap
    for (r <- all) {
      val k = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      assert(brute(k) == r.getAs[Double]("cosine"), s"cosine mismatch for $k")
    }
    // bounded output: topPairs caps the result set
    assert(Dedup.embeddingCosine(spark, plantedDir, topPairs = 3).count() == 3)
  }

  test("t9 candidate recall: LSH∪IVF candidates cover brute-force top-k (ADVICE r03)") {
    // Tripwire for candidate-generation regressions (the r02 redesign
    // traded exact top-k for candidate-verified top-k): 100 random
    // vectors + 20 planted near-identical twins. The brute-force top-20
    // pairs are exactly the planted twins (cosine ≈ 1 vs ~0.4 for random
    // 64-dim pairs), and EVERY one must appear in the LSH∪IVF candidate
    // set. (On a purely random corpus the "top" pairs are weak and
    // bucket-blind — asserting on those would pin noise, not recall.)
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-recall").toString
    val rnd = new java.util.Random(42)
    val base = (0 until 100).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val twins = (0 until 20).map(i =>
      ((100 + i).toLong, base(i)._2.map(x => x + 0.02f * rnd.nextFloat())))
    (base ++ twins).map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val brute = Dedup.embeddingCosineBruteForce(spark, dir, topPairs = 20)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(brute.toSet == (0 until 20).map(i => (i.toLong, (100 + i).toLong)).toSet,
      "planted twins should BE the brute-force top-20")
    val cands = Dedup.embeddingCandidatePairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val missed = brute.filterNot(cands)
    assert(missed.isEmpty,
      s"candidate set misses ${missed.length}/20 planted top pairs: ${missed.take(5).toSeq}")
  }

  test("t9 plan is candidate-verified — no cartesian product (VERDICT r02 task 4)") {
    val p = Dedup.embeddingCosine(spark, plantedDir, topPairs = 100)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian leaked into t9:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join leaked into t9:\n$p")
  }

  test("knn brute force: nearest neighbor of vec 0 is its planted twin") {
    val rows = Similarity.knnBruteForce(spark, plantedDir, numQueries = 3, k = 2)
      .collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.head.getAs[Long]("neighbor_id") == 1L)
    assert(rows.head.getAs[Double]("cosine") > 0.99)
  }

  test("ann lsh co-buckets the near-identical vectors") {
    val rows = Similarity.annLsh(spark, plantedDir, k = 3)
      .collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
    assert(rows.contains((0L, 1L)) && rows.contains((1L, 0L)))
  }

  test("ann ivf: nprobe-2 probing finds the planted twins; cells are bounded") {
    val rows = Similarity.annIvf(spark, plantedDir, k = 3)
      .collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
    assert(rows.contains((0L, 1L)) && rows.contains((1L, 0L)))
    assert(rows.contains((3L, 4L)) && rows.contains((4L, 3L)))
    // deterministic: centroid training is sequential driver-side Lloyd
    val again = Similarity.annIvf(spark, plantedDir, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(again.sorted.sameElements(
      Similarity.annIvf(spark, plantedDir, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted))
  }

  test("int8 quantization: codes span 0..255, reconstruction error < scale/2 per dim") {
    val rows = Similarity.quantizeInt8(spark, plantedDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nDims = r.getAs[Long]("n_dims")
      val mn = r.getAs[Double]("q_min")
      val mx = r.getAs[Double]("q_max")
      val mse = r.getAs[Double]("mse")
      assert(nDims > 0 && mx >= mn)
      // per-dim quantization error is bounded by scale/2, so
      // mse <= (scale/2)^2; scale here from the ROUNDED bounds is within
      // 1e-4 of the true scale — use a slack factor
      val scale = (mx - mn) / 255
      assert(mse >= 0.0 && mse <= scale * scale / 4 * 1.1 + 1e-9,
        s"mse $mse vs bound ${scale * scale / 4}")
    }
    // plan is narrow: no shuffle
    val p = Similarity.quantizeInt8(spark, plantedDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
  }

  test("composite dedup pipeline: exact then near, greedy min-id keeper") {
    val rows = Dedup.dedupPipeline(spark, plantedDir, jaccardTh = 0.8)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), Option(r.get(2)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(rows(0L) == (("kept", None)))
    assert(rows(1L) == (("exact-dup", Some(0L))))
    assert(rows(2L) == (("near-dup", Some(0L))))
    assert(rows(3L) == (("kept", None)))
    assert(rows(4L) == (("kept", None)))
    assert(rows.size == 5)
  }

  test("hash families: xx64 (production) and md5 (Verify) find identical planted verdicts") {
    // VERDICT r04 task 1: the session's family must not change SEMANTICS —
    // both the codegen'd xxhash64 default and the DuckDB-mirrorable
    // md5-slice family must find the same dup/near-dup structure on the
    // planted corpus, across all three hash-touching operators.
    for (fam <- Seq(HashFamily.Xx64, HashFamily.Md5Mirror)) withConf(HashFamily.ConfKey -> fam.name) {
      val lsh = Dedup.minhashLsh(spark, plantedDir, th = 0.5)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(lsh == Set((0L, 1L), (0L, 2L), (1L, 2L)), s"minhash $fam: $lsh")
      // exact dup pair estimates 1.0 under ANY family (identical sigs)
      val est = Dedup.minhashLsh(spark, plantedDir, th = 0.5)
        .collect().find(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 1L)
        .get.getAs[Double]("est_jaccard")
      assert(est == 1.0, s"$fam exact-pair estimate: $est")
      val sh = Dedup.simhashDedup(spark, plantedDir, maxHamming = 3)
        .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Long]("hamming")))
      assert(sh.exists(p => p._1 == ((0L, 1L)) && p._2 == 0L), s"simhash $fam: ${sh.toSeq}")
      assert(!sh.exists(p => p._1._1 == 3L || p._1._2 == 3L), s"simhash $fam paired the distinct doc")
      val pipe = Dedup.dedupPipeline(spark, plantedDir)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
      assert(pipe == Map(0L -> "kept", 1L -> "exact-dup", 2L -> "near-dup",
        3L -> "kept", 4L -> "kept"), s"pipeline $fam: $pipe")
    }
  }

  test("hash family conf: a name other than xx64 or md5 is rejected") {
    for (bad <- Seq("MD5", "xxhash", "")) withConf(HashFamily.ConfKey -> bad) {
      val e = intercept[IllegalArgumentException](HashFamily.of(spark))
      assert(e.getMessage.contains("'xx64'") && e.getMessage.contains("'md5'") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
      // an operator that emits hash SQL fails too instead of hashing with xx64
      intercept[IllegalArgumentException](Dedup.minhashLsh(spark, plantedDir))
    }
  }

  test("hash family conf is per session: md5 in a new session, xx64 in the default one") {
    assert(spark.conf.getOption(HashFamily.ConfKey).isEmpty)
    val md5Session = spark.newSession()
    md5Session.conf.set(HashFamily.ConfKey, HashFamily.Md5Mirror.name)
    def shards(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // both plans are built before either runs, so a leak in either
    // direction would show in the other's rows
    val viaMd5 = Export.shardAssign(md5Session, sf001)
    val viaDefault = Export.shardAssign(spark, sf001)
    def expected(fam: HashFamily) = shards(spark.read.parquet(s"$sf001/documents.parquet")
      .selectExpr("doc_id",
        s"CAST(${HashFamily.saltedDocIdSql(fam, "shard|")} % ${Export.DefaultShards} AS INT)"))
    val (md5Rows, xxRows) = (shards(viaMd5), shards(viaDefault))
    assert(md5Rows == expected(HashFamily.Md5Mirror))
    assert(xxRows == expected(HashFamily.Xx64))
    assert(md5Rows != xxRows, "the two families must assign different shards")
    assert(spark.conf.getOption(HashFamily.ConfKey).isEmpty)
  }

  test("md5 family SQL path is bit-identical to the md5Hash60 reference impl") {
    // The Md5Mirror family moved t7's token hashing from a JVM
    // MessageDigest loop into SQL (conv(substring(md5(t), 1, 15), 16, 10));
    // pin that the two produce the same 60-bit values, so the DuckDB
    // oracle ('0x' || substr(md5(t), 1, 15))::BIGINT stays in sync.
    val s = spark
    import s.implicits._
    val tokens = Seq("alpha", "Bücher", "日本語", "x", "", "of the and",
      "1234567890", "ünïcödé-tökèn")
    val sql = tokens.toDF("t")
      .selectExpr(HashFamily.Md5Mirror.hash60Sql("t") + " AS h")
      .collect().map(_.getLong(0))
    val digest = java.security.MessageDigest.getInstance("MD5")
    val ref = tokens.map(Dedup.md5Hash60(digest, _))
    assert(sql.toSeq == ref, s"sql=${sql.toSeq} ref=$ref")
    // and the xx64 family matches Spark's own xxhash64 masked to 60 bits
    val xx = tokens.toDF("t")
      .selectExpr(HashFamily.Xx64.hash60Sql("t") + " AS h", "xxhash64(t) & 1152921504606846975 AS e")
      .collect()
    assert(xx.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("media features: deterministic decode (real png/wav paths) with stable schema") {
    val rows = Multimodal.mediaFeatures(spark, sf001).collect()
    assert(rows.length == 500)
    assert(rows.forall(_.getAs[Long]("feat_dim") == Multimodal.FeatDim.toLong))
    assert(rows.forall(_.getAs[Long]("n_bytes") > 0))
    val again = Multimodal.mediaFeatures(spark, sf001).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("staging mode (graft.staging.dir): t13/t6 identical to localCheckpoint mode") {
    // VERDICT r05 task 4: localCheckpoint blocks are executor-local and
    // not fault-tolerant; the durable write-to-parquet staging path must
    // answer identically so real clusters can run it.
    def t13() = Dedup.dedupPipeline(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    def t6() = Dedup.minhashLsh(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (base13, base6) = (t13(), t6())
    val dir = java.nio.file.Files.createTempDirectory("graft-staging").toString
    withConf(Staging.ConfKey -> dir) {
      assert(t13() == base13)
      assert(t6() == base6)
      val staged = new java.io.File(dir).listFiles().map(_.getName)
      assert(staged.exists(_.startsWith("t13_survivors")), staged.mkString(","))
      assert(staged.exists(_.startsWith("t6_signatures")), staged.mkString(","))
    }
  }
}
