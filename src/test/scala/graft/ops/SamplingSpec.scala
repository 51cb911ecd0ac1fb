package graft.ops

import graft.spark.SparkSpec

/** Stratified sampling semantics. The kept set is hash-FAMILY-dependent
  * (the hash value IS the sample), so the md5 family is pinned bit-exactly
  * against a JVM reference computation and the xx64 production family is
  * checked for determinism and statistical rates.
  */
class SamplingSpec extends SparkSpec {

  private def langs(sfDir: String): Map[Long, String] =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def rate(lang: String): Long =
    Sampling.Rates.toMap.getOrElse(lang, Sampling.BucketSpace)

  test("md5 family kept set is bit-exact vs a JVM md5 reference") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Long = {
      md.reset()
      val d = md.digest(s"smpl|$id".getBytes("UTF-8"))
      // first 8 hex chars = bytes 0..3, as in HashFamily.Md5Mirror.base31
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (v & 0x7FFFFFFFL) % Sampling.BucketSpace
    }
    val expected = langs(sf001).collect {
      case (id, l) if bucket(id) < rate(l) => (id, l, bucket(id))
    }.toSet
    val got = withConf(HashFamily.ConfKey -> HashFamily.Md5Mirror.name) {
      Sampling.stratifiedSample(spark, sf001).collect()
    }.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected,
      s"diff: ${(got diff expected) ++ (expected diff got)}")
    assert(got.nonEmpty && got.size < langs(sf001).size)
  }

  // ---- t33 temperature mixing ----

  /** JVM recompute of the exact rate math: perfect mirrors of both the
    * Spark fragment and the DuckDB oracle (floor(sqrt·1e6) weight, then
    * pure integer arithmetic).
    */
  private def ratesByHand(counts: Map[String, Long]): Map[String, Long] = {
    val w = counts.view.mapValues(n =>
      math.floor(math.sqrt(n.toDouble) * Sampling.BucketSpace).toLong).toMap
    val s = w.values.map(BigInt(_)).sum
    val b = BigInt(counts.values.sum / 2)
    counts.map { case (l, n) =>
      // BigInt like the operator's DECIMAL(38,0) lane — the products
      // pass int64 already at ~1e5 docs
      l -> (BigInt(Sampling.BucketSpace)
        .min(BigInt(w(l)) * b * Sampling.BucketSpace / (s * n))).toLong
    }
  }

  test("t33: planted skewed corpus — exact integer rates incl. the keep-all cap") {
    val sess = spark
    import sess.implicits._
    // counts 64/16/4/1 are perfect squares of the weight math:
    // w = 8e6/4e6/2e6/1e6, S = 15e6, B = 42 -> rates 350000 / 700000 /
    // cap / cap (C and D's alpha-shares exceed their sizes)
    val planted = (
      (1 to 64).map(i => (i.toLong, "A")) ++
        (101 to 116).map(i => (i.toLong, "B")) ++
        (201 to 204).map(i => (i.toLong, "C")) ++
        Seq((301L, "D"))).toDF("doc_id", "lang")
    val rates = Sampling.mixRates(planted).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates == Map("A" -> 350000L, "B" -> 700000L,
      "C" -> 1000000L, "D" -> 1000000L))
    assert(rates == ratesByHand(Map("A" -> 64L, "B" -> 16L, "C" -> 4L, "D" -> 1L)))
    // capped languages keep every document
    val kept = withConf(HashFamily.ConfKey -> HashFamily.Xx64.name) {
      Sampling.temperatureMixOn(planted).collect()
    }.map(r => (r.getLong(0), r.getString(1))).toSet
    assert((201 to 204).forall(i => kept((i.toLong, "C"))) && kept((301L, "D")))
    assert(kept.count(_._2 == "A") < 64, "head language not downsampled")
  }

  test("t33: rate math survives the >int64 product regime (~1e5 docs)") {
    // w*b*1e6 ~= sqrt(n)*N*5e11 passes int64 at N ~= 1e5: two 50k-doc
    // languages put the numerator at 1.1e19. The DECIMAL(38,0) lane must
    // neither throw (ANSI) nor wrap; by symmetry both rates are exactly
    // half the bucket space.
    import org.apache.spark.sql.functions._
    val big = spark.range(100000).select(
      col("id").as("doc_id"),
      when(col("id") < 50000, "A").otherwise("B").as("lang"))
    val rates = Sampling.mixRates(big).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates == Map("A" -> 500000L, "B" -> 500000L), s"got $rates")
    assert(rates == ratesByHand(Map("A" -> 50000L, "B" -> 50000L)))
  }

  test("t33: md5 family output bit-exact vs JVM reference (buckets AND rates)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Long = {
      md.reset()
      val d = md.digest(s"mix|$id".getBytes("UTF-8"))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (v & 0x7FFFFFFFL) % Sampling.BucketSpace
    }
    val all = langs(sf001)
    val rates = ratesByHand(
      all.groupBy(_._2).view.mapValues(_.size.toLong).toMap)
    val expected = all.collect {
      case (id, l) if bucket(id) < rates(l) => (id, l, bucket(id), rates(l))
    }.toSet
    val got = withConf(HashFamily.ConfKey -> HashFamily.Md5Mirror.name) {
      Sampling.temperatureMix(spark, sf001).collect()
    }.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"diff: ${(got diff expected) ++ (expected diff got)}")
    assert(got.nonEmpty && got.size < all.size)
  }

  test("t33: xx64 real data — deterministic, head-downweighted, near-budget") {
    val all = langs(sf001)
    def run(): Set[(Long, String, Long, Long)] =
      withConf(HashFamily.ConfKey -> HashFamily.Xx64.name) {
        Sampling.temperatureMix(spark, sf001).collect()
      }.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val k1 = run()
    assert(k1 == run(), "mix not deterministic across runs")
    // alpha < 1: a strictly larger language never gets a higher rate
    val n = all.groupBy(_._2).view.mapValues(_.size).toMap
    val rate = k1.groupBy(_._2).map { case (l, rs) => l -> rs.head._4 }
    for (a <- rate.keys; b <- rate.keys if n(a) > n(b))
      assert(rate(a) <= rate(b), s"$a (n=${n(a)}) out-rates $b (n=${n(b)})")
    // overall kept mass lands near the half-corpus budget
    val frac = k1.size.toDouble / all.size
    assert(math.abs(frac - 0.5) < 0.15, s"kept fraction $frac far from 0.5")
  }

  test("xx64 family: deterministic, exact on rate-1.0 strata, ±0.12 on sampled ones") {
    val all = langs(sf001)
    def kept(): Set[(Long, String)] =
      withConf(HashFamily.ConfKey -> HashFamily.Xx64.name) {
        Sampling.stratifiedSample(spark, sf001).collect()
      }.map(r => (r.getLong(0), r.getString(1))).toSet
    val k1 = kept()
    assert(k1 == kept(), "sample not deterministic across runs")
    val byLang = all.groupBy(_._2).view.mapValues(_.size).toMap
    val keptByLang = k1.groupBy(_._2).view.mapValues(_.size).toMap
    for ((l, total) <- byLang) {
      val r = rate(l).toDouble / Sampling.BucketSpace
      val got = keptByLang.getOrElse(l, 0).toDouble / total
      if (r == 1.0) assert(got == 1.0, s"$l: rate-1.0 stratum lost docs")
      else assert(math.abs(got - r) < 0.12,
        s"$l: kept fraction $got far from rate $r (n=$total)")
    }
  }
}
