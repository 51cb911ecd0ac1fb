package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t18 — deterministic STRATIFIED SAMPLING: the data-mixing pass of a
  * training pipeline (rebalance a source/language mixture by keeping a
  * per-stratum fraction of documents). Nothing in the reference needs
  * this; it exists for the 100 TB curation story alongside the dedup
  * family.
  *
  * Mechanism: each doc gets a deterministic uniform bucket in
  * [0, 1e6) — `base31(salt || doc_id) % 1e6` under the active
  * [[HashFamily]] — and survives iff bucket < rate(stratum)·1e6. The
  * salt keeps the sampling hash independent of every other hash use of
  * doc_id. Determinism (not `rand()`) is what makes the sample
  * REPRODUCIBLE and INCREMENTAL: re-running over a grown corpus keeps
  * exactly the docs it kept before, so downstream caches and dedup
  * state stay valid — the property a production mixing pass needs.
  *
  * The demo mixture downsamples the majority language (en → 0.30),
  * trims zh (0.80), and keeps the rest — exercising both named-stratum
  * thresholds and the default branch.
  *
  * Scale shape: a per-row projection + filter over a two-column pruned
  * scan — no shuffle, no state; the sampled relation streams straight
  * into whatever consumes it (PlanSpec pins exchange-freedom and the
  * pruned ReadSchema). Unlike the dedup operators, the KEPT SET is
  * family-dependent (the hash value IS the sample), so the spec pins
  * the md5 family's set bit-exactly against a JVM reference computation
  * and checks the xx64 family statistically.
  */
object Sampling {

  val BucketSpace = 1000000L
  private val Salt = "smpl|"

  /** (stratum → keep-rate numerator over [[BucketSpace]]); strata not
    * listed keep everything. Inlined into BOTH the Spark plan and the
    * DuckDB oracle from this one table.
    */
  val Rates: Seq[(String, Long)] = Seq("en" -> 300000L, "zh" -> 800000L)

  private[ops] def thresholdSql: String =
    Rates.foldRight(BucketSpace.toString) { case ((l, r), acc) =>
      s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
    }

  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    stratifiedSampleOn(spark.read.parquet(s"$sfDir/documents.parquet"))

  /** The per-doc sampling bucket as a SQL fragment (Spark dialect,
    * `spark`'s family); [[bucketSqlDuck]] is the DuckDB md5-mirror twin —
    * both are reused verbatim by the t20 curation funnel.
    */
  private[ops] def bucketSql(spark: SparkSession): String =
    s"(${HashFamily.saltedDocIdSql(HashFamily.of(spark), Salt)} % $BucketSpace)"

  private[ops] def bucketSqlDuck: String =
    s"(${HashFamily.saltedDocIdDuck(Salt)} % $BucketSpace)"

  def stratifiedSampleOn(docs: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id", "lang", s"${bucketSql(docs.sparkSession)} AS bucket")
      .filter(expr(s"bucket < $thresholdSql"))

  // ---- t33: temperature-weighted language mixing ----

  private val MixSalt = "mix|"

  /** t33 — TEMPERATURE MIXING (α-sampling): derive each language's keep
    * rate from the corpus' own counts so the sampled mixture follows
    * p_s ∝ n_s^α with α = 1/2 — the standard multilingual rebalance
    * (XLM-R/mT5-style: upweight tail languages, downsample the head)
    * and the corpus-derived complement of t18's FIXED rate table. The
    * output budget is half the corpus; a language whose α-share exceeds
    * its size hits the keep-everything cap (rate = [[BucketSpace]];
    * true upsampling is a repeat-factor at the training reader, not a
    * row-duplicating pass here).
    *
    * Every rate is derived with EXACT cross-engine math: α = 1/2 makes
    * the weight `floor(sqrt(n)·1e6)` — sqrt is IEEE correctly rounded
    * on both engines (a basic op, unlike pow/ln) — and everything after
    * is integer arithmetic (`rate = min(1e6, (w·B·1e6) div (S·n))`)
    * carried in DECIMAL(38,0) on the Spark side and HUGEINT (DuckDB's
    * automatic sum() promotion) on the mirror side: w·B·1e6 ≈
    * √n·N·5·10¹¹ passes int64 already at N ≈ 10⁵ documents, so the
    * 128-bit lane is the correctness fix for any production-sized run,
    * not a scale nicety (the quotient is ≤ 1e6 and lands back in
    * BIGINT). Order-independent, mirror-exact at any corpus size.
    *
    * Scale shape: ONE map-side-combined groupBy(lang) count is the only
    * wide edge the corpus feeds; weights / totals / rates are computed
    * over the resulting ≤|langs|-row relation (its OVER () window is
    * histogram-sized, the t31 argument); the rate table broadcasts back
    * and the corpus is filtered map-side — zero doc_id-keyed exchanges
    * (PlanSpec). Unlike t18, rates MOVE when the corpus grows (S and B
    * are corpus aggregates): production freezes the rate table per
    * corpus release (`warehouse.mix_rates`, ICEBERG.md §5c) — the
    * per-doc bucket is what stays stable, so a frozen table keeps the
    * sample incremental exactly like t18.
    */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame =
    temperatureMixOn(spark.read.parquet(s"$sfDir/documents.parquet"))

  private[ops] def mixBucketSql(spark: SparkSession): String =
    s"(${HashFamily.saltedDocIdSql(HashFamily.of(spark), MixSalt)} % $BucketSpace)"

  private[ops] def mixBucketSqlDuck: String =
    s"(${HashFamily.saltedDocIdDuck(MixSalt)} % $BucketSpace)"

  def temperatureMixOn(docs: DataFrame): DataFrame = {
    val rates = mixRates(docs)
    docs.selectExpr("doc_id", "lang", s"${mixBucketSql(docs.sparkSession)} AS bucket")
      .join(broadcast(rates), Seq("lang"))
      .where(col("bucket") < col("rate"))
      .select("doc_id", "lang", "bucket", "rate")
  }

  /** The per-language rate table — the relation a production release
    * freezes. (lang, n, rate-numerator over [[BucketSpace]]).
    */
  def mixRates(docs: DataFrame): DataFrame =
    docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .selectExpr("lang", "n",
        s"CAST(floor(sqrt(CAST(n AS DOUBLE)) * ${BucketSpace}.0D) AS BIGINT) AS w")
      .selectExpr("lang", "n", "w",
        "sum(w) OVER () AS s", "sum(n) OVER () div 2 AS b")
      .selectExpr("lang",
        s"""least(CAST($BucketSpace AS BIGINT),
           |  CAST((CAST(w AS DECIMAL(38,0)) * b * $BucketSpace)
           |       div (CAST(s AS DECIMAL(38,0)) * n) AS BIGINT)) AS rate"""
          .stripMargin.replace("\n", " "))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t18_stratified_sample" -> ((s, d) => stratifiedSample(s, d)),
    "t33_temperature_mix" -> ((s, d) => temperatureMix(s, d))
  )

  val oracles: Map[String, String] = Map(
    // md5-family mirror: same salt, same base31 slice, same thresholds.
    "t18_stratified_sample" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang, $bucketSqlDuck AS bucket
         |  FROM documents)
         |SELECT doc_id, lang, bucket FROM b
         |WHERE bucket < $thresholdSql""".stripMargin,
    // Same salted bucket (different salt), and the rate table re-derived
    // with the same exact math: floor(sqrt·1e6) weights (sqrt is
    // correctly rounded on both engines) then pure integer arithmetic —
    // DuckDB's sum() promotes to HUGEINT, hence the final BIGINT cast.
    "t33_temperature_mix" ->
      s"""WITH cnt AS (
         |  SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |wgt AS (
         |  SELECT lang, n,
         |         CAST(floor(sqrt(CAST(n AS DOUBLE)) * ${BucketSpace}.0) AS BIGINT) AS w
         |  FROM cnt),
         |tot AS (SELECT sum(w) AS s, sum(n) // 2 AS b FROM wgt),
         |rates AS (
         |  SELECT lang,
         |         CAST(least($BucketSpace,
         |                    (w * (SELECT b FROM tot) * $BucketSpace)
         |                      // ((SELECT s FROM tot) * n)) AS BIGINT) AS rate
         |  FROM wgt),
         |bk AS (
         |  SELECT doc_id, lang, $mixBucketSqlDuck AS bucket
         |  FROM documents)
         |SELECT bk.doc_id, bk.lang, bk.bucket, r.rate
         |FROM bk JOIN rates r USING (lang)
         |WHERE bk.bucket < r.rate""".stripMargin
  )
}
