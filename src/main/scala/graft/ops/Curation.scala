package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t20 — the CURATION FUNNEL: the whole training-data pipeline as one
  * query. Every document gets its final disposition with a
  * first-failing-gate reason:
  *
  *   1. `lang`        — language-ID predicts outside the keep set
  *   2. `quality`     — stopword ratio / word count under threshold
  *   3. `exact-dup` / `near-dup` — the t13 dedup pipeline's verdict
  *   4. `sampled-out` — the t18 mixing pass drops it (per-`lang` strata)
  *   5. `kept`
  *
  * This is a DIAGNOSTIC funnel: each gate's signal is computed
  * corpus-wide (dedup lineage is the same one t13 reports) and the
  * status is the first gate that fires — the lineage a real curation
  * run records per document, not a sequential re-filtering.
  *
  * Scale shape: gates 1, 2, and 4 are per-row signals and are computed
  * in ONE projection over ONE scan of the corpus (hit counts + quality
  * ratios + sampling bucket side by side — no repeated scans, no
  * shuffle); the lang-ID argmax is a second stacked projection. The
  * only join in the whole funnel attaches the dedup verdict, which
  * needs its own shuffling job no matter what. At 100 TB that is the
  * plan you want: one pass for everything per-row, plus the dedup
  * pipeline you were running anyway.
  *
  * The driver query runs the PRODUCTION shape (VERDICT r05 task 2):
  * [[Dedup.dedupPipeline]] is executed ONCE, its verdicts persisted to a
  * staging table (parquet here; the dedup lineage table of ICEBERG.md §5
  * in production), and the funnel joins the READ-BACK — so the executed
  * funnel plan contains one dedup job plus one verdict scan, never a
  * second signature/banding stage (PlanSpec pins the absence).
  * [[funnelInline]] keeps the recompute shape as the spec baseline
  * (CurationSpec pins inline == from-verdicts).
  *
  * The component semantics (and their DuckDB mirrors) are REUSED
  * verbatim: the oracle embeds the t4 / t3 / t13 oracle SQL as
  * subqueries and the t18 bucket/threshold fragments, so t20 cannot
  * drift from its parts without its own oracle failing too.
  */
object Curation {

  val KeepLang = "en"
  val MinStopwordRatio = 0.03
  val MinWords = 15L

  private def statusCase(thresholdSql: String): String =
    s"""CASE WHEN lang_pred != '$KeepLang' THEN 'lang'
       | WHEN stopword_ratio < $MinStopwordRatio OR n_words < $MinWords THEN 'quality'
       | WHEN dedup_status != 'kept' THEN dedup_status
       | WHEN bucket >= $thresholdSql THEN 'sampled-out'
       | ELSE 'kept' END""".stripMargin.replace("\n", " ")

  /** Per-row gate signals: ONE projection over ONE corpus scan (hit
    * counts + quality ratios + sampling bucket side by side), plus the
    * stacked lang-ID argmax projection — no shuffle, no join.
    */
  def perRowSignals(spark: SparkSession, sfDir: String): DataFrame = {
    val h = TextOps.Stop.keys.map(l => l -> s"h_$l").toMap
    // ONE tokenizing split per row (r07): inlined, the 5 per-language
    // hit counts plus the quality ratios re-ran it 7× (see
    // TextOps.LowerToks). The lower-cased array also serves the token
    // COUNT (n_words and the ratio denominator): lowercasing maps
    // characters and never produces or removes the split's whitespace
    // class, so size(lt) == size(toks) for every input.
    val scored = Dedup.docs(spark, sfDir)
      .selectExpr("doc_id", "lang", s"${TextOps.LowerToks} AS lt")
      .selectExpr(
      Seq("doc_id", "lang",
        "CAST(size(lt) AS BIGINT) AS n_words",
        s"round(${TextOps.hitsOn(KeepLang)} / greatest(size(lt), 1), 4) AS stopword_ratio",
        s"${Sampling.bucketSql(spark)} AS bucket") ++
        TextOps.Stop.keys.map(l => s"${TextOps.hitsOn(l)} AS ${h(l)}"): _*)
    // the same fixed-priority argmax as TextOps.langId
    val langs = Seq("en", "de", "fr", "es", "zh")
    val pred = langs
      .foldLeft(when(lit(false), lit(""))) { (acc, l) =>
        val ge = langs.filter(_ != l).map(o => col(h(l)) >= col(h(o))).reduce(_ && _)
        acc.when(col(h(l)) > 0 && ge, lit(l))
      }
      .otherwise(lit("und"))
    scored.select(col("doc_id"), col("lang"), col("n_words"),
      col("stopword_ratio"), col("bucket"), pred.as("lang_pred"))
  }

  /** The funnel given an ALREADY-COMPUTED dedup verdict relation
    * (doc_id, status, dup_of) — the production shape: one join attaches
    * the persisted verdict to the per-row signals; no dedup stage runs
    * inside this plan.
    */
  def funnelFromVerdicts(perRow: DataFrame, verdicts: DataFrame): DataFrame =
    perRow
      .join(
        verdicts.select(col("doc_id"), col("status").as("dedup_status"),
          col("dup_of")),
        Seq("doc_id"))
      .withColumn("status", expr(statusCase(Sampling.thresholdSql)))
      .selectExpr("doc_id", "status",
        "CASE WHEN status IN ('exact-dup', 'near-dup') THEN dup_of ELSE CAST(NULL AS BIGINT) END AS dup_of")

  /** Spec baseline: the self-contained recompute shape (dedup inline). */
  def funnelInline(spark: SparkSession, sfDir: String): DataFrame =
    funnelFromVerdicts(perRowSignals(spark, sfDir),
      Dedup.dedupPipeline(spark, sfDir))

  /** The driver query: dedup ONCE → persist verdicts → funnel joins the
    * read-back. The staging root honors `graft.staging.dir` (the same
    * conf the dedup pipeline's reliable-materialization option uses);
    * otherwise a JVM temp directory stands in for the lineage table.
    */
  /** One temp staging root per JVM (when `graft.staging.dir` is unset).
    * The verdict path below is keyed by (sfDir, family) and overwritten on
    * re-runs, so repeated funnel calls in one process — bench warmup +
    * measured + Verify — reuse ONE table instead of leaking a fresh
    * parquet dump per call. In production this is a managed Iceberg table
    * (ICEBERG.md §5b), not a path convention.
    */
  private lazy val tempStagingRoot: String =
    java.nio.file.Files.createTempDirectory("graft-staging").toString

  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val root = spark.conf.getOption(Staging.ConfKey).getOrElse(tempStagingRoot)
    val key = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"$root/t20_dedup_verdicts_${key}_${HashFamily.of(spark).name}"
    Dedup.dedupPipeline(spark, sfDir)
      .write.mode("overwrite").parquet(path)
    funnelFromVerdicts(perRowSignals(spark, sfDir),
      spark.read.parquet(path))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t20_curation_funnel" -> ((s, d) => funnel(s, d))
  )

  val oracles: Map[String, String] = Map(
    // composed verbatim from the component mirrors: t4 + t3 + t13 as
    // subqueries, t18's bucket/threshold fragments inline
    "t20_curation_funnel" ->
      s"""WITH lp AS (SELECT doc_id, lang_pred FROM (${TextOps.oracles("t4_lang_id")})),
         |q AS (SELECT doc_id, n_words, stopword_ratio FROM (${TextOps.oracles("t3_quality_score")})),
         |dd AS (SELECT doc_id, status AS dedup_status, dup_of FROM (${Dedup.oracles("t13_dedup_pipeline")})),
         |pr AS (SELECT doc_id, lang, ${Sampling.bucketSqlDuck} AS bucket FROM documents),
         |j AS (
         |  SELECT pr.doc_id, pr.lang, pr.bucket, lp.lang_pred,
         |         q.n_words, q.stopword_ratio, dd.dedup_status, dd.dup_of
         |  FROM pr JOIN lp USING (doc_id) JOIN q USING (doc_id) JOIN dd USING (doc_id)),
         |st AS (SELECT doc_id, ${statusCase(Sampling.thresholdSql)} AS status, dup_of FROM j)
         |SELECT doc_id, status,
         |       CASE WHEN status IN ('exact-dup', 'near-dup') THEN dup_of ELSE CAST(NULL AS BIGINT) END AS dup_of
         |FROM st""".stripMargin
  )
}
