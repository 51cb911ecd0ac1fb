package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.{LmExpressions, LmModel}

/** t27 — n-gram LANGUAGE-MODEL QUALITY SCORING (the CCNet-style
  * perplexity filter): fit a stupid-backoff bigram LM on the corpus'
  * own token statistics, then score every document's cross-entropy
  * under it. Low cross-entropy ≈ the document looks like the corpus
  * (fluent, conventional); high ≈ OOV-heavy, scrambled, or boilerplate
  * the tokenizer shreds — the standard mid-step between the cheap
  * per-row heuristics (t3 ratios, t15 repetition) and model-based
  * filtering, and the signal CCNet buckets corpora by before training.
  *
  * Model: capped count tables — top [[VocabK]] unigrams and top
  * [[BigramK]] bigrams by (count DESC, key ASC) — plus the UNCAPPED
  * total token count. Scoring per token i:
  *
  *   p = c2(w_{i-1} w_i)/c1(w_{i-1})  when both tables hit
  *     | 0.4 · c1(w_i)/total          when w_i is in-vocab (backoff)
  *     | 0.4 / total                  OOV floor
  *
  * cross_entropy = −(Σ ln p)/(n−1), 0.0 for docs with < 2 tokens.
  *
  * Scale shape — fit: two map-side-combine shuffles keyed by token /
  * bigram (the classic word-count plans), then ONE bounded driver
  * collect per table, bounded by the CAPS (VocabK + BigramK rows — the
  * same justified-collect contract as t14's 512-vector IVF sample),
  * never by corpus size. Score: a PER-ROW projection — the model rides
  * to executors as a plan reference object (the broadcast-variable
  * analogue, see [[graft.spark.LmModel]]), the corpus is scanned once,
  * and NOTHING shuffles (PlanSpec pins the scoring plan exchange-free
  * and join-free). The join-based alternative would shuffle ~20 B per
  * corpus token to reassemble per-doc sums — a corpus-sized exchange
  * at 100 TB.
  *
  * Oracle: the DuckDB mirror rebuilds the same capped tables with the
  * same tie-breaks and reassembles each document's ln-sum with
  * `list_reduce(list(lp ORDER BY i))` — the identical left-to-right
  * summation order as the expression's fold. Unlike the cosine oracles
  * (whose +,−,×,÷ are all IEEE exactly-rounded), ln is only
  * within-1-ulp on either engine, so cross_entropy is emitted UNROUNDED
  * and compared under the driver's 1e-9 relative tolerance — a
  * round-to-4 would turn an ulp-level ln divergence at a 0.00005
  * boundary into a 1e-4 mismatch the tolerance cannot absorb.
  */
object LangModel {

  /** Caps sized to BIND at verify scale (the synthetic documents table
    * has 31 distinct tokens and ~916 distinct bigrams at sf0.01), so the
    * oracle exercises the top-K tie-break and the OOV/backoff paths —
    * not just the happy path. A production fit would raise these to
    * CCNet-like sizes (10⁵–10⁶); the fit collect stays bounded by them
    * either way.
    */
  val VocabK = 24
  val BigramK = 512
  val Backoff = 0.4

  /** Tokenization is [[Tokenize.Toks]] VERBATIM — the LM must sit on the
    * same token stream as the rest of the feature family (t2/t3/t28), so
    * a tokenizer change moves them together.
    */
  def tokensDf(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", s"${Tokenize.Toks} AS toks")

  /** Fit the capped count tables. The token relation is staged once
    * (two aggregations consume it); the unigram relation is staged once
    * (total + top-K consume it). Collects are bounded by the caps.
    */
  def fit(docs: DataFrame, vocabK: Int = VocabK,
      bigramK: Int = BigramK): LmModel =
    fitOnToks(Staging.materialize(tokensDf(docs), "lm_toks"), vocabK, bigramK)

  /** [[fit]] over an ALREADY-MATERIALIZED token relation (a `toks`
    * array column) — factored out (r07) so the driver queries tokenize
    * the corpus ONCE and share the staged relation between the fit
    * aggregations and the scoring projection: tokenization is the
    * CPU-dominant scan work, and the previous shape re-tokenized the
    * whole corpus for scoring after the fit had already staged the
    * token arrays (guide §2.4 — two operations keyed the same way share
    * one pass).
    */
  private[graft] def fitOnToks(toks: DataFrame, vocabK: Int = VocabK,
      bigramK: Int = BigramK): LmModel = {
    import org.apache.spark.unsafe.types.UTF8String
    val uni0 = Staging.materialize(
      toks.selectExpr("explode(toks) AS tok")
        .groupBy("tok").agg(count(lit(1)).as("c")),
      "lm_uni")
    val totalRow = uni0.agg(sum(col("c"))).head()
    val total =
      if (totalRow.isNullAt(0)) 1L else math.max(1L, totalRow.getLong(0))
    val uniTop = uni0
      .orderBy(col("c").desc, col("tok").asc).limit(vocabK).collect()
    val bigTop = toks
      .where(size(col("toks")) >= 2)
      .selectExpr(
        """explode(transform(sequence(2, size(toks)),
          |  i -> concat(element_at(toks, i - 1), ' ', element_at(toks, i)))) AS bg"""
          .stripMargin.replace("\n", " "))
      .groupBy("bg").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bg").asc).limit(bigramK).collect()
    val uniMap = new java.util.HashMap[UTF8String, java.lang.Long](vocabK * 2)
    uniTop.foreach(r =>
      uniMap.put(UTF8String.fromString(r.getString(0)), r.getLong(1)))
    val bigMap = new java.util.HashMap[UTF8String, java.lang.Long](bigramK * 2)
    bigTop.foreach(r =>
      bigMap.put(UTF8String.fromString(r.getString(0)), r.getLong(1)))
    new LmModel(uniMap, bigMap, total.toDouble, Backoff)
  }

  /** Persist a fitted model as two parquet count tables + the scalar
    * total — the ICEBERG.md §5c `lm_counts_uni`/`lm_counts_big` shape: a
    * reference-corpus fit is written ONCE and every scoring run loads it
    * (cap-bounded tables, so the load is a bounded driver read exactly
    * like the fit's collect).
    */
  def save(spark: SparkSession, model: LmModel, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    model.uni.asScala.toSeq.map { case (k, v) => (k.toString, v.longValue()) }
      .toDF("tok", "c").repartition(1).write.mode("overwrite")
      .parquet(s"$dir/lm_counts_uni")
    model.big.asScala.toSeq.map { case (k, v) => (k.toString, v.longValue()) }
      .toDF("bg", "c").repartition(1).write.mode("overwrite")
      .parquet(s"$dir/lm_counts_big")
    Seq((model.total, model.backoff)).toDF("total", "backoff")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/lm_meta")
  }

  /** Load a model persisted by [[save]]. */
  def load(spark: SparkSession, dir: String): LmModel = {
    import org.apache.spark.unsafe.types.UTF8String
    val uniRows = spark.read.parquet(s"$dir/lm_counts_uni").collect()
    val bigRows = spark.read.parquet(s"$dir/lm_counts_big").collect()
    val meta = spark.read.parquet(s"$dir/lm_meta").head()
    val uniMap = new java.util.HashMap[UTF8String, java.lang.Long](uniRows.length * 2)
    uniRows.foreach(r =>
      uniMap.put(UTF8String.fromString(r.getString(0)), r.getLong(1)))
    val bigMap = new java.util.HashMap[UTF8String, java.lang.Long](bigRows.length * 2)
    bigRows.foreach(r =>
      bigMap.put(UTF8String.fromString(r.getString(0)), r.getLong(1)))
    new LmModel(uniMap, bigMap, meta.getDouble(0), meta.getDouble(1))
  }

  /** t27: (doc_id, n_tokens, oov, hits2, cross_entropy) for every doc.
    * The fit stages the token arrays for its two aggregations; scoring
    * deliberately re-tokenizes in a FUSED projection over the columnar
    * scan rather than reading the staged arrays back — measured r07:
    * deserializing checkpointed array<string> rows costs more than the
    * split+filter over the scan (1.0 s → 1.8 s at sf0.1 when scoring
    * from the staged relation).
    */
  def lmScore(spark: SparkSession, sfDir: String,
      vocabK: Int = VocabK, bigramK: Int = BigramK): DataFrame = {
    val docs = Dedup.docs(spark, sfDir)
    lmScoreOn(docs, fit(docs, vocabK, bigramK))
  }

  /** Score `docs` under an already-fitted model — the production shape
    * (fit once on a reference slice, score many corpora / batches):
    * a single tokenise-and-score projection, no shuffle (PlanSpec).
    */
  def lmScoreOn(docs: DataFrame, model: LmModel): DataFrame =
    scoreToks(tokensDf(docs), model)

  /** The scoring projection over a (doc_id, toks) relation. */
  private def scoreToks(toks: DataFrame, model: LmModel): DataFrame = {
    LmExpressions.register(toks.sparkSession, model)
    toks
      .selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "lm_score(toks) AS sc")
      .selectExpr(
        "doc_id", "n_tokens", "sc.oov AS oov", "sc.hits2 AS hits2",
        """CASE WHEN n_tokens < 2 THEN 0.0D
          |ELSE -sc.lp_sum / CAST(n_tokens - 1 AS DOUBLE) END AS cross_entropy"""
          .stripMargin.replace("\n", " "))
  }

  /** Quantization step for [[pplBuckets]] threshold keys: cross-entropy
    * is keyed as `floor(ce · 1000)`. This is what BOUNDS the threshold
    * state at any corpus size — ce lands in ≈[0, 30], so there are at
    * most ~3·10⁴ distinct keys per language no matter how many documents
    * exist (the same boundedness contract as the fit caps). The t27
    * scaladoc's ln-ulp warning applies to any discretization: a bucket
    * key flips only if a doc's true ce sits within ~1 ulp of a 1e-3
    * grid line; on the deterministic verify corpus the closest doc is
    * 9.2e-4 (in ce·1000 units) from a boundary — nine orders of margin.
    */
  val QuantSteps = 1000

  /** t31 — CCNet-STYLE PERPLEXITY BUCKETING (Wenzek et al. LREC 2020
    * §3.3): split each language's documents into head / middle / tail
    * terciles of t27 cross-entropy — head ≈ fluent, corpus-like text,
    * tail ≈ OOV-heavy or scrambled. The bucket is the unit CCNet keeps,
    * inspects, or drops per language; together with t24 (line dedup)
    * and t27 (the LM itself) this completes the CCNet pipeline trilogy.
    *
    * Thresholds are DISCRETE (type-1) quantiles over the quantized key,
    * derived with pure integer logic: t1 = smallest q with
    * 3·cum(q) ≥ n, t2 = smallest q with 3·cum(q) ≥ 2n, computed per
    * language from a (lang, q) HISTOGRAM — never from per-document
    * ranks. No interpolation, no float thresholds, so the DuckDB mirror
    * agrees exactly (interpolating `percentile`/`quantile_cont`
    * formulas differ at the ulp level across engines, and a
    * corpus-ranking window would also be the wrong plan — see below).
    *
    * Scale shape: scoring is t27's shuffle-free projection; the
    * CORPUS NEVER SHUFFLES (PlanSpec pins zero doc_id-keyed
    * exchanges). The histogram groupBy(lang, q) is the only wide edge
    * the corpus feeds, and map-side partial combine collapses it to
    * ≤ |langs|·3·10⁴ rows per task regardless of corpus size. The
    * cum/threshold windows run OVER THE HISTOGRAM (bounded), not the
    * corpus — the `row_number() OVER (PARTITION BY lang)` alternative
    * would put half of 100 TB (English) through ONE reduce partition.
    * The tiny threshold table broadcasts back for the per-row CASE.
    * Production scores from the persisted t27 table (ICEBERG.md §5c);
    * the sandbox stages the scored relation once and both consumers
    * (histogram + probe) read it back (r07).
    */
  def pplBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Dedup.docs(spark, sfDir)
    pplBucketsOn(docs, fit(docs))
  }

  def pplBucketsOn(docs: DataFrame, model: LmModel): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    LmExpressions.register(docs.sparkSession, model)
    // The scored relation is consumed TWICE (the histogram aggregate and
    // the final per-row CASE probe), and Spark does not deduplicate the
    // two subtrees — unstaged, the per-token lm_score projection ran
    // over the whole corpus twice (r07; guide §2.4). The staged relation
    // is 4 NARROW columns per doc (~40 B), negligible next to the token
    // stream, so this materialization wins — unlike staging the token
    // arrays themselves, which measured SLOWER than re-tokenizing (the
    // t27 scaladoc's deserialization trap).
    val scored = Staging.materialize(
      docs
        .selectExpr("doc_id", "lang", s"${Tokenize.Toks} AS toks")
        .selectExpr("doc_id", "lang",
          "CAST(size(toks) AS BIGINT) AS n_tokens", "lm_score(toks) AS sc")
        .selectExpr("doc_id", "lang",
          """CASE WHEN n_tokens < 2 THEN 0.0D
            |ELSE -sc.lp_sum / CAST(n_tokens - 1 AS DOUBLE) END AS cross_entropy"""
            .stripMargin.replace("\n", " "))
        .selectExpr("doc_id", "lang", "cross_entropy",
          s"CAST(floor(cross_entropy * ${QuantSteps}.0D) AS BIGINT) AS q"),
      "t31_scored")
    val hist = scored.groupBy("lang", "q").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy("lang").orderBy("q")))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("lang")))
    val thr = cum.groupBy("lang").agg(
      min(when(col("cum") * 3 >= col("n"), col("q"))).as("t1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("q"))).as("t2"))
    scored.join(broadcast(thr), Seq("lang"))
      .selectExpr("doc_id", "lang", "cross_entropy",
        """CASE WHEN q <= t1 THEN 'head'
          |WHEN q <= t2 THEN 'middle'
          |ELSE 'tail' END AS bucket""".stripMargin.replace("\n", " "))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t27_lm_score" -> ((s, d) => lmScore(s, d)),
    "t31_ppl_buckets" -> ((s, d) => pplBuckets(s, d))
  )

  /** Shared oracle CTE chain: the t27 model fit + per-token log-probs +
    * per-doc sums. Both the t27 and t31 mirrors are built from this ONE
    * string so the model definitions cannot drift apart.
    */
  private val ceCtes: String =
    s"""WITH toks AS (
         |  SELECT doc_id, ${TextOps.dToks} AS tk
         |  FROM documents),
         |uni0 AS (
         |  SELECT t AS tok, count(*) AS c
         |  FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY t),
         |tot AS (SELECT CAST(greatest(1, coalesce(sum(c), 0)) AS DOUBLE) AS n FROM uni0),
         |uni AS (SELECT tok, c FROM uni0 ORDER BY c DESC, tok LIMIT $VocabK),
         |big0 AS (
         |  SELECT w1, w2, count(*) AS c
         |  FROM (SELECT tk[i-1] AS w1, tk[i] AS w2
         |        FROM toks, UNNEST(generate_series(2, len(tk))) AS g(i))
         |  GROUP BY w1, w2),
         |big AS (SELECT w1, w2, c FROM big0 ORDER BY c DESC, w1 || ' ' || w2 LIMIT $BigramK),
         |pos AS (
         |  SELECT doc_id, i, tk[i-1] AS w1, tk[i] AS w2
         |  FROM toks, UNNEST(generate_series(2, len(tk))) AS g(i)),
         |lp AS (
         |  SELECT p.doc_id, p.i,
         |    CASE WHEN b.c IS NOT NULL AND u1.c IS NOT NULL
         |         THEN ln(CAST(b.c AS DOUBLE) / CAST(u1.c AS DOUBLE))
         |         WHEN u2.c IS NOT NULL THEN ln($Backoff * (CAST(u2.c AS DOUBLE) / (SELECT n FROM tot)))
         |         ELSE ln($Backoff / (SELECT n FROM tot)) END AS lp,
         |    CASE WHEN b.c IS NOT NULL AND u1.c IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM pos p
         |  LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
         |  LEFT JOIN uni u1 ON u1.tok = p.w1
         |  LEFT JOIN uni u2 ON u2.tok = p.w2),
         |agg AS (
         |  SELECT doc_id, list_reduce(list(lp ORDER BY i), (a, b) -> a + b) AS s,
         |         CAST(sum(hit) AS BIGINT) AS hits2
         |  FROM lp GROUP BY doc_id),
         |oo AS (
         |  SELECT x.doc_id, CAST(count(*) FILTER (WHERE u.tok IS NULL) AS BIGINT) AS oov
         |  FROM (SELECT doc_id, unnest(tk) AS t FROM toks) x
         |  LEFT JOIN uni u ON u.tok = x.t
         |  GROUP BY x.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Same capped tables (same tie-breaks: count DESC, then the token /
    // the space-joined bigram key ASC — tokens contain no whitespace, so
    // the joined-key order is total), same backoff cascade, and the
    // per-doc ln-sum reassembled in ascending-position order so the IEEE
    // accumulation sequence matches the expression's fold exactly.
    "t27_lm_score" ->
      s"""$ceCtes
         |SELECT t.doc_id,
         |  CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  coalesce(oo.oov, CAST(0 AS BIGINT)) AS oov,
         |  coalesce(a.hits2, CAST(0 AS BIGINT)) AS hits2,
         |  CASE WHEN len(t.tk) < 2 THEN CAST(0.0 AS DOUBLE)
         |       ELSE -a.s / CAST(len(t.tk) - 1 AS DOUBLE) END AS cross_entropy
         |FROM toks t
         |LEFT JOIN agg a ON a.doc_id = t.doc_id
         |LEFT JOIN oo ON oo.doc_id = t.doc_id""".stripMargin,
    // Same ce values (the shared CTEs above), the same floor-quantized
    // key, and the same pure-integer discrete-quantile thresholds —
    // re-derived from a per-doc cumulative window instead of the
    // histogram fold: same type-1 quantile, different mechanism.
    "t31_ppl_buckets" ->
      s"""$ceCtes,
         |ce AS (
         |  SELECT t.doc_id,
         |    CASE WHEN len(t.tk) < 2 THEN CAST(0.0 AS DOUBLE)
         |         ELSE -a.s / CAST(len(t.tk) - 1 AS DOUBLE) END AS ce
         |  FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id),
         |qx AS (
         |  SELECT c.doc_id, d.lang, c.ce,
         |         CAST(floor(c.ce * ${QuantSteps}.0) AS BIGINT) AS q
         |  FROM ce c JOIN documents d ON d.doc_id = c.doc_id),
         |cnt AS (SELECT lang, count(*) AS n FROM qx GROUP BY lang),
         |cq AS (
         |  SELECT lang, q,
         |         count(*) OVER (PARTITION BY lang ORDER BY q) AS cum
         |  FROM qx),
         |thr AS (
         |  SELECT c.lang,
         |         min(q) FILTER (WHERE cum * 3 >= n) AS t1,
         |         min(q) FILTER (WHERE cum * 3 >= 2 * n) AS t2
         |  FROM cq JOIN cnt c ON c.lang = cq.lang GROUP BY c.lang)
         |SELECT x.doc_id, x.lang, x.ce AS cross_entropy,
         |  CASE WHEN x.q <= t.t1 THEN 'head'
         |       WHEN x.q <= t.t2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM qx x JOIN thr t ON t.lang = x.lang""".stripMargin
  )
}
