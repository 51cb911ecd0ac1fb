package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t30 — EXACT-SUBSTRING duplication coverage (Lee et al., "Deduplicating
  * Training Data Makes Language Models Better", ACL 2022 §4.1): for every
  * document, how many of its tokens sit inside a verbatim [[W]]-token
  * window that occurs MORE THAN ONCE corpus-wide (including a second time
  * in the same document — the reference work dedups within-doc repeats
  * too). This is the signal their ExactSubstr dedup removes; here it is
  * reported per document (dup_windows, dup_span_tokens, dup_span_frac)
  * so the curation funnel can gate on it, which is how near-verbatim
  * syndication survives both exact-hash (t1: one changed byte defeats it)
  * and MinHash (t6: high-but-sub-threshold Jaccard) passes.
  *
  * Shape: tokens are [[Tokenize.Toks]] VERBATIM (the one corpus token
  * stream); windows are the W-token slices at every start position.
  * Flagging is a single analytic `count() OVER (PARTITION BY win)` —
  * the textbook operator for "per-occurrence output that needs a
  * group-wide aggregate". That gives exactly ONE wide exchange keyed on
  * the window, carrying the (doc_id, pos, win) payload once; the
  * groupBy-count + probe-join alternative would shuffle the window keys
  * a SECOND time for the aggregate (map-side partial combine recovers
  * almost nothing in a low-dup-rate corpus, so that side is ≈ another
  * full window-key relation — a near-doubling of the dominant shuffle
  * at 100 TB). PlanSpec pins exactly one `hashpartitioning(win`
  * exchange, a Window operator, and no join on the window key. Only the
  * FLAGGED occurrences (a small fraction) shuffle once more by doc_id
  * for the coverage fold. Coverage needs no interval stack:
  * fixed-length sorted intervals telescope, so each flagged window
  * contributes `min(W, pos − prev_pos)` exactly.
  *
  * 100 TB posture: the window relation is the corpus token stream ×
  * ~(window bytes + 16) — the dominant shuffle, linear, shuffled
  * exactly once. In production the shuffle key is a 128-bit window
  * FINGERPRINT (16 B/row, computed per-row) rather than the window
  * text; the sandbox keys raw text only so the DuckDB mirror stays
  * byte-exact — the same tradeoff t24 documents for line keys. Skew: a
  * pathological window repeated 10⁹ times lands in one reduce
  * partition in EITHER shape (the probe join concentrates identically
  * pre-AQE); the analytic count is one streaming pass over that
  * partition with no list collected anywhere, and such mega-repeated
  * windows are precisely the boilerplate the t24 line pass removes
  * upstream of this operator in the curation funnel.
  */
object Substring {

  /** Window length in tokens. Lee et al. use 50 on BPE tokens; the
    * synthetic corpus runs ~56 tokens/doc (median), so 10 keeps multiple
    * windows per document AND a real flagged population at verify scale
    * (969 repeated keys at sf0.01).
    */
  val W = 10

  /** The shared machinery of t30 (report) and t37 (strip): the staged
    * token arrays and the flagged occurrences (doc_id, pos) of every
    * window repeated corpus-wide. Tokenization runs ONCE (the staged
    * relation feeds both the window stream and the consumer's
    * token-level work — tokenization is the CPU-dominant scan work).
    * The window fragment parallels `Dedup`'s k=3 shingle builder but is
    * kept separate deliberately: each must stay byte-aligned with its
    * OWN DuckDB mirror dialect (0- vs 1-based sequence, concat_ws vs
    * array_join), and sharing one fragment would couple the two
    * oracles' exact text.
    */
  private[ops] def tokensAndFlagged(spark: SparkSession,
      sfDir: String, label: String): (DataFrame, DataFrame) = {
    val docs = Dedup.docs(spark, sfDir)
    // coalesce: a NULL-text doc is zero tokens on BOTH engines (the
    // oracles coalesce their token arrays identically), not a NULL row
    val toks = Staging.materialize(
      docs.selectExpr("doc_id", s"coalesce(${Tokenize.Toks}, array()) AS tk"), label)
    // (doc_id, pos, win): every W-token window, pos 1-based. The size
    // guard matters: Spark's sequence(1, stop) DESCENDS for stop < 1.
    val winRel = toks
      .where(s"size(tk) >= $W")
      .selectExpr(
        "doc_id",
        s"posexplode(transform(sequence(1, size(tk) - ${W - 1}), i -> array_join(slice(tk, i, $W), ' ')))")
      .selectExpr("doc_id", "CAST(pos + 1 AS BIGINT) AS pos", "col AS win")
    val flagged = winRel
      .withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("win")))
      .where(col("df") > 1)
      .select("doc_id", "pos")
    (toks, flagged)
  }

  def substringDup(spark: SparkSession, sfDir: String): DataFrame = {
    val (toks, flagged) = tokensAndFlagged(spark, sfDir, "t30_toks")
    val nTok = toks.selectExpr(
      "doc_id", "CAST(size(tk) AS BIGINT) AS n_tokens")
    val cov = flagged
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("dup_windows"),
        sort_array(collect_list(col("pos"))).as("ps"))
      .selectExpr(
        "doc_id", "dup_windows",
        // Fixed-length intervals sorted by start telescope: each window
        // adds min(W, pos - prev). Seeding prev = pos0 - W makes the
        // first window contribute exactly W.
        s"""aggregate(ps,
           |  named_struct('cov', CAST(0 AS BIGINT), 'prev', ps[0] - CAST($W AS BIGINT)),
           |  (a, p) -> named_struct('cov', a.cov + least(CAST($W AS BIGINT), p - a.prev), 'prev', p),
           |  a -> a.cov) AS dup_span_tokens""".stripMargin.replace("\n", " "))
    nTok.join(cov, Seq("doc_id"), "left")
      .selectExpr(
        "doc_id", "n_tokens",
        "coalesce(dup_windows, CAST(0 AS BIGINT)) AS dup_windows",
        "coalesce(dup_span_tokens, CAST(0 AS BIGINT)) AS dup_span_tokens",
        // round-half-up to 4 dp in PURE INTEGER math: round(double, 4)
        // is not cross-engine stable on half-way shortest-decimal
        // fractions (DuckDB 1.0 round(57/800., 4) = 0.0712 vs Spark's
        // BigDecimal HALF_UP 0.0713); (20000·span + n) div (2n) / 1e4
        // is exact and identical on both engines
        "CAST((coalesce(dup_span_tokens, CAST(0 AS BIGINT)) * 20000 + greatest(n_tokens, 1)) div (2 * greatest(n_tokens, 1)) AS DOUBLE) / 10000 AS dup_span_frac")
  }

  /** t37 — EXACT-SUBSTRING STRIP: remove every token inside a flagged
    * (corpus-repeated) W-token window — the removal step of Lee et al.'s
    * ExactSubstr dedup, applied to BOTH copies (the simple reproduction
    * choice: duplicated spans in web corpora are overwhelmingly
    * boilerplate/syndication, and keeping zero copies needs no global
    * keeper election; the per-cluster keep-one variant is t28's job).
    * Output: (doc_id, n_tokens, kept_tokens, text_stripped).
    *
    * Shape: t30's one window-keyed exchange produces the flagged
    * occurrences; their positions regroup per doc (positions only — a
    * thin shuffle) and merge into disjoint [s, e) intervals with a
    * linear HOF fold over the SORTED list (the same telescoping order
    * t30's coverage uses); ONE doc_id equi-join brings the intervals to
    * the staged token arrays (the one corpus-bytes exchange, t35's
    * class), and the strip is a per-row filter against the merged
    * intervals — O(tokens × intervals), with intervals already merged
    * so the bound is the doc's disjoint-span count, not its flagged
    * window count. kept_tokens = n − Σ(e−s) by the same telescoping
    * identity, so SubstringSpec pins kept_tokens == n_tokens −
    * t30.dup_span_tokens row-for-row.
    */
  def substringStrip(spark: SparkSession, sfDir: String): DataFrame = {
    val (toks, flagged) = tokensAndFlagged(spark, sfDir, "t37_toks")
    val wL = s"CAST($W AS BIGINT)"
    val iv = flagged
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .selectExpr("doc_id",
        // sorted positions -> merged disjoint intervals [s, e), derived
        // LINEARLY from the gaps: because every raw interval is exactly
        // W long, a merged run breaks precisely where consecutive
        // positions differ by more than W — run starts pair 1:1 with
        // run ends, no accumulator-copying fold (which would be
        // O(intervals²) per doc on scattered boilerplate)
        // the neighbor indices are CLAMPED into [1, size(ps)]
        // (greatest/least) so every element_at is in-bounds no matter
        // which OR operand an engine evaluates first — the previous
        // guards relied on SQL OR short-circuit to skip an
        // ANSI-erroring element_at(ps, 0) / element_at(ps, size+1),
        // an evaluation-order detail no SQL spec guarantees (ADVICE
        // r06). At the clamp boundary the i=1 / i=size(ps) disjunct is
        // already true, so the truth table is unchanged.
        s"""zip_with(
           |  filter(sequence(1, size(ps)), i -> i = 1 OR element_at(ps, i) - element_at(ps, greatest(i - 1, 1)) > $wL),
           |  filter(sequence(1, size(ps)), i -> i = size(ps) OR element_at(ps, least(i + 1, size(ps))) - element_at(ps, i) > $wL),
           |  (a, b) -> named_struct('s', element_at(ps, a), 'e', element_at(ps, b) + $wL)) AS iv"""
          .stripMargin.replace("\n", " "))
    toks.join(iv, Seq("doc_id"), "left")
      .selectExpr("doc_id", "tk",
        "coalesce(iv, CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)) AS iv")
      .selectExpr(
        "doc_id",
        "CAST(size(tk) AS BIGINT) AS n_tokens",
        "CAST(size(tk) AS BIGINT) - aggregate(iv, CAST(0 AS BIGINT), (a, v) -> a + (v.e - v.s)) AS kept_tokens",
        """array_join(transform(
          |  filter(transform(tk, (t, i0) -> named_struct('t', t, 'i', CAST(i0 + 1 AS BIGINT))),
          |         x -> NOT exists(iv, v -> v.s <= x.i AND x.i < v.e)),
          |  x -> x.t), ' ') AS text_stripped""".stripMargin.replace("\n", " "))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t30_substring_dup" -> ((s, d) => substringDup(s, d)),
    "t37_substring_strip" -> ((s, d) => substringStrip(s, d))
  )

  val oracles: Map[String, String] = Map(
    // Same windows (TextOps' tokenizer fragment verbatim; DuckDB's
    // generate_series is empty for stop < start, so no size guard is
    // needed), same df > 1 flagging, and the coverage re-derived with a
    // LAG window instead of the fold — same telescoping identity,
    // different mechanism.
    "t30_substring_dup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, coalesce(${TextOps.dToks}, []) AS tk FROM documents),
         |w AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         array_to_string(tk[i:i+${W - 1}], ' ') AS win
         |  FROM toks, UNNEST(generate_series(1, len(tk) - ${W - 1})) AS g(i)),
         |df AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
         |fl AS (SELECT w.doc_id, w.pos FROM w JOIN df USING (win)),
         |fl2 AS (
         |  SELECT doc_id, pos,
         |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM fl),
         |cov AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows,
         |         CAST(sum(least($W, pos - coalesce(prev, pos - $W))) AS BIGINT) AS dup_span_tokens
         |  FROM fl2 GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |       coalesce(c.dup_windows, CAST(0 AS BIGINT)) AS dup_windows,
         |       coalesce(c.dup_span_tokens, CAST(0 AS BIGINT)) AS dup_span_tokens,
         |       CAST((coalesce(c.dup_span_tokens, CAST(0 AS BIGINT)) * 20000 + greatest(len(t.tk), 1))
         |              // (2 * greatest(len(t.tk), 1)) AS DOUBLE) / 10000 AS dup_span_frac
         |FROM toks t LEFT JOIN cov c USING (doc_id)""".stripMargin,
    // Same windows and flagging; the strip re-derived at TOKEN
    // granularity — every token position range-joined to the flagged
    // windows and anti-filtered — instead of the interval-merge fold:
    // same kept set, different mechanism.
    "t37_substring_strip" ->
      s"""WITH toks AS (
         |  SELECT doc_id, coalesce(${TextOps.dToks}, []) AS tk FROM documents),
         |w AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         array_to_string(tk[i:i+${W - 1}], ' ') AS win
         |  FROM toks, UNNEST(generate_series(1, len(tk) - ${W - 1})) AS g(i)),
         |df AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
         |fl AS (SELECT w.doc_id, w.pos FROM w JOIN df USING (win)),
         |tp AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS i, tk[i] AS tok
         |  FROM toks, UNNEST(generate_series(1, len(tk))) AS g(i)),
         |cov AS (
         |  SELECT DISTINCT t.doc_id, t.i
         |  FROM tp t JOIN fl f
         |    ON f.doc_id = t.doc_id AND t.i >= f.pos AND t.i < f.pos + $W),
         |keptTok AS (
         |  SELECT t.doc_id, t.i, t.tok
         |  FROM tp t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.i = t.i
         |  WHERE c.i IS NULL),
         |ks AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
         |         string_agg(tok, ' ' ORDER BY i) AS text_stripped
         |  FROM keptTok GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |       coalesce(k.kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens,
         |       coalesce(k.text_stripped, '') AS text_stripped
         |FROM toks t LEFT JOIN ks k USING (doc_id)""".stripMargin
  )
}
