package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All are pure Catalyst expressions (no UDFs): tokenization, quality
  * ratios, language-ID and fingerprinting are built from split/filter/
  * aggregate/xxhash64 higher-order functions — narrow per-row plans with
  * zero shuffles and column-pruned scans (PlanSpec).  NB higher-order
  * lambdas are CodegenFallback in Spark (not whole-stage codegen'd); they
  * still vectorize over the columnar scan and scale linearly.  Only the
  * final write/aggregate of a caller introduces a shuffle.
  */
object TextOps {
  import Dedup.docs
  import Tokenize.Toks

  /** Token counting: whitespace tokens + a BPE-ish sub-token regex
    * (letter runs / digit runs / single other symbol).
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).selectExpr(
      "doc_id",
      "CAST(length(text) AS BIGINT) AS n_chars_m",
      s"CAST(size($Toks) AS BIGINT) AS n_tokens",
      s"CAST(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9${Tokenize.SparkWsChars}]', 0)) AS BIGINT) AS n_subtokens")

  private[ops] val Stop = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "for", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "que", "dans", "une"),
    "es" -> Seq("el", "los", "y", "es", "no", "por", "para", "una", "se", "como"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  private def arr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("array(", ",", ")")
  private[ops] def hits(l: String) =
    s"size(filter(filter(split(lower(text), ${Tokenize.SparkWs}), x -> x != ''), x -> array_contains(${arr(Stop(l))}, x)))"

  /** The lower-cased token array `hits` filters — factored so multi-lang
    * scorers (t4, t20) materialize it ONCE per row: inlined, each
    * language's hit count re-splits lower(text) (5 regex splits per row;
    * HOF subtrees are CodegenFallback, so codegen subexpression
    * elimination never rescues it). CollapseProject keeps a non-cheap
    * alias referenced multiple times in its own projection, so the
    * factored column is evaluated once (r07).
    */
  private[ops] val LowerToks =
    s"filter(split(lower(text), ${Tokenize.SparkWs}), x -> x != '')"

  /** Per-language hit count over a prebuilt [[LowerToks]] column `lt`. */
  private[ops] def hitsOn(l: String) =
    s"size(filter(lt, x -> array_contains(${arr(Stop(l))}, x)))"

  /** Quality scoring: length, word stats, punctuation & stopword ratios —
    * the standard pretraining-filter features (C4/Gopher-style).
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame =
    // NB deliberately NOT token-factored like t4/t20 (r07): with only
    // one hits() reference, the factored projection's wider intermediate
    // rows (text + two arrays) measured slower than the inline splits
    docs(spark, sfDir).selectExpr(
      "doc_id",
      "CAST(length(text) AS BIGINT) AS n_chars_m",
      s"CAST(size($Toks) AS BIGINT) AS n_words",
      // strip the SAME whitespace class the tokenizer splits on — a
      // literal ' ' replace would count tabs/newlines as word characters
      // and inflate the signal on any multi-line document
      s"round(length(regexp_replace(text, ${Tokenize.SparkWs}, '')) / greatest(size($Toks), 1), 4) AS avg_word_len",
      "CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) AS BIGINT) AS n_punct",
      s"round(${hits("en")} / greatest(size($Toks), 1), 4) AS stopword_ratio")

  /** Language-ID: stopword-profile scoring with a fixed-priority argmax
    * (deterministic tie-break en→de→fr→es→zh, else 'und'). A character
    * n-gram model would be the production upgrade; the operator shape
    * (per-row, codegen'd, no shuffle) is identical.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val h = Stop.keys.map(l => l -> s"h_$l").toMap
    val scored = docs(spark, sfDir)
      .selectExpr("doc_id", "lang", s"$LowerToks AS lt")
      .selectExpr(
        Seq("doc_id", "lang") ++ Stop.keys.map(l => s"${hitsOn(l)} AS ${h(l)}"): _*)
    val langs = Seq("en", "de", "fr", "es", "zh")
    val pred = langs
      .foldLeft(when(lit(false), lit(""))) { (acc, l) =>
        val ge = langs.filter(_ != l).map(o => col(h(l)) >= col(h(o))).reduce(_ && _)
        acc.when(col(h(l)) > 0 && ge, lit(l))
      }
      .otherwise(lit("und"))
    scored.select(col("doc_id"), col("lang"), pred.as("lang_pred"))
  }

  /** Document fingerprint: order-sensitive rolling hash over tokens
    * (affine accumulate mod 2³¹−1 of 31-bit token hashes — the session's
    * [[graft.ops.HashFamily]], as for Dedup's MinHash: codegen'd
    * xxhash64 in production, md5-slice under Verify so the DuckDB mirror
    * reproduces it bit-for-bit) + an order-free bag hash (XOR of the
    * token hashes). The affine step (a·acc + h) keeps every product
    * under 2⁶² — overflow-free under ANSI in both engines.
    */
  val FpMul = 1103515245L // 31-bit multiplier (classic LCG constant)

  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .selectExpr("doc_id",
        s"transform($Toks, t -> ${HashFamily.of(spark).base31Sql("t")}) AS hs")
      .selectExpr(
        "doc_id",
        s"aggregate(hs, CAST(0 AS BIGINT), (acc, x) -> pmod($FpMul * acc + x, ${Dedup.MinhashP})) AS rolling_fp",
        "aggregate(hs, CAST(0 AS BIGINT), (acc, x) -> acc ^ x) AS bag_fp")

  /** Repetition metrics (Gopher-style duplicate-content filters):
    * duplicate-word fraction, top-token frequency fraction, duplicate
    * token-bigram fraction — all per-row higher-order functions, no
    * shuffle, whole-stage codegen.  (Duplicate-LINE fraction is omitted:
    * the synthetic documents are single-line, so it would be a vacuous
    * always-zero column — the r01 t9 lesson.)  The top-token count is
    * O(distinct×tokens) per row; for very long documents the scale path
    * is explode + per-(doc,token) count, but that costs a shuffle and
    * only wins past ~10^3 distinct tokens per doc.
    *
    * Empty-basis guard (ADVICE r03): a zero-token document must score
    * 0.0 on every fraction, not 1.0/NULL (1 - 0/1 read as "maximally
    * repetitive" would mis-rank empty docs in a Gopher-style filter);
    * likewise a <2-token document has no bigrams and scores
    * dup_bigram_frac 0.0. Both engines carry the same CASE guards.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .selectExpr("doc_id", s"$Toks AS toks")
      .selectExpr("doc_id", "toks",
        """CASE WHEN size(toks) >= 2 THEN
          |  transform(sequence(1, size(toks) - 1),
          |            i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
          |ELSE CAST(array() AS ARRAY<STRING>) END AS bigrams""".stripMargin)
      .selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct",
        "CASE WHEN size(toks) = 0 THEN 0.0D ELSE round(1 - size(array_distinct(toks)) / size(toks), 4) END AS dup_word_frac",
        "CASE WHEN size(toks) = 0 THEN 0.0D ELSE round(array_max(transform(array_distinct(toks), d -> size(filter(toks, x -> x = d)))) / size(toks), 4) END AS top_token_frac",
        "CASE WHEN size(bigrams) = 0 THEN 0.0D ELSE round(1 - size(array_distinct(bigrams)) / size(bigrams), 4) END AS dup_bigram_frac")

  /** t34 — COMPRESSION-RATIO quality signal: `z_bytes / n_bytes` under
    * fixed-level DEFLATE ([[graft.spark.CompressExpressions]]) — the
    * cheap compressibility heuristic of web-curation pipelines
    * (templated/repeated boilerplate compresses far below prose;
    * near-or-above-1 ratios flag scrambled text; empty docs surface the
    * 8-byte stream-header floor honestly rather than a fake 0). Scale
    * shape: a per-row codegen'd projection over a two-column pruned
    * scan — no shuffle, no state (PlanSpec); the deflate loop is the
    * only per-row cost (~tens of MB/s/core at level 6 — the corpus
    * scan stays CPU-bound, which is what a 1000-executor fleet wants).
    * The DuckDB side has no zlib, so the oracle is the t12-style
    * driver-recompute VALUES list (same JVM, byte-exact), bounded by
    * [[Multimodal.MaxOracleRows]].
    */
  def compressRatio(spark: SparkSession, sfDir: String): DataFrame = {
    graft.spark.CompressExpressions.register(spark)
    docs(spark, sfDir)
      .selectExpr("doc_id",
        "CAST(octet_length(text) AS BIGINT) AS n_bytes",
        "deflate_len(text) AS z_bytes")
      .selectExpr("doc_id", "n_bytes", "z_bytes",
        "round(CAST(z_bytes AS DOUBLE) / greatest(n_bytes, 1), 4) AS compress_ratio")
  }

  /** t36 — CORPUS STATS ROLLUP: doc/token/char counts and mean length at
    * every (lang × source) granularity in ONE pass — `CUBE(lang,
    * source)`, i.e. grouping sets ((lang, source), (lang), (source),
    * ()). This is the monitoring/reporting rollup every curation run
    * ships to its dashboard, and the input the t33 rate job or a mixing
    * review reads. `g_lang`/`g_source` are the GROUPING() markers that
    * distinguish a rollup NULL from a (hypothetical) NULL value.
    *
    * Scale shape: Catalyst's Expand replicates each scan row ×4 — a
    * map-local projection, no extra scan — and the partial hash
    * aggregate collapses each task's output to at most 4 ×
    * |lang×source| rows before the ONE exchange, so the shuffle is
    * bounded by group cardinality (≈ dozens), not corpus size, exactly
    * like any single-level groupBy. Means are derived from the exact
    * integer sums post-aggregation (one exactly-rounded division — no
    * avg() accumulation-order concerns on either engine).
    */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .selectExpr("lang", "source",
        s"CAST(size($Toks) AS BIGINT) AS nt", "n_chars")
      .cube("lang", "source")
      .agg(
        grouping(col("lang")).cast("int").as("g_lang"),
        grouping(col("source")).cast("int").as("g_source"),
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .selectExpr("lang", "source", "g_lang", "g_source",
        "n_docs", "n_tokens", "n_chars",
        "CAST(n_tokens AS DOUBLE) / n_docs AS avg_tokens")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t2_token_count" -> ((s, d) => tokenCount(s, d)),
    "t3_quality_score" -> ((s, d) => qualityScore(s, d)),
    "t4_lang_id" -> ((s, d) => langId(s, d)),
    "t5_fingerprint" -> ((s, d) => fingerprint(s, d)),
    "t15_repetition" -> ((s, d) => repetition(s, d)),
    "t34_compress_ratio" -> ((s, d) => compressRatio(s, d)),
    "t36_corpus_stats" -> ((s, d) => corpusStats(s, d))
  )

  /** Dynamic t34 oracle (the t12 pattern): deflate lengths are a pure
    * function of (text bytes, level, zlib build), and the driver shares
    * the JVM — so the expected rows are recomputed sequentially with
    * the SAME static helper the codegen'd expression calls, and the
    * round() mirrored bit-for-bit via the same HALF_UP BigDecimal
    * semantics Spark's Round uses (math.rint would be HALF_EVEN — a
    * latent tie-break mismatch).
    */
  def dynamicOracles(spark: SparkSession, sfDir: String): Map[String, String] = {
    val d = docs(spark, sfDir)
    if (d.count() > Multimodal.MaxOracleRows) Map.empty
    else {
      val rows = d.select("doc_id", "text").orderBy("doc_id").collect().map { r =>
        val id = r.getLong(0)
        if (r.isNullAt(1)) {
          // NULL-text contract (ADVICE r06): the Spark query emits a row
          // with NULL n_bytes/z_bytes/ratio for a NULL text — mirror it
          // instead of NPEing the oracle builder (the other text
          // operators adopted the same NULL handling in r06)
          s"($id, NULL, NULL, NULL)"
        } else {
          val text = r.getString(1)
          val n = text.getBytes("UTF-8").length.toLong
          val z = graft.spark.CompressExpressions.deflatedLength(
            org.apache.spark.unsafe.types.UTF8String.fromString(text))
          // valueOf (the decimal-string repr), NOT new BigDecimal (the
          // exact binary value) — Spark's Round goes through valueOf
          val ratio = java.math.BigDecimal.valueOf(z.toDouble / math.max(n, 1L))
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
          s"($id, $n, $z, $ratio)"
        }
      }
      Map("t34_compress_ratio" ->
        s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
           |       CAST(z_bytes AS BIGINT) AS z_bytes, CAST(compress_ratio AS DOUBLE) AS compress_ratio
           |FROM (VALUES ${rows.mkString(", ")})
           |  AS t(doc_id, n_bytes, z_bytes, compress_ratio)"""
          .stripMargin.replace("\n", " "))
    }
  }

  /** DuckDB mirrors (t4's stopword CASE is mirrored exactly; t5's
    * rolling/bag hashes mirror via md5-slice token hashes + list_reduce
    * with a prepended 0 so DuckDB's init-free reduce matches Spark's
    * init-0 aggregate step-for-step, r04).
    */
  /** DuckDB-side fragments mirroring [[Tokenize.Toks]] / [[hits]] —
    * hoisted to the object so composing oracles (t28) reuse the
    * IDENTICAL text t3 is checked against.
    */
  private[ops] def dToks = s"list_filter(regexp_split_to_array(text, ${Tokenize.DuckWs}), x -> x != '')"
  private[ops] def dHits(l: String) =
    s"len(list_filter(list_filter(regexp_split_to_array(lower(text), ${Tokenize.DuckWs}), x -> x != ''), x -> list_contains([${Stop(l).map(w => s"'$w'").mkString(",")}], x)))"

  val oracles: Map[String, String] = {
    val langs = Seq("en", "de", "fr", "es", "zh")
    val caseExpr = langs
      .map { l =>
        val ge = langs.filter(_ != l).map(o => s"${dHits(l)} >= ${dHits(o)}").mkString(" AND ")
        s"WHEN ${dHits(l)} > 0 AND $ge THEN '$l'"
      }
      .mkString("CASE ", " ", " ELSE 'und' END")
    Map(
      "t2_token_count" ->
        s"""SELECT doc_id, length(text) AS n_chars_m, CAST(len($dToks) AS BIGINT) AS n_tokens,
           |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9${Tokenize.DuckWsChars}]')) AS BIGINT) AS n_subtokens
           |FROM documents""".stripMargin,
      "t3_quality_score" ->
        s"""SELECT doc_id, length(text) AS n_chars_m, CAST(len($dToks) AS BIGINT) AS n_words,
           |       round(length(regexp_replace(text, ${Tokenize.DuckWs}, '', 'g')) / greatest(len($dToks), 1), 4) AS avg_word_len,
           |       length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
           |       round(${dHits("en")} / greatest(len($dToks), 1), 4) AS stopword_ratio
           |FROM documents""".stripMargin,
      "t4_lang_id" ->
        s"SELECT doc_id, lang, $caseExpr AS lang_pred FROM documents",
      "t5_fingerprint" ->
        s"""WITH h AS (
           |  SELECT doc_id,
           |         list_transform($dToks, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT & 2147483647) AS hs
           |  FROM documents)
           |SELECT doc_id,
           |       list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
           |                   (a, b) -> ($FpMul * a + b) % ${Dedup.MinhashP}) AS rolling_fp,
           |       list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
           |                   (a, b) -> xor(a, b)) AS bag_fp
           |FROM h""".stripMargin,
      "t15_repetition" ->
        s"""WITH t AS (
           |  SELECT doc_id, $dToks AS toks FROM documents),
           |b AS (
           |  SELECT doc_id, toks,
           |         CASE WHEN len(toks) >= 2 THEN
           |           list_transform(generate_series(1, len(toks) - 1),
           |                          i -> toks[i] || ' ' || toks[i + 1])
           |         ELSE [] END AS bigrams
           |  FROM t)
           |SELECT doc_id,
           |       CAST(len(toks) AS BIGINT) AS n_tokens,
           |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           |       CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE) ELSE round(1 - len(list_distinct(toks)) / len(toks), 4) END AS dup_word_frac,
           |       CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE) ELSE round(list_max(list_transform(list_distinct(toks),
           |             d -> len(list_filter(toks, x -> x = d)))) / len(toks), 4) END AS top_token_frac,
           |       CASE WHEN len(bigrams) = 0 THEN CAST(0.0 AS DOUBLE) ELSE round(1 - len(list_distinct(bigrams)) / len(bigrams), 4) END AS dup_bigram_frac
           |FROM b""".stripMargin,
      // same CUBE, same GROUPING() markers, mean re-derived from the
      // exact integer sums (DuckDB's sum() promotes to HUGEINT, hence
      // the BIGINT casts)
      "t36_corpus_stats" ->
        s"""SELECT lang, source,
           |       CAST(GROUPING(lang) AS INT) AS g_lang,
           |       CAST(GROUPING(source) AS INT) AS g_source,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(len($dToks)) AS BIGINT) AS n_tokens,
           |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
           |       CAST(sum(len($dToks)) AS DOUBLE) / count(*) AS avg_tokens
           |FROM documents
           |GROUP BY CUBE (lang, source)""".stripMargin
    )
  }
}
