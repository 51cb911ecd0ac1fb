package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Token/shingle hash family for the dedup + fingerprint operators
  * (VERDICT r04 task 1). Two members with identical candidate/verdict
  * semantics but different cost/verifiability trade-offs:
  *
  *  - [[HashFamily.Xx64]] — `xxhash64` (native, codegen'd): the PRODUCTION
  *    default. At 100 TB the shingle hash is the dominant CPU of the dedup
  *    stage, so the cheap non-cryptographic hash is the one that scales.
  *  - [[HashFamily.Md5Mirror]] — md5-slice: bit-exactly mirrorable in
  *    DuckDB (`('0x' || substr(md5(s), 1, k))::BIGINT`), engaged ONLY by
  *    Verify so the t5/t6/t7/t13 oracles keep full rows+schema+hash
  *    checks.
  *
  * The `graft.hash.family` session conf ([[HashFamily.ConfKey]]) is the
  * one selector: each operator that emits hash SQL reads it from its
  * input's session through [[HashFamily.of]], so no caller passes a
  * family and a session without the conf hashes with xx64.
  *
  * Both families feed the SAME downstream pipeline (31-bit base → affine
  * MinHash rehashes; 60-bit token hash → SimHash bit-vote), and
  * DedupSpec pins that they produce identical planted dup/near-dup
  * verdicts.
  */
sealed abstract class HashFamily(val name: String) {
  /** SQL fragment: 31-bit non-negative base hash of string expression `e`
    * (feeds the affine MinHash family and the t5 rolling fingerprint).
    */
  def base31Sql(e: String): String
  /** SQL fragment: 60-bit non-negative token hash of string expression `e`
    * (feeds the SimHash bit-vote).
    */
  def hash60Sql(e: String): String
  /** Column form of [[base31Sql]]. */
  def base31(c: Column): Column
  /** SQL fragment: LSH band join key from string expression `e` (the
    * comma-joined band values). Production re-hashes it to a long — the
    * standard trick that shrinks the widest dedup shuffle key from ~44
    * bytes to 8 (a collision only ADDS a candidate pair, and est_jaccard
    * is computed from the true signatures, so verdicts are unaffected).
    * The mirror family keeps the string verbatim: the DuckDB oracle must
    * reproduce the exact candidate set, and DuckDB has no xxhash64.
    */
  def bandKeySql(e: String): String
}

object HashFamily {
  case object Xx64 extends HashFamily("xx64") {
    def base31Sql(e: String): String = s"(xxhash64($e) & 2147483647)"
    def hash60Sql(e: String): String = s"(xxhash64($e) & 1152921504606846975)"
    def base31(c: Column): Column = xxhash64(c).bitwiseAND(lit(0x7FFFFFFFL))
    def bandKeySql(e: String): String = s"xxhash64($e)"
  }
  case object Md5Mirror extends HashFamily("md5") {
    def base31Sql(e: String): String =
      s"(CAST(conv(substring(md5($e), 1, 8), 16, 10) AS BIGINT) & 2147483647)"
    def hash60Sql(e: String): String =
      s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"
    def base31(c: Column): Column =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long")
        .bitwiseAND(lit(0x7FFFFFFFL))
    def bandKeySql(e: String): String = e
  }

  /** Salted per-doc base31 hash — ONE definition for every operator
    * that keys a deterministic per-document decision on a salted
    * doc_id hash (t18 sampling, t21 shards, t32 order, t33 mix).
    * [[saltedDocIdDuck]] is the md5-mirror DuckDB twin; widening the
    * mirror slice in one place keeps all four oracles in lockstep.
    */
  def saltedDocIdSql(fam: HashFamily, salt: String): String =
    fam.base31Sql(s"concat('$salt', CAST(doc_id AS STRING))")

  def saltedDocIdDuck(salt: String): String =
    s"(('0x' || substr(md5(concat('$salt', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT & 2147483647)"

  /** Session conf key: "xx64" (default) or "md5" (set by Verify). */
  val ConfKey = "graft.hash.family"

  /** The family `spark`'s conf selects; any other value than the two
    * names throws, so a misspelt conf cannot fall back to xx64 unseen.
    */
  def of(spark: SparkSession): HashFamily =
    spark.conf.get(ConfKey, Xx64.name) match {
      case Xx64.name      => Xx64
      case Md5Mirror.name => Md5Mirror
      case n => throw new IllegalArgumentException(
        s"$ConfKey must be '${Xx64.name}' or '${Md5Mirror.name}', got '$n'")
    }
}

/** Deduplication operators for a large-scale training-data pipeline, over
  * `documents` (exact / MinHash+LSH / SimHash / n-gram Jaccard) and
  * `embeddings` (cosine near-dup).
  *
  * Scale design (100 TB posture):
  *  - exact: one hash-groupBy shuffle on a 32-byte key; map-side partial agg.
  *  - minhash: signatures are a per-row map-only projection (codegen'd
  *    [[graft.spark.MinhashSig]] loop — no explode, no aggregation, no
  *    shuffle); candidate generation groups (band_idx, band_hash, doc_id)
  *    by band bucket and expands i<j pairs in-bucket — only bucket-mates
  *    ever meet, never all-pairs, and the 512 B signature arrays stay out
  *    of the shuffle. Identical-document floods (the classic LSH skew)
  *    are bounded because exact dedup runs first in a real pipeline; AQE
  *    skew-join handles the rest.
  *  - simhash: per-row 60-bit signature (no shuffle), then the 4×15-bit
  *    pigeonhole chunk join for hamming ≤ 3 — again equi-join, no all-pairs.
  *  - n-gram Jaccard: co-shingle counts from ONE group-by-shingle shuffle
  *    with in-bucket i<j pair expansion (r05 — the r04 shape self-joined
  *    the shingle relation, exchanging it twice); the df cap bounds each
  *    bucket. Meant to run AFTER an LSH candidate filter at scale (here
  *    also standalone as its own oracle-checked operator).
  *  - embedding cosine: brute-force all-pairs is the small-scale baseline;
  *    the scale path is Similarity.annLsh (hyperplane buckets).
  *  - token/shingle hashing: the session's [[HashFamily]] — codegen'd
  *    xxhash64 in production, md5-slice under Verify for the DuckDB
  *    mirrors.
  */
object Dedup {

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4 // 16 bands × 4 rows = 64 hashes; th ≈ (1/16)^(1/4) ≈ 0.5

  /** MinHash affine family: base(s) = 31-bit hash of s (per the active
    * [[HashFamily]] — codegen'd xxhash64 in production, md5-slice under
    * Verify so the DuckDB oracle can reproduce it); h_i = (a_i·base + b_i)
    * mod p with p = 2³¹−1 (prime) and 31-bit constants — every product
    * < 2⁶², so the arithmetic is overflow-free under ANSI mode in BOTH
    * engines. The constants derive from a fixed splitmix64 chain and are
    * inlined into both the Spark plan (literals) and the oracle SQL
    * (VALUES list) from the same arrays.
    */
  val MinhashP = 2147483647L
  private def splitmix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  val MinhashA: Array[Long] =
    Array.tabulate(NumHashes)(i => (splitmix(2L * i + 1) & 0x7FFFFFFFL) % (MinhashP - 1) + 1)
  val MinhashB: Array[Long] =
    Array.tabulate(NumHashes)(i => (splitmix(2L * i + 2) & 0x7FFFFFFFL) % MinhashP)

  def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** Exact dedup: hash-groupBy on sha256(text); keeper = min doc_id. */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))

  /** Distinct (doc_id, shingle) pairs; shingle = 3-token window (pure
    * higher-order functions — no UDF). Tokens are materialized as a column
    * FIRST so the per-shingle lambda reads an array instead of re-running
    * split+filter per element (that nesting is O(tokens²) per document —
    * measured 4× slower even at sf0.01).
    */
  /** Per-row SQL fragment: the distinct 3-token shingle ARRAY of a doc,
    * from a prebuilt `toks` array column. Shared verbatim between the
    * exploded relation ([[shingles]], for the Jaccard operators, which
    * genuinely need cross-document shingle joins) and the per-row
    * signature path ([[minhashSignatures]], which does not).
    */
  private val ShingleArraySql: String =
    """array_distinct(CASE WHEN size(toks) >= 3
      |  THEN transform(sequence(0, size(toks) - 3),
      |       i -> concat_ws(' ', slice(toks, i + 1, 3)))
      |  ELSE array(concat_ws(' ', toks)) END)"""
      .stripMargin.replace("\n", " ")

  def shingles(df: DataFrame): DataFrame =
    df.selectExpr("doc_id", s"${Tokenize.Toks} AS toks")
      .selectExpr("doc_id", s"explode($ShingleArraySql) AS shingle")

  /** 64-hash MinHash signature per document — a PER-ROW projection, no
    * explode / aggregation / shuffle. The shingle string is hashed ONCE
    * to a 31-bit base (per the session's [[HashFamily]]), and the family is
    * 64 affine rehashes of the base: h_i = (a_i·base + b_i) mod p —
    * evaluated by the codegen'd [[graft.spark.MinhashSig]] loop
    * (shingles × 64 long multiply-mod per document, inside the scan
    * stage). Values are bit-identical to the r01–r04 explode +
    * 64-column-min aggregation (min over the same distinct-shingle bases
    * of the same family), so the DuckDB mirror — which keeps the GROUP BY
    * shape — is unchanged; the DedupSpec planted corpus pins the pair
    * sets per family.
    *
    * Scale: signatures become map-only — the corpus is read once and
    * NOTHING shuffles until banding (which shuffles only
    * (band_idx, band_key, doc_id), ~20 B/row·band).
    */
  def minhashSignatures(df: DataFrame): DataFrame = {
    graft.spark.MinhashExpressions.register(
      df.sparkSession, MinhashA, MinhashB, MinhashP)
    val base = HashFamily.of(df.sparkSession).base31Sql("s")
    df.selectExpr("doc_id", s"${Tokenize.Toks} AS toks")
      .selectExpr("doc_id", s"transform($ShingleArraySql, s -> $base) AS bases")
      .selectExpr("doc_id", "minhash_sig(bases) AS sig")
  }

  /** MinHash + LSH banding: near-dup pairs with estimated Jaccard ≥ th. */
  def minhashLsh(spark: SparkSession, sfDir: String,
      th: Double = 0.5): DataFrame =
    minhashLshOn(docs(spark, sfDir), th)

  def minhashLshOn(docsDf: DataFrame, th: Double): DataFrame = {
    // The signature relation is referenced three times below (banding,
    // sig-fetch joins ×2) and Spark's ReuseExchange does NOT deduplicate
    // the subtrees (r05 profile: 4 full shingle-scan+signature passes,
    // ~3× the single-pass cost). Signatures are 1 row/doc × ~520 B —
    // negligible next to the corpus — so materialize them ONCE
    // (Staging: localCheckpoint by default; a durable parquet staging
    // table when `graft.staging.dir` is set — the persisted signature
    // table every production MinHash pipeline stages anyway).
    minhashLshOnSigs(
      Staging.materialize(minhashSignatures(docsDf), "t6_signatures"), th)
  }

  /** [[minhashLshOn]] over an ALREADY-MATERIALIZED signature relation —
    * the entry point for callers that hold a staged/persisted signature
    * table and consume it in MORE places than this pair job (t29 feeds
    * the same corpus signatures to the standing clustering AND the
    * incremental band probe; a production run reads the persisted
    * signature table of ICEBERG.md §5). `sig` must be materialized by
    * the caller: it is referenced three times below.
    */
  def minhashLshOnSigs(sig: DataFrame, th: Double): DataFrame = {
    // Band key per the family (HashFamily.bandKeySql): an 8-byte long in
    // production, the comma-joined values verbatim under the mirror (the
    // oracle must reproduce the exact candidate set).
    //
    // Candidate generation is ONE narrow shuffle: group the exploded
    // (band_idx, band_key, doc_id) rows by band bucket and expand i<j
    // pairs within each bucket — half the shuffled bytes of the
    // equivalent self-join (which exchanges the banded relation twice),
    // with the identical pair set. The shuffle carries ONLY (band_idx,
    // band_key, doc_id) — the 64-long signature arrays (~512 B/row) stay
    // OUT of the banding shuffle and the pair-dedup shuffle (r05:
    // carrying them measured ~40% of t6's wall time; at 100 TB they'd
    // multiply the job's widest shuffle by ~10×). Signatures are joined
    // back onto the (small) surviving pair set afterwards. A flood
    // bucket of k identical docs costs k²/2 pair rows exactly as the
    // self-join would; the composite pipeline runs exact dedup first,
    // which removes that mass.
    val pairs = lshCandidatePairs(sig)
    pairs
      .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .selectExpr("id_a", "id_b",
        s"round(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / $NumHashes.0D, 4) AS est_jaccard")
      .filter(col("est_jaccard") >= th)
  }

  /** Banding + in-bucket pair expansion over a (doc_id, sig) relation —
    * the candidate-generation half of [[minhashLshOn]], factored out so
    * the profiler can attribute its cost separately from the sig-fetch
    * joins.
    */
  def lshCandidatePairs(sig: DataFrame): DataFrame =
    idPairsPerBucket(lshBands(sig), col("band_idx"), col("band_hash"))
      .dropDuplicates("id_a", "id_b")

  /** In-bucket i<j pair expansion — the one narrow shuffle that replaces
    * a self-join on the bucket key (half its shuffled bytes, the same
    * pair set). Groups `df` by `keys`, collects each bucket's `elem`
    * values sorted, and emits one row per (ids[i], ids[j]), i<j, as the
    * struct fields `pair(a, b)` spells from the two elements' SQL.
    */
  private def bucketPairs(df: DataFrame, keys: Seq[Column], elem: Column)(
      pair: (String, String) => String): DataFrame =
    df.groupBy(keys: _*)
      .agg(sort_array(collect_list(elem)).as("ids"))
      .filter(size(col("ids")) > 1)
      .selectExpr(
        s"""inline(flatten(transform(sequence(0, size(ids) - 2),
           |  i -> transform(slice(ids, i + 2, size(ids) - i - 1),
           |       x -> struct(${pair("ids[i]", "x")})))))"""
          .stripMargin.replace("\n", " "))

  /** [[bucketPairs]] of the doc ids in each bucket: (id_a, id_b), id_a < id_b. */
  private def idPairsPerBucket(df: DataFrame, keys: Column*): DataFrame =
    bucketPairs(df, keys, col("doc_id"))((a, b) => s"$a AS id_a, $b AS id_b")

  /** The banded relation of a (doc_id, sig) relation: one row per
    * (doc_id, band_idx, band_hash) — the probe/build key space of every
    * LSH join ([[lshCandidatePairs]] buckets it; [[minhashIncremental]]
    * equi-joins it). ~20 B/row·band in production (the band key
    * re-hashes to a long); the signature arrays never enter it.
    */
  def lshBands(sig: DataFrame): DataFrame =
    sig.selectExpr(
      "doc_id",
      s"""posexplode(transform(sequence(0, ${Bands - 1}),
         | b -> ${HashFamily.of(sig.sparkSession).bandKeySql(
                  s"concat_ws(',', transform(slice(sig, b * $RowsPerBand + 1, $RowsPerBand), v -> cast(v AS string)))")}))"""
        .stripMargin.replace("\n", " "))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")

  /** t17 — INCREMENTAL near-dup detection: dedup a new ingest batch
    * against the standing corpus, the continuous-ingest shape of a real
    * training-data pipeline. The batch here is the deterministic slice
    * `doc_id % 4 == 0` of the documents table (25% — non-vacuous on the
    * synthesized corpus: 7 of the 25 sf0.01 near-dup pairs touch it).
    *
    * Output: one row per (new_id, dup_of) with est_jaccard ≥ th and a
    * `source` label — 'corpus' when the duplicate-of doc is standing
    * corpus, 'batch' when it is an earlier (smaller doc_id) doc of the
    * same batch. Restricted to pairs touching the batch, this is exactly
    * [[minhashLshOn]]'s pair set re-oriented (IncrementalDedupSpec pins
    * the equivalence), but the CORPUS side is never paired against
    * itself.
    *
    * Scale shape — why this is the 100 TB ingest plan:
    *  - the standing corpus contributes ONE relation, its banded
    *    signature table ([[lshBands]] of a persisted signature table in
    *    production — recomputed from the documents table here because
    *    the sandbox keeps no standing state; ICEBERG.md maps the
    *    persistence). The corpus text is never re-read, re-shingled, or
    *    re-paired: corpus-vs-corpus pairs were emitted by the ingests
    *    that created them.
    *  - new-vs-corpus candidates come from ONE equi-join probe keyed on
    *    (band_idx, band_hash) with the batch's bands BROADCAST (a batch
    *    is bounded — hours of crawl — while the corpus is the 100 TB
    *    side; the probe streams map-side over the corpus band table,
    *    no corpus shuffle at all). PlanSpec pins the BroadcastHashJoin.
    *  - new-vs-new candidates use the standard in-bucket i<j expansion
    *    ([[lshCandidatePairs]]) over the BATCH only.
    *  - est_jaccard verification joins signatures onto the (tiny)
    *    candidate set, exactly like [[minhashLshOn]].
    */
  def minhashIncremental(spark: SparkSession, sfDir: String,
      th: Double = 0.5): DataFrame = {
    val d = docs(spark, sfDir).select("doc_id", "text")
    minhashIncrementalOn(
      d.filter(col("doc_id") % 4 === 0),
      d.filter(col("doc_id") % 4 =!= 0), th)
  }

  def minhashIncrementalOn(batch: DataFrame, corpus: DataFrame,
      th: Double): DataFrame = {
    // Both signature relations are referenced twice (bands + sig-fetch);
    // materialize once, same rationale as minhashLshOn. The corpus one
    // stands in for the persisted signature table of prior ingests —
    // [[minhashIncrementalOnSigs]] is the production entry point that
    // takes that table directly (IncrementalDedupSpec's two-batch drill
    // runs it against an actually-persisted parquet signature table and
    // pins pair-set equality with this recompute path).
    val batchSig = Staging.materialize(minhashSignatures(batch), "t17_batch_sig")
    val corpusSig = Staging.materialize(minhashSignatures(corpus), "t17_corpus_sig")
    minhashIncrementalOnSigs(batchSig, corpusSig, th)
  }

  /** t17 over ALREADY-MATERIALIZED signature relations — the shape a real
    * ingest runs: `corpusSig` is the persisted signature table prior
    * ingests appended to (the corpus text is never re-read or
    * re-shingled), `batchSig` the new batch's signatures (computed fresh,
    * then appended to the same table for the next ingest).
    */
  def minhashIncrementalOnSigs(batchSig: DataFrame, corpusSig: DataFrame,
      th: Double): DataFrame = {
    val newVsCorpus = lshBands(corpusSig)
      .join(broadcast(lshBands(batchSig)
          .withColumnRenamed("doc_id", "new_id")),
        Seq("band_idx", "band_hash"))
      .select(col("new_id"), col("doc_id").as("dup_of"),
        lit("corpus").as("source"))
      .dropDuplicates("new_id", "dup_of")
    val newVsNew = lshCandidatePairs(batchSig)
      .select(col("id_b").as("new_id"), col("id_a").as("dup_of"),
        lit("batch").as("source"))
    val sigs = corpusSig.unionByName(batchSig)
    newVsCorpus.unionByName(newVsNew)
      .join(batchSig.select(col("doc_id").as("new_id"), col("sig").as("sig_n")),
        Seq("new_id"))
      .join(sigs.select(col("doc_id").as("dup_of"), col("sig").as("sig_d")),
        Seq("dup_of"))
      .selectExpr("new_id", "dup_of",
        s"round(size(filter(zip_with(sig_n, sig_d, (x, y) -> x = y), v -> v)) / $NumHashes.0D, 4) AS est_jaccard",
        "source")
      .filter(col("est_jaccard") >= th)
  }

  /** t19 — benchmark DECONTAMINATION: flag corpus documents that share
    * n-gram content with an evaluation/benchmark set, the standard
    * pre-training hygiene pass. The benchmark here is the deterministic
    * slice `doc_id % 97 == 0` (~1%, non-vacuous: 207 (doc, eval) pairs
    * share a shingle at sf0.01); everything else is corpus.
    *
    * Output: (doc_id, eval_id, n_shared) — one row per corpus doc ×
    * benchmark doc sharing ≥ `minShared` DISTINCT 3-token shingles.
    *
    * Scale shape: benchmark sets are tiny (MBs) against a 100 TB corpus,
    * so the eval shingle relation is BROADCAST and the corpus shingle
    * stream is probed map-side — the corpus is never shuffled; the
    * group-by carries only the matched pairs (PlanSpec pins the
    * BroadcastHashJoin). Production would join on the shingle's 64-bit
    * hash to shrink the broadcast (a collision only adds a conservative
    * flag); the raw string join is kept here for exact oracle semantics.
    */
  def decontaminate(spark: SparkSession, sfDir: String,
      minShared: Long = 1): DataFrame = {
    val d = docs(spark, sfDir).select("doc_id", "text")
    decontaminateOn(
      d.filter(col("doc_id") % 97 === 0),
      d.filter(col("doc_id") % 97 =!= 0), minShared)
  }

  def decontaminateOn(evalDocs: DataFrame, corpus: DataFrame,
      minShared: Long): DataFrame =
    shingles(corpus)
      .join(broadcast(shingles(evalDocs).withColumnRenamed("doc_id", "eval_id")),
        Seq("shingle"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** 60-bit token hash matching `('0x' || substr(md5(t), 1, 15))::BIGINT`
    * in DuckDB: the first 15 hex chars of the md5 digest are bytes 0..6
    * plus the HIGH nibble of byte 7 (VERDICT r03 task 2 follow-on — the
    * r02 murmur3 family had no DuckDB mirror, demoting t7 to rows-only).
    * Kept as the reference implementation for the spec pinning that the
    * SQL-side `conv(substring(md5(t), 1, 15), 16, 10)` path (which the
    * Md5Mirror family now uses) is bit-identical.
    */
  def md5Hash60(digest: java.security.MessageDigest, token: String): Long = {
    digest.reset()
    val d = digest.digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** SimHash 60-bit signature — a per-row projection, like
    * [[minhashSignatures]]. Token hashing happens SQL-side per the
    * session's [[HashFamily]] (codegen'd xxhash64 in production; md5-slice
    * under Verify — bit-identical to [[md5Hash60]]); the bit-vote is the
    * native codegen'd [[graft.spark.SimhashVote]] loop, which replaced
    * the r02–r05 typed mapPartitions kernel (same loop, but no Dataset
    * encoder boundary — that path deserialized every token-hash array
    * into a boxed Seq[Long] — and no codegen fence). Duplicate tokens
    * vote repeatedly, as in the classic formulation. Zero-token
    * documents are excluded (the expression yields NULL): they carry no
    * signal, and the all-zero signature would otherwise pair every empty
    * doc with every doc whose low chunk happens to be 0.
    */
  def simhashes(spark: SparkSession, sfDir: String): DataFrame = {
    graft.spark.MinhashExpressions.registerSimhash(spark)
    docs(spark, sfDir)
      .selectExpr("doc_id",
        s"simhash_vote(transform(${Tokenize.Toks}, t -> ${HashFamily.of(spark).hash60Sql("t")})) AS simhash")
      .filter(col("simhash").isNotNull)
  }

  /** SimHash near-dup: pigeonhole band join (4 × 15-bit chunks ⇒ any pair
    * within hamming ≤ 3 shares ≥ 1 chunk), then exact hamming filter.
    */
  def simhashDedup(spark: SparkSession, sfDir: String,
      maxHamming: Int = 3): DataFrame = {
    // The signature relation feeds the bucket expansion exactly ONCE
    // (the chunk "join" is a groupBy expansion, not a self-join), so it
    // is deliberately NOT materialized: scan → signature → posexplode →
    // partial agg fuse into one codegen'd pass. (An earlier self-join
    // formulation referenced it twice and checkpointed it; that
    // materialization is pure overhead in this shape.)
    val sh = simhashes(spark, sfDir)
    val chunked = sh.selectExpr("doc_id", "simhash",
      "posexplode(transform(sequence(0, 3), c -> (simhash >> (c * 15)) & 32767))")
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk_val")
    // One narrow shuffle instead of a chunk self-join (bucketPairs); the
    // signature is a single long, cheap to carry through the bucket.
    bucketPairs(chunked, Seq(col("chunk_idx"), col("chunk_val")),
        struct(col("doc_id"), col("simhash"))) { (a, b) =>
      s"$a.doc_id AS id_a, $b.doc_id AS id_b, $a.simhash AS sh_a, $b.simhash AS sh_b"
    }
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Hot-shingle cap for the standalone Jaccard self-join (VERDICT r03
    * task 3): a stop-shingle ("of the and") present in k documents makes
    * a k² join group — at 100 TB one hot shingle is a straggler/OOM task.
    * Shingles with document frequency > maxDf are dropped from the
    * WHOLE shingle space (join AND size denominators), i.e. Jaccard is
    * computed over the discriminative shingles only — the standard df-cap
    * used by production dedup pipelines, which also tightens precision
    * (ubiquitous shingles carry no similarity signal). The hot set is
    * tiny by construction (df > maxDf) so the anti-join broadcasts.
    */
  val DefaultMaxShingleDf = 1000

  /** Exact n-gram Jaccard via the shared-shingle join. */
  def ngramJaccard(spark: SparkSession, sfDir: String, th: Double = 0.05,
      maxDf: Int = DefaultMaxShingleDf): DataFrame =
    ngramJaccardOn(docs(spark, sfDir), th, maxDf)

  def ngramJaccardOn(docsDf: DataFrame, th: Double,
      maxDf: Int = DefaultMaxShingleDf): DataFrame =
    ngramJaccardOnShingles(shingles(docsDf), th, maxDf)

  /** df-capped distinct (doc_id, shingle) relation: shingles with
    * document frequency > maxDf removed via a broadcast anti-join (the
    * hot set is tiny by construction). Exposed pre-materialization so
    * DedupSpec can pin the broadcast-anti-join plan shape (the
    * localCheckpoint in [[ngramJaccardOnShingles]] truncates it out of
    * the downstream executed plan).
    */
  def cappedShingles(sh: DataFrame, maxDf: Int): DataFrame = {
    // NB no dropDuplicates here (r07): `sh` is always [[shingles]] output,
    // which is distinct (doc_id, shingle) BY CONSTRUCTION — the per-doc
    // array is array_distinct'ed before the explode, and doc_id keys the
    // rest. The old dropDuplicates("doc_id", "shingle") was a full
    // exchange+aggregate of the widest relation in the job that removed
    // zero rows (guide §2.4: "a distinct on data that is already
    // unique") — and jaccardForPairs recomputes this relation per
    // reference, so t13/t20 paid it three times.
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("shingle")
    sh.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  def ngramJaccardOnShingles(sh: DataFrame, th: Double,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    // The capped relation is referenced twice (sizes + the shingle
    // grouping) and the shingle explode is NOT exchange-reused across
    // them (see minhashLshOnShingles): materialize the df-capped shingle
    // relation once. At real scale this is the persisted shingle table
    // every production dedup pipeline stages anyway.
    //
    // The dropDuplicates BEFORE the cap removes zero rows ([[shingles]]
    // is distinct by construction) — it is kept as the SHARING EXCHANGE
    // (r07): the hot-count aggregate and the anti-join probe both
    // consume the exploded relation, and only an identical common
    // subtree lets ReuseExchange ship it once. Without it the corpus is
    // tokenized+shingled TWICE (measured +30% on t8); a
    // repartition(shingle) was tried instead and planned WORSE (the
    // optimizer hoists the repartition above the anti join, the two
    // explode subtrees prune different columns and stop being reusable —
    // see plans/r07/t8 notes).
    val s = Staging.materialize(
      cappedShingles(sh.dropDuplicates("doc_id", "shingle"), maxDf),
      "t8_capped_shingles")
    // Co-shingle counts via ONE shuffle: group by shingle, expand i<j
    // doc pairs within each group (bucketPairs — identical pair multiset
    // to the r04 shingle self-join, which exchanged the relation TWICE;
    // at 100 TB this halves the widest shuffle of the standalone Jaccard
    // job). The df cap bounds a group at maxDf ids, so the in-task k²
    // expansion is bounded exactly as the join's biggest task group was.
    val common = idPairsPerBucket(s, col("shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    jaccardOf(common, s, th)
  }

  /** Jaccard of each (id_a, id_b, common) row over the per-doc sizes of
    * the capped shingle relation `s`, rounded to 4 places; rows below
    * `th` dropped.
    */
  private def jaccardOf(common: DataFrame, s: DataFrame, th: Double): DataFrame = {
    val sizes = s.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        round(col("common") / (col("sz_a") + col("sz_b") - col("common")), 4))
      .filter(col("jaccard") >= th)
      .select(col("id_a"), col("id_b"), col("common"), col("jaccard"))
  }

  /** Exact df-capped Jaccard for a GIVEN pair set — the verification
    * stage of the composite pipeline (r05). The standalone self-join
    * ([[ngramJaccardOnShingles]]) computes Jaccard for every co-shingle
    * pair among the input docs; running that over LSH candidate DOCS is
    * quadratic in near-dup cluster size (candidate docs share most of
    * their shingles by construction — profiled at 8 s vs 4 s for the
    * whole corpus at sf0.1, and unboundedly worse at 100 TB where one
    * template cluster can hold 10⁶ docs). Here the shingle join is keyed
    * by the PAIR list instead: cost ∝ candidates × shingles-per-doc,
    * independent of cluster size.
    *
    * Semantics are identical to `standalone-jaccard ∩ pairs` over the
    * same doc set (same shingle space, same df cap, same denominators),
    * so the t13 DuckDB oracle — which mirrors the all-pairs-then-
    * semi-join formulation — is unchanged.
    */
  def jaccardForPairs(pairs: DataFrame, docsDf: DataFrame, th: Double,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    // Candidate docs are a small subset of the corpus, so recomputing the
    // capped shingle relation per reference is cheap — no checkpoint here.
    val s = cappedShingles(shingles(docsDf), maxDf)
    val common = pairs
      .join(s.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(s.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    jaccardOf(common, s, th)
  }

  /** Candidate near-dup pairs from the two ANN structures that already
    * exist (Similarity.annLsh hyperplane buckets ∪ annIvf nprobe-2 cells):
    * two equi-self-joins on a narrow key — NEVER an all-pairs product.
    * IVF cell-mates guarantee a non-empty candidate set at any sf (every
    * document lands in one of IvfCells cells), while LSH buckets add the
    * high-precision mates.
    */
  def embeddingCandidatePairs(spark: SparkSession, sfDir: String): DataFrame = {
    graft.spark.VectorExpressions.register(spark)
    graft.spark.VectorExpressions.registerIvfCells(
      spark, Similarity.ivfCentroids(spark, sfDir))
    val keyed = embeddings(spark, sfDir).selectExpr(
      "vec_id",
      """explode(array(concat('L', float_vec_lsh_bucket(embedding)),
        |              concat('C', float_vec_ivf_cell(embedding)),
        |              concat('C', float_vec_ivf_cell2(embedding)))) AS k"""
        .stripMargin.replace("\n", " "))
      .filter(col("k") =!= "C-1") // second probe cell is -1 when only one centroid
    val a = keyed.select(col("k"), col("vec_id").as("id_a"))
    val b = keyed.select(col("k"), col("vec_id").as("id_b"))
    a.join(b, Seq("k"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Embedding cosine near-dup — exact cosine VERIFICATION over the
    * LSH ∪ IVF candidate pairs (VERDICT r02 task 4: the r01/r02 crossJoin
    * baseline was the one remaining O(n²) operator in the driver set; it
    * survives only as the spec-only baseline `embeddingCosineBruteForce`).
    * Dot/norm via the native codegen'd float_vec_dot expression (HOF
    * zip_with/aggregate are interpreted per-element — ~10× slower on
    * 64-dim pairs).
    *
    * Output is the top `topPairs` candidate pairs by cosine (deterministic
    * tie-break on ids) rather than a fixed threshold: a threshold makes
    * the result set vacuously empty on corpora with no near-dups
    * (VERDICT r01), while rank-based output is non-empty (IVF cell-mates
    * always exist) and deterministic at every sf. The top-k runs as
    * TakeOrderedAndProject (per-partition heaps + driver merge), not a
    * global sort; at 100 TB the plan is: two narrow equi-joins keyed on
    * bucket/cell, exact dot products on candidates only.
    */
  def embeddingCosine(spark: SparkSession, sfDir: String, topPairs: Int = 100): DataFrame = {
    graft.spark.VectorExpressions.register(spark)
    val e = embeddings(spark, sfDir).selectExpr(
      "vec_id", "embedding",
      "sqrt(float_vec_dot(embedding, embedding)) AS nrm")
    val pairs = embeddingCandidatePairs(spark, sfDir)
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"),
        col("nrm").as("n_a")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"),
        col("nrm").as("n_b")), Seq("id_b"))
      .selectExpr("id_a", "id_b",
        "round(float_vec_dot(v_a, v_b) / (n_a * n_b), 4) AS cosine")
      .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
      .limit(topPairs)
    pairs.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc))
        .cast("long"))
  }

  /** The O(n²) brute-force baseline — SPEC-ONLY (DedupSpec compares the
    * candidate-verified top pairs against it); not in the driver query
    * set because a cartesian product dies at any real scale.
    */
  def embeddingCosineBruteForce(
      spark: SparkSession, sfDir: String, topPairs: Int = 100): DataFrame = {
    graft.spark.VectorExpressions.register(spark)
    val e = embeddings(spark, sfDir).selectExpr(
      "vec_id", "embedding",
      "sqrt(float_vec_dot(embedding, embedding)) AS nrm")
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"), col("nrm").as("n_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"), col("nrm").as("n_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .selectExpr("id_a", "id_b",
        "round(float_vec_dot(v_a, v_b) / (n_a * n_b), 4) AS cosine")
      .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
      .limit(topPairs)
  }

  /** Composite dedup pipeline — the shape a real pretraining corpus pass
    * takes: exact dedup first (cheap, kills the LSH skew floods), then
    * MinHash+LSH band candidates on the survivors, then exact n-gram
    * Jaccard verification of candidates only, greedy min-id keeper.
    * Output: one status row per document.
    *
    * The candidate stage is [[lshCandidatePairs]] WITHOUT the
    * signature-estimated-Jaccard pre-filter that standalone t6 reports:
    * every candidate is exact-verified here anyway, so the est filter
    * only changes WHICH pairs reach verification, and pruning them cost
    * two joins against the full 1-row-per-doc signature relation (r05
    * profile: ~1 s of t13's ~5.4 s at sf0.1; at 10^12 docs that is two
    * extra shuffles of a ~500 TB relation to save verify work on the
    * small band-candidate set — the wrong trade whenever candidates ≪
    * corpus, which banding at 16×4 already guarantees).
    *
    * Scale: stage 1 is one hash shuffle; stage 2 the signature groupBy +
    * band join; stage 3 runs only on candidate pairs (broadcastable at
    * realistic dup rates) — never an all-pairs product.
    */
  def dedupPipeline(spark: SparkSession, sfDir: String,
      jaccardTh: Double = 0.8): DataFrame = {
    val d = docs(spark, sfDir).select("doc_id", "text")
    val groups = d.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    val withKeeper = d
      .withColumn("h", sha2(col("text"), 256))
      .join(groups, "h")
    val exactRemoved = withKeeper
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), lit("exact-dup").as("status"), col("keep_id").as("dup_of"))
    // survivors feeds three branches (candidates, verification, keep-list);
    // materialize (not cache) so the exact-dedup stage isn't recomputed
    // per branch AND the logical plan is truncated at this point: .cache()
    // keeps the full logical subtree, and because every downstream stage
    // references survivors/candidates several times, the t13 plan tree
    // grew combinatorially (r05 profile: 576 parquet-scan nodes, ~5 s of
    // DRIVER-SIDE planning per action — the real cause of the r04 t13
    // regression and its 82 s cold-driver outlier, not the md5 hash).
    // Staging.materialize: localCheckpoint by default; the durable
    // staging-table path under `graft.staging.dir` (r05 task 4) is the
    // reliable form a real cluster needs — both truncate the same way.
    val survivors = Staging.materialize(withKeeper
      .filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "text"), "t13_survivors")
    // NB the shingle relation is deliberately NOT cached/shared between
    // the signature and verify stages: r03 measured sharing it (cache of
    // the exploded ~n×1.5k-row relation) at 4× SLOWER than recomputing —
    // the explode is cheap codegen off cached survivors, the verify stage
    // explodes only the (small) candidate-doc subset, and materializing
    // the full exploded relation breaks the fused explode→partial-agg
    // pipeline. Recompute wins at every scale where candidates ≪ corpus.
    val candidates = Staging.materialize(
      lshCandidatePairs(minhashSignatures(survivors)),
      "t13_candidates")
    // Verification is PAIR-restricted (jaccardForPairs): the r04 shape
    // (standalone all-pairs jaccard over candidate docs, then semi-join)
    // was quadratic in near-dup cluster size — see jaccardForPairs doc.
    val verified = jaccardForPairs(
      pairs = candidates,
      docsDf = survivors.join(
        candidates.selectExpr("id_a AS doc_id")
          .union(candidates.selectExpr("id_b AS doc_id")).distinct(),
        Seq("doc_id")),
      th = jaccardTh)
    val nearRemoved = verified
      .select(greatest(col("id_a"), col("id_b")).as("doc_id"),
        least(col("id_a"), col("id_b")).as("dup_of"))
      .groupBy(col("doc_id")).agg(min(col("dup_of")).as("dup_of"))
      .select(col("doc_id"), lit("near-dup").as("status"), col("dup_of"))
    // removed is referenced twice (the keep-list anti-join AND the final
    // union) — without materialization the whole verification stage runs
    // twice. It is tiny (dup rows only), so materialize it.
    val removed = Staging.materialize(
      exactRemoved.unionByName(nearRemoved), "t13_removed")
    d.select("doc_id")
      .join(removed, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("kept").as("status"),
        lit(null).cast("long").as("dup_of"))
      .unionByName(removed)
  }

  /** The hash-touching queries resolve their [[HashFamily]] from the
    * session conf at plan time: Bench and normal use get the codegen'd
    * xxhash64 production family; Verify sets `graft.hash.family=md5` so
    * the results match the md5-based DuckDB oracles bit-for-bit.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_exact_dedup" -> ((s, d) => exact(s, d)),
    "t6_minhash_lsh" -> ((s, d) => minhashLsh(s, d)),
    "t7_simhash_dedup" -> ((s, d) => simhashDedup(s, d)),
    "t8_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "t17_incremental_dedup" -> ((s, d) => minhashIncremental(s, d)),
    "t19_decontamination" -> ((s, d) => decontaminate(s, d)),
    "t9_embed_cosine_dups" -> ((s, d) => embeddingCosine(s, d)),
    "t13_dedup_pipeline" -> ((s, d) => dedupPipeline(s, d))
  )

  /** Shared DuckDB CTE prefix: tokens → distinct (doc_id, shingle). */
  private val ShingleCtes =
    s"""toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, ${Tokenize.DuckWs}), x -> x != '') AS tk
      |  FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
      |      THEN list_transform(range(1, len(tk) - 1),
      |           i -> concat(tk[i], ' ', tk[i + 1], ' ', tk[i + 2]))
      |      ELSE [array_to_string(tk, ' ')] END) AS shingle
      |    FROM toks))""".stripMargin

  /** Shared DuckDB CTE prefix: documents → MinHash signatures → banded
    * relation (md5-slice base + affine family, constants inlined from
    * MinhashA/MinhashB — byte-equal to the Spark Md5Mirror path). Ends at
    * `bands(doc_id, sig, b, bk)`; t6 and t17 differ only in which band
    * pairs become candidates.
    */
  private lazy val MinhashBandCtes: String = {
    val consts = (0 until NumHashes)
      .map(i => s"($i, ${MinhashA(i)}, ${MinhashB(i)})").mkString(", ")
    s"""$ShingleCtes,
       |bases AS (
       |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT & 2147483647 AS base
       |  FROM sh0),
       |consts(i, a, b) AS (VALUES $consts),
       |mh AS (
       |  SELECT bases.doc_id, consts.i,
       |         min((consts.a * bases.base + consts.b) % 2147483647) AS h
       |  FROM bases CROSS JOIN consts GROUP BY bases.doc_id, consts.i),
       |sigs AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM mh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, sig, bb.b AS b,
       |         concat_ws(',', sig[bb.b * 4 + 1], sig[bb.b * 4 + 2],
       |                        sig[bb.b * 4 + 3], sig[bb.b * 4 + 4]) AS bk
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bb)""".stripMargin
  }

  /** Shared DuckDB CTE prefix extending [[MinhashBandCtes]] to the
    * VERIFIED near-dup pair relation `pairs50(id_a, id_b, est_jaccard)`
    * (band-share candidates, est ≥ 0.5) — the t6 result set. Factored so
    * the t26 connected-components oracle consumes the IDENTICAL pair
    * text t6 is checked against (any drift desyncs both, loudly).
    */
  private[ops] lazy val MinhashPairCtes: String =
    s"""$MinhashBandCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       |         x.sig AS sig_a, y.sig AS sig_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |pairs50 AS (
       |  SELECT id_a, id_b,
       |         round(CAST(len(list_filter(range(1, 65), j -> sig_a[j] = sig_b[j])) AS DOUBLE) / 64, 4) AS est_jaccard
       |  FROM cand
       |  WHERE round(CAST(len(list_filter(range(1, 65), j -> sig_a[j] = sig_b[j])) AS DOUBLE) / 64, 4) >= 0.5)""".stripMargin

  val oracles: Map[String, String] = Map(
    "t1_exact_dedup" ->
      """SELECT sha256(text) AS h, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS keep_id
        |FROM documents GROUP BY sha256(text)""".stripMargin,
    // Full MinHash+LSH mirror (VERDICT r03 task 2): same md5-slice base,
    // same affine family (constants inlined from MinhashA/MinhashB), same
    // banding and estimate — byte-equal candidates and est_jaccard.
    "t6_minhash_lsh" ->
      s"""WITH $MinhashPairCtes
         |SELECT id_a, id_b, est_jaccard FROM pairs50""".stripMargin,
    // Decontamination mirror: distinct-shingle overlap counts between the
    // benchmark slice and the corpus — the join is on the raw shingle, so
    // the mirror is family-independent.
    "t19_decontamination" ->
      s"""WITH $ShingleCtes,
         |ev AS (SELECT doc_id AS eval_id, shingle FROM sh0 WHERE doc_id % 97 = 0),
         |co AS (SELECT doc_id, shingle FROM sh0 WHERE doc_id % 97 <> 0)
         |SELECT co.doc_id, ev.eval_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM co JOIN ev USING (shingle)
         |GROUP BY co.doc_id, ev.eval_id
         |HAVING count(*) >= 1""".stripMargin,
    // Incremental mirror: the SAME band relation, but candidates are
    // restricted to pairs touching the batch slice (doc_id % 4 = 0) and
    // oriented (new_id, dup_of) — corpus-vs-corpus never pairs.
    "t17_incremental_dedup" ->
      s"""WITH $MinhashBandCtes,
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS dup_of,
         |         n.sig AS sig_n, c.sig AS sig_d, 'corpus' AS source
         |  FROM bands n JOIN bands c ON n.b = c.b AND n.bk = c.bk
         |  WHERE n.doc_id % 4 = 0 AND c.doc_id % 4 <> 0
         |  UNION ALL
         |  SELECT DISTINCT y.doc_id AS new_id, x.doc_id AS dup_of,
         |         y.sig AS sig_n, x.sig AS sig_d, 'batch' AS source
         |  FROM bands x JOIN bands y
         |    ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id
         |  WHERE x.doc_id % 4 = 0 AND y.doc_id % 4 = 0)
         |SELECT new_id, dup_of,
         |       round(CAST(len(list_filter(range(1, 65), j -> sig_n[j] = sig_d[j])) AS DOUBLE) / 64, 4) AS est_jaccard,
         |       source
         |FROM cand
         |WHERE round(CAST(len(list_filter(range(1, 65), j -> sig_n[j] = sig_d[j])) AS DOUBLE) / 64, 4) >= 0.5""".stripMargin,
    // Full SimHash mirror: 60-bit md5-slice token hash (dup tokens vote),
    // 4×15-bit pigeonhole chunks, exact hamming ≤ 3.
    "t7_simhash_dedup" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, ${Tokenize.DuckWs}), x -> x != '') AS tk
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(tk) AS t FROM toks),
        |th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, bb.b,
        |         CASE WHEN CAST(sum(CASE WHEN ((h >> bb.b) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) > 0
        |              THEN (CAST(1 AS BIGINT) << bb.b) ELSE 0 END AS bv
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bb
        |  GROUP BY doc_id, bb.b),
        |sh AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) AS simhash FROM bits GROUP BY doc_id),
        |chunks AS (
        |  SELECT doc_id, simhash, cc.c AS chunk_idx,
        |         (simhash >> (cc.c * 15)) & 32767 AS chunk_val
        |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS c) cc),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |         x.simhash AS sh_a, y.simhash AS sh_b
        |  FROM chunks x JOIN chunks y
        |    ON x.chunk_idx = y.chunk_idx AND x.chunk_val = y.chunk_val
        |   AND x.doc_id < y.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3""".stripMargin,
    // Full composite-pipeline mirror (r04): every stage of t13 is now
    // DuckDB-expressible — sha256 exact dedup, the md5-affine MinHash
    // band-share candidates on survivors (r05: no est-Jaccard pre-filter,
    // matching dedupPipeline — see its scaladoc), df-capped Jaccard
    // verification over candidate docs only (≥ 0.8), greedy min-id
    // keeper — so the flagship pipeline gets rows+schema+hash instead of
    // rows-only.
    "t13_dedup_pipeline" -> {
      val consts = (0 until NumHashes)
        .map(i => s"($i, ${MinhashA(i)}, ${MinhashB(i)})").mkString(", ")
      s"""WITH groups AS (
         |  SELECT sha256(text) AS h, min(doc_id) AS keep_id
         |  FROM documents GROUP BY sha256(text)),
         |wk AS (
         |  SELECT d.doc_id, d.text, g.keep_id
         |  FROM documents d JOIN groups g ON sha256(d.text) = g.h),
         |surv AS (SELECT doc_id, text FROM wk WHERE doc_id = keep_id),
         |exact_removed AS (
         |  SELECT doc_id, 'exact-dup' AS status, keep_id AS dup_of
         |  FROM wk WHERE doc_id != keep_id),
         |stoks AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, ${Tokenize.DuckWs}), x -> x != '') AS tk
         |  FROM surv),
         |ssh0 AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
         |      THEN list_transform(range(1, len(tk) - 1),
         |           i -> concat(tk[i], ' ', tk[i + 1], ' ', tk[i + 2]))
         |      ELSE [array_to_string(tk, ' ')] END) AS shingle
         |    FROM stoks)),
         |bases AS (
         |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT & 2147483647 AS base
         |  FROM ssh0),
         |consts(i, a, b) AS (VALUES $consts),
         |mh AS (
         |  SELECT bases.doc_id, consts.i,
         |         min((consts.a * bases.base + consts.b) % 2147483647) AS h
         |  FROM bases CROSS JOIN consts GROUP BY bases.doc_id, consts.i),
         |sigs AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM mh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, bb.b AS b,
         |         concat_ws(',', sig[bb.b * 4 + 1], sig[bb.b * 4 + 2],
         |                        sig[bb.b * 4 + 3], sig[bb.b * 4 + 4]) AS bk
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bb),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id),
         |cd AS (SELECT id_a AS doc_id FROM cand UNION SELECT id_b AS doc_id FROM cand),
         |csh0 AS (SELECT s.doc_id, s.shingle FROM ssh0 s JOIN cd USING (doc_id)),
         |hot AS (SELECT shingle FROM csh0 GROUP BY shingle HAVING count(*) > $DefaultMaxShingleDf),
         |csh AS (SELECT doc_id, shingle FROM csh0 ANTI JOIN hot USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM csh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS cnt
         |  FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |ver AS (
         |  SELECT c.id_a, c.id_b
         |  FROM common c
         |  JOIN sizes sa ON sa.doc_id = c.id_a
         |  JOIN sizes sb ON sb.doc_id = c.id_b
         |  SEMI JOIN cand ON cand.id_a = c.id_a AND cand.id_b = c.id_b
         |  WHERE round(c.cnt / (sa.sz + sb.sz - c.cnt), 4) >= 0.8),
         |near AS (
         |  SELECT greatest(id_a, id_b) AS doc_id, 'near-dup' AS status,
         |         min(least(id_a, id_b)) AS dup_of
         |  FROM ver GROUP BY greatest(id_a, id_b)),
         |removed AS (
         |  SELECT * FROM exact_removed UNION ALL SELECT * FROM near)
         |SELECT d.doc_id, 'kept' AS status, CAST(NULL AS BIGINT) AS dup_of
         |FROM documents d ANTI JOIN removed USING (doc_id)
         |UNION ALL SELECT doc_id, status, dup_of FROM removed""".stripMargin
    },
    // exact n-gram Jaccard is SQL-expressible → strong oracle for a dedup
    // op; mirrors the df > 1000 hot-shingle cap (VERDICT r03 task 3 — a
    // no-op at sf0.01 where max df ≪ 1000, but textually load-bearing so
    // a cap change desyncs the oracle loudly)
    "t8_ngram_jaccard" ->
      s"""WITH $ShingleCtes,
        |hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > $DefaultMaxShingleDf),
        |sh AS (SELECT doc_id, shingle FROM sh0 ANTI JOIN hot USING (shingle)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, common,
        |       round(common / (sa.sz + sb.sz - common), 4) AS jaccard
        |FROM common JOIN sizes sa ON sa.doc_id = id_a
        |            JOIN sizes sb ON sb.doc_id = id_b
        |WHERE round(common / (sa.sz + sb.sz - common), 4) >= 0.05""".stripMargin
  )

  /** Dynamic t9 oracle (r04) — authored at Verify-dump time because the
    * IVF half of the candidate generator probes LEARNED centroids (see
    * Similarity.dynamicOracles): the LSH∪IVF candidate keys, exact
    * cosine, and top-100 ranking are all verified in DuckDB with the
    * trained centroids inlined as constants.
    */
  def dynamicOracles(spark: SparkSession, sfDir: String): Map[String, String] = {
    val cents = Similarity.ivfCentroids(spark, sfDir)
    Map(
      "t9_embed_cosine_dups" ->
        s"""WITH ${Similarity.ivfAssignCtes(cents)},
           |lsh AS (SELECT vec_id, ${Similarity.lshBucketSqlExpr("v")} AS bucket FROM n),
           |keys AS (
           |  SELECT vec_id, concat('L', CAST(bucket AS VARCHAR)) AS k FROM lsh
           |  UNION ALL
           |  SELECT vec_id, concat('C', CAST(ci AS VARCHAR)) AS k
           |  FROM assigned WHERE rnk <= 2),
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM keys a JOIN keys b ON a.k = b.k AND a.vec_id < b.vec_id),
           |pairs AS (
           |  SELECT id_a, id_b,
           |         round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 4) AS cosine
           |  FROM cand JOIN n na ON na.vec_id = cand.id_a
           |            JOIN n nb ON nb.vec_id = cand.id_b),
           |top AS (
           |  SELECT id_a, id_b, cosine,
           |         row_number() OVER (ORDER BY cosine DESC, id_a, id_b) AS rank
           |  FROM pairs)
           |SELECT id_a, id_b, cosine, rank
           |FROM top WHERE rank <= 100""".stripMargin)
  }
}
