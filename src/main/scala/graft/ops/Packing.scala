package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t22 — SEQUENCE PACKING: map each document to its position in the
  * concat-and-chunk token stream of GPT-style pretraining (documents
  * concatenated in doc_id order, the stream cut into fixed-length
  * sequences). Emitted per doc: the global token offset where the doc
  * starts (`cum_before`), the training sequence its first token lands in
  * (`seq_id = cum_before div L`), and the offset inside that sequence —
  * everything a sharded tokenizer/packer needs to cut sequences without
  * ever materializing the concatenated stream.
  *
  * The interesting part is HOW the global running sum is computed.
  * The naive plan — `sum(n) OVER (ORDER BY doc_id)` — is a
  * single-partition Window: every row moves to ONE task, the definition
  * of a 100 TB scale-killer (Spark itself warns "No Partition Defined
  * for Window operation"). This operator instead does the classic
  * two-phase distributed prefix sum:
  *
  *   1. range-partition by doc_id (each partition owns a contiguous
  *      id range, P partitions work independently);
  *   2. per-partition token totals — P numbers — come to the driver
  *      (the one justified collect: its size is the partition count,
  *      not the row count);
  *   3. exclusive prefix offsets per partition broadcast back; each
  *      partition streams its rows once, adding its offset to a local
  *      running sum.
  *
  * PlanSpec pins the absence of any Window operator in the plan. The
  * DuckDB mirror IS the naive window (single-process anyway), which is
  * exactly the point: same answer, different execution shape.
  */
object Packing {

  val DefaultSeqLen = 1024L

  /** (doc_id, tk, n_tokens) token preparation shared by the standalone
    * t22/t35 queries and the curation pipeline — ONE definition so they
    * cannot silently build from different token streams. A null `text`
    * is zero tokens (coalesce to the empty array), not an NPE deep in a
    * prefix-sum executor task.
    */
  def tokensOf(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", s"coalesce(${Tokenize.Toks}, array()) AS tk")
      .selectExpr("doc_id", "tk", "CAST(size(tk) AS BIGINT) AS n_tokens")

  def sequencePack(spark: SparkSession, sfDir: String,
      seqLen: Long = DefaultSeqLen): DataFrame =
    sequencePackOn(
      tokensOf(spark.read.parquet(s"$sfDir/documents.parquet"))
        .select("doc_id", "n_tokens"),
      seqLen)

  /** `df` must carry (doc_id, n_tokens). Partition count scales with the
    * input (bounded below for parallelism, above by the driver collect).
    * The running total itself is [[PrefixSum.runningTotal]] — the shared
    * two-phase distributed prefix sum (partition pinning, staging mode,
    * and the narrow-coalesce partition-id subtlety are documented
    * there); this operator contributes the token weights and the
    * seq_id / seq_offset division.
    */
  def sequencePackOn(df: DataFrame, seqLen: Long): DataFrame =
    packFromCum(
      PrefixSum.runningTotal(
        df.select(col("doc_id"), col("n_tokens")),
        orderCols = Seq("doc_id"), weightCol = "n_tokens",
        outCol = "cum_before", stageLabel = "t22_pack_input"),
      seqLen)

  /** Derive the packed index from an ALREADY-computed running total —
    * lets a caller that also materializes sequences (the pipeline) pay
    * for the prefix sum once instead of twice.
    */
  def packFromCum(withCum: DataFrame, seqLen: Long): DataFrame =
    withCum.selectExpr("doc_id", "n_tokens", "cum_before",
      s"cum_before div $seqLen AS seq_id",
      s"cum_before % $seqLen AS seq_offset")

  /** t35 — PACKED-SEQUENCE MATERIALIZATION: emit the actual training
    * sequences t22 only indexes — (seq_id, n_tokens, seq_text) where
    * seq_text is the L-token slice of the concatenated doc_id-ordered
    * token stream (the last sequence partial). This is the artifact a
    * training reader consumes; everything upstream (dedup, funnel,
    * packing offsets) exists to feed it.
    *
    * Distributed shape — the corpus crosses the wire ONCE:
    *
    *   1. [[PrefixSum.runningTotal]] range-partitions (doc_id) with the
    *      token arrays riding along — the one corpus-bytes exchange.
    *      (Joining offsets back to tokens instead would shuffle the
    *      corpus AND the offset relation.)
    *   2. Each partition streams its contiguous token range once,
    *      assembling PIECES; a piece covering exactly [sL, (s+1)L) is a
    *      COMPLETE sequence and is emitted as final output with no
    *      further movement. Only boundary pieces — the first/last
    *      partial sequence of each partition, ≈ 2·P of them, each
    *      ≤ L tokens — continue on.
    *   3. The tiny fragment relation shuffles by seq_id and
    *      concatenates in piece order (collect_list here is bounded by
    *      pieces-per-sequence ≤ P and L tokens of text total — NOT a
    *      corpus-sized list).
    *
    * The final sequence of the corpus is routed through the fixup even
    * when one partition holds all of it (a partition cannot know it is
    * globally last); single-piece groups pass through unchanged. The
    * pieces relation is materialized once (staging/localCheckpoint)
    * because the complete and fragment branches both consume it.
    */
  def sequenceTexts(spark: SparkSession, sfDir: String,
      seqLen: Long = DefaultSeqLen): DataFrame =
    sequenceTextsOn(
      tokensOf(spark.read.parquet(s"$sfDir/documents.parquet")), seqLen)

  /** `df` must carry (doc_id, tk: array<string>, n_tokens). */
  def sequenceTextsOn(df: DataFrame, seqLen: Long): DataFrame =
    sequenceTextsFromCum(
      PrefixSum.runningTotal(df,
        orderCols = Seq("doc_id"), weightCol = "n_tokens",
        outCol = "cum_before", stageLabel = "t35_seq_input"),
      seqLen)

  /** Assemble sequences from an ALREADY-computed running total (must
    * carry tk + cum_before and be range-partitioned/sorted by doc_id —
    * i.e. a [[PrefixSum.runningTotal]] output).
    */
  def sequenceTextsFromCum(withCum: DataFrame, seqLen: Long): DataFrame = {
    val spark = withCum.sparkSession
    val schema = withCum.schema
    val tkI = schema.fieldIndex("tk")
    val cumI = schema.fieldIndex("cum_before")
    val piecesRdd = withCum.rdd.mapPartitions { it =>
      // lazy streaming assembly: pieces are EMITTED as they complete —
      // resident state is one in-progress piece (≤ seqLen tokens) plus
      // the pieces finished inside the current doc, never the
      // partition's whole text (the "streams its rows once" contract)
      var bufSeq = -1L
      var bufStart = -1L
      val buf = new scala.collection.mutable.ArrayBuffer[String]()
      def flush(): Option[org.apache.spark.sql.Row] =
        if (buf.isEmpty) None
        else {
          val complete =
            bufStart == bufSeq * seqLen && bufStart + buf.size == (bufSeq + 1) * seqLen
          val row = org.apache.spark.sql.Row(
            bufSeq, bufStart, buf.size.toLong, buf.mkString(" "), complete)
          buf.clear()
          Some(row)
        }
      val main = it.flatMap { r =>
        val toks = r.getSeq[String](tkI)
        val gstart = r.getLong(cumI)
        val done = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
        var j = 0
        val n = toks.size
        while (j < n) {
          val gpos = gstart + j
          val seq = gpos / seqLen
          if (seq != bufSeq) {
            flush().foreach(done += _)
            bufSeq = seq
            bufStart = gpos
          }
          buf += toks(j)
          j += 1
        }
        done
      }
      // Iterator.++ is lazy: the tail's flush runs only after `main`
      // is exhausted, so it sees the final buffer state
      main ++ new Iterator[org.apache.spark.sql.Row] {
        private var emitted = false
        private var pending: Option[org.apache.spark.sql.Row] = None
        def hasNext: Boolean = {
          if (!emitted) { pending = flush(); emitted = true }
          pending.isDefined
        }
        def next(): org.apache.spark.sql.Row = {
          val r = pending.getOrElse(throw new NoSuchElementException)
          pending = None
          r
        }
      }
    }
    import org.apache.spark.sql.types._
    val pieces = Staging.materialize(
      spark.createDataFrame(piecesRdd, StructType(Seq(
        StructField("seq_id", LongType, nullable = false),
        StructField("piece_start", LongType, nullable = false),
        StructField("piece_n", LongType, nullable = false),
        StructField("piece_text", StringType, nullable = false),
        StructField("complete", BooleanType, nullable = false)))),
      "t35_pieces")
    val done = pieces.where(col("complete"))
      .selectExpr("seq_id", "piece_n AS n_tokens", "piece_text AS seq_text")
    val fixed = pieces.where(!col("complete"))
      .groupBy("seq_id")
      .agg(
        sum(col("piece_n")).as("n_tokens"),
        concat_ws(" ",
          expr("transform(sort_array(collect_list(struct(piece_start, piece_text))), p -> p.piece_text)"))
          .as("seq_text"))
    done.unionByName(fixed)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t22_sequence_pack" -> ((s, d) => sequencePack(s, d)),
    "t35_sequence_texts" -> ((s, d) => sequenceTexts(s, d))
  )

  val oracles: Map[String, String] = Map(
    // the single-process mirror is the naive running-sum window — same
    // answer as the two-phase distributed prefix sum, by construction
    "t22_sequence_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(regexp_split_to_array(text, ${Tokenize.DuckWs}), x -> x != '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t)
         |SELECT doc_id, n_tokens, cum_before,
         |       cum_before // $DefaultSeqLen AS seq_id,
         |       cum_before % $DefaultSeqLen AS seq_offset
         |FROM c""".stripMargin,
    // the naive single-process mirror: explode every token with its
    // global position, group by position div L, concatenate in order —
    // same sequences as the piece-assembly plan, by construction
    "t35_sequence_texts" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${TextOps.dToks} AS tk FROM documents),
         |c AS (
         |  SELECT doc_id, tk,
         |         CAST(coalesce(sum(len(tk)) OVER (ORDER BY doc_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM toks),
         |tok AS (
         |  SELECT cum_before + i - 1 AS gpos, tk[i] AS tok
         |  FROM c, UNNEST(generate_series(1, len(tk))) AS g(i))
         |SELECT CAST(gpos // $DefaultSeqLen AS BIGINT) AS seq_id,
         |       CAST(count(*) AS BIGINT) AS n_tokens,
         |       string_agg(tok, ' ' ORDER BY gpos) AS seq_text
         |FROM tok GROUP BY 1""".stripMargin
  )
}
