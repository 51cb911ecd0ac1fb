package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The END-TO-END curation pipeline: every stage a user runs between a raw
  * document corpus and training-ready shards, chained over PERSISTED
  * intermediate tables (the ICEBERG.md deployment shape — each arrow below
  * is a table boundary a production run can resume from, audit, or share):
  *
  *   documents ─t13→ dedup_verdicts ─t20→ funnel_status
  *       │                                     │ (status = 'kept')
  *       └──────────── join ←──────────────────┘
  *                      │
  *                 t23 redact → t24 line-strip → clean_text
  *                      │
  *            t22 pack → packed          t21 → shards/ (hive-partitioned)
  *            t35 materialize → sequences (the training artifact)
  *            t32 order → train_order (reproducible global shuffle)
  *
  * Stage outputs are parquet under one output root with a `manifest.json`
  * of per-stage row counts, so a killed run shows exactly where it
  * stopped and a re-run is bit-identical (every stage is deterministic —
  * hash-keyed dedup/sampling/sharding, fixed-order redaction, positional
  * line reassembly; CurationPipelineSpec pins re-run identity).
  *
  * Scale shape: the expensive job (dedup) runs ONCE and everything else
  * consumes its persisted verdicts; redact/line-form are per-row; the
  * line-frequency count is one wide shuffle; packing is the two-phase
  * prefix sum; export clusters once by shard. No stage re-reads a prior
  * stage's INPUT — only its persisted output.
  */
object CurationPipeline {

  /** Runs all stages; returns (stage → row count), also written to
    * `outDir/manifest.json`.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      seqLen: Long = Packing.DefaultSeqLen,
      numShards: Int = Export.DefaultShards,
      maxDf: Long = LineDedup.MaxDf): Seq[(String, Long)] = {

    // 1. the one expensive job: dedup verdicts, persisted for every
    //    downstream consumer (and future ingests)
    Dedup.dedupPipeline(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/dedup_verdicts")
    val verdicts = spark.read.parquet(s"$outDir/dedup_verdicts")

    // 2. funnel: per-row gates + ONE join against the persisted verdicts
    Curation.funnelFromVerdicts(Curation.perRowSignals(spark, sfDir), verdicts)
      .write.mode("overwrite").parquet(s"$outDir/funnel_status")
    val status = spark.read.parquet(s"$outDir/funnel_status")

    // 3. kept docs → PII scrub → boilerplate line strip → clean_text
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val kept = docs.join(
      status.filter(col("status") === "kept").select("doc_id"), Seq("doc_id"))
    // materialized once: the line-strip AND the counter join both consume
    // it, and ReuseExchange does not deduplicate sibling subtrees — an
    // unstaged `redacted` would re-run the kept join and all six PII
    // regex passes a second time inside the clean_text write
    val redacted = Staging.materialize(
      Redact.redactPii(kept)
        .select(col("doc_id"), col("redacted").as("text"),
          col("n_email"), col("n_ip"), col("n_phone")),
      "pipeline_redacted")
    LineDedup.lineDedupOn(LineDedup.chunked(redacted), maxDf)
      .join(redacted.select("doc_id", "n_email", "n_ip", "n_phone"), Seq("doc_id"))
      .select(col("doc_id"), col("kept_text").as("text"),
        col("n_lines_in"), col("n_lines_kept"),
        col("n_email"), col("n_ip"), col("n_phone"))
      .write.mode("overwrite").parquet(s"$outDir/clean_text")
    val clean = spark.read.parquet(s"$outDir/clean_text")

    // 4. training-sequence packing over the CLEAN text's token counts,
    //    then the actual sequences (t35) and the reproducible training
    //    order (t32) — the three artifacts a training run mounts. The
    //    prefix sum runs ONCE: the packed index and the sequences both
    //    derive from the same running-total relation (review finding,
    //    r06 — two independent calls re-scanned and re-ranged clean_text)
    val withCum = PrefixSum.runningTotal(Packing.tokensOf(clean),
      orderCols = Seq("doc_id"), weightCol = "n_tokens",
      outCol = "cum_before", stageLabel = "pipeline_pack")
    Packing.packFromCum(withCum.select("doc_id", "n_tokens", "cum_before"), seqLen)
      .write.mode("overwrite").parquet(s"$outDir/packed")
    Packing.sequenceTextsFromCum(withCum, seqLen)
      .write.mode("overwrite").parquet(s"$outDir/sequences")
    TrainOrder.trainingOrderOn(clean.select("doc_id"))
      .write.mode("overwrite").parquet(s"$outDir/train_order")

    // 5. deterministic sharded export of the final rows
    Export.shardedExport(clean, s"$outDir/shards", numShards)

    // every manifest count audits a PERSISTED table (or a pure filter of
    // one) — "kept" counts the persisted funnel verdicts rather than
    // re-executing the documents join it was derived from
    val manifest = Seq(
      "documents" -> docs.count(),
      "dedup_verdicts" -> verdicts.count(),
      "funnel_status" -> status.count(),
      "kept" -> status.filter(col("status") === "kept").count(),
      "clean_text" -> clean.count(),
      "packed" -> spark.read.parquet(s"$outDir/packed").count(),
      "sequences" -> spark.read.parquet(s"$outDir/sequences").count(),
      "train_order" -> spark.read.parquet(s"$outDir/train_order").count(),
      "shards" -> spark.read.parquet(s"$outDir/shards").count())
    val json = manifest.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    // through the Hadoop FS layer, like every other stage — a
    // driver-local java.nio write would fail (after all the expensive
    // work) for any hdfs://, s3a://, or even file:/ outDir
    val manifestPath = new org.apache.hadoop.fs.Path(outDir, "manifest.json")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(manifestPath, true)
    try os.write(json.getBytes("UTF-8")) finally os.close()
    manifest
  }
}
