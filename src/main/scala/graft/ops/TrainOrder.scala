package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t32 — DETERMINISTIC TRAINING ORDER (global shuffle): assign every
  * document its position in a reproducible pseudo-random permutation of
  * the corpus — the "shuffle the training data" step between packing
  * (t22) and export (t21). Training runs need the order to be (a)
  * genuinely corpus-global (epoch-local correlation hurts convergence —
  * shard-local shuffles leave each reader inside one shard's
  * distribution), (b) reproducible bit-for-bit for resume/ablation
  * (`rand()` and `monotonically_increasing_id()` both change under
  * re-partitioning or re-runs), and (c) cheap to re-derive for any
  * subset. All three come from ranking a salted hash of the doc id:
  * `sort_key = base31(salt ‖ doc_id)` under the session's
  * [[HashFamily]], `position = rank in (sort_key, doc_id) order`
  * (doc_id breaks 31-bit collisions deterministically; production widens
  * the key to a 64-bit fingerprint and keeps the same tie-break).
  *
  * Unlike t21 shards, positions are NOT stable under corpus growth — a
  * global permutation cannot be: inserting one doc shifts every rank
  * after it. That is inherent and fine: the order is derived per
  * training run from the frozen corpus snapshot; what must be stable is
  * the DERIVATION, which is pure in (salt, corpus) — re-running on the
  * same snapshot reproduces every position (spec-pinned, including
  * under a different input partitioning).
  *
  * Scale shape: the rank is [[PrefixSum.runningTotal]] with weight 1 —
  * range-partition on (sort_key, doc_id), per-partition counts to the
  * driver (P values), offsets broadcast back. ONE range exchange of
  * 16 B/row total; the `row_number() OVER (ORDER BY …)` alternative is
  * the single-partition Window scale-killer and PlanSpec pins its
  * absence. The hash is computed per-row at scan time, so the sort key
  * never requires a join or a second pass over the payload — training
  * readers join `(doc_id, position)` back to the payload table, or
  * export directly in position order.
  */
object TrainOrder {

  private val Salt = "order|"

  /** Order-key SQL fragment (Spark dialect, `spark`'s family). */
  private[ops] def sortKeySql(spark: SparkSession): String =
    s"CAST(${HashFamily.saltedDocIdSql(HashFamily.of(spark), Salt)} AS BIGINT)"

  def trainingOrder(spark: SparkSession, sfDir: String): DataFrame =
    trainingOrderOn(
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id"))

  /** `df` must carry `doc_id`. */
  def trainingOrderOn(df: DataFrame): DataFrame =
    PrefixSum.runningTotal(
      df.selectExpr("doc_id", s"${sortKeySql(df.sparkSession)} AS sort_key")
        .withColumn("one", lit(1L)),
      orderCols = Seq("sort_key", "doc_id"), weightCol = "one",
      outCol = "position", stageLabel = "t32_order_input")
      .select("doc_id", "sort_key", "position")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t32_training_order" -> ((s, d) => trainingOrder(s, d))
  )

  val oracles: Map[String, String] = Map(
    // the single-process mirror IS the naive global-order window — same
    // answer as the two-phase distributed rank, by construction (t22's
    // oracle pattern); hash = the md5-mirror family, as in t21/t18
    "t32_training_order" ->
      s"""WITH keyed AS (
         |  SELECT doc_id,
         |         CAST(${HashFamily.saltedDocIdDuck(Salt)} AS BIGINT) AS sort_key
         |  FROM documents)
         |SELECT doc_id, sort_key,
         |       CAST(row_number() OVER (ORDER BY sort_key, doc_id) - 1 AS BIGINT) AS position
         |FROM keyed""".stripMargin
  )
}
