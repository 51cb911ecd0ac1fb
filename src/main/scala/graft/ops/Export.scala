package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t21 — deterministic SHARD ASSIGNMENT + sharded export: the tail of a
  * training-data pipeline. Training runs want shards that are (a) stable
  * across re-runs and corpus growth — a doc never migrates, so resuming
  * a half-written export or appending an ingest batch touches only the
  * shards it must — and (b) size-balanced, so data-parallel readers get
  * even work. Both come from hashing the doc id, never from
  * `rand()`/`monotonically_increasing_id()`/row position (all three
  * change under re-partitioning or re-runs).
  *
  * `shard = base31(salt ‖ doc_id) % numShards` under the session's
  * [[HashFamily]] — same construction as [[Sampling]], different salt so
  * the two assignments are independent.
  *
  * Scale shape: the assignment is a per-row projection (no shuffle —
  * PlanSpec); the WRITE clusters by shard with ONE exchange of the
  * payload (`repartition(shard)` → `partitionBy(shard)`), giving
  * bounded files per shard — the same write discipline as the
  * extraction job's pid clustering. ExportSpec pins determinism,
  * balance, and read-back identity.
  */
object Export {

  private val Salt = "shard|"

  val DefaultShards = 64

  /** Shard-assignment SQL fragment (Spark dialect, `spark`'s family). */
  private[ops] def shardSql(spark: SparkSession, numShards: Int): String =
    s"(${HashFamily.saltedDocIdSql(HashFamily.of(spark), Salt)} % $numShards)"

  def shardAssign(spark: SparkSession, sfDir: String,
      numShards: Int = DefaultShards): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id",
        s"CAST(${shardSql(spark, numShards)} AS INT) AS shard")

  /** Write `df` (which must carry `doc_id`) to `outDir` hive-partitioned
    * by the deterministic shard, clustering rows so each shard gets a
    * bounded file count regardless of input partitioning.
    */
  def shardedExport(df: DataFrame, outDir: String,
      numShards: Int = DefaultShards): Unit =
    df.withColumn("shard", expr(shardSql(df.sparkSession, numShards)).cast("int"))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t21_shard_assign" -> ((s, d) => shardAssign(s, d))
  )

  val oracles: Map[String, String] = Map(
    "t21_shard_assign" ->
      s"""SELECT doc_id,
         |       CAST(${HashFamily.saltedDocIdDuck(Salt)} % $DefaultShards AS INT) AS shard
         |FROM documents""".stripMargin
  )
}
