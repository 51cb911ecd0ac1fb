package graft.ops

import graft.spark.SparkSpec

/** t32 training order: exact-permutation + rank-agreement vs a
  * driver-side sort, reproducibility under re-runs and input
  * re-partitioning, non-triviality of the shuffle, family equivalence
  * of the verdict shape, and the staging identity case.
  */
class TrainOrderSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("positions are an exact permutation matching a driver-side sort") {
    val got = rows(TrainOrder.trainingOrder(spark, sf001))
    assert(got.size == 500)
    assert(got.map(_._3).sorted == (0L until 500L))
    // independent recompute: rank = index in (sort_key, doc_id) order
    val expect = got.map { case (id, k, _) => (k, id) }.sorted
      .zipWithIndex.map { case ((_, id), i) => id -> i.toLong }.toMap
    got.foreach { case (id, _, pos) =>
      assert(pos == expect(id), s"doc $id: pos $pos, expected ${expect(id)}")
    }
  }

  test("reproducible across runs and immune to input partitioning") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet").select("doc_id")
    val (a, b, c) = withConf(HashFamily.ConfKey -> HashFamily.Xx64.name) {
      (rows(TrainOrder.trainingOrderOn(docs)).toSet,
        rows(TrainOrder.trainingOrderOn(docs.repartition(7))).toSet,
        rows(TrainOrder.trainingOrderOn(docs.coalesce(1))).toSet)
    }
    assert(a == b && a == c)
    assert(a.nonEmpty)
  }

  test("the permutation actually shuffles (not doc_id order, any family)") {
    Seq(HashFamily.Xx64, HashFamily.Md5Mirror).foreach { fam =>
      val got = withConf(HashFamily.ConfKey -> fam.name) {
        rows(TrainOrder.trainingOrder(spark, sf001))
      }
      val byId = got.sortBy(_._1).map(_._3)
      val moved = byId.zipWithIndex.count { case (p, i) => p != i.toLong }
      assert(moved > 400, s"${fam.name}: only $moved/500 docs moved — order is near-identity")
    }
  }

  test("plan has no Window operator — the scale-killer it exists to avoid") {
    // the row_number() global window is the single-partition plan this
    // operator avoids; the rank comes from the two-phase prefix sum,
    // whose range exchange runs upstream of the materialization (the
    // final plan is the RDD scan — t22's pin has the same shape)
    val p = TrainOrder.trainingOrder(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"single-partition window in plan:\n${p.take(2000)}")
    assert(p.contains("ExistingRDD"), s"two-phase RDD path missing:\n${p.take(2000)}")
  }

  test("staging mode (graft.staging.dir) produces identical order") {
    val base = rows(TrainOrder.trainingOrder(spark, sf001)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-staging").toString
    withConf(Staging.ConfKey -> dir) {
      val staged = rows(TrainOrder.trainingOrder(spark, sf001)).toSet
      assert(staged == base)
      assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("t32_order_input")))
    }
  }
}
