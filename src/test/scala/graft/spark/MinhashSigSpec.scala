package graft.spark

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Dedup

/** Pins the per-row `minhash_sig` expression (r05): the codegen'd loop
  * must match (a) a plain-Scala reference evaluation, (b) its OWN
  * interpreted `eval` path, and (c) the r01–r04 explode + 64-column-min
  * AGGREGATION formulation it replaced — on random base arrays, so a
  * future edit to the loop or the constants cannot silently fork the
  * signature semantics away from the DuckDB mirror (which keeps the
  * GROUP BY shape).
  */
class MinhashSigSpec extends SparkSpec {

  private val A = Dedup.MinhashA
  private val B = Dedup.MinhashB
  private val P = Dedup.MinhashP

  private def reference(bases: Seq[Long]): Seq[Long] =
    (0 until Dedup.NumHashes).map { i =>
      bases.map(v => (A(i) * v + B(i)) % P).min
    }

  private def randomBases(rnd: java.util.Random, n: Int): Seq[Long] =
    Seq.fill(n)(rnd.nextLong() & 0x7FFFFFFFL)

  test("interpreted eval matches the plain-Scala reference on random bases") {
    val rnd = new java.util.Random(42)
    (1 to 20).foreach { _ =>
      val bases = randomBases(rnd, 1 + rnd.nextInt(200))
      val expr = MinhashSig(
        Literal.create(bases, ArrayType(LongType, containsNull = false)), A, B, P)
      val got = expr.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
      assert(got == reference(bases))
    }
  }

  test("codegen path (DataFrame projection) matches eval and the aggregation formulation") {
    val s = spark
    import s.implicits._
    MinhashExpressions.register(s, A, B, P)
    val rnd = new java.util.Random(7)
    val rows = (0L until 50L).map(id => (id, randomBases(rnd, 1 + rnd.nextInt(64))))
    val df = rows.toDF("doc_id", "bases")
    val viaCodegen = df.selectExpr("doc_id", "minhash_sig(bases) AS sig")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the replaced formulation: explode bases, 64 min(pmod(...)) aggregates
    val aggs = (0 until Dedup.NumHashes).map { i =>
      min(pmod(lit(A(i)) * col("base") + lit(B(i)), lit(P))).as(s"h$i")
    }
    val viaAgg = df.select(col("doc_id"), explode(col("bases")).as("base"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getLong(0) -> (1 to Dedup.NumHashes).map(r.getLong(_)).toSeq)
      .toMap
    rows.foreach { case (id, bases) =>
      assert(viaCodegen(id) == reference(bases), s"codegen vs reference, doc $id")
      assert(viaAgg(id) == reference(bases), s"aggregation vs reference, doc $id")
    }
  }

  test("signature projection is map-only: zero exchanges, sig inside the scan stage") {
    val sig = withConf(graft.ops.HashFamily.ConfKey -> graft.ops.HashFamily.Xx64.name) {
      val df = Dedup.minhashSignatures(Dedup.docs(spark, "/root/testdata/sf0.001"))
      df.collect()
      df
    }
    val plan = sig.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"signatures must not shuffle:\n$plan")
    assert(plan.contains("minhash_sig"), s"expected the native expression:\n$plan")
  }

  test("empty bases array pins to Long.MaxValue sentinels (unreachable via shingles)") {
    val expr = MinhashSig(
      Literal.create(Seq.empty[Long], ArrayType(LongType, containsNull = false)), A, B, P)
    val got = expr.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    assert(got == Seq.fill(Dedup.NumHashes)(Long.MaxValue))
  }

  test("expression rejects non-array input at analysis") {
    val bad = MinhashSig(BoundReference(0, StringType, nullable = false), A, B, P)
    assert(bad.checkInputDataTypes().isFailure)
  }

  // --- simhash_vote (the mapPartitions kernel it replaced, as reference) ---

  private def voteReference(hs: Seq[Long]): Option[Long] =
    if (hs.isEmpty) None
    else {
      val acc = new Array[Int](60)
      hs.foreach { h =>
        (0 until 60).foreach { b =>
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        }
      }
      Some((0 until 60).foldLeft(0L)((o, b) => if (acc(b) > 0) o | (1L << b) else o))
    }

  test("simhash_vote: interpreted + codegen match the mapPartitions reference; empty is NULL") {
    val s = spark
    import s.implicits._
    MinhashExpressions.registerSimhash(s)
    val rnd = new java.util.Random(13)
    val rows = (0L until 40L).map(id =>
      (id, Seq.fill(rnd.nextInt(30))(rnd.nextLong() & 0xFFFFFFFFFFFFFFFL))) :+
      (40L, Seq.empty[Long])
    // interpreted eval
    rows.foreach { case (_, hs) =>
      val got = Option(SimhashVote(
        Literal.create(hs, ArrayType(LongType, containsNull = false))).eval(null))
      assert(got == voteReference(hs).map(_.asInstanceOf[Any]))
    }
    // codegen path via projection
    val got = rows.toDF("doc_id", "hs")
      .selectExpr("doc_id", "simhash_vote(hs) AS v")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    rows.foreach { case (id, hs) => assert(got(id) == voteReference(hs), s"doc $id") }
  }
}
