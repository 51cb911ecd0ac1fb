package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `float_vec_dot(a, b)` — dot product of two `array<float>` columns as a
  * DOUBLE, with whole-stage codegen (`doGenCode` emits a primitive float
  * loop over the ArrayData, no boxing).
  *
  * Rationale (SURVEY-level): Spark's higher-order functions
  * (`zip_with`/`aggregate`) are interpreted per element — for a 64-dim
  * embedding that is ~130 lambda invocations with boxed accumulators per
  * pair, the dominant cost of the ANN/near-dup operators. A native
  * codegen'd expression is the idiomatic Catalyst escape hatch
  * (preferred over a Scala UDF, which would break codegen and add
  * serialization).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"float_vec_dot expects (array<float>, array<float>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      code"""
        int $n = Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
        }
        ${ev.value} = $acc;
      """.toString
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "float_vec_dot"
}

/** `float_vec_lsh_bucket(v)` — sign-random-projection LSH bucket id of an
  * `array<float>` as a LONG: bit i = (dot(plane_i, v) > 0). The plane
  * matrix (deterministic, seeded — no external data) is baked into the
  * expression and accessed via a codegen reference object, so the whole
  * bucket is ONE codegen'd primitive loop per row.
  *
  * Rationale (VERDICT r01 "what's wrong" #1): the previous SQL-literal
  * formulation expanded to a 768-term `element_at(...) * w` expression,
  * interpreted, re-derived on both sides of the ANN self-join — 165 s at
  * sf0.1 vs 1.2 s brute force. Semantics here are bit-identical: the
  * per-plane dot accumulates left-to-right in DOUBLE over the same plane
  * values, so sign decisions (and hence buckets/rows) match round 1.
  */
case class FloatVecLshBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  private val numPlanes = planes.length
  private val dim = if (planes.isEmpty) 0 else planes(0).length

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"float_vec_lsh_bucket expects array<float>, got ${other.simpleString}")
  }

  private lazy val flat: Array[Double] = planes.flatten

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val ne = v.numElements()
    var bucket = 0L
    var i = 0
    while (i < numPlanes) {
      var acc = 0.0
      val base = i * dim
      val n = math.min(dim, ne)
      var j = 0
      while (j < n) {
        acc += v.getFloat(j).toDouble * flat(base + j)
        j += 1
      }
      if (acc > 0) bucket |= (1L << i)
      i += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", flat, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val ne = ctx.freshName("ne")
      val bucket = ctx.freshName("bucket")
      val acc = ctx.freshName("acc")
      val base = ctx.freshName("base")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      code"""
        int $ne = $v.numElements();
        long $bucket = 0L;
        for (int $i = 0; $i < $numPlanes; $i++) {
          double $acc = 0.0;
          int $base = $i * $dim;
          int $n = Math.min($dim, $ne);
          for (int $j = 0; $j < $n; $j++) {
            $acc += ((double) $v.getFloat($j)) * $planesRef[$base + $j];
          }
          if ($acc > 0) $bucket |= (1L << $i);
        }
        ${ev.value} = $bucket;
      """.toString
    })
  }

  override protected def withNewChildInternal(newChild: Expression): FloatVecLshBucket =
    copy(child = newChild)

  override def prettyName: String = "float_vec_lsh_bucket"
}

/** `FloatVecNearestCell(v, centroids, nth)` — index of the nth-nearest
  * (0 = nearest, 1 = second) centroid to an `array<float>` vector by
  * squared L2 distance, as INT. The centroid matrix (trained driver-side
  * on a bounded sample — the standard IVF recipe) rides along as a
  * codegen reference object; assignment is one codegen'd primitive loop
  * per row, the same pattern as FloatVecLshBucket. Ties break to the
  * lower centroid index (strict < comparison) — deterministic.
  */
case class FloatVecNearestCell(
    child: Expression, centroids: Array[Array[Double]], nth: Int)
    extends UnaryExpression {

  require(nth == 0 || nth == 1, "nth must be 0 (nearest) or 1 (second)")
  private val numCells = centroids.length
  private val dim = if (centroids.isEmpty) 0 else centroids(0).length

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"FloatVecNearestCell expects array<float>, got ${other.simpleString}")
  }

  private lazy val flat: Array[Double] = centroids.flatten

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val ne = v.numElements()
    var best = -1
    var second = -1
    var bestD = Double.MaxValue
    var secondD = Double.MaxValue
    var c = 0
    while (c < numCells) {
      var d = 0.0
      val base = c * dim
      val n = math.min(dim, ne)
      var j = 0
      while (j < n) {
        val diff = v.getFloat(j).toDouble - flat(base + j)
        d += diff * diff
        j += 1
      }
      if (d < bestD) {
        secondD = bestD; second = best
        bestD = d; best = c
      } else if (d < secondD) {
        secondD = d; second = c
      }
      c += 1
    }
    if (nth == 0) best else second
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCentroids", flat, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val ne = ctx.freshName("ne")
      val best = ctx.freshName("best")
      val second = ctx.freshName("second")
      val bestD = ctx.freshName("bestD")
      val secondD = ctx.freshName("secondD")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val base = ctx.freshName("base")
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val diff = ctx.freshName("diff")
      code"""
        int $ne = $v.numElements();
        int $best = -1; int $second = -1;
        double $bestD = Double.MAX_VALUE; double $secondD = Double.MAX_VALUE;
        for (int $c = 0; $c < $numCells; $c++) {
          double $d = 0.0;
          int $base = $c * $dim;
          int $n = Math.min($dim, $ne);
          for (int $j = 0; $j < $n; $j++) {
            double $diff = ((double) $v.getFloat($j)) - $cRef[$base + $j];
            $d += $diff * $diff;
          }
          if ($d < $bestD) {
            $secondD = $bestD; $second = $best;
            $bestD = $d; $best = $c;
          } else if ($d < $secondD) {
            $secondD = $d; $second = $c;
          }
        }
        ${ev.value} = ($nth == 0) ? $best : $second;
      """.toString
    })
  }

  override protected def withNewChildInternal(newChild: Expression): FloatVecNearestCell =
    copy(child = newChild)

  override def prettyName: String = "float_vec_nearest_cell"
}

object VectorExpressions {
  val info = new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot")

  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "float_vec_dot(a, b) takes 2 arguments")
    FloatVecDot(args.head, args(1))
  }

  // -- LSH plane matrix (shared by the SQL function and graft.ops.Similarity)

  val LshNumPlanes = 12 // 4096 buckets
  val LshDim = 64
  val LshSeed = 42L

  /** Deterministic pseudo-random hyperplanes (seeded; no external data). */
  def lshPlanes(numPlanes: Int = LshNumPlanes, dim: Int = LshDim,
      seed: Long = LshSeed): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextGaussian())
  }

  private lazy val defaultPlanes = lshPlanes()

  val lshInfo =
    new ExpressionInfo(classOf[FloatVecLshBucket].getName, "float_vec_lsh_bucket")

  val lshBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "float_vec_lsh_bucket(v) takes 1 argument")
    FloatVecLshBucket(args.head, defaultPlanes)
  }

  /** Register `float_vec_ivf_cell(v)` / `float_vec_ivf_cell2(v)` bound to
    * a trained centroid matrix (session-scoped; re-registering rebinds —
    * each annIvf build installs its corpus's quantizer).
    */
  def registerIvfCells(spark: SparkSession, centroids: Array[Array[Double]]): Unit = {
    def builder(nth: Int): Seq[Expression] => Expression = { args =>
      require(args.length == 1, "float_vec_ivf_cell(v) takes 1 argument")
      FloatVecNearestCell(args.head, centroids, nth)
    }
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("float_vec_ivf_cell"),
      new ExpressionInfo(classOf[FloatVecNearestCell].getName, "float_vec_ivf_cell"),
      builder(0))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("float_vec_ivf_cell2"),
      new ExpressionInfo(classOf[FloatVecNearestCell].getName, "float_vec_ivf_cell2"),
      builder(1))
  }

  /** Register `float_vec_dot` + `float_vec_lsh_bucket` (idempotent). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("float_vec_dot"), info, builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("float_vec_lsh_bucket"), lshInfo, lshBuilder)
  }
}
