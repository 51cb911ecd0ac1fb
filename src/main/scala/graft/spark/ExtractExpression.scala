package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `extract_readable(url STRING, html BINARY) →
  *    STRUCT<content: STRING, note: STRING, error: STRING>`
  *
  * SQL surface for the extraction kernel (SURVEY.md §4.3): the typed
  * `mapPartitions` path (ExtractJob) stays primary — it owns lineage —
  * but SQL users get the kernel as a native Catalyst expression
  * (deterministic, null-intolerant, CodegenFallback: the kernel is opaque
  * JVM code, so generated code would only wrap a virtual call anyway).
  * Each row goes through `ExtractJob.extractOne` at the default size cap,
  * so a struct equals the typed path's (content, note, error), size-cap
  * and kernel-failure rows included.
  */
case class ExtractReadable(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ExtractReadable.OutputType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == StringType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"extract_readable expects (STRING, BINARY), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(url: Any, html: Any): Any = {
    val c = ExtractJob.extractOne(
      url.asInstanceOf[UTF8String].toString,
      html.asInstanceOf[Array[Byte]],
      pid = 0, ExtractJob.DefaultMaxHtmlBytes)
    InternalRow(
      UTF8String.fromString(c.content),
      UTF8String.fromString(c.note),
      if (c.error == null) null else UTF8String.fromString(c.error))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExtractReadable =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "extract_readable"
}

object ExtractReadable {
  val OutputType: StructType = StructType(Seq(
    StructField("content", StringType, nullable = true),
    StructField("note", StringType, nullable = true),
    StructField("error", StringType, nullable = true)))

  val info = new ExpressionInfo(
    classOf[ExtractReadable].getName, "extract_readable")

  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "extract_readable(url, html) takes 2 arguments")
    ExtractReadable(args.head, args(1))
  }

  /** Register on a live session (tests / notebooks). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("extract_readable"), info, builder)
}

/** `--conf spark.sql.extensions=graft.spark.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier("extract_readable"), ExtractReadable.info,
        ExtractReadable.builder))
    ext.injectFunction(
      (FunctionIdentifier("float_vec_dot"), VectorExpressions.info,
        VectorExpressions.builder))
  }
}
