package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.extract.Extractor

/** Static bridge between Catalyst's internal representation and the
  * extraction kernel: takes the scan's UTF8String/byte[] directly and
  * writes an InternalRow, skipping the ScalaUDF converter round-trip
  * (UTF8String→String→case class→Row→InternalRow) on every document. */
object ExtractKernel {
  val spanType: StructType = StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("end", LongType, nullable = false),
    StructField("kind", StringType)))

  val schema: StructType = StructType(Seq(
    StructField("status", StringType),
    StructField("content_type", StringType),
    StructField("markdown", StringType),
    StructField("spans", ArrayType(spanType, containsNull = true)),
    StructField("pages", IntegerType, nullable = false),
    StructField("error", StringType)))

  def eval(url: UTF8String, payload: Array[Byte]): InternalRow = {
    val e = Extractor.extract(if (url == null) null else url.toString, payload)
    val spans = new GenericArrayData(e.spans.map { s =>
      InternalRow(s.start, s.end, UTF8String.fromString(s.kind))
    }.toArray[Any])
    InternalRow(
      UTF8String.fromString(e.status),
      UTF8String.fromString(e.content_type),
      UTF8String.fromString(e.markdown),
      spans,
      e.pages,
      if (e.error == null) null else UTF8String.fromString(e.error))
  }
}

/** `graft_extract(url, payload)` as a native Catalyst expression (the
  * brief's preference order: a codegen'd Expression beats a Scala UDF).
  * Total like the kernel it wraps: never null, never throws — null/absent
  * payloads become status='error' rows, so `nullable = false` and the
  * expression stays inside whole-stage codegen with no null branches.
  * [[graft.extract.ExtractJob.extractedDf]] builds it straight into the
  * plan on every session; [[graft.GraftExtensions]] only names it for
  * SQL. */
case class ExtractExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ExtractKernel.schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_extract"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == StringType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_extract expects (string, binary), got (${left.dataType}, ${right.dataType})")
  }

  // custom eval (not nullSafeEval): a null child must still produce an
  // error ROW, not a null result
  override def eval(input: InternalRow): Any = {
    val u = left.eval(input).asInstanceOf[UTF8String]
    val p = right.eval(input).asInstanceOf[Array[Byte]]
    ExtractKernel.eval(u, p)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val urlVal = ctx.freshName("extractUrl")
    val payloadVal = ctx.freshName("extractPayload")
    val code = leftGen.code + rightGen.code +
      code"""
        org.apache.spark.unsafe.types.UTF8String $urlVal =
          ${leftGen.isNull} ? null : ${leftGen.value};
        byte[] $payloadVal = ${rightGen.isNull} ? null : ${rightGen.value};
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.plans.ExtractKernel.eval($urlVal, $payloadVal);
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExtractExpression =
    copy(left = newLeft, right = newRight)
}
