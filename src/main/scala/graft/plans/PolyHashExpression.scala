package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The portable base-131 polynomial hash ([[graft.ops.Dedup.polyHash]])
  * evaluated DIRECTLY on Catalyst's UTF8String bytes: codepoints are
  * decoded from UTF-8 inline, so the hot dedup/bucketing paths pay
  * neither the ScalaUDF converter round-trip nor a String allocation
  * per value. The fold is codepoint-identical to the String kernel
  * (UTF-8 decodes to the same codepoints String.codePointAt yields on
  * well-formed text — PolyHashSpec pins equality incl. supplementary
  * planes), so every DuckDB `split('')+ascii` replay is unchanged. */
object PolyHashKernel {
  def eval(u: UTF8String): Long = {
    val n = u.numBytes()
    var acc = 0L
    var i = 0
    while (i < n) {
      val b0 = u.getByte(i) & 0xFF
      var cp = 0
      var len = 1
      if (b0 < 0x80) cp = b0
      else if ((b0 & 0xE0) == 0xC0) { cp = b0 & 0x1F; len = 2 }
      else if ((b0 & 0xF0) == 0xE0) { cp = b0 & 0x0F; len = 3 }
      else { cp = b0 & 0x07; len = 4 }
      var j = 1
      while (j < len && i + j < n) {
        cp = (cp << 6) | (u.getByte(i + j) & 0x3F)
        j += 1
      }
      acc = (acc * 131 + cp) % 2147483647L
      i += len
    }
    acc
  }
}

/** `graft_polyhash(string) -> long` as a native Catalyst expression —
  * the brief's preference order (codegen'd Expression > Scala UDF) for
  * the hash that anchors the MinHash/stitch/DSIR pipelines. Null in,
  * null out (standard unary scalar semantics). The Column factory
  * [[graft.ops.Dedup.polyHash]] builds it straight into the plan on every
  * session; [[graft.GraftExtensions]] only names it for SQL. */
case class PolyHashExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_polyhash expects string, got ${child.dataType}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PolyHashKernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PolyHashKernel.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHashExpression =
    copy(child = newChild)
}
