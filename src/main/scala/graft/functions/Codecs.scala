package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** encoding::base64::decode with the reference's semantics
  * (fnc/encoding.rs STANDARD_GENERIC_DECODER): padding-INDIFFERENT —
  * canonical or absent padding both accepted, anything malformed raises
  * the reference's InvalidFunctionArguments text. Spark's builtin
  * `unbase64` silently skips invalid characters, returning garbage bytes
  * where the reference errors (r18 sweep). Shared by both engine paths. */
object B64 {
  def decode(s: UTF8String): Array[Byte] =
    try java.util.Base64.getDecoder.decode(s.toString)
    catch {
      case _: IllegalArgumentException => throw graft.surql.SqlError(
        "Incorrect arguments for function encoding::base64::decode(). invalid base64")
    }
}

final case class B64DecodeF(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_b64_decode"
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string")
  override def nullSafeEval(v: Any): Any =
    B64.decode(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.B64.decode($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
