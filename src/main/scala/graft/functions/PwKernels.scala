package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** crypto::{argon2,bcrypt,scrypt,pbkdf2}::{generate,compare} as Catalyst
  * kernels for the Spark path (fnc/crypto.rs). codegen is a plain static
  * call — the hash itself dominates by orders of magnitude (these are
  * deliberately expensive KDFs), so there is nothing to win by inlining
  * further. Each scheme's cost bound is enforced inside the shared
  * implementation ([[graft.surql.Argon2]]/[[graft.surql.Bcrypt]]/
  * [[graft.surql.Scrypt]]), keeping both engine paths byte-identical. */
object Pw {
  def generate(scheme: UTF8String, pass: UTF8String): UTF8String = {
    val out = scheme.toString match {
      case "argon2" => graft.surql.Argon2.generate(pass.toString)
      case "bcrypt" => graft.surql.Bcrypt.generate(pass.toString)
      case "scrypt" => graft.surql.Scrypt.generate(pass.toString)
      case "pbkdf2" => graft.surql.Functions.pbkdf2Generate(pass.toString)
      case other => throw graft.surql.SqlError(s"unknown hash scheme $other")
    }
    UTF8String.fromString(out)
  }

  def compare(scheme: UTF8String, hash: UTF8String, pass: UTF8String): Boolean =
    scheme.toString match {
      case "argon2" => graft.surql.Argon2.verify(hash.toString, pass.toString)
      case "bcrypt" => graft.surql.Bcrypt.verify(hash.toString, pass.toString)
      case "scrypt" => graft.surql.Scrypt.verify(hash.toString, pass.toString)
      case "pbkdf2" => graft.surql.Functions.pbkdf2Compare(hash.toString, pass.toString)
      case other => throw graft.surql.SqlError(s"unknown hash scheme $other")
    }
}

/** graft_pw_generate(pass) for a scheme fixed at plan time. Nondeterministic
  * by contract: a fresh random salt per evaluation, like the reference. */
final case class PwGenerateF(scheme: String, child: Expression)
    extends UnaryExpression {
  override def prettyName: String = "graft_pw_generate"
  override def dataType: DataType = StringType
  override lazy val deterministic: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string")
  override def nullSafeEval(v: Any): Any =
    Pw.generate(UTF8String.fromString(scheme), v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""graft.functions.Pw.generate(UTF8String.fromString("$scheme"), $c)""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

final case class PwCompareF(scheme: String, left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_pw_compare"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  override def nullSafeEval(h: Any, p: Any): Any =
    Pw.compare(UTF8String.fromString(scheme), h.asInstanceOf[UTF8String],
      p.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, p) =>
      s"""graft.functions.Pw.compare(UTF8String.fromString("$scheme"), $h, $p)""")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
