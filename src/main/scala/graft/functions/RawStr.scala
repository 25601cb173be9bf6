package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SurrealQL raw-string rendering of scalar columns — the Spark-path twin of
  * the interpreter's `V.renderRaw` (the reference's `Value::to_raw_string`,
  * core/src/val/mod.rs:225-232, which falls through to `to_sql` for
  * numbers):
  *
  *   - finite floats render shortest-roundtrip positional digits + `f`
  *     (`2f`, `2.5f`) — val/number.rs:195-210 `ToSql for Number`; Catalyst's
  *     `cast(double as string)` yields `2.0`, which is the round-19
  *     documented infidelity this kernel closes (docs/SWEEPS_r19.md).
  *   - NaN/±Infinity stay bare (`fmt_non_finite_f64`).
  *   - decimals strip trailing zeros and carry the `dec` suffix
  *     (types/src/sql.rs:238) — EXCEPT in `<string>` casts, which render
  *     them plain (convert/cast.rs:360): `castMode = true`.
  *   - everything else delegates to Catalyst's string cast (ints, strings,
  *     booleans already match the reference's forms).
  *
  * Implemented as a [[RuntimeReplaceable]] so the planner can wrap columns
  * type-blindly: the replacement resolves per the child's ANALYZED type, and
  * non-float children collapse back to the built-in cast (zero overhead).
  * The float kernel itself is a codegen'd static call — stays inside
  * whole-stage codegen, no UDF. */
final case class RawStr(child: Expression, castMode: Boolean)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = "graft_rawstr"
  override lazy val replacement: Expression = child.dataType match {
    case DoubleType | FloatType => FloatSqlStr(child)
    case _: DecimalType         => DecimalRawStr(child, suffix = !castMode)
    case _                      => Cast(child, StringType)
  }
  override protected def withNewChildInternal(newChild: Expression): RawStr =
    copy(child = newChild)
}

/** Shortest-roundtrip positional float digits + `f`; NaN/±Infinity bare. */
final case class FloatSqlStr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_floatsql"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType | FloatType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a float/double input, got ${dt.simpleString}")
  }
  private def toD(v: Any): Double = child.dataType match {
    case FloatType => v.asInstanceOf[Float].toDouble
    case _         => v.asInstanceOf[Double]
  }
  override def nullSafeEval(v: Any): Any = RawStr.floatSql(toD(v))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RawStr.floatSql((double) $c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Decimal rendered plain (trailing zeros stripped, never scientific),
  * optionally with the reference's `dec` suffix. */
final case class DecimalRawStr(child: Expression, suffix: Boolean)
    extends UnaryExpression {
  override def prettyName: String = "graft_decstr"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: DecimalType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a decimal input, got ${dt.simpleString}")
  }
  override def nullSafeEval(v: Any): Any =
    RawStr.decimalStr(v.asInstanceOf[Decimal], suffix)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RawStr.decimalStr($c, $suffix);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Strict `<int>` / `<float>` casts for ROW-DEPENDENT columns — constant
  * casts fold through the interpreter's Coerce table, but a column cast
  * must apply the same `Cast for i64/f64` rules (convert/cast.rs): a
  * fractional/NaN/infinite float does NOT truncate to int (Catalyst's ANSI
  * cast silently truncates), integral floats saturate like Rust `as`, and
  * string inputs parse with the RUST grammars (no whitespace trim, no
  * trailing d/f, "inf"/"nan" accepted for floats) with the reference's
  * "Could not cast into …" error. Integer-family inputs collapse to the
  * built-in cast; other types keep Catalyst's ANSI behavior (bool and
  * datetime inputs are interpreter-folded in practice). */
final case class StrictNumCast(child: Expression, toInt: Boolean)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = if (toInt) "graft_cast_int" else "graft_cast_float"
  override lazy val replacement: Expression = (child.dataType, toInt) match {
    case (DoubleType | FloatType, true)  => StrictCastF(child, RawStr.IntFromFloat)
    case (_: DecimalType, true)          => StrictCastF(Cast(child, DoubleType), RawStr.IntFromFloat)
    case (StringType, true)              => StrictCastF(child, RawStr.IntFromString)
    case (StringType, false)             => StrictCastF(child, RawStr.FloatFromString)
    case (_, true)                       => Cast(child, LongType)
    case (_, false)                      => Cast(child, DoubleType)
  }
  override protected def withNewChildInternal(newChild: Expression): StrictNumCast =
    copy(child = newChild)
}

/** mode-dispatched strict scalar cast; output type depends on the mode. */
final case class StrictCastF(child: Expression, mode: Int) extends UnaryExpression {
  override def prettyName: String = "graft_strict_cast"
  override def dataType: DataType =
    if (mode == RawStr.FloatFromString) DoubleType else LongType
  override def checkInputDataTypes(): TypeCheckResult = TypeCheckResult.TypeCheckSuccess
  override def nullSafeEval(v: Any): Any = mode match {
    case RawStr.IntFromFloat    => RawStr.intFromFloat(v match {
      case f: java.lang.Float => f.toDouble
      case d => d.asInstanceOf[Double]
    })
    case RawStr.IntFromString   => RawStr.intFromString(v.asInstanceOf[UTF8String])
    case _                      => RawStr.floatFromString(v.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    mode match {
      case RawStr.IntFromFloat =>
        nullSafeCodeGen(ctx, ev, c =>
          s"${ev.value} = graft.functions.RawStr.intFromFloat((double) $c);")
      case RawStr.IntFromString =>
        nullSafeCodeGen(ctx, ev, c =>
          s"${ev.value} = graft.functions.RawStr.intFromString($c);")
      case _ =>
        nullSafeCodeGen(ctx, ev, c =>
          s"${ev.value} = graft.functions.RawStr.floatFromString($c);")
    }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RawStr {
  final val IntFromFloat = 0
  final val IntFromString = 1
  final val FloatFromString = 2

  def intFromFloat(d: Double): Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d) ||
        d != Math.rint(d))
      throw graft.surql.SqlError(
        s"Could not cast into `int` using input `${floatSql(d)}`")
    d.toLong // saturates like Rust `as i64`
  }

  def intFromString(s: UTF8String): Long =
    graft.surql.Coerce.rustParseI64(s.toString).getOrElse(
      throw graft.surql.SqlError(
        s"Could not cast into `int` using input `'$s'`"))

  def floatFromString(s: UTF8String): Double =
    graft.surql.Coerce.rustParseF64(s.toString).getOrElse(
      throw graft.surql.SqlError(
        s"Could not cast into `float` using input `'$s'`"))

  /** Rust `f64::to_string()` + `f`: shortest round-trip digits, ALWAYS
    * positional (never scientific), integral floats without `.0`. Shared
    * with the interpreter through the same digit algorithm
    * (graft.surql.Render.floatDigits). */
  def floatSql(d: Double): UTF8String = {
    if (java.lang.Double.isNaN(d)) return UTF8String.fromString("NaN")
    if (d == java.lang.Double.POSITIVE_INFINITY) return UTF8String.fromString("Infinity")
    if (d == java.lang.Double.NEGATIVE_INFINITY) return UTF8String.fromString("-Infinity")
    UTF8String.fromString(graft.surql.Render.floatDigits(d) + "f")
  }

  def decimalStr(v: Decimal, suffix: Boolean): UTF8String = {
    val plain = v.toJavaBigDecimal.stripTrailingZeros.toPlainString
    UTF8String.fromString(if (suffix) plain + "dec" else plain)
  }
}
