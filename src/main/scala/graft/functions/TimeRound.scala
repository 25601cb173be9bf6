package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** time::floor/ceil/round with chrono's EXACT semantics (fnc/time.rs →
  * chrono duration_trunc/duration_round), shared by BOTH engines so the
  * paths agree to the nanosecond:
  *
  *   - trunc floors toward -INFINITY (pre-epoch stamps floor DOWN, not
  *     toward zero — the r17 time sweep caught the interp truncating);
  *   - round goes to the NEAREST multiple, half-way ties UP;
  *   - ceil is floor + one span unless already exact;
  *   - a ZERO duration is the identity (fnc/time.rs is_zero arm), not an
  *     error;
  *   - chrono works in i64 NANOS: a duration or a timestamp outside that
  *     range raises the reference's InvalidFunctionArguments error. */
object TimeRound {

  def refError(fn: String): Nothing =
    throw graft.surql.SqlError(s"Incorrect arguments for function time::$fn(). " +
      "The second argument must be a duration, and must be able to be represented as nanoseconds.")

  /** Core on i64 nanos. `mode` ∈ floor|ceil|round. Throws on overflow. */
  def nanos(stamp: Long, durNanos: Long, mode: String): Long = {
    if (durNanos == 0) return stamp
    val rem = Math.floorMod(stamp, durNanos)
    val f = Math.subtractExact(stamp, rem) // floor toward -inf
    mode match {
      case "floor" => f
      case "ceil"  => if (rem == 0) f else Math.addExact(f, durNanos)
      case _ =>
        // duration_round: nearest, ties (delta_up == delta_down) go UP.
        // Overflow-free tie test: `rem * 2` silently wraps for durations
        // past 2^62 ns (within the i64 range check), rounding DOWN where
        // chrono (delta_up = span - rem <= rem) rounds up.
        if (durNanos - rem <= rem) Math.addExact(f, durNanos) else f
    }
  }

  /** Spark-side wrapper over TimestampType micros. A result that lands off
    * the micros grid (sub-microsecond duration multiples) cannot be a
    * Spark timestamp — named error rather than silent truncation. */
  def micros(stampMicros: Long, durNanos: Long, mode: UTF8String): Long = {
    val m = mode.toString
    val fn = m
    val stampNanos =
      try Math.multiplyExact(stampMicros, 1000L)
      catch { case _: ArithmeticException => refError(fn) } // chrono nanos range
    val res =
      try nanos(stampNanos, durNanos, m)
      catch { case _: ArithmeticException => refError(fn) }
    if (res % 1000L != 0)
      throw graft.surql.SqlError(
        s"SparkPlanner: time::$fn result $res ns is below Spark's microsecond timestamp precision")
    res / 1000L
  }
}

object StrftimeBridge {
  /** timestamp micros → chrono-formatted string via the SHARED
    * [[graft.surql.Strftime]] table (session TZ pinned UTC). */
  def format(stampMicros: Long, fmt: UTF8String): UTF8String = {
    val t = java.time.Instant.EPOCH.plus(stampMicros,
      java.time.temporal.ChronoUnit.MICROS)
      .atZone(java.time.ZoneOffset.UTC)
    UTF8String.fromString(graft.surql.Strftime.format(t, fmt.toString))
  }
}

/** Codegen'd kernel: (timestamp, format) → string — time::format with
  * chrono's FULL specifier table on the Spark path (the same Strftime
  * engine the interpreter runs; the old java.time-pattern translation
  * covered 14 specs and named-errored on the rest). */
final case class StrftimeF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_strftime"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == TimestampType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (timestamp, string)")
  override def nullSafeEval(a: Any, b: Any): Any =
    StrftimeBridge.format(a.asInstanceOf[Long], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.StrftimeBridge.format($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd kernel: (timestamp, durNanos, mode) → timestamp. */
final case class TimeRoundF(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def prettyName: String = "graft_time_round"
  override def dataType: DataType = TimestampType
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == TimestampType && second.dataType == LongType &&
        third.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (timestamp, bigint, string)")
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    TimeRound.micros(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c) => s"graft.functions.TimeRound.micros($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
