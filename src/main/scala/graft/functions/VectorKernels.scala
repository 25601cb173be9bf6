package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst kernels for float-vector math (SURVEY §2 vector::* and
  * the KNN/similarity operators; reference distance kernels:
  * idx/trees/vector.rs, fnc/vector.rs).
  *
  * The composable alternative — `aggregate(zip_with(a, b, …))` — is correct
  * but runs as interpreted lambda evaluation per element and materializes
  * the zipped array; it also blocks whole-stage codegen for the surrounding
  * operator. These expressions generate a tight primitive Java loop over
  * the two `ArrayData`s (no allocation, no boxing) via `doGenCode`, so a
  * brute-force KNN scan or an LSH rerank stays inside one codegen stage.
  * That is exactly the preference order the engine follows: built-in
  * functions where they fit, a native `Expression` where the built-ins
  * leave performance on the table, UDFs never.
  *
  * Accumulation is an IN-ORDER double fold — bit-identical to the HOF
  * lowering it replaces and to the DuckDB oracle's `list_sum(
  * list_transform(…))` replay, so hash-compared results are unchanged.
  * Element nulls are not expected (embedding vectors are dense); length
  * mismatch folds over the common prefix. */
abstract class VectorFoldF extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  /** Java ArrayData accessor for one side's element type (float vectors are
    * the stored form; query-side literals arrive as double arrays). */
  private def accessor(e: Expression): String =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => "getFloat"
      case _         => "getDouble"
    }
  private def getD(arr: ArrayData, i: Int, e: Expression): Double =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => arr.getFloat(i).toDouble
      case _         => arr.getDouble(i)
    }

  /** Per-element term in the fold (scala-side interpreted fallback). */
  protected def combine(x: Double, y: Double): Double
  /** Per-element term as a Java expression over `x`/`y` double variables. */
  protected def combineJava(x: String, y: String): String
  /** Final transform of the accumulated sum. */
  protected def finish(s: Double): Double = s
  protected def finishJava(s: String): String = s

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += combine(getD(a, i, left), getD(b, i, right))
      i += 1
    }
    finish(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.${accessor(left)}($i);
         |  double $y = (double) $b.${accessor(right)}($i);
         |  $s += ${combineJava(x, y)};
         |}
         |${ev.value} = ${finishJava(s)};
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ — the dot product. */
final case class DotF(left: Expression, right: Expression) extends VectorFoldF {
  override def prettyName: String = "graft_dot"
  protected def combine(x: Double, y: Double): Double = x * y
  protected def combineJava(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** √Σ (aᵢ−bᵢ)² — Euclidean distance. */
final case class L2F(left: Expression, right: Expression) extends VectorFoldF {
  override def prettyName: String = "graft_l2"
  protected def combine(x: Double, y: Double): Double = { val d = x - y; d * d }
  protected def combineJava(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def finish(s: Double): Double = math.sqrt(s)
  override protected def finishJava(s: String): String =
    s"java.lang.Math.sqrt($s)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ |aᵢ−bᵢ| — Manhattan distance. */
final case class L1F(left: Expression, right: Expression) extends VectorFoldF {
  override def prettyName: String = "graft_l1"
  protected def combine(x: Double, y: Double): Double = math.abs(x - y)
  protected def combineJava(x: String, y: String): String =
    s"java.lang.Math.abs($x - $y)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ (aᵢ−bᵢ)² — SQUARED Euclidean distance (no final sqrt): the IVF
  * cell-assignment kernel, where only the argmin over centroids matters and
  * a sqrt would be wasted work per (row × centroid). Bit-identical to the
  * `aggregate(zip_with(…))` HOF fold it replaced (same ascending in-order
  * double fold), but codegen'd — the HOF pair evaluated an interpreted
  * lambda per element and allocated the zipped array per row. */
final case class L2SqF(left: Expression, right: Expression) extends VectorFoldF {
  override def prettyName: String = "graft_l2sq"
  protected def combine(x: Double, y: Double): Double = { val d = x - y; d * d }
  protected def combineJava(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count of positions where two long arrays agree — the MinHash
  * signature-agreement kernel (estimated Jaccard = eqcount / NumHashes).
  * LONG-exact on purpose: xxhash64 signature components exceed 2^53, so a
  * double-based fold could alias distinct hashes; this compares longs. */
final case class EqCountF(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types._
  override def prettyName: String = "graft_eqcount"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) s += 1L
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $s++;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `math::round` with the reference's exact float semantics (val/number.rs:578
  * = Rust `f64::round`): half-away-from-zero, and the SIGN OF ZERO is
  * preserved (`(-0.2).round() == -0.0`). Spark's built-in `round()` goes
  * through `BigDecimal` HALF_UP, which cannot represent `-0.0` and returns
  * `+0.0` — a one-bit infidelity the driver's hash comparison catches.
  * Integral children pass through unchanged (Number::Int(v) => v). */
final case class RoundRs(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  override def prettyName: String = "graft_round"
  private def integral: Boolean = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  override def dataType: DataType =
    if (integral) child.dataType else DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a numeric input, got ${dt.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    if (integral) v
    else RoundRs.round(child.dataType match {
      case FloatType => v.asInstanceOf[Float].toDouble
      case DoubleType => v.asInstanceOf[Double]
      case _: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (integral) s"${ev.value} = $c;"
      else {
        val cd = child.dataType match {
          case _: DecimalType => s"$c.toDouble()"
          case _ => s"(double) $c"
        }
        s"${ev.value} = graft.functions.RoundRs.round($cd);"
      })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `math::ceil`/`math::floor` with Rust `f64` semantics: the result keeps
  * the DOUBLE kind for float input (never silently integer-cast) and the
  * IEEE sign of zero (`(-0.4).ceil() == -0.0`) — Spark's `ceil()` returns a
  * LONG, which cannot represent `-0.0`. Java's `Math.ceil`/`Math.floor`
  * already implement the IEEE behavior, so the kernel is one static call.
  * Integral children pass through unchanged (Number::Int(v) => v). */
final case class CeilFloorRs(child: Expression, up: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  override def prettyName: String = if (up) "graft_ceil" else "graft_floor"
  private def integral: Boolean = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  override def dataType: DataType =
    if (integral) child.dataType else DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a numeric input, got ${dt.simpleString}")
  }
  private def toD(v: Any): Double = child.dataType match {
    case FloatType => v.asInstanceOf[Float].toDouble
    case DoubleType => v.asInstanceOf[Double]
    case _: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    case _ => v.asInstanceOf[Number].doubleValue
  }
  override def nullSafeEval(v: Any): Any =
    if (integral) v
    else if (up) java.lang.Math.ceil(toD(v)) else java.lang.Math.floor(toD(v))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (integral) s"${ev.value} = $c;"
      else {
        val cd = child.dataType match {
          case _: DecimalType => s"$c.toDouble()"
          case _ => s"(double) $c"
        }
        val m = if (up) "ceil" else "floor"
        s"${ev.value} = java.lang.Math.$m($cd);"
      })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RoundRs {
  /** Rust `f64::round`: half away from zero; NaN/Inf pass through; the
    * result inherits the argument's sign, so `round(-0.2) == -0.0`. */
  def round(x: Double): Double = {
    val a = java.lang.Math.abs(x)
    val r = if (a % 1.0 >= 0.5) java.lang.Math.ceil(a) else java.lang.Math.floor(a)
    java.lang.Math.copySign(r, x)
  }

  /** Rust `f64::signum` (val/number.rs:596): ±1.0 even for ±0.0 (the sign
    * bit decides, not the comparison), NaN passes through — unlike Java's
    * `Math.signum`, which returns ±0.0 for zeros. */
  def signum(x: Double): Double =
    if (java.lang.Double.isNaN(x)) x else java.lang.Math.copySign(1.0, x)

  /** math::fixed on a float, the reference's cursed shape exactly
    * (val/number.rs:583-588: format "{v:.p}" then parse back): rounding
    * happens on the EXACT binary value (java.math.BigDecimal(double), not
    * the canonical-string constructor) with Rust float formatting's
    * ties-to-even; NaN/±inf round-trip through "NaN"/"inf" unchanged. */
  def fixed(x: Double, places: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else new java.math.BigDecimal(x)
      .setScale(places, java.math.RoundingMode.HALF_EVEN).doubleValue()
}

/** math::fixed(x, p) over a double column — see [[RoundRs.fixed]]. The
  * precision is the right child (a plan-time int literal). */
final case class FixedRs(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types._
  override def prettyName: String = "graft_fixed"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: NumericType, IntegerType | LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (numeric, int)")
    }
  private def asDouble(c: String): String = left.dataType match {
    case _: DecimalType => s"$c.toDouble()"
    case _ => s"(double) $c"
  }
  override def nullSafeEval(l: Any, r: Any): Any = {
    val x = left.dataType match {
      case FloatType => l.asInstanceOf[Float].toDouble
      case DoubleType => l.asInstanceOf[Double]
      case _: DecimalType => l.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
      case ByteType => l.asInstanceOf[Byte].toDouble
      case ShortType => l.asInstanceOf[Short].toDouble
      case IntegerType => l.asInstanceOf[Int].toDouble
      case LongType => l.asInstanceOf[Long].toDouble
    }
    val p = r match { case i: Int => i; case lg: Long => lg.toInt }
    RoundRs.fixed(x, p)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.RoundRs.fixed(${asDouble(a)}, (int) $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `math::sign` with the reference's semantics: Int input → Int signum
  * (-1/0/1); float input → Rust `f64::signum` (±1.0 even for ±0.0, NaN
  * passthrough). Spark's built-in `signum()` is Java semantics (±0.0 for
  * zeros) and always double-typed. */
final case class SignRs(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  override def prettyName: String = "graft_sign"
  private def integral: Boolean = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  override def dataType: DataType =
    if (integral) LongType else DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a numeric input, got ${dt.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    if (integral) java.lang.Long.signum(v match {
      case b: Byte => b.toLong; case s: Short => s.toLong
      case i: Int => i.toLong; case l: Long => l
    }).toLong
    else RoundRs.signum(child.dataType match {
      case FloatType => v.asInstanceOf[Float].toDouble
      case DoubleType => v.asInstanceOf[Double]
      case _: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (integral) s"${ev.value} = (long) java.lang.Long.signum((long) $c);"
      else {
        val cd = child.dataType match {
          case _: DecimalType => s"$c.toDouble()"
          case _ => s"(double) $c"
        }
        s"${ev.value} = graft.functions.RoundRs.signum($cd);"
      })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
