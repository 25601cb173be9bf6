package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Semantic-version engine shared by BOTH execution paths (reference
  * fnc/string.rs semver::* → the semver crate, which implements the
  * public SemVer 2.0.0 specification):
  *
  *   - STRICT parsing (spec §2/§9/§10: no leading zeros on numeric parts,
  *     non-empty dot-separated pre-release/build identifiers) — invalid
  *     input raises the reference's InvalidFunctionArguments text;
  *   - precedence per spec §11: major/minor/patch numerically; a
  *     pre-release sorts BELOW its plain version; pre-release identifiers
  *     compare field-wise (numeric ids numerically and LOWER than
  *     alphanumeric; alphanumeric ASCII-lexically; when one list prefixes
  *     the other, fewer fields sort lower); build metadata is IGNORED —
  *     the r17 sweep caught BOTH engines comparing only the numeric
  *     triple (a shared bug the differential alone was blind to);
  *   - inc/set mutate one component (inc zeroing the lower ones) and KEEP
  *     the pre-release/build tail, exactly as the crate's Version fields
  *     render back through to_string. */
object Semver {

  final case class V(major: Long, minor: Long, patch: Long,
      pre: Vector[String], build: Option[String]) {
    def render: String = {
      val sb = new StringBuilder
      sb.append(major).append('.').append(minor).append('.').append(patch)
      if (pre.nonEmpty) sb.append('-').append(pre.mkString("."))
      build.foreach(b => sb.append('+').append(b))
      sb.toString
    }
  }

  private val Re =
    """^(0|[1-9]\d*)\.(0|[1-9]\d*)\.(0|[1-9]\d*)(?:-([0-9A-Za-z.-]+))?(?:\+([0-9A-Za-z.-]+))?$""".r

  def parse(s: String): Option[V] = s match {
    case Re(ma, mi, pa, pre, build) =>
      val preIds = Option(pre).map(_.split("\\.", -1).toVector).getOrElse(Vector.empty)
      val buildIds = Option(build).map(_.split("\\.", -1).toVector).getOrElse(Vector.empty)
      val preOk = preIds.forall(id => id.nonEmpty &&
        !(id.forall(_.isDigit) && id.length > 1 && id.head == '0'))
      val buildOk = buildIds.forall(_.nonEmpty)
      // u64 overflow of a version component is a PARSE error in the crate
      // (not a crash): a >Long.MaxValue triple rejects like any bad input
      try {
        if (preOk && buildOk)
          Some(V(ma.toLong, mi.toLong, pa.toLong, preIds, Option(build)))
        else scala.None
      } catch { case _: NumberFormatException => scala.None }
    case _ => scala.None
  }

  def parseOr(s: String, fn: String, msg: String): V =
    parse(s).getOrElse(throw graft.surql.SqlError(
      s"Incorrect arguments for function $fn(). $msg"))

  /** One pre-release identifier compare (spec §11.4.1-3). Numeric ids
    * compare at ARBITRARY precision, as the crate does (length first —
    * no leading zeros survive parse — then lexically): String.toLong
    * would crash on a >19-digit identifier the spec allows. */
  private def idCmp(a: String, b: String): Int = {
    val an = a.forall(_.isDigit); val bn = b.forall(_.isDigit)
    if (an && bn) {
      if (a.length != b.length) Integer.compare(a.length, b.length)
      else a.compareTo(b)
    }
    else if (an) -1      // numeric < alphanumeric
    else if (bn) 1
    else a.compareTo(b)  // ASCII lexical
  }

  def cmp(a: V, b: V): Int = {
    var c = java.lang.Long.compare(a.major, b.major)
    if (c != 0) return c
    c = java.lang.Long.compare(a.minor, b.minor)
    if (c != 0) return c
    c = java.lang.Long.compare(a.patch, b.patch)
    if (c != 0) return c
    (a.pre.isEmpty, b.pre.isEmpty) match {
      case (true, true)   => 0
      case (true, false)  => 1   // plain > pre-release (§11.3)
      case (false, true)  => -1
      case _ =>
        a.pre.zip(b.pre).foreach { case (x, y) =>
          val d = idCmp(x, y)
          if (d != 0) return d
        }
        Integer.compare(a.pre.length, b.pre.length) // prefix → fewer is lower
    }
  }

  // ---- kernel statics -----------------------------------------------------

  def cmpStr(a: UTF8String, b: UTF8String): Long =
    cmp(
      parseOr(a.toString, "string::semver::compare",
        "Invalid semantic version string for left argument"),
      parseOr(b.toString, "string::semver::compare",
        "Invalid semantic version string for right argument")).sign.toLong

  def get(v: UTF8String, which: UTF8String): Long = {
    val fn = s"string::semver::${which.toString}"
    val p = parseOr(v.toString, fn, "Invalid semantic version")
    which.toString match {
      case "major" => p.major
      case "minor" => p.minor
      case _       => p.patch
    }
  }

  /** inc::X zeroes the lower components; set::X replaces one; BOTH keep
    * the pre-release/build tail (the crate mutates the field and renders
    * the whole Version back). */
  def upd(v: UTF8String, op: UTF8String, value: Long): UTF8String = {
    val o = op.toString // "inc_major" | … | "set_patch"
    val Array(kind, comp) = o.split('_')
    val p = parseOr(v.toString,
      s"string::semver::$kind::$comp", "Invalid semantic version")
    val out = o match {
      case "inc_major" => p.copy(major = p.major + 1, minor = 0, patch = 0)
      case "inc_minor" => p.copy(minor = p.minor + 1, patch = 0)
      case "inc_patch" => p.copy(patch = p.patch + 1)
      case "set_major" => p.copy(major = value)
      case "set_minor" => p.copy(minor = value)
      case _           => p.copy(patch = value)
    }
    UTF8String.fromString(out.render)
  }
}

final case class SemverCmpF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_semver_cmp"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  override def nullSafeEval(l: Any, r: Any): Any =
    Semver.cmpStr(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Semver.cmpStr($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class SemverGetF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_semver_get"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  override def nullSafeEval(l: Any, r: Any): Any =
    Semver.get(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Semver.get($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class SemverUpdF(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def prettyName: String = "graft_semver_upd"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == StringType &&
        third.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, string, bigint)")
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Semver.upd(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String],
      c.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.Semver.upd($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
