package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** String validators + capitalize shared by BOTH engines: the interpreter
  * (Functions.scala string::is::* family) delegates here, and the Spark
  * path lowers column arguments to the codegen'd [[StrCheckF]] /
  * [[CapitalizeF]] expressions below — one static JVM call per row inside
  * whole-stage codegen, no UDF, and definitionally identical semantics
  * across engines. Logic mirrors the reference's fnc/string.rs `is::*`
  * (addr / url / uuid / semver crate checks re-expressed). */
object StrCheck {
  def isIpv6(s: String): Boolean = {
    if (s.isEmpty || s.count(_ == ':') < 2) return false
    val dbl = s.indexOf("::")
    if (dbl >= 0 && s.indexOf("::", dbl + 1) >= 0) return false
    def groupsOf(part: String): Option[Int] = {
      if (part.isEmpty) return Some(0)
      val gs = part.split(":", -1)
      if (gs.exists(g => g.isEmpty || g.length > 4 ||
          !g.forall(c => c.isDigit || ('a' to 'f').contains(c.toLower))))
        None
      else Some(gs.length)
    }
    if (dbl >= 0) {
      (groupsOf(s.substring(0, dbl)), groupsOf(s.substring(dbl + 2))) match {
        case (Some(a), Some(b)) => a + b <= 7
        case _ => false
      }
    } else groupsOf(s).contains(8)
  }

  /** IDN-aware domain check (addr::parse_domain_name semantics,
    * fnc/string.rs:449): dot-separated labels, each 1..63 octets in ASCII
    * form, alphanumeric/hyphen with no leading/trailing hyphen. `xn--`
    * labels must punycode-DECODE (RFC 3492, overflow-checked) to a
    * non-empty string containing at least one non-ASCII code point (an
    * A-label encoding pure ASCII is not a valid IDN). Unicode labels must
    * hold only letters/marks/digits/hyphens and must punycode-ENCODE
    * within the 63-octet label budget; the 253-octet total applies to the
    * ASCII (encoded) form. One trailing dot (FQDN root) is allowed. */
  def isDomain(s0: String): Boolean = {
    if (s0.isEmpty) return false
    val s = if (s0.endsWith(".")) s0.dropRight(1) else s0
    if (s.isEmpty) return false
    val labels = s.split("\\.", -1)
    var totalAscii = labels.length - 1 // dots
    labels.nonEmpty && labels.forall { l =>
      if (l.isEmpty) false
      else if (l.forall(_ < 128)) {
        totalAscii += l.length
        l.length <= 63 && !l.startsWith("-") && !l.endsWith("-") &&
          l.forall(c => c.isLetterOrDigit || c == '-') && {
            val lower = l.toLowerCase
            !lower.startsWith("xn--") || (Punycode.decode(l.substring(4)) match {
              // must decode, contain a non-ASCII point (no hyper-ASCII
              // A-labels), and hold only IDN-permitted character classes
              case Some(d) => d.nonEmpty && d.exists(_ >= 128) &&
                d.forall(c => c == '-' || Character.isLetter(c) ||
                  Character.isDigit(c) || Character.getType(c) == Character.NON_SPACING_MARK ||
                  Character.getType(c) == Character.COMBINING_SPACING_MARK ||
                  Character.getType(c) == Character.ENCLOSING_MARK)
              case scala.None => false
            })
          }
      } else {
        !l.startsWith("-") && !l.endsWith("-") &&
          l.forall(c => c == '-' || Character.isLetter(c) ||
            Character.isDigit(c) || Character.getType(c) == Character.NON_SPACING_MARK ||
            Character.getType(c) == Character.COMBINING_SPACING_MARK ||
            Character.getType(c) == Character.ENCLOSING_MARK) &&
          (Punycode.encode(l.toLowerCase) match {
            case Some(enc) => totalAscii += 4 + enc.length; 4 + enc.length <= 63
            case scala.None => false
          })
      }
    } && totalAscii <= 253
  }

  /** Rust std `Ipv4Addr::from_str` (fnc/string.rs is::ipv4): exactly four
    * decimal octets, NO leading zeros ("01.2.3.4" is false), each <= 255. */
  def isIpv4(s: String): Boolean =
    s.matches("^([0-9]{1,3}\\.){3}[0-9]{1,3}$") &&
      s.split('.').forall(p => (p == "0" || !p.startsWith("0")) && p.toInt <= 255)

  def isEmail(e: String): Boolean = {
    val at = e.lastIndexOf('@')
    at > 0 && at < e.length - 1 && {
      val (local, host) = (e.substring(0, at), e.substring(at + 1))
      val localOk = !local.contains("..") && !local.startsWith(".") && !local.endsWith(".") &&
        local.forall(c => c.isLetterOrDigit || "!#$%&'*+-/=?^_`{|}~.".contains(c))
      val hostOk =
        if (host.startsWith("[") && host.endsWith("]")) {
          // addr feeds the bracket content to std IpAddr::from_str: bare
          // `[::1]` parses, the RFC 5321 `[IPv6:...]` tag does NOT (golden
          // parse/email/host.surql pins NONE for the tagged form)
          val inner = host.substring(1, host.length - 1)
          isIpv6(inner) || isIpv4(inner)
        } else isDomain(host) // parse_email_address requires a valid domain
      localOk && hostOk
    }
  }

  /** One-string validators by kind — the dispatch the codegen'd expression
    * calls per row. Kinds match the reference's `string::is::<kind>`. */
  def check(kind: String, us: UTF8String): Boolean = {
    val s = us.toString
    kind match {
      case "alphanum"    => s.nonEmpty && s.forall(_.isLetterOrDigit)
      case "alpha"       => s.nonEmpty && s.forall(_.isLetter)
      case "ascii"       => s.nonEmpty && s.forall(_ < 128)
      case "ulid"        => s.matches("^[0-7][0-9A-HJKMNP-TV-Za-hjkmnp-tv-z]{25}$")
      case "hexadecimal" => s.nonEmpty && s.forall(c => c.isDigit || ('a' to 'f').contains(c.toLower))
      case "ipv4"        => isIpv4(s)
      case "ipv6"        => isIpv6(s)
      case "ip"          => isIpv4(s) || isIpv6(s)
      case "domain"      => isDomain(s)
      case "latitude" =>
        try { val d = s.toDouble; d >= -90.0 && d <= 90.0 && s.matches("^[-+]?\\d{1,2}(\\.\\d+)?$") }
        catch { case _: Exception => false }
      case "longitude" =>
        try { val d = s.toDouble; d >= -180.0 && d <= 180.0 && s.matches("^[-+]?\\d{1,3}(\\.\\d+)?$") }
        catch { case _: Exception => false }
      case "numeric" => s.nonEmpty && s.forall(_.isDigit)
      case "email"   => isEmail(s)
      case "url"     => s.matches("^(https?|ftp)://\\S+$")
      case "uuid" =>
        try { java.util.UUID.fromString(s); true } catch { case _: Exception => false }
      case "int" => try { s.toLong; true } catch { case _: Exception => false }
      case "decimal" | "number" =>
        try { BigDecimal(s); true } catch { case _: Exception => false }
      case "semver" => s.matches("^\\d+\\.\\d+\\.\\d+(-[\\w.]+)?(\\+[\\w.]+)?$")
      case other => throw new IllegalArgumentException(s"unknown check $other")
    }
  }

  /** Validator kinds the Spark path may lower for COLUMN arguments. */
  val kinds: Set[String] = Set("alphanum", "alpha", "ascii", "ulid",
    "hexadecimal", "ipv4", "ipv6", "ip", "domain", "latitude", "longitude",
    "numeric", "email", "url", "uuid", "int", "decimal", "number", "semver")

  /** Bob Jenkins one-at-a-time hash over UTF-8 bytes, 32-bit
    * (fnc/crypto.rs joaat) — shared by both engines. */
  def joaat(us: UTF8String): Long = {
    var h = 0L
    us.getBytes.foreach { b =>
      h = (h + (b & 0xff)) & 0xffffffffL
      h = (h + (h << 10)) & 0xffffffffL
      h = (h ^ (h >> 6)) & 0xffffffffL
    }
    h = (h + (h << 3)) & 0xffffffffL
    h = (h ^ (h >> 11)) & 0xffffffffL
    h = (h + (h << 15)) & 0xffffffffL
    h
  }

  /** BLAKE3 hex digest (fnc/crypto.rs blake3) — delegates to the pure-Scala
    * implementation both engines share. */
  def blake3Hex(us: UTF8String): UTF8String =
    UTF8String.fromString(graft.surql.Blake3.hex(us.getBytes))

  /** Title-case: uppercase any lowercase char following whitespace, leave
    * everything else untouched (fnc/string.rs capitalize — NOT initcap,
    * which also lowercases the rest of each word). */
  def capitalize(us: UTF8String): UTF8String = {
    val s = us.toString
    if (s.isEmpty) return us
    val sb = new java.lang.StringBuilder(s.length)
    var prevWs = true
    s.foreach { c =>
      sb.append(if (prevWs && c.isLower) c.toUpper else c)
      prevWs = c.isWhitespace
    }
    UTF8String.fromString(sb.toString)
  }
}

final case class StrCheckF(kind: String, child: Expression)
    extends UnaryExpression {
  override def prettyName: String = s"graft_is_$kind"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string")
  override def nullSafeEval(v: Any): Any =
    StrCheck.check(kind, v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"""graft.functions.StrCheck.check("$kind", $s)""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

final case class CapitalizeF(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_capitalize"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string")
  override def nullSafeEval(v: Any): Any =
    StrCheck.capitalize(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.StrCheck.capitalize($s)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

final case class JoaatF(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_joaat"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string")
  override def nullSafeEval(v: Any): Any =
    StrCheck.joaat(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.StrCheck.joaat($s)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

final case class Blake3F(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_blake3"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string")
  override def nullSafeEval(v: Any): Any =
    StrCheck.blake3Hex(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.StrCheck.blake3Hex($s)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
