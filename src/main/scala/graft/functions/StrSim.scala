package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** String-similarity kernels (fnc/string.rs similarity::*, strsim crate
  * semantics — the same algorithm the interpreter path runs, so both
  * engines agree to the ulp). The expressions stay inside whole-stage
  * codegen by generating a static call into [[StrSim]] — one virtual-free
  * JVM call per row, no lambda interpretation. */
object StrSim {

  /** The reference's DoS guard for the O(n·m) similarity/distance family
    * (fnc/string.rs:28 check_similarity_input_length, cnf
    * STRING_SIMILARITY_LIMIT default 16384): both inputs' UTF-8 BYTE
    * lengths within the limit or the InvalidFunctionArguments error with
    * the reference's exact text. Every kernel in the family calls this
    * (fuzzy under smithwaterman's name, as the reference delegates). */
  private val SimLimit = 16384
  def checkSimLen(name: String, a: UTF8String, b: UTF8String): Unit = {
    val la = a.numBytes; val lb = b.numBytes
    if (la > SimLimit || lb > SimLimit)
      throw graft.surql.SqlError(s"Incorrect arguments for function $name(). " +
        s"Input strings must not exceed $SimLimit bytes (got $la and $lb).")
  }
  def checkSimLen(name: String, a: String, b: String): Unit =
    checkSimLen(name, UTF8String.fromString(a), UTF8String.fromString(b))

  /** Rust's char::is_whitespace — the Unicode White_Space property. NOT
    * Java's Character.isWhitespace, which adds the U+001C-001F separators
    * and drops the non-breaking spaces U+00A0/U+2007/U+202F. */
  private[functions] def isRustWhitespace(cp: Int): Boolean = cp match {
    case 0x09 | 0x0A | 0x0B | 0x0C | 0x0D | 0x20 | 0x85 | 0xA0 | 0x1680 |
         0x2028 | 0x2029 | 0x202F | 0x205F | 0x3000 => true
    case c => c >= 0x2000 && c <= 0x200A
  }

  private def cps(s: String): Array[Int] = s.codePoints.toArray

  /** Jaro core over Unicode scalar values (strsim iterates Rust chars —
    * UTF-16 code units diverge on non-BMP input). */
  private def jaroCp(x: Array[Int], y: Array[Int]): Double = {
    if (java.util.Arrays.equals(x, y)) return 1.0
    if (x.isEmpty || y.isEmpty) return 0.0
    val window = Math.max(x.length, y.length) / 2 - 1
    val xm = new Array[Boolean](x.length)
    val ym = new Array[Boolean](y.length)
    var matches = 0
    var i = 0
    while (i < x.length) {
      val lo = Math.max(0, i - window)
      val hi = Math.min(y.length - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!ym(j) && x(i) == y(j)) {
          xm(i) = true; ym(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < x.length) {
      if (xm(i)) {
        while (!ym(k)) k += 1
        if (x(i) != y(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / x.length + m / y.length + (m - t / 2.0) / m) / 3.0
  }

  /** Jaro similarity (strsim jaro; standard match-window definition). */
  def jaro(xs: UTF8String, ys: UTF8String): Double = {
    checkSimLen("string::similarity::jaro", xs, ys)
    jaroCp(cps(xs.toString), cps(ys.toString))
  }

  /** Sørensen-Dice as strsim::sorensen_dice exactly (fnc/string.rs:597):
    * Unicode White_Space scalars removed from the STRINGS first (Rust
    * char::is_whitespace, not Java's), then CODE-POINT-bigram multiset
    * intersection with denominator len(a)+len(b)-2 over the stripped
    * code-point lengths; the ==, single-char, and <2 shortcuts mirror the
    * crate. Shared by BOTH engines (the interpreter calls this static
    * too) so the paths agree to the ulp. */
  def sorensenDice(xs: UTF8String, ys: UTF8String): Double = {
    checkSimLen("string::similarity::sorensen_dice", xs, ys)
    val a = cps(xs.toString).filterNot(isRustWhitespace)
    val b = cps(ys.toString).filterNot(isRustWhitespace)
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    if (java.util.Arrays.equals(a, b)) return 1.0
    if (a.length < 2 || b.length < 2) return 0.0
    val counts = new java.util.HashMap[Long, Int]()
    var i = 0
    while (i < a.length - 1) {
      val key = a(i).toLong << 32 | (a(i + 1).toLong & 0xFFFFFFFFL)
      counts.merge(key, 1, (x, y) => x + y)
      i += 1
    }
    var inter = 0
    i = 0
    while (i < b.length - 1) {
      val key = b(i).toLong << 32 | (b(i + 1).toLong & 0xFFFFFFFFL)
      val c = counts.getOrDefault(key, 0)
      if (c > 0) { inter += 1; counts.put(key, c - 1) }
      i += 1
    }
    (2.0 * inter) / (a.length + b.length - 2)
  }

  /** array::sort_natural / sort_lexical / sort_natural_lexical over a
    * COLUMN string array — the SAME comparators the interpreter runs
    * (Functions.naturalCmp / ROOT Collator / naturalLexicalCmp; reference
    * lexicmp via fnc/array.rs), so the two paths order identically. Null
    * elements key as the interpreter's NONE render. */
  def sortArr(values: org.apache.spark.sql.catalyst.util.ArrayData,
      method: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = values.numElements()
    val items = (0 until n).map(i => Option(values.getUTF8String(i)).map(_.toString))
    def key(o: Option[String]): String = o.getOrElse("NONE")
    val cmp: (String, String) => Int = method.toString match {
      case "natural" => graft.surql.Functions.naturalCmp
      case "lexical" =>
        val coll = java.text.Collator.getInstance(java.util.Locale.ROOT)
        (a, b) => coll.compare(a, b)
      case _ => graft.surql.Functions.naturalLexicalCmp
    }
    val sorted = items.sortWith((a, b) => cmp(key(a), key(b)) < 0)
    new GenericArrayData(sorted.map(_.map(UTF8String.fromString).orNull).toArray[Any])
  }

  /** Jaro-Winkler as strsim 0.11's generic_jaro_winkler (the crate the
    * reference links): the common-prefix boost is UNBOUNDED (no classic
    * 4-char cap) and the result is clamped to 1.0. */
  def jaroWinkler(xs: UTF8String, ys: UTF8String): Double = {
    checkSimLen("string::similarity::jaro_winkler", xs, ys)
    val x = cps(xs.toString)
    val y = cps(ys.toString)
    val j = jaroCp(x, y)
    val n = Math.min(x.length, y.length)
    var prefix = 0
    while (prefix < n && x(prefix) == y(prefix)) prefix += 1
    Math.min(1.0, j + prefix * 0.1 * (1 - j))
  }

  /** SkimMatcherV2 fuzzy score (fnc/string.rs:550,587) — see [[SkimV2]],
    * pinned to the reference's published test outputs. The limit check
    * carries smithwaterman's name because the reference's fuzzy DELEGATES
    * to smithwaterman (fnc/string.rs:550-552), check included. */
  def fuzzy(xs: UTF8String, ys: UTF8String): Long = {
    checkSimLen("string::similarity::smithwaterman", xs, ys)
    SkimV2.fuzzyMatch(xs.toString, ys.toString)
  }

  /** Levenshtein over Unicode scalar values (strsim levenshtein), with the
    * reference's limit check — Spark's builtin carries neither. */
  def levenshtein(xs: UTF8String, ys: UTF8String): Long = {
    checkSimLen("string::distance::levenshtein", xs, ys)
    levenshteinCp(cps(xs.toString), cps(ys.toString))
  }

  private def levenshteinCp(x: Array[Int], y: Array[Int]): Long = {
    if (x.isEmpty) return y.length.toLong
    if (y.isEmpty) return x.length.toLong
    val dp = Array.tabulate(y.length + 1)(identity)
    var i = 1
    while (i <= x.length) {
      var prev = dp(0)
      dp(0) = i
      var j = 1
      while (j <= y.length) {
        val tmp = dp(j)
        dp(j) = Math.min(Math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (x(i - 1) == y(j - 1)) 0 else 1))
        prev = tmp
        j += 1
      }
      i += 1
    }
    dp(y.length).toLong
  }

  /** strsim normalized_levenshtein: 1 - d/max(chars), both-empty = 1.0. */
  def normalizedLevenshtein(xs: UTF8String, ys: UTF8String): Double = {
    checkSimLen("string::distance::normalized_levenshtein", xs, ys)
    val x = cps(xs.toString); val y = cps(ys.toString)
    val m = Math.max(x.length, y.length)
    if (m == 0) 1.0 else 1.0 - levenshteinCp(x, y).toDouble / m
  }

  /** strsim normalized_damerau_levenshtein, same shape. */
  def normalizedDamerau(xs: UTF8String, ys: UTF8String): Double = {
    checkSimLen("string::distance::normalized_damerau_levenshtein", xs, ys)
    val x = cps(xs.toString); val y = cps(ys.toString)
    val m = Math.max(x.length, y.length)
    if (m == 0) 1.0 else 1.0 - damerauCp(x, y).toDouble / m
  }

  /** Optimal string alignment (strsim osa_distance): Damerau restricted to
    * non-overlapping adjacent transpositions, over Unicode scalar values. */
  def osa(xs: UTF8String, ys: UTF8String): Long = {
    checkSimLen("string::distance::osa_distance", xs, ys)
    val a = cps(xs.toString)
    val b = cps(ys.toString)
    val (la, lb) = (a.length, b.length)
    val d = Array.ofDim[Int](la + 1, lb + 1)
    var i = 0
    while (i <= la) { d(i)(0) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(0)(j) = j; j += 1 }
    i = 1
    while (i <= la) {
      j = 1
      while (j <= lb) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        d(i)(j) = Math.min(Math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + cost)
        if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
          d(i)(j) = Math.min(d(i)(j), d(i - 2)(j - 2) + 1)
        j += 1
      }
      i += 1
    }
    d(la)(lb).toLong
  }

  /** Full (unrestricted) Damerau-Levenshtein — the strsim crate's
    * `damerau_levenshtein` the reference links (fnc/string.rs), i.e. the
    * alphabet-indexed DP with true transpositions over Unicode scalar
    * values, not the restricted OSA variant. */
  def damerauLevenshtein(xs: UTF8String, ys: UTF8String): Long = {
    checkSimLen("string::distance::damerau_levenshtein", xs, ys)
    damerauCp(cps(xs.toString), cps(ys.toString))
  }

  private def damerauCp(a: Array[Int], b: Array[Int]): Long = {
    val (la, lb) = (a.length, b.length)
    val maxD = la + lb
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = maxD
    var i = 0
    while (i <= la) { d(i + 1)(0) = maxD; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(0)(j + 1) = maxD; d(1)(j + 1) = j; j += 1 }
    val lastRow = new java.util.HashMap[Integer, Integer]()
    i = 1
    while (i <= la) {
      var lastMatchCol = 0
      j = 1
      while (j <= lb) {
        val k: Int = { val v = lastRow.get(b(j - 1)); if (v == null) 0 else v }
        val l = lastMatchCol
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        if (cost == 0) lastMatchCol = j
        d(i + 1)(j + 1) = Math.min(
          Math.min(d(i)(j) + cost, d(i + 1)(j) + 1),
          Math.min(d(i)(j + 1) + 1, d(k)(l) + (i - k - 1) + 1 + (j - l - 1)))
        j += 1
      }
      lastRow.put(a(i - 1), i)
      i += 1
    }
    d(la + 1)(lb + 1).toLong
  }

  /** Hamming distance over Unicode scalar values; unequal code-point
    * counts error like the reference (strsim hamming returns Err →
    * "Strings must be of equal length"). */
  def hamming(xs: UTF8String, ys: UTF8String): Long = {
    checkSimLen("string::distance::hamming", xs, ys)
    val a = cps(xs.toString); val b = cps(ys.toString)
    if (a.length != b.length)
      throw graft.surql.SqlError(
        "Incorrect arguments for function string::distance::hamming(). " +
          "Strings must be of equal length")
    var n = 0L
    var i = 0
    while (i < a.length) { if (a(i) != b(i)) n += 1; i += 1 }
    n
  }

  /** UTF8String bridge for [[graft.surql.Snowball.stem]]. */
  def stem(term: UTF8String, lang: UTF8String): UTF8String =
    UTF8String.fromString(
      graft.surql.Snowball.stem(lang.toString, term.toString))

  // ---- string::words / string::slug (r20 sweep) ------------------------

  /** Rust `split_whitespace` (fnc/string.rs:283): splits on the Unicode
    * White_Space property (`char::is_whitespace`) and never yields empty
    * parts — Java's regex `\s` is ASCII-only and split("") yields [""]. */
  def wordsList(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    var start = -1
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      val w = isRustWhitespace(cp)
      if (w && start >= 0) { out += s.substring(start, i); start = -1 }
      else if (!w && start < 0) start = i
      i += Character.charCount(cp)
    }
    if (start >= 0) out += s.substring(start)
    out.result()
  }

  def words(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      wordsList(s.toString).map(UTF8String.fromString(_): Any).toArray)

  /** deunicode-crate specials the NFKD fallback can't produce: ligature
    * and letter transliterations for the Latin-adjacent set. */
  private val DeuniSpecials: Map[Char, String] = Map(
    'ß' -> "ss", 'æ' -> "ae", 'Æ' -> "AE", 'œ' -> "oe", 'Œ' -> "OE",
    'ø' -> "o", 'Ø' -> "O", 'đ' -> "d", 'Đ' -> "D", 'þ' -> "th",
    'Þ' -> "Th", 'ð' -> "d", 'Ð' -> "D", 'ł' -> "l", 'Ł' -> "L",
    'ħ' -> "h", 'Ħ' -> "H", 'ı' -> "i", 'ŋ' -> "ng", 'Ŋ' -> "NG",
    'ẞ' -> "SS", 'ĸ' -> "k", 'Ə' -> "E", 'ə' -> "e")

  /** The reference's slug (fnc/util/string/slug.rs): deunicode → ASCII
    * lowercase → every char outside [a-z0-9-_] becomes '-' (UNDERSCORE IS
    * KEPT) → hyphen runs collapse → surrounding hyphens trim. The
    * deunicode step here is the NFKD-strip-marks approximation plus the
    * specials table — exact for Latin-script input (café → cafe,
    * Über → uber, ß → ss); CJK/Greek/Cyrillic transliteration tables are
    * out of scope and those characters fold to '-'. */
  def slugStr(s0: String): String = {
    val de = new StringBuilder(s0.length + 8)
    s0.foreach { ch =>
      if (ch < 128) de.append(ch)
      else DeuniSpecials.get(ch) match {
        case Some(m) => de.append(m)
        case None =>
          val ascii = java.text.Normalizer.normalize(
            ch.toString, java.text.Normalizer.Form.NFKD).filter(_ < 128)
          if (ascii.nonEmpty) de.append(ascii) else de.append(ch)
      }
    }
    val sb = new StringBuilder(de.length)
    var lastHyphen = false
    de.foreach { ch0 =>
      // make_ascii_lowercase
      val ch = if (ch0 >= 'A' && ch0 <= 'Z') (ch0 + 32).toChar else ch0
      val ok = (ch >= 'a' && ch <= 'z') || (ch >= '0' && ch <= '9') ||
        ch == '-' || ch == '_'
      if (ok && ch != '-') { sb.append(ch); lastHyphen = false }
      else if (!lastHyphen) { sb.append('-'); lastHyphen = true }
    }
    val out = sb.toString
    val a = out.indexWhere(_ != '-')
    if (a < 0) "" else out.substring(a, out.lastIndexWhere(_ != '-') + 1)
  }

  def slug(s: UTF8String): UTF8String = UTF8String.fromString(slugStr(s.toString))
}

final case class WordsF(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_words"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string")
  override def nullSafeEval(v: Any): Any = StrSim.words(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StrSim.words($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

final case class SlugF(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_slug"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string")
  override def nullSafeEval(v: Any): Any = StrSim.slug(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StrSim.slug($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

final case class FuzzyF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_fuzzy"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  override def nullSafeEval(l: Any, r: Any): Any =
    StrSim.fuzzy(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StrSim.fuzzy($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class DamerauF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_damerau"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  override def nullSafeEval(l: Any, r: Any): Any =
    StrSim.damerauLevenshtein(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StrSim.damerauLevenshtein($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class LevenshteinF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_levenshtein"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  override def nullSafeEval(l: Any, r: Any): Any =
    StrSim.levenshtein(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StrSim.levenshtein($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class OsaF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_osa"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  override def nullSafeEval(l: Any, r: Any): Any =
    StrSim.osa(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StrSim.osa($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class HammingF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_hamming"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  override def nullSafeEval(l: Any, r: Any): Any =
    StrSim.hamming(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StrSim.hamming($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

abstract class StrSimF extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  protected def method: String
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String]; val b = r.asInstanceOf[UTF8String]
    method match {
      case "jaro"                   => StrSim.jaro(a, b)
      case "sorensenDice"           => StrSim.sorensenDice(a, b)
      case "normalizedLevenshtein"  => StrSim.normalizedLevenshtein(a, b)
      case "normalizedDamerau"      => StrSim.normalizedDamerau(a, b)
      case _                        => StrSim.jaroWinkler(a, b)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StrSim.$method($a, $b)")
}

final case class NormLevenshteinF(left: Expression, right: Expression) extends StrSimF {
  override def prettyName: String = "graft_norm_levenshtein"
  protected def method: String = "normalizedLevenshtein"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class NormDamerauF(left: Expression, right: Expression) extends StrSimF {
  override def prettyName: String = "graft_norm_damerau"
  protected def method: String = "normalizedDamerau"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class JaroF(left: Expression, right: Expression) extends StrSimF {
  override def prettyName: String = "graft_jaro"
  protected def method: String = "jaro"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class JaroWinklerF(left: Expression, right: Expression) extends StrSimF {
  override def prettyName: String = "graft_jaro_winkler"
  protected def method: String = "jaroWinkler"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class SorensenDiceF(left: Expression, right: Expression) extends StrSimF {
  override def prettyName: String = "graft_sorensen_dice"
  protected def method: String = "sorensenDice"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** lexicmp-family array sort kernel: (array<string>, method) → sorted
  * array<string>, `method` ∈ natural|lexical|natural_lexical. */
final case class SortArrF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_sort_arr"
  override def dataType: DataType = left.dataType
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _)
        if right.dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, string)")
  }
  override def nullSafeEval(l: Any, r: Any): Any =
    StrSim.sortArr(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StrSim.sortArr($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Snowball stemmer as a native expression: a static call into
  * [[graft.surql.Snowball]] per row, inside whole-stage codegen — the same
  * stemmer the Interp analyzer chain runs, so the Spark FTS postings and
  * the interpreter's `search::analyze` agree token-for-token. The language
  * is a plan-time constant (right child must be a string literal). */
final case class StemF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_stem"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  override def nullSafeEval(l: Any, r: Any): Any =
    StrSim.stem(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StrSim.stem($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
