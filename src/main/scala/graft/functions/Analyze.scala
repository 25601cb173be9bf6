package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Full analyzer-chain tokenization as a native expression: a static call
  * into the SAME tokenizer state machine + filter pipeline the interpreter
  * path runs ([[graft.surql.Search]] — reference idx/ft/analyzer/
  * tokenizer.rs, filter.rs), so Spark-side FTS postings and the
  * interpreter's `search::analyze` agree token-for-token for ANY supported
  * chain (blank/class/punct/camel tokenizers; lowercase/uppercase/ascii/
  * ngram/edgengram/snowball/mapper filters). The chain argument is the
  * canonical `DEFINE ANALYZER` render, a plan-time constant — the parsed
  * chain is cached per render string, executor-side. */
object Analyze {
  private val chains =
    new java.util.concurrent.ConcurrentHashMap[String, graft.surql.Search.AnalyzerDef]()

  def chain(render: String): graft.surql.Search.AnalyzerDef =
    chains.computeIfAbsent(render,
      r => graft.surql.Search.parseAnalyzer("__chain", r))

  /** Indexing-stage analysis (all filters, including ngram/edgengram). */
  def analyze(text: UTF8String, render: UTF8String): ArrayData = {
    val a = chain(render.toString)
    val toks = graft.surql.Search.applyFilters(
      graft.surql.Search.tokenize(a.tokenizers, text.toString),
      a.filters, querying = false)
    new GenericArrayData(toks.map(t => UTF8String.fromString(t.term)).toArray[Any])
  }

  /** Query-stage analysis (FilteringStage::Querying — skips ngram/edgengram),
    * driver-side, for analyzing the `@@` right-hand side through the same
    * chain the postings were built with. */
  def analyzeQuery(render: String, text: String): Seq[String] = {
    val a = chain(render)
    graft.surql.Search.applyFilters(
      graft.surql.Search.tokenize(a.tokenizers, text),
      a.filters, querying = true).map(_.term)
  }

  /** Packed plan-time config for the highlight kernel: chain render, query
    * terms, pre/post wrappers and the partial flag in one constant string
    * (parsed once per config, cached). */
  final case class HlConfig(render: String, terms: Set[String],
      pre: String, post: String, partial: Boolean)
  private val hlConfigs =
    new java.util.concurrent.ConcurrentHashMap[String, HlConfig]()

  /** Collision-free length-prefixed field packing ("<len>:<payload>" per
    * field, concatenated): no separator byte exists to collide with payload
    * content, so a pre/post wrapper or term containing ANY character —
    * including control bytes — round-trips exactly. Fixed head = render,
    * partial, pre, post; every remaining field is a query term. */
  private def packFields(fields: Seq[String]): String =
    fields.map(f => s"${f.length}:$f").mkString

  private def unpackFields(p: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < p.length) {
      val c = p.indexOf(':', i)
      val n = p.substring(i, c).toInt
      out += p.substring(c + 1, c + 1 + n)
      i = c + 1 + n
    }
    out.result()
  }

  def packHighlight(render: String, terms: Seq[String], pre: String,
      post: String, partial: Boolean): String =
    packFields(Seq(render, partial.toString, pre, post) ++ terms)

  private def hlConfig(packed: String): HlConfig =
    hlConfigs.computeIfAbsent(packed, p => {
      val fs = unpackFields(p)
      HlConfig(fs(0), fs.drop(4).filter(_.nonEmpty).toSet,
        fs(2), fs(3), fs(1).toBoolean)
    })

  /** Matched source spans of one string value — the SAME span computation
    * the interpreter runs (Search.matchSpans: indexing-stage analysis of
    * the value, spans of tokens whose term is in the query set, distinct,
    * sorted; partial=true yields the matched ngram sub-spans). */
  private def spansOf(cfg: HlConfig, s: String): Vector[(Int, Int)] = {
    val a = chain(cfg.render)
    val toks = graft.surql.Search.applyFilters(
      graft.surql.Search.tokenize(a.tokenizers, s), a.filters,
      querying = false)
    toks.filter(t => cfg.terms.contains(t.term))
      .map(t => if (cfg.partial) t.pSpan else (t.start, t.end))
      .distinct.sorted
  }

  private def highlightOne(cfg: HlConfig, s: String): String = {
    val hit = spansOf(cfg, s)
    if (hit.isEmpty) return s
    // merge adjacent/overlapping spans before wrapping (Search.highlight)
    val merged = hit.foldLeft(Vector.empty[(Int, Int)]) { case (acc, (st, e)) =>
      acc.lastOption match {
        case Some((ls, le)) if st <= le => acc.init :+ ((ls, Math.max(le, e)))
        case _ => acc :+ ((st, e))
      }
    }
    val sb = new StringBuilder
    var p = 0
    merged.foreach { case (st, e) =>
      sb.append(s.substring(p, st)).append(cfg.pre)
        .append(s.substring(st, e)).append(cfg.post)
      p = e
    }
    sb.append(s.substring(p))
    sb.toString
  }

  /** search::highlight over a single-value string field. */
  def highlight(text: UTF8String, packed: UTF8String): UTF8String =
    UTF8String.fromString(
      highlightOne(hlConfig(packed.toString), text.toString))

  /** search::highlight over an ARRAY-valued field: each value highlighted
    * independently, unmatched values pass through unchanged — the
    * interpreter's per-value walk (Search.highlight over strValues;
    * reference idx/ft/highlighter.rs:83-84 keys spans by value index). */
  def highlightArr(values: ArrayData, packed: UTF8String): ArrayData = {
    val cfg = hlConfig(packed.toString)
    val out = new Array[Any](values.numElements())
    var i = 0
    while (i < out.length) {
      val v = values.getUTF8String(i)
      out(i) =
        if (v == null) null
        else UTF8String.fromString(highlightOne(cfg, v.toString))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** search::highlight under a FUNCTION analyzer: spans come from the
    * fn-TRANSFORMED text (the analyzer runs the fn before tokenizing —
    * idx/ft/analyzer/mod.rs:97), but the wrap applies to the ORIGINAL
    * value's characters at those offsets — exactly the interpreter's
    * behavior (Search.highlight substrings the original `s` with spans
    * from analyzeText, which includes the fn). Offsets past the original's
    * length raise the reference's highlight position-overflow error
    * (highlighter.rs:92-95). */
  def highlightFx(orig: UTF8String, xformed: UTF8String,
      packed: UTF8String): UTF8String = {
    val cfg = hlConfig(packed.toString)
    val s = orig.toString
    val hit = spansOf(cfg, xformed.toString)
    if (hit.isEmpty) return orig
    val merged = hit.foldLeft(Vector.empty[(Int, Int)]) { case (acc, (st, e)) =>
      acc.lastOption match {
        case Some((ls, le)) if st <= le => acc.init :+ ((ls, Math.max(le, e)))
        case _ => acc :+ ((st, e))
      }
    }
    val sb = new StringBuilder
    var p = 0
    merged.foreach { case (st, e) =>
      // the fn can LENGTHEN the text: spans past the original error, as
      // the reference's highlighter does (highlighter.rs:92-95,
      // err HighlightError "A value can't be highlighted: …")
      if (e > s.length)
        throw graft.surql.SqlError(
          s"A value can't be highlighted: position overflow: $e - len: ${s.length}")
      sb.append(s.substring(p, st)).append(cfg.pre)
        .append(s.substring(st, e)).append(cfg.post)
      p = e
    }
    sb.append(s.substring(p))
    UTF8String.fromString(sb.toString)
  }

  /** Array-field variant of [[highlightFx]]: per value index, spans from
    * the fn-transformed value wrap the original value. */
  def highlightFxArr(orig: ArrayData, xformed: ArrayData,
      packed: UTF8String): ArrayData = {
    val n = orig.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val o = orig.getUTF8String(i)
      val x =
        if (i < xformed.numElements() && xformed.getUTF8String(i) != null)
          xformed.getUTF8String(i)
        else o
      out(i) = if (o == null) null else highlightFx(o, x, packed)
      i += 1
    }
    new GenericArrayData(out)
  }

  private def spanRows(hit: Vector[(Int, Int)]): ArrayData =
    new GenericArrayData(hit.map { case (st, e) =>
      org.apache.spark.sql.catalyst.InternalRow(e.toLong, st.toLong)
    }.toArray[Any])

  /** search::offsets per row over a string OR array<string> field: the
    * matched token spans keyed by VALUE INDEX — {"0": [{e,s}…], "1": …} —
    * only indices with hits present, matching the interpreter's object
    * shape (Search.offsets; fnc/search.rs offsets; highlighter.rs:169-175
    * keys the offset records by value index). Single-value fields are the
    * one-value walk, key "0". */
  def offsets(value: Any, packed: UTF8String): org.apache.spark.sql.catalyst.util.MapData = {
    val cfg = hlConfig(packed.toString)
    val values: Vector[String] = value match {
      case s: UTF8String => Vector(s.toString)
      case a: ArrayData =>
        (0 until a.numElements()).iterator
          .map(i => Option(a.getUTF8String(i)).map(_.toString).getOrElse(""))
          .toVector
      case _ => Vector.empty
    }
    val entries = values.zipWithIndex.flatMap { case (s, i) =>
      val hit = spansOf(cfg, s)
      if (hit.isEmpty) scala.None else Some(i -> hit)
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(entries.map(e =>
        UTF8String.fromString(e._1.toString)).toArray[Any]),
      new GenericArrayData(entries.map(e => spanRows(e._2)).toArray[Any]))
  }
}

/** search::offsets kernel — accepts a string OR array<string> field and
  * returns map<valueIndex, [{e,s}…]> (only indices with hits), the
  * interpreter's object shape for multi-value fields. */
final case class OffsetsF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_offsets"
  override def dataType: DataType = org.apache.spark.sql.types.MapType(
    StringType,
    ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("e", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.LongType, nullable = false))),
      containsNull = false),
    valueContainsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case StringType | ArrayType(StringType, _) if right.dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string | array<string>, string)")
  }
  override def nullSafeEval(l: Any, r: Any): Any =
    Analyze.offsets(l, r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Analyze.offsets($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** search::highlight kernel — accepts a string OR array<string> field; the
  * output mirrors the input shape (each array value highlighted
  * independently), the interpreter's per-value walk. */
final case class HighlightF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_highlight"
  override def dataType: DataType = left.dataType match {
    case ArrayType(StringType, n) => ArrayType(StringType, n)
    case _ => StringType
  }
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case StringType | ArrayType(StringType, _) if right.dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string | array<string>, string)")
  }
  override def nullSafeEval(l: Any, r: Any): Any = l match {
    case s: UTF8String => Analyze.highlight(s, r.asInstanceOf[UTF8String])
    case a: ArrayData => Analyze.highlightArr(a, r.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    left.dataType match {
      case _: ArrayType =>
        defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Analyze.highlightArr($a, $b)")
      case _ =>
        defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Analyze.highlight($a, $b)")
    }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

final case class AnalyzeF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_analyze"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects two strings")
  override def nullSafeEval(l: Any, r: Any): Any =
    Analyze.analyze(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Analyze.analyze($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** FUNCTION-analyzer highlight kernel: (original, fn-transformed, packed)
  * — spans from the transformed text wrap the original's characters. The
  * first two inputs are both strings, or both array<string> (array-valued
  * fields walk per value index). */
final case class HighlightFxF(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def prettyName: String = "graft_highlight_fx"
  override def dataType: DataType = first.dataType match {
    case ArrayType(StringType, n) => ArrayType(StringType, n)
    case _ => StringType
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (StringType, StringType) if third.dataType == StringType =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(StringType, _))
          if third.dataType == StringType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string|array<string> ×2, string)")
    }
  override def nullSafeEval(a: Any, b: Any, c: Any): Any = a match {
    case s: UTF8String =>
      Analyze.highlightFx(s, b.asInstanceOf[UTF8String],
        c.asInstanceOf[UTF8String])
    case arr: ArrayData =>
      Analyze.highlightFxArr(arr, b.asInstanceOf[ArrayData],
        c.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    first.dataType match {
      case _: ArrayType => defineCodeGen(ctx, ev,
        (a, b, c) => s"graft.functions.Analyze.highlightFxArr($a, $b, $c)")
      case _ => defineCodeGen(ctx, ev,
        (a, b, c) => s"graft.functions.Analyze.highlightFx($a, $b, $c)")
    }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
