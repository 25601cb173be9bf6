package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `string::html::{encode, sanitize}` — the reference delegates to the
  * ammonia crate 4.1 (fnc/string.rs:378-390): `clean_text` for encode and
  * the full `clean` HTML sanitizer for sanitize. The old sanitize here was
  * a strip-all-tags regex, which diverges on the reference's OWN unit
  * vector: `<div>Hello world!</div>` must come back UNCHANGED (div is an
  * allowed tag) while `XSS<script>attack</script>` → `XSS` (script is a
  * clean-content tag: element AND text dropped).
  *
  * This is a faithful-subset reimplementation of ammonia's default
  * configuration over an html5ever-shaped pipeline:
  *
  *   tokenize (tags, attributes, comments, doctype, bogus comments,
  *   raw-text elements, character references) → tree with auto-closing
  *   (EOF closes all; implied end tags for p/li/dd/dt/tr/td/th/option) →
  *   allowlist filter (ammonia default tag set; script/style drop content;
  *   other disallowed tags UNWRAP, keeping children; comments stripped;
  *   generic attributes lang/title plus ammonia's per-tag attribute table;
  *   URL attributes href/src/cite checked against the default scheme set,
  *   relative URLs pass; `<a>` gains rel="noopener noreferrer") →
  *   html5ever-style serialize (text escapes & < > and NBSP, attribute
  *   values escape & " NBSP, void elements unclosed, insertion order).
  *
  * Stated approximations vs real html5ever: no adoption-agency algorithm
  * (misnested `<b><i></b></i>` formatting is popped, not re-opened), no
  * table foster-parenting, and the named-entity table is the common
  * subset (unknown entities stay literal and re-escape, exactly as
  * html5ever leaves undecodable references). */
object Ammonia {

  // ---- ammonia 4.x default configuration -------------------------------

  private val AllowedTags: Set[String] = Set(
    "a", "abbr", "acronym", "area", "article", "aside", "b", "bdi", "bdo",
    "blockquote", "br", "caption", "center", "cite", "code", "col",
    "colgroup", "data", "dd", "del", "details", "dfn", "div", "dl", "dt",
    "em", "figcaption", "figure", "footer", "h1", "h2", "h3", "h4", "h5",
    "h6", "header", "hgroup", "hr", "i", "img", "ins", "kbd", "li", "map",
    "mark", "nav", "ol", "p", "pre", "q", "rp", "rt", "rtc", "ruby", "s",
    "samp", "small", "span", "strike", "strong", "sub", "summary", "sup",
    "table", "tbody", "td", "th", "thead", "time", "tr", "tt", "u", "ul",
    "var", "wbr")

  /** Element AND its text dropped (ammonia clean_content_tags). */
  private val CleanContentTags: Set[String] = Set("script", "style")

  private val GenericAttributes: Set[String] = Set("lang", "title")

  private val TagAttributes: Map[String, Set[String]] = Map(
    "a" -> Set("href", "hreflang"),
    "bdo" -> Set("dir"),
    "blockquote" -> Set("cite"),
    "col" -> Set("align", "char", "charoff", "span"),
    "colgroup" -> Set("align", "char", "charoff", "span"),
    "del" -> Set("cite", "datetime"),
    "hr" -> Set("align", "size", "width"),
    "img" -> Set("align", "alt", "height", "src", "width"),
    "ins" -> Set("cite", "datetime"),
    "ol" -> Set("start"),
    "q" -> Set("cite"),
    "table" -> Set("align", "char", "charoff", "summary"),
    "tbody" -> Set("align", "char", "charoff"),
    "td" -> Set("align", "char", "charoff", "colspan", "headers", "rowspan"),
    "tfoot" -> Set("align", "char", "charoff"),
    "th" -> Set("align", "char", "charoff", "colspan", "headers", "rowspan", "scope"),
    "thead" -> Set("align", "char", "charoff"),
    "tr" -> Set("align", "char", "charoff"))

  /** (tag, attribute) pairs whose values are URLs (ammonia url filtering). */
  private val UrlAttributes: Set[(String, String)] = Set(
    ("a", "href"), ("blockquote", "cite"), ("del", "cite"),
    ("img", "src"), ("ins", "cite"), ("q", "cite"))

  private val UrlSchemes: Set[String] = Set(
    "bitcoin", "ftp", "ftps", "geo", "http", "https", "im", "irc", "ircs",
    "magnet", "mailto", "mms", "mxc", "news", "nntp", "openpgp4fpr", "sip",
    "sms", "smsto", "ssh", "tel", "url", "webcal", "wtai", "xmpp")

  private val LinkRel = "noopener noreferrer"

  private val VoidElements: Set[String] = Set(
    "area", "base", "basefont", "bgsound", "br", "col", "embed", "frame",
    "hr", "img", "input", "keygen", "link", "meta", "param", "source",
    "track", "wbr")

  /** Content parses as raw text (no nested tags). RCDATA members
    * (textarea, title) still decode character references. */
  private val RawTextElements: Set[String] = Set(
    "script", "style", "xmp", "iframe", "noembed", "noframes", "textarea",
    "title")
  private val RcdataElements: Set[String] = Set("textarea", "title")

  // implied end tags: opening `tag` auto-closes an open `inner`
  private val PClosers: Set[String] = Set(
    "address", "article", "aside", "blockquote", "center", "details",
    "dialog", "dir", "div", "dl", "fieldset", "figcaption", "figure",
    "footer", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hgroup", "hr",
    "main", "menu", "nav", "ol", "p", "pre", "section", "summary", "table",
    "ul")

  // ---- clean_text (string::html::encode) --------------------------------

  /** ammonia::clean_text — untrusted text made safe for ANY html context:
    * `&<>"'` and backtick/slash/equals/whitespace all entity-escape. */
  def cleanText(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '&'    => sb.append("&amp;")
      case '\''   => sb.append("&#39;")
      case '"'    => sb.append("&quot;")
      case '<'    => sb.append("&lt;")
      case '>'    => sb.append("&gt;")
      case ' '    => sb.append("&#32;")
      case '\t'   => sb.append("&#9;")
      case '\n'   => sb.append("&#10;")
      case '\f'   => sb.append("&#12;")
      case '\r'   => sb.append("&#13;")
      case '/'    => sb.append("&#47;")
      case '='    => sb.append("&#61;")
      case '`'    => sb.append("&#96;")
      case c      => sb.append(c)
    }
    sb.toString
  }

  // ---- parse ------------------------------------------------------------

  private sealed trait Node
  private final case class Text(var value: String) extends Node
  private final case class Elem(name: String,
      attrs: mutable.LinkedHashMap[String, String],
      children: mutable.Buffer[Node]) extends Node

  private val NamedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "hellip" -> "…", "mdash" -> "—",
    "ndash" -> "–", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "laquo" -> "«",
    "raquo" -> "»", "times" -> "×", "divide" -> "÷",
    "plusmn" -> "±", "deg" -> "°", "micro" -> "µ",
    "para" -> "¶", "sect" -> "§", "middot" -> "·",
    "bull" -> "•", "euro" -> "€", "pound" -> "£",
    "yen" -> "¥", "cent" -> "¢", "szlig" -> "ß",
    "shy" -> "­", "dagger" -> "†", "Dagger" -> "‡",
    "prime" -> "′", "Prime" -> "″", "permil" -> "‰")

  /** Decode character references (numeric + common named). An unknown or
    * malformed reference stays literal — it re-escapes on serialize. */
  private def decodeEntities(s: String): String = {
    val amp = s.indexOf('&')
    if (amp < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        val handled =
          if (semi > i + 1 && semi - i <= 32) {
            val body = s.substring(i + 1, semi)
            if (body.startsWith("#x") || body.startsWith("#X")) {
              val hex = body.substring(2)
              if (hex.nonEmpty && hex.forall(ch => Character.digit(ch, 16) >= 0)) {
                try { sb.appendAll(Character.toChars(Integer.parseInt(hex, 16))); true }
                catch { case _: Exception => false }
              } else false
            } else if (body.startsWith("#")) {
              val dec = body.substring(1)
              if (dec.nonEmpty && dec.forall(_.isDigit) && dec.length <= 8) {
                try { sb.appendAll(Character.toChars(dec.toInt)); true }
                catch { case _: Exception => false }
              } else false
            } else NamedEntities.get(body) match {
              case Some(rep) => sb.append(rep); true
              case None      => false
            }
          } else false
        if (handled) i = semi + 1
        else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def isTagNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Tokenizer + tree builder (html5ever-shaped subset). Returns the
    * virtual root's children. */
  private def parse(input: String): mutable.Buffer[Node] = {
    val root = Elem("#root", mutable.LinkedHashMap.empty, mutable.Buffer[Node]())
    val stack = mutable.Stack[Elem](root)
    def top: Elem = stack.top
    def appendText(t: String): Unit =
      if (t.nonEmpty) top.children.lastOption match {
        case Some(tx: Text) => tx.value += t
        case _              => top.children += Text(t)
      }
    val n = input.length
    var i = 0
    while (i < n) {
      val lt = input.indexOf('<', i)
      if (lt < 0) { appendText(decodeEntities(input.substring(i))); i = n }
      else {
        if (lt > i) appendText(decodeEntities(input.substring(i, lt)))
        if (lt + 1 >= n) { appendText("<"); i = n }
        else {
          val c1 = input.charAt(lt + 1)
          if (isTagNameStart(c1)) {
            // start tag
            val (elem, selfClosing, next) = parseTag(input, lt + 1)
            i = next
            openElement(stack, elem)
            val nm = elem.name
            val _ = selfClosing
            if (RawTextElements(nm) && !VoidElements(nm)) {
              // raw text until the matching close tag (case-insensitive)
              val closeRe = ("(?i)</" + java.util.regex.Pattern.quote(nm) +
                "[\\s/>]").r
              val restIdx = closeRe.findFirstMatchIn(input.substring(i))
                .map(m => i + m.start).getOrElse(n)
              val raw0 = input.substring(i, restIdx)
              val raw = if (RcdataElements(nm)) decodeEntities(raw0) else raw0
              if (raw.nonEmpty) elem.children += Text(raw)
              // consume through the close tag's '>'
              if (restIdx < n) {
                val gt = input.indexOf('>', restIdx)
                i = if (gt < 0) n else gt + 1
              } else i = n
              stack.pop()
            }
          } else if (c1 == '/') {
            if (lt + 2 < n && isTagNameStart(input.charAt(lt + 2))) {
              // end tag
              var j = lt + 2
              while (j < n && !input.charAt(j).isWhitespace && input.charAt(j) != '>') j += 1
              val name = input.substring(lt + 2, j).toLowerCase
              val gt = input.indexOf('>', j)
              i = if (gt < 0) n else gt + 1
              closeElement(stack, name)
            } else {
              // "</" + non-letter: bogus comment through '>'
              val gt = input.indexOf('>', lt + 2)
              i = if (gt < 0) n else gt + 1
            }
          } else if (c1 == '!' || c1 == '?') {
            // comment / doctype / bogus comment — all dropped
            if (input.startsWith("<!--", lt)) {
              val end = input.indexOf("-->", lt + 4)
              i = if (end < 0) n else end + 3
            } else {
              val gt = input.indexOf('>', lt + 2)
              i = if (gt < 0) n else gt + 1
            }
          } else {
            appendText("<"); i = lt + 1
          }
        }
      }
    }
    root.children
  }

  private def parseTag(input: String, start: Int): (Elem, Boolean, Int) = {
    val n = input.length
    var i = start
    while (i < n && !input.charAt(i).isWhitespace && input.charAt(i) != '>' &&
           input.charAt(i) != '/') i += 1
    val name = input.substring(start, i).toLowerCase
    val attrs = mutable.LinkedHashMap[String, String]()
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      while (i < n && input.charAt(i).isWhitespace) i += 1
      if (i >= n) done = true
      else input.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          i += 1
          if (i < n && input.charAt(i) == '>') { selfClosing = true; i += 1; done = true }
        case _ =>
          val an = i
          while (i < n && !input.charAt(i).isWhitespace && input.charAt(i) != '=' &&
                 input.charAt(i) != '>' && input.charAt(i) != '/') i += 1
          val aname = input.substring(an, i).toLowerCase
          var avalue = ""
          while (i < n && input.charAt(i).isWhitespace) i += 1
          if (i < n && input.charAt(i) == '=') {
            i += 1
            while (i < n && input.charAt(i).isWhitespace) i += 1
            if (i < n && (input.charAt(i) == '"' || input.charAt(i) == '\'')) {
              val qc = input.charAt(i)
              val end = input.indexOf(qc, i + 1)
              if (end < 0) { avalue = input.substring(i + 1); i = n }
              else { avalue = input.substring(i + 1, end); i = end + 1 }
            } else {
              val vs = i
              while (i < n && !input.charAt(i).isWhitespace && input.charAt(i) != '>') i += 1
              avalue = input.substring(vs, i)
            }
          }
          if (aname.nonEmpty && !attrs.contains(aname))
            attrs(aname) = decodeEntities(avalue)
      }
    }
    (Elem(name, attrs, mutable.Buffer[Node]()), selfClosing, i)
  }

  private def openElement(stack: mutable.Stack[Elem], elem: Elem): Unit = {
    val nm = elem.name
    // implied end tags
    def cur = stack.top.name
    if (nm == "li" && cur == "li") stack.pop()
    else if ((nm == "dd" || nm == "dt") && (cur == "dd" || cur == "dt")) stack.pop()
    else if ((nm == "td" || nm == "th") && (cur == "td" || cur == "th")) stack.pop()
    else if (nm == "tr" && (cur == "td" || cur == "th")) { stack.pop(); if (stack.top.name == "tr") stack.pop() }
    else if (nm == "tr" && cur == "tr") stack.pop()
    else if (nm == "option" && cur == "option") stack.pop()
    else if (PClosers(nm) && cur == "p") stack.pop()
    stack.top.children += elem
    if (!VoidElements(nm)) stack.push(elem)
  }

  private def closeElement(stack: mutable.Stack[Elem], name: String): Unit = {
    if (stack.exists(e => e.name == name)) {
      while (stack.top.name != name) stack.pop()
      stack.pop()
    } // unmatched end tag: ignored
  }

  // ---- sanitize ---------------------------------------------------------

  def clean(input: String): String = {
    val nodes = parse(input)
    val sb = new StringBuilder(input.length)
    nodes.foreach(emit(_, sb))
    sb.toString
  }

  private def hasScheme(v: String): Boolean =
    v.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")

  private def urlAllowed(v: String): Boolean = {
    if (!hasScheme(v)) true // relative URLs pass (UrlRelative::PassThrough)
    else UrlParse.parse(v) match {
      case Some(p) => UrlSchemes.contains(p.scheme)
      case None    => false // Url::parse error → attribute removed
    }
  }

  private def emit(node: Node, sb: StringBuilder): Unit = node match {
    case Text(t) => escapeText(t, sb)
    case e: Elem =>
      val nm = e.name
      if (CleanContentTags(nm)) () // element AND content dropped
      else if (!AllowedTags(nm)) e.children.foreach(emit(_, sb)) // unwrap
      else {
        val perTag = TagAttributes.getOrElse(nm, Set.empty)
        sb.append('<').append(nm)
        e.attrs.foreach { case (an, av) =>
          val allowed = GenericAttributes(an) || perTag(an)
          val urlOk = !UrlAttributes((nm, an)) || urlAllowed(av)
          if (allowed && urlOk && !(nm == "a" && an == "rel")) {
            sb.append(' ').append(an).append("=\"")
            escapeAttr(av, sb)
            sb.append('"')
          }
        }
        if (nm == "a") sb.append(" rel=\"").append(LinkRel).append('"')
        sb.append('>')
        if (!VoidElements(nm)) {
          e.children.foreach(emit(_, sb))
          sb.append("</").append(nm).append('>')
        }
      }
  }

  private def escapeText(t: String, sb: StringBuilder): Unit = t.foreach {
    case '&'      => sb.append("&amp;")
    case '\u00A0' => sb.append("&nbsp;")
    case '<'      => sb.append("&lt;")
    case '>'      => sb.append("&gt;")
    case c        => sb.append(c)
  }

  private def escapeAttr(t: String, sb: StringBuilder): Unit = t.foreach {
    case '&'      => sb.append("&amp;")
    case '\u00A0' => sb.append("&nbsp;")
    case '"'      => sb.append("&quot;")
    case c        => sb.append(c)
  }

  // ---- Spark kernels ----------------------------------------------------

  def encodeU(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(cleanText(s.toString))
  def sanitizeU(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(clean(s.toString))
}

/** Codegen'd unary kernels for the two html functions. */
final case class HtmlF(child: Expression, sanitize: Boolean)
    extends UnaryExpression {
  override def prettyName: String =
    if (sanitize) "graft_html_sanitize" else "graft_html_encode"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string")
  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    if (sanitize) Ammonia.sanitizeU(u) else Ammonia.encodeU(u)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (sanitize) "sanitizeU" else "encodeU"
    defineCodeGen(ctx, ev, c => s"graft.functions.Ammonia.$fn($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
