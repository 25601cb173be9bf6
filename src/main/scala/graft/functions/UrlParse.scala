package graft.functions

import java.util.Locale

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WHATWG URL parsing for `parse::url::*` — the reference routes every
  * accessor through `url::Url::parse` (fnc/parse.rs; url crate 2.5, an
  * implementation of the WHATWG URL Standard), which differs observably
  * from both `java.net.URI` and Spark's `parse_url`:
  *
  *   - schemes and domains LOWERCASE; domains percent-decode then
  *     IDNA-map to punycode (`bücher.de` → `xn--bcher-kva.de`);
  *   - IPv4 hosts normalize (`0x7f.1` → `127.0.0.1`) and a host whose
  *     last label is numeric MUST parse as IPv4 or the whole URL fails;
  *   - IPv6 hosts canonicalize (`[1:0:0:0:0:0:0:1]` → `[1::1]`);
  *   - `domain()` is None for IP hosts — `host_str()` still answers;
  *   - an out-of-range port (>65535) fails the WHOLE parse (every
  *     accessor → NONE), a default port is dropped at parse time, and
  *     `port_or_known_default` restores it (http 80, https 443, ws 80,
  *     wss 443, ftp 21) — so `parse::url::port('http://a.com')` is 80;
  *   - paths normalize dot segments (`/b/../c/./d` → `/c/d`), special
  *     schemes treat `\` as `/`, each component percent-encodes its own
  *     set (path `{}`, fragment backtick, query `'` only for special
  *     schemes), existing escapes pass through verbatim;
  *   - non-special schemes keep OPAQUE hosts (case preserved, no
  *     percent-decoding, forbidden-host-chars only) and opaque paths
  *     (`mailto:x@y.com` → path `x@y.com`);
  *   - `file:` URLs: `localhost` host folds to empty, Windows drive
  *     letters stay in the path, and query/fragment answer Some("") for
  *     a bare `?`/`#` (rendered as an empty string, not NONE).
  *
  * Deviations, stated: IDNA mapping approximates UTS-46 with
  * NFKC+lowercase plus the ignorable-char strips (soft hyphen,
  * variation selectors) — exact for ASCII, common scripts, case-mapped
  * and compat-mapped labels; BIDI/contextual-joiner validation is not
  * enforced. An EMPTY host (`file:///x`, `foo://`) answers NONE from
  * the host/domain accessors.
  *
  * One kernel serves both engines: the interpreter calls the statics,
  * the Spark lowering codegens `graft_url_part`/`graft_url_port` around
  * the same statics — whole-stage-codegen friendly, no UDF. */
object UrlParse {

  final case class Parts(
      scheme: String,
      host: Option[String], // serialized (IPv6 bracketed); None = no authority
      hostIsIp: Boolean,
      port: Option[Int],    // explicit, non-default
      path: String,
      query: Option[String],
      fragment: Option[String])

  private val SpecialPorts: Map[String, Option[Int]] = Map(
    "http" -> Some(80), "https" -> Some(443), "ws" -> Some(80),
    "wss" -> Some(443), "ftp" -> Some(21), "file" -> None)

  def defaultPort(scheme: String): Option[Int] =
    SpecialPorts.getOrElse(scheme, None)

  // ---- the basic URL parser (no base URL) -----------------------------

  def parse(input0: String): Option[Parts] = {
    // trim C0 controls/space, strip ASCII tab/newline anywhere
    var s = input0
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) <= ' ') a += 1
    while (b > a && s.charAt(b - 1) <= ' ') b -= 1
    s = s.substring(a, b)
    if (s.exists(c => c == '\t' || c == '\n' || c == '\r'))
      s = s.filterNot(c => c == '\t' || c == '\n' || c == '\r')

    // scheme
    if (s.isEmpty || !isAlpha(s.charAt(0))) return None
    var i = 1
    while (i < s.length && isSchemeChar(s.charAt(i))) i += 1
    if (i >= s.length || s.charAt(i) != ':') return None
    val scheme = s.substring(0, i).toLowerCase(Locale.ROOT)
    val special = SpecialPorts.contains(scheme)
    var rest = s.substring(i + 1)

    if (scheme == "file") return parseFile(scheme, rest)

    if (special) {
      // special authority ignore slashes: consume ALL leading / and \
      var j = 0
      while (j < rest.length && (rest.charAt(j) == '/' || rest.charAt(j) == '\\')) j += 1
      rest = rest.substring(j)
      parseAuthority(scheme, special = true, rest, emptyHostOk = false)
    } else if (rest.startsWith("//")) {
      parseAuthority(scheme, special = false, rest.substring(2), emptyHostOk = true)
    } else if (rest.startsWith("/")) {
      val (pp, q, f) = splitPathQueryFragment(rest, special = false)
      Some(Parts(scheme, scala.None, hostIsIp = false, scala.None,
        encodePath(pp, special = false), q.map(encodeQuery(_, special = false)),
        f.map(encodeFragment)))
    } else {
      // cannot-be-a-base: opaque path
      val qi = indexOfAny(rest, "?#")
      val (opaque, tail) =
        if (qi < 0) (rest, "") else (rest.substring(0, qi), rest.substring(qi))
      val (q, f) = splitQueryFragment(tail)
      Some(Parts(scheme, scala.None, hostIsIp = false, scala.None,
        percentEncode(opaque, opaqueSet), q.map(encodeQuery(_, special = false)),
        f.map(encodeFragment)))
    }
  }

  private def parseFile(scheme: String, rest0: String): Option[Parts] = {
    var rest = rest0
    if (rest.startsWith("//") || rest.startsWith("\\\\") ||
        rest.startsWith("/\\") || rest.startsWith("\\/")) {
      rest = rest.substring(2)
      // file host: up to / \ ? #
      var j = 0
      while (j < rest.length && "/\\?#".indexOf(rest.charAt(j)) < 0) j += 1
      val hostStr = rest.substring(0, j)
      val after = rest.substring(j)
      if (isWindowsDrive(hostStr)) {
        // drive letter is a path segment, host stays empty
        val (pp, q, f) = splitPathQueryFragment(hostStr + after, special = true)
        return Some(Parts(scheme, Some(""), hostIsIp = false, scala.None,
          encodePath(pp, special = true), q.map(encodeQuery(_, special = true)),
          f.map(encodeFragment)))
      }
      val host =
        if (hostStr.isEmpty || hostStr.equalsIgnoreCase("localhost"))
          Some(("", false))
        else parseHost(hostStr, special = true)
      host match {
        case Some((h, ip)) =>
          val (pp, q, f) = splitPathQueryFragment(after, special = true)
          Some(Parts(scheme, Some(h), ip, scala.None,
            encodePath(pp, special = true), q.map(encodeQuery(_, special = true)),
            f.map(encodeFragment)))
        case scala.None => scala.None
      }
    } else {
      // 0 or 1 leading slash: path only, empty host
      val (pp, q, f) = splitPathQueryFragment(rest, special = true)
      Some(Parts(scheme, Some(""), hostIsIp = false, scala.None,
        encodePath(pp, special = true), q.map(encodeQuery(_, special = true)),
        f.map(encodeFragment)))
    }
  }

  private def parseAuthority(scheme: String, special: Boolean, rest: String,
      emptyHostOk: Boolean): Option[Parts] = {
    // authority ends at / ? # (and \ for special)
    var j = 0
    while (j < rest.length && "/?#".indexOf(rest.charAt(j)) < 0 &&
           !(special && rest.charAt(j) == '\\')) j += 1
    val auth = rest.substring(0, j)
    val after = rest.substring(j)
    // userinfo: split at LAST @; credentials with NO host fail
    val at = auth.lastIndexOf('@')
    val hostPort = if (at < 0) auth else auth.substring(at + 1)
    if (at >= 0 && hostPort.isEmpty) return None
    // split host vs port, [] -aware
    var hostStr = hostPort
    var portStr: Option[String] = scala.None
    if (hostPort.startsWith("[")) {
      val close = hostPort.indexOf(']')
      if (close < 0) return None
      hostStr = hostPort.substring(0, close + 1)
      val tail = hostPort.substring(close + 1)
      if (tail.nonEmpty) {
        if (!tail.startsWith(":")) return None
        portStr = Some(tail.substring(1))
      }
    } else {
      val ci = hostPort.indexOf(':')
      if (ci >= 0) { hostStr = hostPort.substring(0, ci); portStr = Some(hostPort.substring(ci + 1)) }
    }
    // a ':' (even with no digits) after an EMPTY host fails ("foo://:80")
    if (hostStr.isEmpty && portStr.isDefined) return None
    if (hostStr.isEmpty && !emptyHostOk) return None
    val hostParsed: Option[(String, Boolean)] =
      if (hostStr.isEmpty) Some(("", false))
      else parseHost(hostStr, special)
    hostParsed match {
      case scala.None => scala.None
      case Some((host, isIp)) =>
        val port: Option[Int] = portStr match {
          case scala.None => scala.None
          case Some("")   => scala.None // trailing ':' with no digits
          case Some(p) =>
            if (!p.forall(_.isDigit) || p.length > 10) return None
            val v = p.toLong
            if (v > 65535) return None
            if (defaultPort(scheme).contains(v.toInt)) scala.None else Some(v.toInt)
        }
        val (pp, q, f) = splitPathQueryFragment(after, special)
        Some(Parts(scheme, Some(host), isIp, port, encodePath(pp, special),
          q.map(encodeQuery(_, special)), f.map(encodeFragment)))
    }
  }

  // ---- hosts ----------------------------------------------------------

  /** Returns (serialized host, isIpAddress), or None on failure. */
  private def parseHost(h: String, special: Boolean): Option[(String, Boolean)] = {
    if (h.startsWith("[")) {
      if (!h.endsWith("]")) return None
      return parseIpv6(h.substring(1, h.length - 1)).map(x => (s"[$x]", true))
    }
    if (!special) {
      // opaque host: forbidden host code points fail; no decoding
      if (h.exists(c => forbiddenHost(c))) return None
      return Some((percentEncode(h, opaqueSet), false))
    }
    // domain: percent-decode → IDNA map → forbidden check → IPv4?
    val decoded = percentDecode(h).getOrElse(return None)
    val mapped = idnaToAscii(decoded).getOrElse(return None)
    if (mapped.isEmpty || mapped.exists(c => forbiddenDomain(c))) return None
    if (endsInNumber(mapped)) parseIpv4(mapped).map(ip => (ip, true))
    else Some((mapped, false))
  }

  /** UTS-46-approximate domain-to-ASCII: strip ignorables, full-casefold
    * oddities (\u1E9E \u2192 "ss" while the deviation char \u00DF is KEPT non-transitional,
    * final sigma \u03C2 \u2192 \u03C3), NFKC + Unicode lowercase, ideographic label
    * separators fold to '.', non-ASCII labels punycode-encode, and already-
    * punycoded labels must decode to a VALID Unicode label (nonempty, has a
    * non-ASCII char, no C1 controls, NFC, canonical re-encode) \u2014 `xn--a`
    * decodes to U+0080 and `xn--` to nothing, both parse failures. */
  private def idnaToAscii(d0: String): Option[String] = {
    // UTS-46 "ignored" code points that survive NFKC: soft hyphen,
    // variation selectors, Mongolian free variation selectors
    def ignored(c: Char): Boolean =
      c == '\u00AD' || (c >= '\uFE00' && c <= '\uFE0F') ||
        (c >= '\u180B' && c <= '\u180D')
    def validXn(lab: String): Boolean = {
      val suffix = lab.substring(4)
      Punycode.decode(suffix) match {
        case Some(dec) =>
          dec.nonEmpty && dec.exists(_ >= 0x80) &&
            !dec.exists(c => c >= 0x80 && c <= 0x9F) &&
            java.text.Normalizer.isNormalized(dec, java.text.Normalizer.Form.NFC) &&
            Punycode.encode(dec).contains(suffix)
        case scala.None => false
      }
    }
    var d = d0
    if (d.exists(ignored)) d = d.filterNot(ignored)
    if (d.forall(_ < 128)) {
      val lower = d.toLowerCase(Locale.ROOT)
      val ok = lower.split("\\.", -1).forall(lab => !lab.startsWith("xn--") || validXn(lab))
      return if (ok) Some(lower) else scala.None
    }
    // full-casefold cases Java's lowercase misses or must not apply
    if (d.indexOf('\u1E9E') >= 0) d = d.replace("\u1E9E", "ss")
    val mapped = java.text.Normalizer.normalize(
      d.toLowerCase(Locale.ROOT), java.text.Normalizer.Form.NFKC)
      .replace('\u03C2', '\u03C3')
      .replace('\u3002', '.') // FF0E/FF61 already fold to '.'/U+3002 in NFKC
    val labels = mapped.split("\\.", -1)
    val out = new StringBuilder
    var k = 0
    while (k < labels.length) {
      if (k > 0) out.append('.')
      val lab = labels(k)
      if (lab.forall(_ < 128)) {
        if (lab.startsWith("xn--") && !validXn(lab)) return scala.None
        out.append(lab)
      } else Punycode.encode(lab) match {
        case Some(enc) => out.append("xn--").append(enc)
        case scala.None => return scala.None
      }
      k += 1
    }
    Some(out.toString)
  }

  /** "Ends in a number": last non-empty dot-label is all-digits or 0x-hex. */
  private def endsInNumber(d: String): Boolean = {
    val parts0 = d.split("\\.", -1)
    val parts = if (parts0.length > 1 && parts0.last.isEmpty) parts0.dropRight(1) else parts0
    if (parts.isEmpty) return false
    val last = parts.last
    if (last.isEmpty) false
    else if (last.forall(_.isDigit)) true
    else (last.startsWith("0x") || last.startsWith("0X")) &&
      last.substring(2).forall(isHex)
  }

  private def parseIpv4(d: String): Option[String] = {
    val parts0 = d.split("\\.", -1)
    val parts = if (parts0.length > 1 && parts0.last.isEmpty) parts0.dropRight(1) else parts0
    if (parts.isEmpty || parts.length > 4) return None
    val nums = new Array[Long](parts.length)
    var k = 0
    while (k < parts.length) {
      val p = parts(k)
      if (p.isEmpty) return None
      val v: Long =
        if (p == "0x" || p == "0X") 0L
        else if (p.startsWith("0x") || p.startsWith("0X")) {
          val hx = p.substring(2)
          if (!hx.forall(isHex) || hx.length > 8) return None
          java.lang.Long.parseLong(hx, 16)
        } else if (p.length >= 2 && p.charAt(0) == '0') {
          if (!p.forall(c => c >= '0' && c <= '7') || p.length > 12) return None
          java.lang.Long.parseLong(p, 8)
        } else {
          if (!p.forall(_.isDigit) || p.length > 10) return None
          p.toLong
        }
      nums(k) = v
      k += 1
    }
    var acc = nums.last
    if (acc >= math.pow(256, 5 - parts.length).toLong) return None
    k = 0
    while (k < parts.length - 1) {
      if (nums(k) > 255) return None
      acc += nums(k) << (8 * (3 - k))
      k += 1
    }
    if (acc > 0xFFFFFFFFL) return None
    Some(s"${(acc >> 24) & 0xff}.${(acc >> 16) & 0xff}.${(acc >> 8) & 0xff}.${acc & 0xff}")
  }

  private def parseIpv6(in: String): Option[String] =
    parseIpv6Pieces(in).map(serializeIpv6)

  /** Rust `std::net::Ipv6Addr` Display form — same zero-run compression,
    * plus the IPv4-mapped dotted tail (`::ffff:1.2.3.4`). The `addr`
    * crate's email `Host::IpAddr` renders through this, NOT the WHATWG
    * host serializer. */
  def rustIpv6(in: String): Option[String] = parseIpv6Pieces(in).map { a =>
    if (a(0) == 0 && a(1) == 0 && a(2) == 0 && a(3) == 0 && a(4) == 0 &&
        a(5) == 0xffff)
      s"::ffff:${a(6) >> 8}.${a(6) & 0xff}.${a(7) >> 8}.${a(7) & 0xff}"
    else serializeIpv6(a)
  }

  private def parseIpv6Pieces(in: String): Option[Array[Int]] = {
    val address = new Array[Int](8)
    var pieceIndex = 0
    var compress = -1
    var ptr = 0
    val n = in.length
    def c(i: Int): Char = if (i < n) in.charAt(i) else ' '
    if (n == 0) return None
    if (c(0) == ':') {
      if (c(1) != ':') return None
      ptr = 2; pieceIndex = 1; compress = 1
    }
    while (ptr < n) {
      if (pieceIndex == 8) return None
      if (c(ptr) == ':') {
        if (compress >= 0) return None
        ptr += 1; pieceIndex += 1; compress = pieceIndex
      } else {
        var value = 0; var length = 0
        while (length < 4 && isHex(c(ptr))) {
          value = value * 16 + Character.digit(c(ptr), 16); ptr += 1; length += 1
        }
        if (c(ptr) == '.') {
          if (length == 0) return None
          ptr -= length
          if (pieceIndex > 6) return None
          var numbersSeen = 0
          while (ptr < n) {
            var ipv4Piece = -1
            if (numbersSeen > 0) {
              if (c(ptr) == '.' && numbersSeen < 4) ptr += 1 else return None
            }
            if (!c(ptr).isDigit) return None
            while (ptr < n && c(ptr).isDigit) {
              val d = c(ptr) - '0'
              ipv4Piece =
                if (ipv4Piece < 0) d
                else if (ipv4Piece == 0) return None // leading zero
                else ipv4Piece * 10 + d
              if (ipv4Piece > 255) return None
              ptr += 1
            }
            address(pieceIndex) = address(pieceIndex) * 0x100 + ipv4Piece
            numbersSeen += 1
            if (numbersSeen == 2 || numbersSeen == 4) pieceIndex += 1
          }
          if (numbersSeen != 4) return None
          // done
          ptr = n
        } else if (c(ptr) == ':') {
          ptr += 1
          if (ptr == n) return None
          address(pieceIndex) = value; pieceIndex += 1
        } else if (ptr < n) {
          return None
        } else {
          address(pieceIndex) = value; pieceIndex += 1
        }
      }
    }
    if (compress >= 0) {
      var swaps = pieceIndex - compress
      pieceIndex = 7
      while (pieceIndex != 0 && swaps > 0) {
        val t = address(compress + swaps - 1)
        address(compress + swaps - 1) = address(pieceIndex)
        address(pieceIndex) = t
        pieceIndex -= 1; swaps -= 1
      }
    } else if (pieceIndex != 8) return None
    Some(address)
  }

  /** WHATWG host serializer: longest zero run (len >= 2), first wins. */
  private def serializeIpv6(address: Array[Int]): String = {
    var bestStart = -1; var bestLen = 0; var runStart = -1; var runLen = 0
    var k = 0
    while (k < 8) {
      if (address(k) == 0) {
        if (runStart < 0) { runStart = k; runLen = 0 }
        runLen += 1
        if (runLen > bestLen) { bestLen = runLen; bestStart = runStart }
      } else { runStart = -1; runLen = 0 }
      k += 1
    }
    if (bestLen < 2) { bestStart = -1 }
    val sb = new StringBuilder
    k = 0
    while (k < 8) {
      if (bestStart == k) {
        sb.append(if (k == 0) "::" else ":")
        k += bestLen
      } else {
        sb.append(java.lang.Integer.toHexString(address(k)))
        if (k != 7) sb.append(':')
        k += 1
      }
    }
    sb.toString
  }

  // ---- components -----------------------------------------------------

  private def splitQueryFragment(tail: String): (Option[String], Option[String]) = {
    if (tail.isEmpty) (scala.None, scala.None)
    else if (tail.startsWith("#")) (scala.None, Some(tail.substring(1)))
    else { // starts with ?
      val hi = tail.indexOf('#')
      if (hi < 0) (Some(tail.substring(1)), scala.None)
      else (Some(tail.substring(1, hi)), Some(tail.substring(hi + 1)))
    }
  }

  /** (rawPath, query, fragment) — rawPath still needs encodePath. */
  private def splitPathQueryFragment(rest: String, special: Boolean)
      : (String, Option[String], Option[String]) = {
    val qi = indexOfAny(rest, "?#")
    val (p, tail) = if (qi < 0) (rest, "") else (rest.substring(0, qi), rest.substring(qi))
    val (q, f) = splitQueryFragment(tail)
    (p, q, f)
  }

  /** Dot-segment-normalized, percent-encoded path; '\' doubles as '/' in
    * special schemes. A special scheme's empty path serializes as "/"; a
    * non-special path that normalizes away entirely serializes as "" —
    * and a `..` with nothing left to pop DROPS the trailing slash
    * (`foo://h/a/..` → `/` but `foo://h/..` → ``), per the WHATWG
    * shorten-path behavior the node oracle pins. */
  private def encodePath(raw: String, special: Boolean): String = {
    if (raw.isEmpty) return if (special) "/" else ""
    val splitter = if (special) raw.map(ch => if (ch == '\\') '/' else ch) else raw
    val segsIn = splitter.split("/", -1).toList
    // drop the leading empty segment of an absolute path
    val body = if (segsIn.headOption.contains("")) segsIn.tail else segsIn
    val out = scala.collection.mutable.Buffer[String]()
    var trailingSlash = false
    body.foreach { seg =>
      if (isDoubleDot(seg)) {
        if (out.nonEmpty) { out.remove(out.length - 1); trailingSlash = true }
        else trailingSlash = false
      } else if (isSingleDot(seg)) {
        trailingSlash = true
      } else {
        out += percentEncode(seg, pathSet)
        trailingSlash = false
      }
    }
    if (out.isEmpty) {
      if (trailingSlash || special) "/" else ""
    } else "/" + out.mkString("/") + (if (trailingSlash) "/" else "")
  }

  private def isSingleDot(s: String): Boolean =
    s == "." || s.equalsIgnoreCase("%2e")
  private def isDoubleDot(s: String): Boolean = {
    val l = s.toLowerCase(Locale.ROOT)
    l == ".." || l == ".%2e" || l == "%2e." || l == "%2e%2e"
  }

  private def encodeQuery(q: String, special: Boolean): String =
    percentEncode(q, if (special) querySpecialSet else querySet)
  private def encodeFragment(f: String): String =
    percentEncode(f, fragmentSet)

  // percent-encode sets (WHATWG): each returns true when the char must
  // be escaped; existing % escapes pass through verbatim
  private def base(c: Char): Boolean = c < 0x20 || c > 0x7E
  private val opaqueSet: Char => Boolean = base
  private val fragmentSet: Char => Boolean =
    c => base(c) || c == ' ' || c == '"' || c == '<' || c == '>' || c == '`'
  private val pathSet: Char => Boolean =
    c => fragmentSet(c) || c == '#' || c == '?' || c == '{' || c == '}'
  private val querySet: Char => Boolean =
    c => base(c) || c == ' ' || c == '"' || c == '#' || c == '<' || c == '>'
  private val querySpecialSet: Char => Boolean =
    c => querySet(c) || c == '\''

  private def percentEncode(s: String, esc: Char => Boolean): String = {
    if (!s.exists(esc)) return s
    val sb = new StringBuilder
    s.foreach { ch =>
      if (esc(ch)) {
        val bytes = ch.toString.getBytes("UTF-8")
        bytes.foreach(byt => sb.append(f"%%${byt & 0xff}%02X"))
      } else sb.append(ch)
    }
    sb.toString
  }

  /** Percent-decode; bad UTF-8 fails, malformed escapes pass through. */
  private def percentDecode(s: String): Option[String] = {
    if (!s.contains('%')) return Some(s)
    val bytes = new java.io.ByteArrayOutputStream
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '%' && i + 2 < s.length &&
          isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
      } else {
        bytes.write(ch.toString.getBytes("UTF-8")); i += 1
      }
    }
    val arr = bytes.toByteArray
    val cs = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    try Some(cs.decode(java.nio.ByteBuffer.wrap(arr)).toString)
    catch { case _: Exception => scala.None }
  }

  private def isAlpha(ch: Char): Boolean =
    (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z')
  private def isSchemeChar(ch: Char): Boolean =
    isAlpha(ch) || ch.isDigit || ch == '+' || ch == '-' || ch == '.'
  private def isHex(ch: Char): Boolean =
    ch.isDigit || (ch >= 'a' && ch <= 'f') || (ch >= 'A' && ch <= 'F')
  private def isWindowsDrive(s: String): Boolean =
    s.length == 2 && isAlpha(s.charAt(0)) &&
      (s.charAt(1) == ':' || s.charAt(1) == '|')
  private def forbiddenHost(ch: Char): Boolean =
    ch < 0x20 || " #/:<>?@[\\]^|".indexOf(ch) >= 0 || ch == 0x7F
  private def forbiddenDomain(ch: Char): Boolean =
    forbiddenHost(ch) || ch == '%'
  private def indexOfAny(s: String, chars: String): Int = {
    var i = 0
    while (i < s.length) { if (chars.indexOf(s.charAt(i)) >= 0) return i; i += 1 }
    -1
  }

  // ---- accessors (shared statics; null / -1 mean NONE) ----------------

  /** parts: scheme | host | domain | path | query | fragment. */
  def part(url: UTF8String, which: UTF8String): UTF8String = {
    if (url == null) return null
    val p = parse(url.toString).getOrElse(return null)
    val r: String = which.toString match {
      case "scheme" => p.scheme
      case "host"   => p.host match {
        case Some(h) if h.nonEmpty => h
        case _ => return null
      }
      case "domain" => p.host match {
        case Some(h) if h.nonEmpty && !p.hostIsIp => h
        case _ => return null
      }
      case "path"     => p.path
      case "query"    => p.query.getOrElse(return null)
      case "fragment" => p.fragment.getOrElse(return null)
      case _          => return null
    }
    UTF8String.fromString(r)
  }

  /** port_or_known_default; -1 = NONE. */
  def port(url: UTF8String): Long = {
    if (url == null) return -1L
    val p = parse(url.toString).getOrElse(return -1L)
    p.port.orElse(defaultPort(p.scheme)).map(_.toLong).getOrElse(-1L)
  }

  // ---- parse::email (the addr crate's parse_email_address) -------------

  /** (user, host) per addr::email: split at the LAST '@'; the local part
    * keeps its written form (dot-atom charset, or a quoted string); the
    * host must be a valid possibly-IDN domain (StrCheck.isDomain — the
    * addr-crate reconstruction string::is::email shares) and is returned
    * AS WRITTEN, or a bracketed std-IpAddr literal — `[127.0.0.1]` and
    * BARE `[::1]` parse (Rust `IpAddr::from_str`), while the RFC 5321
    * `[IPv6:...]` tag does NOT (golden parse/email/host.surql pins NONE
    * for the tagged form). IPv6 renders as the Rust Display form. */
  def parseEmail(s: String): Option[(String, String)] = {
    val at = s.lastIndexOf('@')
    if (at <= 0 || at == s.length - 1) return None
    val local = s.substring(0, at)
    val host = s.substring(at + 1)
    val localOk =
      if (local.length >= 2 && local.startsWith("\"") && local.endsWith("\"")) true
      else !local.contains("..") && !local.startsWith(".") && !local.endsWith(".") &&
        local.forall(c => c.isLetterOrDigit || "!#$%&'*+-/=?^_`{|}~.".contains(c))
    if (!localOk) return None
    if (host.startsWith("[") && host.endsWith("]")) {
      val inner = host.substring(1, host.length - 1)
      if (inner.contains(':')) rustIpv6(inner).map(ip => (local, ip))
      else if (StrCheck.isIpv4(inner)) Some((local, inner))
      else None
    } else if (StrCheck.isDomain(host)) Some((local, host))
    else None
  }

  /** which: user | host; null = not a valid email (reference → NONE). */
  def emailPart(s: UTF8String, which: UTF8String): UTF8String = {
    if (s == null) return null
    parseEmail(s.toString) match {
      case Some((user, host)) =>
        UTF8String.fromString(if (which.toString == "user") user else host)
      case scala.None => null
    }
  }
}

/** `graft_url_part(url, 'host')` — nullable string accessor. */
final case class UrlPartF(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "graft_url_part"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (string, string)")
  override def nullSafeEval(u: Any, w: Any): Any =
    UrlParse.part(u.asInstanceOf[UTF8String], w.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (u, w) => s"""
      ${ev.value} = graft.functions.UrlParse.part($u, $w);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** `graft_url_port(url)` — port_or_known_default, null when absent. */
final case class UrlPortF(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_url_port"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a string")
  override def nullSafeEval(u: Any): Any = {
    val v = UrlParse.port(u.asInstanceOf[UTF8String])
    if (v < 0) null else java.lang.Long.valueOf(v)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, u => s"""
      ${ev.value} = graft.functions.UrlParse.port($u);
      ${ev.isNull} = ${ev.value} < 0;""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_email_part(email, 'user'|'host')` — null when not an email. */
final case class EmailPartF(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "graft_email_part"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (string, string)")
  override def nullSafeEval(u: Any, w: Any): Any =
    UrlParse.emailPart(u.asInstanceOf[UTF8String], w.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (u, w) => s"""
      ${ev.value} = graft.functions.UrlParse.emailPart($u, $w);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}
