package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The native codegen'd vector kernels (DotF/L2F/L1F) must be BIT-IDENTICAL
  * to the composable HOF folds they replaced — same in-order double
  * accumulation — or every hash-compared oracle row would silently drift.
  * Checked over seeded pseudo-random float vectors through real DataFrame
  * execution (codegen path), including length-mismatch and empty cases. */
class KernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("DotF equals the HOF fold bit-for-bit on random float vectors") {
    // seeded vectors of varying length, cast to float arrays
    val rows = spark.range(500).select(
      col("id"),
      transform(sequence(lit(1), (col("id") % 64 + 1).cast("int")),
        i => sin(i * (col("id") + 1)).cast("float")).as("a"),
      transform(sequence(lit(1), (col("id") % 64 + 1).cast("int")),
        i => cos(i * (col("id") + 2)).cast("float")).as("b"))
    val cmp = rows.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      hofDot(col("a"), col("b")).as("hof"))
    val bad = cmp.filter(col("native") =!= col("hof")).count()
    assert(bad == 0L, s"$bad of 500 vectors disagree between kernel and HOF fold")
  }

  test("kernels handle empty and length-mismatched arrays") {
    val df = spark.sql(
      """SELECT CAST(array() AS array<float>) AS e,
                CAST(array(1.0, 2.0) AS array<float>) AS a,
                CAST(array(3.0) AS array<float>) AS b""")
    val r = df.select(
      Similarity.dot(col("e"), col("e")).as("ee"),
      Similarity.dot(col("a"), col("b")).as("ab"), // common prefix: 1*3
      Similarity.l1(col("a"), col("b")).as("l1"),
      Similarity.l2(col("a"), col("b")).as("l2")).head
    assert(r.getDouble(0) == 0.0)
    assert(r.getDouble(1) == 3.0)
    assert(r.getDouble(2) == 2.0)
    assert(r.getDouble(3) == 2.0)
  }

  test("Punycode round-trips and rejects overflow (RFC 3492)") {
    import graft.functions.Punycode
    val samples = Seq("bücher", "münchen", "ñandú", "höhe", "königsberg",
      "中文", "ドメイン", "пример", "ελληνικά", "עברית", "a1ü", "üüüüüüüüüü")
    samples.foreach { s =>
      val enc = Punycode.encode(s)
      assert(enc.isDefined, s"encode failed for $s")
      assert(Punycode.decode(enc.get).contains(s), s"round-trip failed for $s → ${enc.get}")
      assert(enc.get.forall(_ < 128), s"non-ascii in encoding of $s")
    }
    // the canonical German example: bücher ⇄ bcher-kva
    assert(Punycode.encode("bücher").contains("bcher-kva"))
    assert(Punycode.decode("bcher-kva").contains("bücher"))
    // crafted digit strings must hit the overflow guards, not wrap
    assert(Punycode.decode("99999999999").isEmpty)
    assert(Punycode.decode("999999999999999999999999").isEmpty)
  }

  test("isDomain: IDN labels, punycode validity, and length budgets") {
    import graft.functions.StrCheck.isDomain
    // plain ASCII
    assert(isDomain("example.com"))
    assert(isDomain("a-b.c0m"))
    assert(isDomain("example.com."))      // one trailing root dot
    assert(!isDomain("example.com.."))
    assert(!isDomain("-ab.com"))
    assert(!isDomain("ab-.com"))
    assert(!isDomain("a..b"))
    assert(!isDomain("a_b.com"))
    assert(isDomain("a" * 63 + ".com"))
    assert(!isDomain("a" * 64 + ".com"))
    // U-labels: letters/marks/digits only, encoded length within 63
    assert(isDomain("bücher.ch"))
    assert(isDomain("中文.cn"))
    assert(!isDomain("☃.com"))            // symbol, not a letter
    assert(!isDomain("a b.com"))
    assert(isDomain("ü" * 10 + ".de"))
    assert(isDomain("ü" * 40 + ".de"))    // repeats encode compactly: still ≤63
    // 35 DISTINCT CJK points need several digits each — the xn-- form
    // overruns the 63-octet label budget
    val big35 = (0 until 35).map(i => (0x4E00 + i * 17).toChar).mkString
    assert(graft.functions.Punycode.encode(big35).get.length + 4 > 63)
    assert(!isDomain(big35 + ".de"))
    // A-labels: must decode, contain non-ASCII, and be class-valid
    assert(isDomain("xn--bcher-kva.ch"))
    assert(isDomain("xn--fiqs8s.cn") || isDomain("xn--fiq228c.cn") ||
      Punycheck("xn--fiqs8s"))            // decodability is the gate
    assert(!isDomain("xn--.com"))          // empty encoding
    assert(!isDomain("xn--99999999999.com")) // punycode overflow
    assert(!isDomain("xn--kva-.ch"))       // trailing hyphen
    // total-length budget applies to the ASCII form
    val l61 = "a" * 61
    assert(isDomain(Seq(l61, l61, l61, l61, "de").mkString(".")))         // 250 octets
    assert(!isDomain(Seq(l61, l61, l61, l61, "abcdefgh").mkString("."))) // 256 octets
    // a U-label counts its ENCODED octets toward the 253 budget
    assert(!isDomain(Seq(l61, l61, l61, "a" * 55, "bücher").mkString("."))) // ascii form 255
  }
  /** helper: a bare xn-- label is domain-valid iff it decodes cleanly */
  private def Punycheck(label: String): Boolean =
    graft.functions.StrCheck.isDomain(label + ".com")

  test("isEmail host goes through the IDN domain check") {
    import graft.functions.StrCheck.isEmail
    assert(isEmail("a@b.com"))
    assert(isEmail("a@bücher.ch"))
    assert(isEmail("a@xn--bcher-kva.ch"))
    assert(!isEmail("a@b_c.com"))          // underscore not domain-valid
    assert(!isEmail("a@☃.com"))
    assert(isEmail("a@[127.0.0.1]"))
  }

  test("StrCheck kernels register in a FRESH cloned session (per-session registry)") {
    // functionRegistry is per-SparkSession: a JVM-global ensure guard would
    // leave a second session without graft_is_* and fail analysis
    val s2 = spark.newSession()
    graft.functions.StrCheckKernels.ensure(s2)
    val r = s2.sql("SELECT 1 AS one").select(
      org.apache.spark.sql.functions.call_function(
        "graft_is_email", org.apache.spark.sql.functions.lit("a@b.co")).as("ok"),
      org.apache.spark.sql.functions.call_function(
        "graft_capitalize", org.apache.spark.sql.functions.lit("hi there")).as("cap")
    ).head
    assert(r.getBoolean(0))
    assert(r.getString(1) == "Hi There")
  }

  test("VectorKernels.ensure registers its kernels once per session") {
    // a repeated ensure must leave the registry as it is: replacing the
    // entries logs a WARN on every call
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    val dot = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")
    graft.functions.VectorKernels.ensure(s2)
    val builder = reg.lookupFunctionBuilder(dot)
    val info = reg.lookupFunction(dot)
    assert(builder.isDefined && info.isDefined)
    graft.functions.VectorKernels.ensure(s2)
    assert(reg.lookupFunctionBuilder(dot).get eq builder.get)
    assert(reg.lookupFunction(dot).get eq info.get)
  }

  test("sorensenDice matches hand-traced strsim::sorensen_dice vectors") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def sd(a: String, b: String): Double =
      graft.functions.StrSim.sorensenDice(u(a), u(b))
    // crate doc vector: ferris/feris = 2*4/(6+5-2)
    assert(sd("ferris", "feris") == 8.0 / 9.0)
    // whitespace strips from the STRING (not per-bigram): 'ab cd' == 'abcd'
    assert(sd("ab cd", "abcd") == 1.0)
    // night/nacht: bigrams {ni,ig,gh,ht} vs {na,ac,ch,ht} -> 2*1/8
    assert(sd("night", "nacht") == 0.25)
    assert(sd("", "") == 1.0)
    assert(sd("a", "") == 0.0)
    assert(sd("a", "b") == 0.0)
    // repeated bigrams are a MULTISET intersection: aaa has {aa,aa}
    assert(sd("aaa", "aa") == 2.0 * 1 / (3 + 2 - 2))
    // Rust char::is_whitespace: NBSP (U+00A0) IS Unicode White_Space —
    // Java's isWhitespace says no; file separator U+001C is NOT — Java
    // says yes. Both must follow Rust.
    assert(sd("ab cd", "abcd") == 1.0)
    assert(sd("ab\u001ccd", "abcd") != 1.0)
    // non-BMP scalars are ONE bigram unit (crate iterates chars):
    // "a𝄞b" bigrams {a𝄞, 𝄞b} — UTF-16 units would split the surrogate
    assert(sd("a𝄞b", "a𝄞b") == 1.0)
    assert(sd("a𝄞", "a𝄞") == 1.0)
  }

  test("semver: arbitrary-precision numeric pre-release ids; u64-ish overflow parses as error") {
    import graft.functions.Semver
    // a 20+-digit numeric pre-release id is spec-legal (§9 puts no bound):
    // the crate compares numerically at arbitrary precision — toLong would
    // crash the task with NumberFormatException
    val a = Semver.parse("1.0.0-11111111111111111111").get
    val b = Semver.parse("1.0.0-2").get
    assert(Semver.cmp(a, b) > 0, "20-digit numeric id must compare GREATER than 2")
    assert(Semver.cmp(b, a) < 0)
    // equal-length digit ids fall to lexical (== numeric with no leading zeros)
    val c = Semver.parse("1.0.0-123456789012345678901").get
    val d = Semver.parse("1.0.0-123456789012345678902").get
    assert(Semver.cmp(c, d) < 0)
    // a version COMPONENT past u64/i64 is a PARSE error (reference
    // InvalidFunctionArguments), never an uncaught exception
    assert(Semver.parse("99999999999999999999.0.0").isEmpty)
    val e = intercept[Exception] {
      Semver.cmpStr(
        org.apache.spark.unsafe.types.UTF8String.fromString("99999999999999999999.0.0"),
        org.apache.spark.unsafe.types.UTF8String.fromString("1.0.0"))
    }
    assert(e.getMessage.contains("Incorrect arguments for function string::semver::compare()"))
  }

  test("time::round tie test is overflow-free past 2^62-ns durations") {
    import graft.functions.TimeRound
    // dur = 200y-in-nanos (6.3072e18, inside i64); stamp = 5e18 ns → rem =
    // 5e18, rem*2 overflows Long. chrono duration_round: delta_up =
    // dur - rem = 1.3072e18 <= delta_down = rem → round UP.
    val dur = 6307200000000000000L
    val stamp = 5000000000000000000L
    assert(TimeRound.nanos(stamp, dur, "round") == dur,
      "tie/nearest test must not wrap: chrono rounds UP here")
    // below the midpoint still rounds down
    assert(TimeRound.nanos(1000000000000000000L, dur, "round") == 0L)
  }
}
