package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Kernels
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
    // functionRegistry is per-SparkSession: a JVM-global guard would leave a
    // second session without the graft_* names and fail analysis
    val s2 = spark.newSession()
    Kernels.register(s2)
    val r = s2.sql("SELECT 1 AS one").select(
      call_function("graft_is_email", lit("a@b.co")).as("ok"),
      call_function("graft_capitalize", lit("hi there")).as("cap")).head
    assert(r.getBoolean(0))
    assert(r.getString(1) == "Hi There")
  }

  test("VectorKernels.ensure registers its kernels once per session") {
    // the vector kernels now register with the rest of the kernel table: a
    // repeated registration must leave every entry as it is (replacing an
    // entry logs a WARN each time)
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    val ids = Kernels.names.toSeq.sorted.map(FunctionIdentifier(_))
    assert(ids.contains(FunctionIdentifier("graft_dot")))
    Kernels.register(s2)
    val first = ids.map(id => (reg.lookupFunctionBuilder(id), reg.lookupFunction(id)))
    ids.zip(first).foreach { case (id, (builder, info)) =>
      assert(builder.isDefined && info.isDefined, s"$id does not resolve")
    }
    Kernels.register(s2)
    ids.zip(first).foreach { case (id, (builder, info)) =>
      assert(reg.lookupFunctionBuilder(id).get eq builder.get, s"$id builder replaced")
      assert(reg.lookupFunction(id).get eq info.get, s"$id info replaced")
    }
  }

  test("every table kernel evaluates once through Kernels.call") {
    val str = lit("Hello World")
    val vec = typedlit(Seq(1.0f, 2.0f))
    val chain = "DEFINE ANALYZER a TOKENIZERS blank FILTERS lowercase"
    val packed = lit(graft.functions.Analyze.packHighlight(
      chain, Seq("hello"), "<b>", "</b>", partial = false))
    val ts = lit("2024-05-06 07:08:09").cast("timestamp")
    val url = lit("https://example.com:8080/p?q=1#f")
    val pw = Seq("argon2", "bcrypt", "scrypt", "pbkdf2").flatMap { scheme =>
      val generate = s"graft_pw_${scheme}_generate"
      Seq(generate -> Seq(lit("secret")),
        s"graft_pw_${scheme}_compare" -> Seq(Kernels.call(generate, lit("secret")), lit("secret")))
    }
    val samples: Map[String, Seq[Column]] = Map(
      "graft_dot" -> Seq(vec, vec), "graft_l2" -> Seq(vec, vec),
      "graft_l1" -> Seq(vec, vec), "graft_l2sq" -> Seq(vec, vec),
      "graft_eqcount" -> Seq(typedlit(Seq(1L, 2L)), typedlit(Seq(1L, 3L))),
      "graft_round" -> Seq(lit(2.5)), "graft_fixed" -> Seq(lit(2.345), lit(2)),
      "graft_ceil" -> Seq(lit(2.5)), "graft_floor" -> Seq(lit(2.5)),
      "graft_sign" -> Seq(lit(-2.5)),
      "graft_capitalize" -> Seq(lit("hi there")), "graft_joaat" -> Seq(str),
      "graft_blake3" -> Seq(str),
      "graft_jaro" -> Seq(str, lit("Hallo")), "graft_jaro_winkler" -> Seq(str, lit("Hallo")),
      "graft_sorensen_dice" -> Seq(str, lit("Hallo")),
      "graft_sort_arr" -> Seq(typedlit(Seq("b10", "b2")), lit("natural")),
      "graft_fuzzy" -> Seq(str, lit("Hallo")), "graft_damerau" -> Seq(str, lit("Hallo")),
      "graft_hamming" -> Seq(lit("abc"), lit("abd")), "graft_osa" -> Seq(str, lit("Hallo")),
      "graft_levenshtein" -> Seq(str, lit("Hallo")),
      "graft_norm_levenshtein" -> Seq(str, lit("Hallo")),
      "graft_norm_damerau" -> Seq(str, lit("Hallo")),
      "graft_stem" -> Seq(lit("running"), lit("english")),
      "graft_words" -> Seq(str), "graft_slug" -> Seq(str),
      "graft_rawstr" -> Seq(lit(1.5)), "graft_caststr" -> Seq(lit(1.5)),
      "graft_cast_int" -> Seq(lit("12")), "graft_cast_float" -> Seq(lit("1.5")),
      "graft_url_part" -> Seq(url, lit("host")), "graft_url_port" -> Seq(url),
      "graft_email_part" -> Seq(lit("a@b.co"), lit("user")),
      "graft_analyze" -> Seq(str, lit(chain)), "graft_highlight" -> Seq(str, packed),
      "graft_highlight_fx" -> Seq(str, lower(str), packed),
      "graft_offsets" -> Seq(str, packed),
      "graft_time_round" -> Seq(ts, lit(3600000000000L), lit("floor")),
      "graft_strftime" -> Seq(ts, lit("%Y-%m-%d")),
      "graft_semver_cmp" -> Seq(lit("1.2.3"), lit("1.3.0")),
      "graft_semver_get" -> Seq(lit("1.2.3"), lit("minor")),
      "graft_semver_upd" -> Seq(lit("1.2.3"), lit("inc_major"), lit(0L)),
      "graft_html_encode" -> Seq(lit("<a>")), "graft_html_sanitize" -> Seq(lit("<a>")),
      "graft_b64_decode" -> Seq(lit("aGk"))) ++
      graft.functions.StrCheck.kinds.map(k => s"graft_is_$k" -> Seq(lit("a@b.co"))) ++ pw
    assert(samples.keySet == Kernels.names)
    val names = samples.keys.toSeq.sorted
    val row = spark.range(1)
      .select(names.map(n => Kernels.call(n, samples(n): _*).as(n)): _*).head
    def at[T](n: String): T = row.getAs[T](names.indexOf(n))
    assert(at[String]("graft_capitalize") == "Hi There")
    assert(at[Boolean]("graft_is_email"))
    assert(at[scala.collection.Seq[String]]("graft_analyze") == Seq("hello", "world"))
    assert(at[String]("graft_highlight") == "<b>Hello</b> World")
    assert(at[Double]("graft_dot") == 5.0)
    assert(at[String]("graft_url_part") == "example.com")
    pw.collect { case (n, _) if n.endsWith("_compare") => n }
      .foreach(n => assert(at[Boolean](n), s"$n rejects its own hash"))
    intercept[IllegalArgumentException](Kernels.call("graft_no_such_kernel", str))
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
