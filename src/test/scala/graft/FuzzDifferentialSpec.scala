package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.surql.{Interp, Parser, QErr, QOk, SparkPlanner, V, VArr, VBool, VFloat, VInt, VObj, VStr}

/** Grammar-driven cross-engine fuzzing: a seeded generator composes
  * SurrealQL SELECTs from a grammar over the shared fixture — arithmetic
  * trees, predicate combinations, string/time/array function chains,
  * grouped aggregates, LIMIT/START windows — and every generated query
  * must produce value-identical results on the interpreter (golden-corpus
  * anchored) and the Spark planner. The hand-picked differential suite
  * pins known shapes; this suite searches the COMBINATION space those
  * cases don't enumerate. Seeded, so a failure reproduces exactly. */
class FuzzDifferentialSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val rows: Seq[(Long, String, Long, Double, String, String, Seq[String])] =
    (1L to 30L).map { i =>
      (i, ("abc" (i.toInt % 3)).toString, i % 7, i * 1.25, f"n$i%02d",
        f"2024-${1 + i.toInt % 3}%02d-${1 + i.toInt % 27}%02dT12:00:00Z",
        Seq(s"t${i % 2}", s"t${i % 5}"))
    }

  private val fixtureScript: String =
    rows.map { case (id, grp, qty, price, name, ts, tags) =>
      s"CREATE item:$id SET grp = '$grp', qty = $qty, price = $price, " +
        s"num = $id, name = '$name', ts = d'$ts', " +
        s"buddy = item:${id % 30 + 1}, " +
        (if (id % 5 != 0) s"opt = ${id % 9}, " else "") +
        s"tags = [${tags.map(t => s"'$t'").mkString(", ")}];"
    }.mkString("\n")

  private val profScript: String =
    (1L to 12L).map { i =>
      s"CREATE prof:$i SET meta = { a: $i, b: 'x${i % 4}' }, score = ${i * 5}, " +
        s"hist = [{ q: $i, p: ${i * 2} }, { q: ${i + 1}, p: 0 }];"
    }.mkString("\n")

  private val edges: Seq[(Long, Long, Long)] =
    (1L to 30L).map(i => (i, i * 7 % 30 + 1, i)) ++
      (2L to 30L by 2).map(i => (i, i * 3 % 30 + 1, i + 100))

  private val edgeScript: String =
    edges.map { case (a, b, w) =>
      s"RELATE item:$a->likes:`e${a}x${b}x$w`->item:$b SET w = $w;"
    }.mkString("\n")

  private lazy val interp: Interp = {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in.run(Parser.parse(edgeScript))
    in.run(Parser.parse(profScript))
    in
  }

  private lazy val df = {
    import spark.implicits._
    rows.map { case (id, grp, qty, price, name, ts, tags) =>
      (id, grp, qty, price, id, name, id % 30 + 1,
        if (id % 5 != 0) Some(id % 9) else None,
        java.sql.Timestamp.from(java.time.Instant.parse(ts)), tags)
    }.toDF("id", "grp", "qty", "price", "num", "name", "buddy", "opt", "ts", "tags")
  }

  private lazy val profDf = {
    import spark.implicits._
    (1L to 12L).map(i => (i, (i, s"x${i % 4}"), i * 5,
        Seq((i, i * 2), (i + 1, 0L))))
      .toDF("id", "meta", "score", "hist")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("meta").cast("struct<a:bigint,b:string>"),
        org.apache.spark.sql.functions.col("score"),
        org.apache.spark.sql.functions.col("hist").cast("array<struct<q:bigint,p:bigint>>"))
  }

  private lazy val likesDf = {
    import spark.implicits._
    edges.map { case (a, b, w) => (s"e${a}x${b}x$w", a, b, w) }
      .toDF("id", "in", "out", "w")
  }

  SparkPlanner.extraRecordKeys.put("item", "id")
  SparkPlanner.extraRecordKeys.put("prof", "id")
  SparkPlanner.extraRecordKeys.put("likes", "id")
  SparkPlanner.extraLinks.put(("item", "buddy"), ("item", "id"))
  graft.operators.GraphOps.extraEdgeDefs.put("likes", ("item", "item"))

  private def toV(x: Any): V = x match {
    case null            => graft.surql.VNull
    case b: Boolean      => VBool(b)
    case i: Int          => VInt(i)
    case l: Long         => VInt(l)
    case d: Double       => VFloat(d)
    case s: String       => VStr(s)
    case d: java.math.BigDecimal => VFloat(d.doubleValue)
    case a: scala.collection.Seq[_] => VArr(a.map(toV).toVector)
    case t: java.sql.Timestamp => graft.surql.VDt(t.toInstant)
    case r: org.apache.spark.sql.Row =>
      VObj(scala.collection.immutable.TreeMap(
        r.schema.fieldNames.zipWithIndex
          .map { case (n, i) => n -> toV(r.get(i)) }.toIndexedSeq: _*))
    case other => VStr(other.toString)
  }

  private def checkSame(surql: String): Unit = {
    val ires = interp.run(Parser.parse(surql)).last
    val sdf = Tables.withOverlay(Map("item" -> df, "likes" -> likesDf, "prof" -> profDf)) {
      SparkPlanner.query(spark, "/nonexistent", surql)
    }
    val iv = ires match {
      case QOk(VArr(items)) => items
      case QOk(v)           => Vector(v)
      case QErr(m)          => fail(s"interp error: $m\n$surql")
    }
    val srows = sdf.collect().map { r =>
      VObj(scala.collection.immutable.TreeMap(
        sdf.columns.zipWithIndex.map { case (c, i) => c -> toV(r.get(i)) }: _*))
    }.toVector
    // FETCH embeds whole records: the interp's nested ids are VRids while
    // the Spark column model carries raw keys, and a Spark struct carries
    // NULL for fields the interp doc simply lacks — strip the table wrapper
    // and drop null/none entries from NESTED objects before comparing
    // (top-level columns stay, their keySet is asserted below)
    def normRid(v: V): V = v match {
      case graft.surql.VRid(_, k) => k
      case VObj(m) => VObj(m.collect {
        case (k2, v2) if v2 != graft.surql.VNull && v2 != graft.surql.VNone =>
          k2 -> normRid(v2)
      })
      case VArr(xs) => VArr(xs.map(normRid))
      case other => other
    }
    // top level drops null/none too: a table COLUMN that is NULL and an
    // ABSENT document field are the same fact in the column model
    // (symmetric on both sides, so a genuinely missing non-null column
    // still fails the keySet assert)
    def normTop(o: VObj): VObj =
      VObj(o.fields.collect {
        case (k2, v2) if v2 != graft.surql.VNull && v2 != graft.surql.VNone =>
          k2 -> normRid(v2)
      })
    val srowsN = srows.map(normTop)
    val irows = iv.map {
      case VObj(m) => VObj(m)
      case v => VObj(scala.collection.immutable.TreeMap("value" -> v))
    }.map(normTop)
    assert(srows.length == irows.length,
      s"row count differs: spark=${srows.length} interp=${irows.length}\n$surql")
    srowsN.zip(irows).zipWithIndex.foreach { case ((s0, i0), n) =>
      val sm = s0.fields; val im = i0.fields
      assert(sm.keySet == im.keySet,
        s"row $n columns differ: ${sm.keySet} vs ${im.keySet}\n$surql")
      def same(a: V, b: V): Boolean = (a, b) match {
        case (VFloat(x), VFloat(y)) =>
          java.lang.Double.doubleToLongBits(x) ==
            java.lang.Double.doubleToLongBits(y)
        // the column model promotes mixed int/float ARRAYS to double —
        // compare numerics loosely across kinds (float-float stays bit-exact)
        case (x: graft.surql.VNum, y: graft.surql.VNum) =>
          x.toDouble == y.toDouble
        // the Spark column model renders an ABSENT field (NONE) as null
        case (graft.surql.VNull, graft.surql.VNone) => true
        case (VArr(xs), VArr(ys)) =>
          xs.length == ys.length && xs.zip(ys).forall { case (p, q) => same(p, q) }
        case (x, y) => x == y
      }
      sm.keySet.foreach { k =>
        assert(same(sm(k), im(k)),
          s"row $n field $k differs: ${sm(k).render} vs ${im(k).render}\n$surql")
      }
    }
  }

  // ---- generators ---------------------------------------------------------

  /** Integer-valued expression (small magnitudes — ANSI overflow-safe). */
  private def intExpr(r: scala.util.Random, depth: Int): String =
    if (depth == 0) r.nextInt(5) match {
      case 0 => "qty"
      case 1 => "num"
      case 2 => (r.nextInt(9) + 1).toString
      case 3 => s"(0 - ${r.nextInt(5) + 1})"
      case _ => "qty"
    } else r.nextInt(8) match {
      case 0 => s"(${intExpr(r, depth - 1)} + ${intExpr(r, depth - 1)})"
      case 1 => s"(${intExpr(r, depth - 1)} - ${intExpr(r, depth - 1)})"
      case 2 => s"(${intExpr(r, depth - 1)} * ${r.nextInt(4) + 1})"
      case 3 => s"(${intExpr(r, depth - 1)} / ${r.nextInt(4) + 2})"  // literal divisor, never 0
      case 4 => s"(${intExpr(r, depth - 1)} % ${r.nextInt(5) + 2})"  // literal modulus, never 0
      case 5 => s"math::abs(${intExpr(r, depth - 1)})"
      case 6 => s"math::max([${intExpr(r, depth - 1)}, ${intExpr(r, depth - 1)}])"
      case _ => s"math::min([${intExpr(r, depth - 1)}, ${intExpr(r, depth - 1)}])"
    }

  /** Float-valued expression over price (positive), nonzero divisors. */
  private def floatExpr(r: scala.util.Random, depth: Int): String =
    if (depth == 0) r.nextInt(3) match {
      case 0 => "price"
      case 1 => f"${r.nextDouble() * 8 + 0.25}%.4f"
      case _ => "price"
    } else r.nextInt(8) match {
      case 0 => s"(${floatExpr(r, depth - 1)} + ${floatExpr(r, depth - 1)})"
      case 1 => s"(${floatExpr(r, depth - 1)} - ${floatExpr(r, depth - 1)})"
      case 2 => s"(${floatExpr(r, depth - 1)} * ${f"${r.nextDouble() + 0.5}%.3f"})"
      case 3 => s"(${floatExpr(r, depth - 1)} / ${f"${r.nextDouble() + 1.0}%.3f"})"
      case 4 => s"math::floor(${floatExpr(r, depth - 1)})"
      case 5 => s"math::ceil(${floatExpr(r, depth - 1)})"
      case 6 => s"math::round(${floatExpr(r, depth - 1)})"
      case _ => s"math::abs(${floatExpr(r, depth - 1)})"
    }

  /** String-valued expression over name/grp. */
  private def strExpr(r: scala.util.Random, depth: Int): String =
    if (depth == 0) (if (r.nextBoolean()) "name" else "grp")
    else r.nextInt(6) match {
      case 0 => s"string::uppercase(${strExpr(r, depth - 1)})"
      case 1 => s"string::lowercase(${strExpr(r, depth - 1)})"
      case 2 => s"string::reverse(${strExpr(r, depth - 1)})"
      case 3 => s"string::concat(${strExpr(r, depth - 1)}, '_', ${strExpr(r, depth - 1)})"
      case 4 => s"(${strExpr(r, depth - 1)} + '${('a' + r.nextInt(3)).toChar}')"
      case _ => s"string::slice(${strExpr(r, depth - 1)}, ${r.nextInt(2)}, ${r.nextInt(3) + 1})"
    }

  /** Boolean predicate for WHERE. */
  private def boolExpr(r: scala.util.Random, depth: Int): String =
    if (depth == 0) r.nextInt(7) match {
      case 0 => s"qty ${Seq("<", "<=", ">", ">=", "=", "!=")(r.nextInt(6))} ${r.nextInt(7)}"
      case 1 => s"price ${Seq("<", ">")(r.nextInt(2))} ${f"${r.nextDouble() * 35}%.2f"}"
      case 2 => s"grp = '${('a' + r.nextInt(3)).toChar}'"
      case 3 => s"tags CONTAINS 't${r.nextInt(5)}'"
      case 4 => s"qty INSIDE [${Seq.fill(r.nextInt(3) + 1)(r.nextInt(7)).distinct.mkString(", ")}]"
      case 5 => s"string::starts_with(name, 'n${r.nextInt(3)}')"
      case _ => s"num ${Seq("<", ">")(r.nextInt(2))} ${r.nextInt(30) + 1}"
    } else r.nextInt(4) match {
      case 0 => s"(${boolExpr(r, depth - 1)} AND ${boolExpr(r, depth - 1)})"
      case 1 => s"(${boolExpr(r, depth - 1)} OR ${boolExpr(r, depth - 1)})"
      case 2 => s"!(${boolExpr(r, depth - 1)})"
      case _ => s"(${intExpr(r, 1)} ${Seq("<", "<=", ">", ">=")(r.nextInt(4))} ${intExpr(r, 1)})"
    }

  private def genSelect(r: scala.util.Random): String = r.nextInt(43) match {
    case 42 => // r15 column-kernel families: validators / capitalize /
      // crypto / semver / per-row top-bottom over column-built values
      val f = r.nextInt(8) match {
        case 0 => "string::capitalize(name + ' ' + grp) AS v"
        case 1 => s"string::is_${Seq("alphanum", "alpha", "ascii", "numeric", "email")(r.nextInt(5))}(name) AS v"
        case 2 => "crypto::joaat(name) AS v"
        case 3 => "crypto::blake3(grp) AS v"
        case 4 => s"string::semver::inc::${Seq("major", "minor", "patch")(r.nextInt(3))}('1.' + <string> qty + '.2') AS v"
        case 5 => s"array::sort(math::top([qty, price, ${r.nextInt(9)}], ${r.nextInt(3) + 1})) AS v"
        case 6 => s"array::sort(math::bottom([num, qty, ${r.nextInt(9)}], 2)) AS v"
        case _ => "vector::similarity::pearson([price, qty + 0.5, 3.0], [1.0, price, qty + 1.5]) AS v"
      }
      s"SELECT name, $f FROM item" +
        (if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else "") +
        s" ORDER BY name LIMIT ${r.nextInt(15) + 3}"
    case 41 => // per-row folds over in-row arrays (projection context —
      // these share names with aggregates and must NOT collapse the frame)
      val arr = s"[qty, ${r.nextInt(9)}, ${r.nextInt(9)}, ${r.nextInt(9)}]"
      val f = r.nextInt(12) match {
        case 0 => s"math::median($arr)"
        case 1 => s"math::stddev($arr)"
        case 2 => s"math::variance($arr)"
        case 3 => s"math::spread($arr)"
        case 4 => s"math::product($arr)"
        case 5 => s"math::mean($arr)"
        case 6 => s"math::mode($arr)"
        case 7 => s"math::interquartile($arr)"
        case 8 => s"math::midhinge($arr)"
        case 9 => s"math::trimean($arr)"
        case 10 => s"math::percentile($arr, ${r.nextInt(101)})"
        case _ => s"count($arr)"
      }
      s"SELECT name, $f AS f FROM item ORDER BY name LIMIT ${r.nextInt(10) + 3}"
    case 40 => // literal FROM source (SourceExpr rows): objects or scalars
      if (r.nextBoolean()) {
        val rows = (1 to r.nextInt(3) + 2).map { i =>
          s"{ a: ${r.nextInt(20)}, b: 'v${r.nextInt(5)}', c: $i }"
        }.mkString(", ")
        s"SELECT a, b, c FROM [$rows] ORDER BY c"
      } else {
        // bare rows resolve `value` to NONE on BOTH engines (the Spark
        // column name is rendering-only), so ORDER BY value is a no-op
        // sort and the literal order is preserved either way
        val vals = (1 to r.nextInt(4) + 2).map(_ => r.nextInt(50)).mkString(", ")
        if (r.nextBoolean()) s"SELECT * FROM [$vals]"
        else s"SELECT * FROM [$vals] ORDER BY value"
      }
    case 39 => // SkimMatcherV2 fuzzy scoring over names (shared kernel)
      val pat = Seq("n1", "n2", "N03", "xyz", "n")(r.nextInt(5))
      s"""SELECT name, string::similarity::fuzzy(name, '$pat') AS fz,
            string::similarity::smithwaterman(name, '$pat') AS sw
          FROM item ORDER BY name LIMIT ${r.nextInt(12) + 4}"""
    case 38 => // array-of-struct idioms over prof.hist
      val proj = r.nextInt(5) match {
        case 0 => s"hist[WHERE q > ${r.nextInt(10)}] AS h"
        case 1 => "hist[*].q AS qs"
        case 2 => "array::len(hist) AS n"
        case 3 => "hist[0].p AS p0"
        case _ => s"math::sum(hist[*].p) AS sp"
      }
      s"SELECT id, $proj FROM prof ORDER BY id LIMIT ${r.nextInt(10) + 3}"
    case 37 => // nested struct idioms over the prof table
      val proj = r.nextInt(4) match {
        case 0 => "meta.a AS ma, meta.b AS mb"
        case 1 => s"(meta.a * ${r.nextInt(4) + 1}) AS m2"
        case 2 => "string::uppercase(meta.b) AS ub"
        case _ => "meta AS m"
      }
      val whereC = r.nextInt(3) match {
        case 0 => s" WHERE meta.a ${Seq("<", ">", "<=", ">=")(r.nextInt(4))} ${r.nextInt(12) + 1}"
        case 1 => s" WHERE meta.b = 'x${r.nextInt(4)}'"
        case _ => ""
      }
      s"SELECT id, $proj FROM prof$whereC ORDER BY id LIMIT ${r.nextInt(10) + 3}"
    case 36 => // graph arrows in WHERE + edge-condition arrows
      val pred = r.nextInt(4) match {
        case 0 => s"array::len(->likes->item) > ${r.nextInt(2)}"
        case 1 => s"math::sum(->(likes WHERE w > ${r.nextInt(80)})->item.qty) > ${r.nextInt(8)}"
        case 2 => s"->likes->item.qty CONTAINS ${r.nextInt(7)}"
        case _ => s"array::len(<-likes<-item) = ${r.nextInt(3)}"
      }
      s"SELECT name, qty FROM item WHERE $pred ORDER BY name"
    case 33 => // full-row projection (id included — record-key rendering)
      s"SELECT * FROM item" +
        (if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else "") +
        s" ORDER BY name LIMIT ${r.nextInt(10) + 3}"
    case 34 => // method-call idioms (field.method() sugar for fn dispatch)
      val proj = r.nextInt(5) match {
        case 0 => "name.uppercase() AS u"
        case 1 => "tags.len() AS n"
        case 2 => "name.slice(0, 2).uppercase() AS s2"
        case 3 => "grp.repeat(3) AS g3"
        case _ => "tags.join('-') AS j"
      }
      s"SELECT name, $proj FROM item ORDER BY name LIMIT ${r.nextInt(12) + 3}"
    case 35 => // grouped aggregates OVER graph-arrow projections
      s"SELECT grp, math::sum(array::len(->likes->item)) AS deg," +
        s" count() AS n FROM item" +
        (if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else "") +
        " GROUP BY grp ORDER BY grp"
    case 27 => // time bucketing/parts over the ts column
      val proj = r.nextInt(5) match {
        case 0 => s"time::floor(ts, ${Seq("1h", "1d", "1w")(r.nextInt(3))}) AS tf"
        case 1 => s"time::round(ts, ${Seq("1h", "1d")(r.nextInt(2))}) AS tr"
        case 2 => "time::yday(ts) AS yd"
        case 3 => "time::wday(ts) AS wd"
        case _ => "time::unix(ts) AS ux"
      }
      s"SELECT name, $proj FROM item ORDER BY name LIMIT ${r.nextInt(12) + 3}"
    case 28 => // object-literal projections (+ field re-extraction)
      val o = s"{ g: grp, q: qty, x: ${intExpr(r, 1)} }"
      if (r.nextBoolean())
        s"SELECT name, $o AS o FROM item ORDER BY name LIMIT ${r.nextInt(10) + 3}"
      else
        s"SELECT name, ($o).q AS oq FROM item ORDER BY name LIMIT ${r.nextInt(10) + 3}"
    case 29 => // containment operator family over tags
      val lits = Seq.fill(r.nextInt(2) + 1)(s"'t${r.nextInt(5)}'").distinct.mkString(", ")
      val pred = r.nextInt(5) match {
        case 0 => s"tags CONTAINSALL [$lits]"
        case 1 => s"tags CONTAINSANY [$lits]"
        case 2 => s"tags CONTAINSNONE [$lits]"
        case 3 => s"[$lits] ANYINSIDE tags"
        case _ => s"[$lits] ALLINSIDE tags"
      }
      s"SELECT name, tags FROM item WHERE $pred ORDER BY name"
    case 30 => // semver comparisons on literal versions
      def v() = s"${r.nextInt(3)}.${r.nextInt(12)}.${r.nextInt(10)}"
      val (a, b) = (v(), v())
      s"SELECT name, string::semver::compare('$a', '$b') AS c," +
        s" string::semver::major('$a') AS mj FROM item ORDER BY name LIMIT 3"
    case 31 => // duration literals through duration:: accessors
      val d = Seq("90m", "2h", "1d12h", "45s", "1w2d")(r.nextInt(5))
      val f = Seq("secs", "mins", "hours", "days")(r.nextInt(4))
      s"SELECT name, duration::$f($d) AS dv FROM item ORDER BY name LIMIT 3"
    case 32 => // float math breadth (positive operands keep both engines real)
      val proj = r.nextInt(5) match {
        case 0 => "math::sqrt(price) AS v"
        case 1 => "math::pow(price, 2) AS v"
        case 2 => "math::ln(price) AS v"
        case 3 => s"math::clamp(price, ${r.nextInt(5)}, ${r.nextInt(20) + 10}) AS v"
        case _ => s"math::lerp(0, price, 0.${r.nextInt(9) + 1}) AS v"
      }
      s"SELECT name, $proj FROM item ORDER BY name LIMIT ${r.nextInt(12) + 3}"
    case 21 => // SPLIT explodes an array field into one row per element
      s"SELECT name, tags FROM item" +
        (if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else "") +
        s" SPLIT tags ORDER BY name, tags LIMIT ${r.nextInt(25) + 5}"
    case 22 => // idiom indexing/slicing over the tags array
      val proj = r.nextInt(5) match {
        case 0 => s"tags[${r.nextInt(2)}] AS t"
        case 1 => "tags[$] AS last"
        case 2 => s"array::slice(tags, 0, ${r.nextInt(2) + 1}) AS s"
        case 3 => "tags[WHERE $this != 't0'] AS f"
        case _ => "tags[*] AS all_t"
      }
      s"SELECT name, $proj FROM item ORDER BY name LIMIT ${r.nextInt(12) + 3}"
    case 23 => // string similarity/distance kernels against a literal
      val lit = s"n${r.nextInt(30) + 1}"
      val proj = r.nextInt(4) match {
        case 0 => s"string::distance::levenshtein(name, '$lit') AS d"
        case 1 => s"string::distance::hamming(name, 'n${10 + r.nextInt(20)}') AS d"
        case 2 => s"string::similarity::jaro(name, '$lit') AS d"
        case _ => s"string::distance::damerau_levenshtein(name, '$lit') AS d"
      }
      s"SELECT name, $proj FROM item ORDER BY name LIMIT ${r.nextInt(12) + 3}"
    case 24 => // spread/statistics aggregates per group (top/bottom through
      // the order-pinning array::sort/join wrappers — heap order is
      // arbitrary in the reference, sorted output is comparable)
      // k is sometimes LET-bound (runtime-k lowering, VERDICT r15 #3)
      val kLet = r.nextBoolean()
      val k1 = r.nextInt(4) + 1; val k2 = r.nextInt(3) + 1
      val agg = r.nextInt(6) match {
        case 0 => "math::stddev(price) AS v"
        case 1 => "math::variance(price) AS v"
        case 2 => "math::median(qty) AS v"
        case 3 => s"array::join(array::sort(math::top(qty, ${if (kLet) "$fk" else k1.toString})), '|') AS v"
        case 4 => s"array::join(array::sort(math::bottom(num, ${if (kLet) "$fk" else k2.toString})), '|') AS v"
        case _ => "math::mean(price) AS v"
      }
      val let = if (kLet && agg.contains("$fk")) s"LET $$fk = $k1; " else ""
      s"${let}SELECT grp, count() AS n, $agg FROM item GROUP BY grp ORDER BY grp"
    case 25 => // type:: constructors and checks
      val proj = r.nextInt(4) match {
        case 0 => "type::is_number(qty) AS p, type::is_string(name) AS q"
        case 1 => s"type::string(${intExpr(r, 1)}) AS s"
        case 2 => s"type::int('${r.nextInt(90) + 10}') AS i"
        case _ => "type::is_array(tags) AS p, type::is_none(opt) AS q"
      }
      s"SELECT name, $proj FROM item ORDER BY name LIMIT ${r.nextInt(12) + 3}"
    case 26 => // FETCH embeds the linked record in place of the id
      s"SELECT name, buddy FROM item" +
        (if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else "") +
        s" ORDER BY name LIMIT ${r.nextInt(10) + 3} FETCH buddy"
    case 20 => // graph arrows over the RELATE-populated relation table
      val proj = r.nextInt(5) match {
        case 0 => "array::sort(->likes->item.name) AS ln"
        case 1 => "array::len(->likes->item) AS n"
        case 2 => "array::sort(<-likes<-item.qty) AS bq"
        case 3 => "array::len(<->likes<->item) AS nb"
        case _ => s"math::sum(->likes->item.qty) AS sq"
      }
      s"SELECT name, $proj FROM item" +
        (if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else "") +
        s" ORDER BY name LIMIT ${r.nextInt(15) + 3}"
    case 19 => // NONE semantics over a sparse field (total-order comparisons)
      val pred = r.nextInt(6) match {
        case 0 => s"opt ${Seq("<", "<=", ">", ">=")(r.nextInt(4))} ${r.nextInt(9)}"
        case 1 => "opt = NONE"
        case 2 => "opt != NONE"
        case 3 => s"opt ${if (r.nextBoolean()) "=" else "!="} ${r.nextInt(9)}"
        case 4 => s"(opt ?? ${r.nextInt(5)}) > ${r.nextInt(8)}"
        case _ => s"opt ${Seq("<", ">")(r.nextInt(2))} qty"
      }
      val proj = r.nextInt(3) match {
        case 0 => "opt"
        case 1 => s"(opt ?? ${intExpr(r, 1)}) AS o2"
        case _ => s"IF opt != NONE THEN 'set' ELSE 'missing' END AS st"
      }
      s"SELECT name, $proj FROM item WHERE $pred ORDER BY name LIMIT ${r.nextInt(20) + 3}"
    case 18 => // record-link traversal (Fetch lowering: one equi-join/path)
      val proj = r.nextInt(5) match {
        case 0 => "buddy.name AS bn, buddy.qty AS bq"
        case 1 => s"(buddy.qty + ${intExpr(r, 1)}) AS t"
        case 2 => "buddy.{name, qty} AS b"
        case 3 => "buddy.buddy.name AS bbn"
        case _ => "string::uppercase(buddy.grp) AS bg"
      }
      val whereC = r.nextInt(3) match {
        case 0 => s" WHERE buddy.grp = '${('a' + r.nextInt(3)).toChar}'"
        case 1 => s" WHERE buddy.qty ${Seq("<", ">", "=")(r.nextInt(3))} ${r.nextInt(7)}"
        case _ => if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else ""
      }
      s"SELECT name, $proj FROM item$whereC ORDER BY name LIMIT ${r.nextInt(15) + 3}"
    case 11 => // casts over computed expressions
      val ce = r.nextInt(4) match {
        // <int> of a fractional float ERRORS (r20 cast sweep, Cast for
        // i64) — floor the operand so the generated query stays valid
        case 0 => s"<int> math::floor(${floatExpr(r, r.nextInt(2) + 1)}) AS x"
        case 1 => s"<float> ${intExpr(r, r.nextInt(2) + 1)} AS x"
        case 2 => s"<string> ${intExpr(r, 1)} AS x"
        case _ => s"<int> <float> ${intExpr(r, 1)} AS x"
      }
      s"SELECT name, $ce FROM item ORDER BY name LIMIT ${r.nextInt(10) + 3}"
    case 12 => // boolean projections
      s"SELECT name, ${boolExpr(r, r.nextInt(2))} AS p, !(${boolExpr(r, 1)}) AS np FROM item" +
        s" ORDER BY name LIMIT ${r.nextInt(15) + 3}"
    case 13 => // DESC / multi-key sorts over computed values
      val e = intExpr(r, 2)
      val dir = if (r.nextBoolean()) "DESC" else "ASC"
      s"SELECT name, qty, $e AS k FROM item ORDER BY k $dir, qty ${if (r.nextBoolean()) "DESC" else "ASC"}, name" +
        s" LIMIT ${r.nextInt(12) + 3}"
    case 14 => // GROUP ALL global aggregates
      val aggs = r.shuffle(Seq(
        "count() AS n",
        s"math::sum(${intExpr(r, 1)}) AS s",
        "math::max(num) AS mx",
        "math::min(price) AS mn",
        "math::mean(qty) AS m")).take(r.nextInt(3) + 1).mkString(", ")
      s"SELECT $aggs FROM item" +
        (if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else "") + " GROUP ALL"
    case 15 => // datetime arithmetic + comparisons
      val dur = Seq("1h", "30m", "2d", "90s", "1w")(r.nextInt(5))
      val op = if (r.nextBoolean()) "+" else "-"
      s"SELECT name, ts $op $dur AS t2 FROM item" +
        (if (r.nextBoolean())
          s" WHERE ts ${Seq("<", ">", "<=", ">=")(r.nextInt(4))} d'2024-0${r.nextInt(3) + 1}-15T00:00:00Z'"
        else "") +
        s" ORDER BY name LIMIT ${r.nextInt(10) + 3}"
    case 16 => // array HOFs with closures over row fields
      val proj = r.nextInt(4) match {
        case 0 => s"array::map(tags, |$$t| string::uppercase($$t)) AS m"
        case 1 => s"array::join(array::filter([1, 2, 3, 4, 5], |$$x| $$x > ${intExpr(r, 1)}), ',') AS f"
        case 2 => s"array::fold([1, 2, 3], ${r.nextInt(4)}, |$$a, $$x| $$a + $$x) + qty AS s"
        case _ => s"array::len(array::map(tags, |$$t| $$t + '_x')) AS n2"
      }
      s"SELECT name, $proj FROM item ORDER BY name LIMIT ${r.nextInt(10) + 3}"
    case 17 => // subquery membership
      val inner = s"SELECT VALUE ${if (r.nextBoolean()) "qty" else "num"} FROM item WHERE ${boolExpr(r, 1)}"
      val neg = if (r.nextBoolean()) "" else "NOT "
      s"SELECT name, qty FROM item WHERE ${if (r.nextBoolean()) "qty" else "num"} ${neg}INSIDE ($inner) ORDER BY name"
    case 0 | 1 => // arithmetic projection tree
      val e1 = intExpr(r, r.nextInt(3) + 1)
      val e2 = floatExpr(r, r.nextInt(2) + 1)
      s"SELECT name, $e1 AS a, $e2 AS b FROM item" +
        (if (r.nextBoolean()) s" WHERE ${boolExpr(r, r.nextInt(2))}" else "") +
        s" ORDER BY name LIMIT ${r.nextInt(20) + 3}"
    case 2 | 3 => // predicate combination — projection fixed, WHERE fuzzed
      s"SELECT name, qty, price FROM item WHERE ${boolExpr(r, r.nextInt(3))} ORDER BY name"
    case 4 => // string chain
      val e = strExpr(r, r.nextInt(3) + 1)
      s"SELECT name, $e AS s FROM item ORDER BY name LIMIT ${r.nextInt(10) + 3}"
    case 5 => // grouped aggregates
      val aggs = Seq(
        "count() AS n",
        s"math::sum(${intExpr(r, 1)}) AS s",
        s"math::max(${intExpr(r, 1)}) AS mx",
        s"math::min(qty) AS mn",
        "math::mean(qty) AS avg_q",
        "math::sum(price) AS sp")
      val chosen = r.shuffle(aggs).take(r.nextInt(3) + 1).mkString(", ")
      val key = r.nextInt(3) match {
        case 0 => "grp"
        case 1 => "qty"
        case _ => "grp, qty" // multi-key grouping
      }
      s"SELECT $key, $chosen FROM item" +
        (if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else "") +
        s" GROUP BY $key ORDER BY $key"
    case 6 => // LIMIT/START windows over a computed sort
      val e = intExpr(r, 2)
      s"SELECT name, $e AS k FROM item ORDER BY k, name" +
        s" LIMIT ${r.nextInt(10) + 2} START ${r.nextInt(8)}"
    case 7 => // time projections + predicate
      s"SELECT name, time::year(ts) AS y, time::month(ts) AS mo, time::day(ts) AS dd FROM item" +
        s" WHERE time::month(ts) ${Seq("=", "!=", ">", "<")(r.nextInt(4))} ${r.nextInt(3) + 1}" +
        " ORDER BY name"
    case 8 => // array ops over tags
      val proj = r.nextInt(4) match {
        case 0 => "array::len(tags) AS nt"
        case 1 => "array::sort(array::distinct(tags)) AS st"
        case 2 => s"array::at(tags, ${r.nextInt(2)}) AS t0"
        case _ => "array::join(tags, '-') AS j"
      }
      s"SELECT name, $proj FROM item" +
        (if (r.nextBoolean()) s" WHERE tags CONTAINS 't${r.nextInt(5)}'" else "") +
        s" ORDER BY name LIMIT ${r.nextInt(12) + 3}"
    case 9 => // record-id comparison semantics (`id` is a RECORD, not a number)
      val pred = r.nextInt(4) match {
        case 0 => s"id ${Seq("=", "!=", "<", "<=", ">", ">=")(r.nextInt(6))} item:${r.nextInt(35) + 1}"
        case 1 => s"id ${Seq("=", "!=", "<", ">")(r.nextInt(4))} ${r.nextInt(31)}"
        case 2 => s"id INSIDE [${(1 to r.nextInt(4) + 1).map(_ => s"item:${r.nextInt(35) + 1}").mkString(", ")}]"
        case _ => s"item:${r.nextInt(35) + 1} ${Seq("<", "<=", ">", ">=")(r.nextInt(4))} id"
      }
      val conj = if (r.nextBoolean()) s" AND ${boolExpr(r, 1)}" else ""
      s"SELECT name, qty FROM item WHERE ($pred)$conj ORDER BY name"
    case _ => // conditional + coalesce shapes
      val thn = r.nextInt(5); val cmp = r.nextInt(6)
      s"SELECT name, IF qty > $cmp THEN 'hi' ELSE 'lo' END AS c," +
        s" (NONE ?? ${intExpr(r, 1)}) AS q FROM item" +
        (if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else "") +
        s" ORDER BY name LIMIT ${thn + 3}"
  }

  private val N = sys.env.getOrElse("FUZZ_N", "200").toInt
  private val seed = sys.env.getOrElse("FUZZ_SEED", "20260814").toLong

  test(s"fuzz: $N generated queries agree across both engines") {
    val r = new scala.util.Random(seed)
    var failures = List.empty[String]
    (0 until N).foreach { i =>
      val q = genSelect(r)
      try checkSame(q)
      catch {
        case e: Throwable =>
          failures ::= s"[$i] ${e.getMessage}"
      }
    }
    assert(failures.isEmpty,
      s"${failures.length}/$N fuzz cases diverged:\n${failures.reverse.take(10).mkString("\n---\n")}")
  }

  /** Mutation scripts re-run the fixture on a FRESH interpreter (writes
    * would corrupt the shared one) against the Spark script executor. */
  private def checkScript(script: String): Unit = {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in.run(Parser.parse(profScript))
    in.run(Parser.parse(edgeScript))
    val ires = in.run(Parser.parse(script)).last
    val sdf = Tables.withOverlay(Map(
      "item" -> df, "prof" -> profDf, "likes" -> likesDf)) {
      SparkPlanner.script(spark, "/nonexistent", script)
    }
    val iv = ires match {
      case QOk(VArr(items)) => items
      case QOk(v)           => Vector(v)
      case QErr(m)          => fail(s"interp error: $m\n$script")
    }
    val srows = sdf.collect().map { r =>
      VObj(scala.collection.immutable.TreeMap(
        sdf.columns.zipWithIndex.map { case (c, i) => c -> toV(r.get(i)) }: _*))
    }.toVector
    val irows = iv.map {
      case VObj(m) => VObj(m)
      case v => VObj(scala.collection.immutable.TreeMap("value" -> v))
    }
    assert(srows.length == irows.length,
      s"row count differs: spark=${srows.length} interp=${irows.length}\n$script")
    srows.zip(irows).foreach { case (s0, i0) =>
      assert(s0.fields.keySet == i0.fields.keySet, s"columns differ\n$script")
      s0.fields.keySet.foreach { k =>
        val ok = (s0.fields(k), i0.fields(k)) match {
          case (VFloat(a), VFloat(b)) =>
            java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)
          // the Spark column model carries the raw record KEY
          case (sv, graft.surql.VRid(_, ik)) => sv == ik ||
            ((sv, ik) match {
              case (a: graft.surql.VNum, b: graft.surql.VNum) => a.toDouble == b.toDouble
              case _ => false
            })
          case (a: graft.surql.VNum, b: graft.surql.VNum) => a.toDouble == b.toDouble
          // the Spark column model renders an ABSENT field (NONE) as null
          case (graft.surql.VNull, graft.surql.VNone) => true
          case (a, b) => a == b
        }
        assert(ok, s"field $k differs: ${s0.fields(k).render} vs ${i0.fields(k).render}\n$script")
      }
    }
  }

  /** One generated mutation, as the scripts that check it: the mutation
    * followed by its select, and by a second select when one is drawn. */
  private def genScript(r: scala.util.Random): Seq[String] = {
    def freshCreate(k: Int, set: String = "") =
      s"CREATE item:$k SET grp = 'z', qty = ${r.nextInt(7)}, price = ${r.nextInt(50)}.5, " +
        s"num = $k, name = 'n$k', ts = d'2024-01-01T00:00:00Z', tags = ['t9']$set;"
    var select = "SELECT name, grp, qty, price FROM item ORDER BY name;"
    var extra = Option.empty[String]
    val mut = r.nextInt(26) match {
      case 25 =>
        // r16: DEFINE/ALTER/REMOVE FUNCTION — expression bodies inline at
        // plan time on the Spark path (define/function.rs); the same
        // script must agree value-for-value with the interpreter
        val bodies = Seq(
          "$x * 2 + 1", "$x + $x", "math::floor($x / 2)",
          s"$$x * ${r.nextInt(9) + 1}", "math::abs($x - 10)")
        val b0 = bodies(r.nextInt(bodies.length))
        val b1 = bodies(r.nextInt(bodies.length))
        select = "SELECT name, fn::fz(qty) AS v FROM item ORDER BY name;"
        r.nextInt(4) match {
          case 0 =>
            s"DEFINE FUNCTION fn::fz($$x: number) { RETURN $b0 };"
          case 1 =>
            s"""DEFINE FUNCTION fn::fz($$x: number) { RETURN $b0 };
                ALTER FUNCTION fn::fz ($$x: number) { RETURN $b1 };"""
          case 2 =>
            // nested user functions
            s"""DEFINE FUNCTION fn::inner($$x: number) { RETURN $b0 };
                DEFINE FUNCTION fn::fz($$x: number) { RETURN fn::inner($$x) + 1 };"""
          case _ =>
            // r17: pure LET-sequence body — LET bindings then RETURN lower
            // by symbolic sequential substitution on the Spark path
            s"""DEFINE FUNCTION fn::fz($$x: number) {
                  LET $$a = $b0;
                  LET $$b = $$a + ${r.nextInt(5)};
                  RETURN $$a + $$b
                };"""
        }
      case 24 =>
        // r16: DEFINE/ALTER ANALYZER + SEARCH index (+ REBUILD) + `@@` —
        // the chain must resolve identically on both paths, and an ALTER
        // mid-script must re-key the postings (alter/analyzer.rs,
        // rebuild.rs). Chains draw from the supported static filter set.
        val chains = Seq("lowercase", "lowercase, edgengram(2, 3)",
          "lowercase, snowball(english)", "uppercase", "lowercase, ngram(2, 2)")
        val c0 = chains(r.nextInt(chains.length))
        val c1 = chains(r.nextInt(chains.length))
        val q = Seq(s"N0${r.nextInt(9) + 1}", "n0", "Z", "n1", "n23")(r.nextInt(5))
        select = s"SELECT name FROM item WHERE name @@ '$q' ORDER BY name;"
        val alter =
          if (r.nextBoolean())
            s"""ALTER ANALYZER az TOKENIZERS blank FILTERS $c1;
                REBUILD INDEX fz ON item;"""
          else ""
        // r17: FUNCTION analyzers compose on the Spark path — the fn::
        // pre-transform inlines into the postings build and rhs analysis
        val fnClause =
          if (r.nextInt(3) == 0) " FUNCTION fn::fpre" else ""
        val fnDef =
          if (fnClause.nonEmpty)
            s"DEFINE FUNCTION fn::fpre($$t: string) { RETURN string::replace($$t, '${r.nextInt(10)}', 'q') };\n"
          else ""
        s"""${fnDef}DEFINE ANALYZER az$fnClause TOKENIZERS blank FILTERS $c0;
            DEFINE INDEX fz ON item FIELDS name SEARCH ANALYZER az BM25;
            $alter"""
      case 23 =>
        // ALTER FIELD mid-script re-points the enforcement pipeline for
        // every LATER mutation (expr/statements/alter.rs)
        r.nextInt(3) match {
          case 0 =>
            s"""DEFINE FIELD qty ON item TYPE int ASSERT $$value < ${r.nextInt(5) + 3};
                ALTER FIELD qty ON item DROP ASSERT;
                UPDATE item SET qty = ${r.nextInt(300) + 100} WHERE name = 'n0${r.nextInt(9) + 1}';"""
          case 1 =>
            s"""DEFINE FIELD qty ON item VALUE $$value * 2;
                ALTER FIELD qty ON item VALUE $$value + ${r.nextInt(900) + 100};
                UPDATE item SET qty = ${r.nextInt(9)} WHERE qty = ${r.nextInt(7)};"""
          case _ =>
            select = "SELECT name, qty, opt FROM item ORDER BY name;"
            s"""DEFINE FIELD opt ON item DEFAULT ${r.nextInt(10)};
                ALTER FIELD opt ON item DEFAULT ${r.nextInt(50) + 20};
                ${freshCreate(r.nextInt(40) + 31)}"""
        }
      case 22 =>
        // ON DELETE referential actions over the buddy link; CASCADE
        // first breaks the fixture's buddy cycle (a cycle ends where it
        // returns to the deleted record, so it would delete every item)
        val k = r.nextInt(30) + 1
        r.nextInt(3) match {
          case 0 =>
            select = "SELECT name, buddy FROM item ORDER BY name;"
            s"""DEFINE FIELD buddy ON item REFERENCE ON DELETE UNSET;
                DELETE item:$k;"""
          case 1 =>
            select = "SELECT count() AS n FROM item GROUP ALL;"
            val a = (k % 30) + 1
            s"""DEFINE FIELD buddy ON item REFERENCE ON DELETE CASCADE;
                UPDATE item SET buddy = NONE;
                UPDATE item:$k SET buddy = item:$a;
                DELETE item:$a;"""
          case _ =>
            select = s"SELECT name FROM item WHERE buddy = item:$k ORDER BY name;"
            s"""DEFINE FIELD buddy ON item REFERENCE ON DELETE IGNORE;
                DELETE item:$k;"""
        }
      case 21 =>
        // RELATE (explicit and generated edge ids, under DEFINE FIELD) and
        // the DELETE edge purge — graph writes inside a transaction
        val a = r.nextInt(30) + 1; val b = r.nextInt(30) + 1
        r.nextInt(4) match {
          case 0 =>
            select = "SELECT w FROM likes WHERE w >= 900 ORDER BY w;"
            s"RELATE item:$a->likes:`zf${a}x$b`->item:$b SET w = ${900 + r.nextInt(50)};"
          case 3 =>
            // a RELATE edge passes the edge table's field pipeline
            select = "SELECT w FROM likes WHERE w >= 900 ORDER BY w;"
            s"""DEFINE FIELD w ON likes VALUE $$value * ${r.nextInt(3) + 2};
                RELATE item:$a->likes:`zv${a}x$b`->item:$b SET w = ${450 + r.nextInt(50)};"""
          case 1 =>
            select = "SELECT count() AS n FROM likes WHERE id != NONE GROUP ALL;"
            s"RELATE item:$a->likes->item:$b SET w = ${950 + r.nextInt(50)};"
          case _ =>
            select = "SELECT count() AS n FROM likes GROUP ALL;"
            s"DELETE item:$a;"
        }
      case 20 =>
        // bare-table UPSERT: updates WHERE matches, or creates ONE
        // generated-id record when none match — both engines must pick the
        // same arm and (create case) generate a non-NONE id
        val q = r.nextInt(7)
        if (r.nextBoolean())
          s"UPSERT item SET qty = ${q + 600} WHERE qty = $q;" // usually touches
        else {
          select =
            "SELECT count() AS n FROM item WHERE qty >= 600 AND id != NONE GROUP ALL;"
          s"UPSERT item SET grp = 'nu', qty = ${q + 650}, price = 1.5, name = 'nu$q' WHERE qty = ${q + 9000};"
        }
      case 19 =>
        // keyless INSERT/CREATE: both engines GENERATE record ids — the
        // observable contract is the row landing with a non-NONE id,
        // never the id value (random on both sides)
        val q1 = r.nextInt(9) + 300
        select =
          "SELECT name, qty FROM item WHERE id != NONE AND qty >= 300 ORDER BY name, qty;"
        r.nextInt(3) match {
          case 0 => s"INSERT INTO item { grp: 'g', qty: $q1, price: 1.5, name: 'zk${r.nextInt(5)}' };"
          case 1 =>
            s"""INSERT INTO item [
                  { grp: 'g', qty: $q1, price: 1.5, name: 'zk1' },
                  { grp: 'h', qty: ${q1 + 1}, price: 2.5, name: 'zk2' }];"""
          case _ => s"CREATE item SET grp = 'g', qty = $q1, price = 3.5, name = 'zc${r.nextInt(5)}';"
        }
      case 17 =>
        // ON DUPLICATE with $input: the update arm reads the INCOMING row
        val k = r.nextInt(60) + 1 // ~half existing, half fresh
        s"""INSERT INTO item [
              { id: $k, grp: 'q', qty: ${r.nextInt(9)}, price: ${r.nextInt(20)}.5, name: 'zQ$k' }]
            ON DUPLICATE KEY UPDATE qty = $$input.qty + ${r.nextInt(5) + 1}, grp = 'D';"""
      case 18 =>
        // INSERT IGNORE vs a unique index: conflicting rows SKIP (never
        // error); fresh non-conflicting rows land
        val dup = r.nextInt(30) + 1
        val k = r.nextInt(40) + 31
        s"""DEFINE INDEX name_u ON item FIELDS name UNIQUE;
            INSERT IGNORE INTO item [
              { id: ${k + 60}, grp: 'x', qty: 1, price: 1.5, name: 'n${f"$dup%02d"}' },
              { id: $k, grp: 'y', qty: 2, price: 2.5, name: 'zN$k' }];"""
      case 15 =>
        // field pipeline over NESTED and array-wildcard paths on prof —
        // VALUE recompute / passing ASSERT fan over struct slots and every
        // array element (SELECT keeps the piped columns observable: the
        // Spark overlay surfaces pipeline effects lazily)
        select = "SELECT id, meta, score, hist FROM prof ORDER BY id;"
        r.nextInt(3) match {
          case 0 =>
            s"""DEFINE FIELD meta.a ON prof VALUE $$value + ${r.nextInt(5) + 1};
                UPDATE prof SET score = score + 1 WHERE score ${Seq("<", ">")(r.nextInt(2))} ${r.nextInt(60)};"""
          case 1 =>
            s"""DEFINE FIELD hist.*.p ON prof VALUE $$value * ${r.nextInt(3) + 2};
                UPDATE prof SET score = score + ${r.nextInt(4)} WHERE meta.a > ${r.nextInt(8)};"""
          case _ =>
            s"""DEFINE FIELD hist.*.q ON prof ASSERT $$value < 1000;
                UPDATE prof SET hist = [{ q: ${r.nextInt(900)}, p: ${r.nextInt(50)} }] WHERE score = ${(r.nextInt(12) + 1) * 5};"""
        }
      case 16 =>
        // TYPE coercion / passing ASSERT / unchanged READONLY on item
        r.nextInt(3) match {
          case 0 =>
            s"""DEFINE FIELD qty ON item TYPE number ASSERT $$value >= 0;
                UPDATE item SET qty = qty + ${r.nextInt(5)} WHERE ${boolExpr(r, 1)};"""
          case 1 =>
            s"""DEFINE FIELD grp ON item READONLY;
                UPDATE item SET qty = ${r.nextInt(30)} WHERE ${boolExpr(r, 1)};"""
          case _ =>
            s"""DEFINE FIELD price ON item TYPE float;
                UPDATE item SET price = ${r.nextInt(40)} WHERE ${boolExpr(r, 1)};"""
        }
      case 14 =>
        // intra-batch duplicate record ids: IGNORE keeps the first
        // occurrence; ON DUPLICATE routes later occurrences through the
        // update arm once each (sequential row semantics)
        val k = r.nextInt(60) + 1 // ~half existing (1..30), half fresh
        if (r.nextBoolean())
          s"""INSERT IGNORE INTO item [
                { id: $k, grp: 'x', qty: ${r.nextInt(9)}, price: 1.5, name: 'zA$k' },
                { id: $k, grp: 'y', qty: 99, price: 2.5, name: 'zB$k' }];"""
        else {
          // each application fires its own UPDATE events, counted by a
          // second check of the same script
          val events = r.nextBoolean()
          if (events) extra = Some("SELECT score FROM prof WHERE score = 998;")
          (if (events) "DEFINE EVENT ev ON item WHEN $event = 'UPDATE' THEN " +
            "(CREATE prof SET score = 998);\n" else "") +
          s"""INSERT INTO item [
                { id: $k, grp: 'x', qty: ${r.nextInt(5)}, price: 1.5, name: 'zA$k' },
                { id: $k, grp: 'y', qty: ${r.nextInt(5)}, price: 2.5, name: 'zB$k' },
                { id: ${r.nextInt(40) + 91}, grp: 'z', qty: 1, price: 3.5, name: 'zC$k' }]
              ON DUPLICATE KEY UPDATE qty += ${r.nextInt(3) + 1};"""
        }
      case 13 =>
        // nested struct writes on the prof table
        select = "SELECT id, meta, score FROM prof ORDER BY id;"
        r.nextInt(4) match {
          case 0 => s"UPDATE prof SET meta.a = meta.a + ${r.nextInt(9) + 1} WHERE score ${Seq("<", ">")(r.nextInt(2))} ${r.nextInt(60)};"
          case 1 => s"UPDATE prof SET meta.b = string::uppercase(meta.b), score = score + 1 WHERE meta.a ${Seq("<", ">")(r.nextInt(2))} ${r.nextInt(12)};"
          case 2 => s"UPDATE prof MERGE { meta: { a: ${r.nextInt(50)} } } WHERE meta.b = 'x${r.nextInt(4)}';"
          case _ => s"UPDATE prof SET meta.a = 0, meta.b = 'z${r.nextInt(5)}' WHERE meta.b = 'x${r.nextInt(4)}';"
        }
      case 11 =>
        // object-literal INSERT (single or array), fresh ids
        val k1 = r.nextInt(40) + 31
        val k2 = k1 + 50
        if (r.nextBoolean())
          s"INSERT INTO item { id: $k1, grp: 'i', qty: ${r.nextInt(9)}, price: ${r.nextInt(30)}.5, name: 'n$k1' };"
        else
          s"""INSERT INTO item [
                { id: $k1, grp: 'i', qty: ${r.nextInt(9)}, price: ${r.nextInt(30)}.5, name: 'n$k1' },
                { id: $k2, grp: 'j', qty: ${r.nextInt(9)}, price: ${r.nextInt(30)}.5, name: 'n$k2' }];"""
      case 12 =>
        // INSERT IGNORE over a mix of existing and fresh ids
        val dup = r.nextInt(30) + 1
        val k = r.nextInt(40) + 31
        s"""INSERT IGNORE INTO item [
              { id: $dup, grp: 'x', qty: 99, price: 9.5, name: 'nDUP' },
              { id: $k, grp: 'i', qty: ${r.nextInt(9)}, price: ${r.nextInt(30)}.5, name: 'n$k' }];"""
      case 7 =>
        // UPSERT: point target, update arm for existing ids, insert arm for
        // fresh ones (~half the draws each)
        val k = r.nextInt(60) + 1
        s"UPSERT item:$k SET qty = ${r.nextInt(9)}, grp = 'u', price = ${r.nextInt(30)}.25, name = 'n$k';"
      case 8 =>
        // UNSET / flat PATCH data clauses
        select = "SELECT name, qty, opt FROM item ORDER BY name;"
        if (r.nextBoolean())
          s"UPDATE item UNSET opt WHERE ${boolExpr(r, 1)};"
        else
          s"UPDATE item PATCH [{ op: 'replace', path: '/qty', value: ${r.nextInt(50)} }," +
            s" { op: 'remove', path: '/opt' }] WHERE ${boolExpr(r, 1)};"
      case 9 =>
        // MERGE partial-object writes
        s"UPDATE item MERGE { qty: ${r.nextInt(40)}, grp: '${('a' + r.nextInt(3)).toChar}' } WHERE ${boolExpr(r, 1)};"
      case 10 =>
        // two chained mutations: the second reads THROUGH the first's overlay
        s"""UPDATE item SET qty = qty + ${r.nextInt(3) + 1} WHERE ${boolExpr(r, 1)};
            DELETE item WHERE qty > ${r.nextInt(20) + 30};"""
      case 0 => s"UPDATE item SET qty = ${intExpr(r, 1)} WHERE ${boolExpr(r, 1)};"
      case 1 => s"UPDATE item SET price = ${floatExpr(r, 1)}, qty = qty + ${r.nextInt(5) + 1} WHERE ${boolExpr(r, 1)};"
      case 2 => s"DELETE item WHERE ${boolExpr(r, 1)};"
      case 3 =>
        // DEFINE FIELD VALUE: recomputes for every written row — including
        // rows whose SET doesn't mention the field (doc/field.rs)
        val m = r.nextInt(3) + 2
        val touch = if (r.nextBoolean()) s"qty = qty + ${r.nextInt(3) + 1}"
                    else s"price = ${floatExpr(r, 1)}"
        s"""DEFINE FIELD qty ON item VALUE $$value * $m;
            UPDATE item SET $touch WHERE ${boolExpr(r, 1)};"""
      case 4 =>
        // DEFAULT fills the sparse `opt` field on CREATE only
        val k = r.nextInt(40) + 31
        select = "SELECT name, qty, opt FROM item ORDER BY name;"
        s"""DEFINE FIELD opt ON item DEFAULT ${r.nextInt(20)};
            ${freshCreate(k)}"""
      case 5 =>
        // UNIQUE index over the (unique) name column: build scans pass,
        // the fresh CREATE's write probe passes
        val k = r.nextInt(40) + 31
        s"""DEFINE INDEX name_u ON item FIELDS name UNIQUE;
            ${freshCreate(k)}"""
      case _ =>
        val k = r.nextInt(40) + 31
        freshCreate(k)
    }
    (select +: extra.toSeq).map(sel => s"""$mut
        $sel""")
  }

  private val NS = sys.env.getOrElse("FUZZ_NS", "60").toInt

  // RELATE in transactions and the DELETE edge purge (doc/purge.rs) —
  // deterministic pins; the generated-id RELATE asserts the invariant
  // (edge lands, id non-NONE), never the random id value
  private val graphScripts = Seq(
    """RELATE item:3->likes:`znew1`->item:9 SET w = 900;
       SELECT w FROM likes WHERE w >= 900 ORDER BY w;""",
    """RELATE item:4->likes->item:8 SET w = 901;
       SELECT count() AS n FROM likes WHERE w = 901 AND id != NONE GROUP ALL;""",
    """DELETE item:5;
       SELECT count() AS n FROM likes GROUP ALL;""",
    """RELATE item:2->likes:`zgone`->item:6 SET w = 902;
       DELETE item:6;
       SELECT count() AS n FROM likes WHERE w = 902 GROUP ALL;""",
    """DELETE item WHERE qty = 3;
       SELECT count() AS n FROM likes GROUP ALL;""",
    // keyless INSERT RELATION generates an edge id
    """INSERT RELATION INTO likes { in: item:7, out: item:9, w: 903 };
       SELECT count() AS n FROM likes WHERE w = 903 AND id != NONE GROUP ALL;""",
    // graph traversal reads THROUGH the transaction's RELATE overlay
    """RELATE item:1->likes:`znew2`->item:3 SET w = 905;
       SELECT count(->likes->item) AS n FROM item:1;""")

  graphScripts.zipWithIndex.foreach { case (q, i) =>
    test(s"graph-script[$i]: ${q.linesIterator.next().trim.take(60)}") {
      checkScript(q)
    }
  }

  /** Runs `script` on a fresh fixture interpreter and on the Spark script
    * executor; returns the interpreter's last result and the Spark rows, or
    * the Spark error message. */
  private def runBoth(script: String): (graft.surql.QueryResult,
      Either[String, Seq[org.apache.spark.sql.Row]]) = {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in.run(Parser.parse(profScript))
    in.run(Parser.parse(edgeScript))
    val ires = in.run(Parser.parse(script)).last
    val sres = scala.util.Try(Tables.withOverlay(Map(
      "item" -> df, "prof" -> profDf, "likes" -> likesDf)) {
      SparkPlanner.script(spark, "/nonexistent", script).collect().toSeq
    }).toEither.left.map(_.getMessage)
    (ires, sres)
  }

  /** Both engines reject `script` with an error that contains `expected`. */
  private def checkBothError(script: String, expected: String): Unit = {
    val (ires, sres) = runBoth(script)
    ires match {
      case QErr(m) => assert(m.contains(expected), s"interp: $m\n$script")
      case other => fail(s"interp did not reject: $other\n$script")
    }
    sres match {
      case Left(m) => assert(m.contains(expected), s"spark: $m\n$script")
      case Right(rows) => fail(s"spark did not reject: $rows\n$script")
    }
  }

  // Every new record takes one create path (doc/mod.rs lifecycle): a RELATE
  // edge and an event's THEN CREATE row pass the field pipeline, the unique
  // indexes and the key generator like a CREATE, on both engines
  private val createScripts = Seq(
    """DEFINE FIELD w ON likes VALUE $value * 2;
       RELATE item:3->likes:`zq1`->item:9 SET w = 450;
       SELECT w FROM likes WHERE w >= 450 ORDER BY w;""",
    """DEFINE FIELD qty ON item VALUE $value * 2;
       DEFINE EVENT ev ON prof WHEN $event = 'UPDATE' THEN (
         CREATE item SET grp = 'ev', qty = 5, name = 'ev');
       UPDATE prof:1 SET score = 7;
       SELECT name, qty FROM item WHERE grp = 'ev';""")

  createScripts.zipWithIndex.foreach { case (q, i) =>
    test(s"create-script[$i]: ${q.linesIterator.next().trim.take(60)}") {
      checkScript(q)
    }
  }

  test("create-script: a keyless event THEN CREATE generates the record id on both engines") {
    val (ires, sres) = runBoth(
      """DEFINE EVENT ev ON prof WHEN $event = 'UPDATE' THEN (
           CREATE item SET grp = 'ev', qty = $after.score, name = 'ev');
         UPDATE prof:1 SET score = 7;
         UPDATE prof:2 SET score = 8;
         SELECT id, qty FROM item WHERE grp = 'ev' ORDER BY qty;""")
    val ids = ires match {
      case QOk(VArr(docs)) => docs.map { case VObj(m) => m("id") }
      case other => fail(s"interp: $other")
    }
    assert(ids.length == 2 && ids.forall(_.isInstanceOf[graft.surql.VRid]), s"interp ids $ids")
    val rows = sres.fold(m => fail(s"spark: $m"), identity)
    assert(rows.map(_.getLong(1)) == Seq(7L, 8L), s"spark rows $rows")
    assert(rows.forall(!_.isNullAt(0)) && rows.map(_.get(0)).distinct.length == 2,
      s"spark ids $rows")
  }

  test("create-script: RELATE runs the ASSERT clause on both engines") {
    checkBothError(
      """DEFINE FIELD w ON likes ASSERT $value < 100;
         RELATE item:3->likes:`zq2`->item:9 SET w = 450;""",
      "Found 450 for field `w`, with record `likes:zq2`, but field must conform to: $value < 100")
  }

  test("create-script: RELATE checks the unique indexes on both engines") {
    checkBothError(
      """DEFINE INDEX wu ON likes FIELDS w UNIQUE;
         RELATE item:3->likes:`zq3`->item:9 SET w = 1;""",
      "Database index `wu` already contains 1, with record `likes:e1x8x1`")
  }

  test("create-script: a duplicate INSERT RELATION id is named as the interpreter names it") {
    checkBothError(
      """INSERT RELATION INTO likes [
           { id: 'a-b', in: item:1, out: item:2, w: 1000 },
           { id: 'a-b', in: item:2, out: item:3, w: 1001 }];""",
      "Database record `likes:`a-b`` already exists")
  }

  test("create-script: an event THEN CREATE over a taken id fails on both engines") {
    // stored already, and given by two fired changes
    checkBothError(
      """DEFINE EVENT ev ON prof WHEN $event = 'UPDATE' THEN (
           CREATE item SET id = 2, grp = 'ev', qty = 5, name = 'ev');
         UPDATE prof:1 SET score = 7;""",
      "Database record `item:2` already exists")
    checkBothError(
      """DEFINE EVENT ev ON prof WHEN $event = 'UPDATE' THEN (
           CREATE item SET id = 99, grp = 'ev', qty = 5, name = 'ev');
         UPDATE prof SET score = 7 WHERE score <= 10;""",
      "Database record `item:99` already exists")
  }

  // Every write runs one lifecycle (doc/mod.rs): an update through INSERT's
  // ON DUPLICATE arm passes the unique indexes, and a CASCADE victim is
  // removed like a named DELETE, its graph edges purged
  test("write-script: INSERT ON DUPLICATE KEY UPDATE checks the unique indexes on both engines") {
    checkBothError(
      """DEFINE INDEX nu ON item FIELDS name UNIQUE;
         INSERT INTO item { id: 1, name: 'n01' } ON DUPLICATE KEY UPDATE name = 'n02';""",
      // the stored item:2 holds the value, not the updated item:1
      "Database index `nu` already contains 'n02', with record `item:2`")
  }

  // Every update of a stored record runs one update step (doc/mod.rs):
  // UPDATE, UPSERT and each ON DUPLICATE application keep the record id and
  // an edge's endpoints, and fire their own events
  private val idMoved = "Found item:77 for the `id` field, but a specific record has been specified"

  /** `script` leaves the edge likes:e1x8x1 (item:1 -> item:8, w = 1) with
    * its endpoints and `w` as given, on both engines. */
  private def checkEdge(script: String, w: Long): Unit = {
    val (ires, sres) = runBoth(script + "\nSELECT in, out, w FROM likes:e1x8x1;")
    assert(ires == QOk(VArr(Vector(V.obj("in" -> graft.surql.VRid("item", VInt(1)),
      "out" -> graft.surql.VRid("item", VInt(8)), "w" -> VInt(w))))), s"interp: $ires")
    val rows = sres.fold(m => fail(s"spark: $m"), identity)
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) == Seq((1L, 8L, w)),
      s"spark rows $rows")
  }

  test("update-script: UPDATE and UPSERT keep the record id on both engines") {
    checkBothError("UPDATE item:3 SET id = item:77;", idMoved)
    checkBothError("UPSERT item:3 SET id = item:77;", idMoved)
    checkBothError(
      "UPDATE item:3 PATCH [{ op: 'replace', path: '/id', value: item:77 }];", idMoved)
    // CONTENT, REPLACE and MERGE keep the stored id
    checkScript("""UPDATE item:3 CONTENT { id: item:77, qty: 1, name: 'c3' };
                   UPDATE item:4 REPLACE { id: item:77, qty: 2, name: 'r4' };
                   UPDATE item:5 MERGE { id: item:77, qty: 3 };
                   SELECT id, name, qty FROM item WHERE qty <= 3 ORDER BY id;""")
  }

  test("update-script: UPDATE and UPSERT keep an edge's endpoints on both engines") {
    checkEdge("""UPDATE likes:e1x8x1 SET in = item:5, w = 2;
                 UPSERT likes:e1x8x1 SET out = item:6, w = 3;""", 3)
  }

  test("update-script: ON DUPLICATE keeps the record id and an edge's endpoints on both engines") {
    checkBothError(
      "INSERT INTO item { id: 3, qty: 1 } ON DUPLICATE KEY UPDATE id = item:77;", idMoved)
    checkEdge("""INSERT RELATION INTO likes { id: 'e1x8x1', in: item:1, out: item:8, w: 9 }
                   ON DUPLICATE KEY UPDATE in = item:7, w = w * 10;""", 10)
  }

  test("update-script: ON DUPLICATE fires its events once per application on both engines") {
    val (ires, sres) = runBoth(
      """DEFINE EVENT ev ON item WHEN $event = 'UPDATE' THEN (CREATE prof SET score = 998);
         INSERT INTO item [{ id: 3, qty: 1 }, { id: 3, qty: 2 }, { id: 95, qty: 1 },
           { id: 95, qty: 4 }] ON DUPLICATE KEY UPDATE qty += 7;
         SELECT score FROM prof WHERE score = 998;""")
    ires match {
      case QOk(VArr(docs)) => assert(docs.length == 3, s"interp: $ires")
      case other => fail(s"interp: $other")
    }
    assert(sres.fold(m => fail(s"spark: $m"), identity).length == 3, s"spark: $sres")
  }

  test("update-script: an UPDATE event's THEN CREATE into the written table is kept on both engines") {
    val event = "DEFINE EVENT ev ON item WHEN $event = 'UPDATE' THEN " +
      "(CREATE item SET name = 'ev', qty = 0);\n"
    val count = "\nSELECT count() AS n FROM item WHERE name = 'ev' GROUP ALL;"
    val state = "\nSELECT name, qty FROM item WHERE name != 'ev' ORDER BY name;"
    // two applications to a stored key, one to a created key; and UPSERT's
    // update arm, whose create arm writes the table after it
    Seq(
      """INSERT INTO item [{ id: 3, qty: 1 }, { id: 3, qty: 2 }, { id: 95, qty: 1, name: 'n95' },
           { id: 95, qty: 4 }] ON DUPLICATE KEY UPDATE qty += 7;""",
      "UPSERT item:3 SET qty = 50;").foreach { w =>
      checkScript(event + w + count)
      checkScript(event + w + state)
    }
  }

  test("update-script: a generated-id ON DUPLICATE updates the unique index's holder on both engines") {
    checkScript(
      """DEFINE INDEX nu ON item FIELDS name UNIQUE;
         INSERT INTO item { name: 'n02', qty: 1 } ON DUPLICATE KEY UPDATE qty = 500;
         SELECT id, name, qty FROM item WHERE qty >= 500 OR name = 'n02';""")
  }

  test("write-script: a CASCADE victim's likes edges are purged on both engines") {
    // item:5 references item:6 through `buddy`; item:4 no longer
    // references item:5, so the cascade stops there. Deleting item:6 purges
    // its three edges; the victim item:5 sheds `e22x5x22` too.
    val (ires, sres) = runBoth(
      """UPDATE item:4 SET buddy = NONE;
         DEFINE FIELD buddy ON item REFERENCE ON DELETE CASCADE;
         DELETE item:6;
         SELECT count() AS n FROM likes GROUP ALL;""")
    assert(ires == QOk(VArr(Vector(V.obj("n" -> VInt(41))))), s"interp: $ires")
    val rows = sres.fold(m => fail(s"spark: $m"), identity)
    assert(rows.map(_.getLong(0)) == Seq(41L), s"spark rows $rows")
  }

  // Every delete runs one remove step (doc/purge.rs): a CASCADE back into
  // a record the statement is removing ends the cycle, and a purged edge
  // runs its referrers' ON DELETE actions like a named DELETE
  private val cycleScripts = Seq(
    // item:7 references itself
    """UPDATE item SET buddy = NONE;
       UPDATE item:7 SET buddy = item:7;
       DEFINE FIELD buddy ON item REFERENCE ON DELETE CASCADE;
       DELETE item:7;
       SELECT count() AS n FROM item GROUP ALL;""" -> 29L,
    // item:7 and item:8 reference each other
    """UPDATE item SET buddy = NONE;
       UPDATE item:7 SET buddy = item:8;
       UPDATE item:8 SET buddy = item:7;
       DEFINE FIELD buddy ON item REFERENCE ON DELETE CASCADE;
       DELETE item:7;
       SELECT count() AS n FROM item GROUP ALL;""" -> 28L)

  cycleScripts.zipWithIndex.foreach { case ((q, n), i) =>
    test(s"remove-script[$i]: a cyclic CASCADE ends on both engines") {
      val (ires, sres) = runBoth(q)
      assert(ires == QOk(VArr(Vector(V.obj("n" -> VInt(n))))), s"interp: $ires")
      val rows = sres.fold(m => fail(s"spark: $m"), identity)
      assert(rows.map(_.getLong(0)) == Seq(n), s"spark rows $rows")
    }
  }

  test("remove-script: a DELETE whose record references itself returns it on both engines") {
    // item:7 and item:8 both reference item:7: the CASCADE removes item:8
    // and leaves item:7 to the DELETE itself
    val (ires, sres) = runBoth(
      """UPDATE item SET buddy = NONE;
         UPDATE item:7 SET buddy = item:7;
         UPDATE item:8 SET buddy = item:7;
         DEFINE FIELD buddy ON item REFERENCE ON DELETE CASCADE;
         DELETE item:7 RETURN VALUE $before.name;""")
    assert(ires == QOk(VArr(Vector(VStr("n07")))), s"interp: $ires")
    val rows = sres.fold(m => fail(s"spark: $m"), identity)
    assert(rows.map(_.getString(0)) == Seq("n07"), s"spark rows $rows")
  }

  test("remove-script: a purged edge runs its referrers' ON DELETE actions on both engines") {
    // deleting item:1 purges `e1x8x1`: prof:1 references it with CASCADE,
    // prof:2 with UNSET; prof:3's edge `e2x15x2` is not purged
    val (ires, sres) = runBoth(
      """UPDATE prof:1 SET fav = likes:`e1x8x1`;
         UPDATE prof:2 SET pin = likes:`e1x8x1`;
         UPDATE prof:3 SET pin = likes:`e2x15x2`;
         DEFINE FIELD fav ON prof TYPE option<record<likes>> REFERENCE ON DELETE CASCADE;
         DEFINE FIELD pin ON prof TYPE option<record<likes>> REFERENCE ON DELETE UNSET;
         DELETE item:1;
         SELECT id, pin FROM prof WHERE id <= prof:3 ORDER BY id;""")
    assert(ires == QOk(VArr(Vector(
      V.obj("id" -> graft.surql.VRid("prof", VInt(2)), "pin" -> graft.surql.VNone),
      V.obj("id" -> graft.surql.VRid("prof", VInt(3)),
        "pin" -> graft.surql.VRid("likes", VStr("e2x15x2")))))), s"interp: $ires")
    val rows = sres.fold(m => fail(s"spark: $m"), identity)
    assert(rows.map(r => (r.getLong(0), Option(r.getString(1)))) ==
      Seq((2L, None), (3L, Some("e2x15x2"))), s"spark rows $rows")
  }

  // `@{n..m}` recursion over `likes`: even items have out-degree 2, item:30
  // has a double edge to item:1, and the graph has cycles, so frontiers
  // branch, merge and revisit nodes (the registry rows walk a linear chain)
  private val recursionQueries = Seq(
    "SELECT id, array::sort(@{1..3}(->likes->item)) AS r FROM item ORDER BY id",
    "SELECT id, array::sort(@{2..4}(->likes->item)) AS r FROM item ORDER BY id",
    "SELECT id, array::sort(@{3}(->likes->item)) AS r FROM item ORDER BY id",
    "SELECT id, array::sort(@{1..3+collect}(->likes->item)) AS r FROM item ORDER BY id",
    "SELECT id, array::sort(@{1..3+path}(->likes->item)) AS r FROM item ORDER BY id",
    "SELECT id, @{1..6+shortest=item:9}(->likes->item) AS r FROM item " +
      "WHERE id INSIDE [item:1, item:6, item:14, item:19, item:29] ORDER BY id")

  recursionQueries.zipWithIndex.foreach { case (q, i) =>
    test(s"recursion[$i]: ${q.drop(11).take(48)}") { checkSame(q) }
  }

  // Known divergences, kept visible as pending until the engines agree
  test("recursion divergence: Spark orders elements by key, Interp by traversal") {
    pendingUntilFixed {
      checkSame("SELECT id, @{1..3}(->likes->item) AS r FROM item:1")
    }
  }

  test("recursion divergence: +inclusive starts with the start document on Interp, its key on Spark") {
    pendingUntilFixed {
      checkSame("SELECT id, @{1..3+collect+inclusive}(->likes->item) AS r FROM item:1")
    }
  }

  test("recursion divergence: +shortest with the target out of reach is [] on Spark, max-depth paths on Interp") {
    pendingUntilFixed {
      checkSame("SELECT id, @{1..6+shortest=item:9}(->likes->item) AS r FROM item:7")
    }
  }

  test("object::extend/remove + json::encode over struct columns agree") {
    checkSame("SELECT score, object::remove(meta, 'b') AS m1, " +
      "object::extend(meta, { c: score }) AS m2, " +
      "encoding::json::encode(meta) AS j " +
      "FROM prof ORDER BY score LIMIT 6")
  }

  // PATCH (expr/operation.rs) incl. NESTED paths — the Spark path rebuilds
  // struct columns through withField/dropFields
  private val patchScripts = Seq(
    """UPDATE prof:1 PATCH [{ op: 'replace', path: '/score', value: 77 }];
       SELECT score FROM prof:1;""",
    """UPDATE prof:2 PATCH [{ op: 'replace', path: '/meta/a', value: 99 }];
       SELECT meta.a AS a, meta.b AS b FROM prof:2;""",
    """UPDATE prof:3 PATCH [{ op: 'add', path: '/meta/a', value: 41 },
                            { op: 'replace', path: '/meta/b', value: 'zz' }];
       SELECT meta.a AS a, meta.b AS b FROM prof:3;""")

  patchScripts.zipWithIndex.foreach { case (q, i) =>
    test(s"patch-script[$i]: ${q.linesIterator.next().trim.take(60)}") {
      checkScript(q)
    }
  }

  // ON DELETE referential actions over the buddy link (expr/reference.rs).
  // The fixture's buddy graph is one big cycle, so CASCADE cases first
  // break it (a cyclic CASCADE ends where it returns to the deleted
  // record, so on the whole cycle it would delete every item).
  private val refScripts = Seq(
    """DEFINE FIELD buddy ON item REFERENCE ON DELETE UNSET;
       DELETE item:12;
       SELECT name, buddy FROM item WHERE qty = 4 ORDER BY name;""",
    """DEFINE FIELD buddy ON item REFERENCE ON DELETE CASCADE;
       UPDATE item SET buddy = NONE;
       UPDATE item:17 SET buddy = item:18;
       UPDATE item:18 SET buddy = item:19;
       DELETE item:19;
       SELECT count() AS n FROM item GROUP ALL;""",
    """DEFINE FIELD buddy ON item REFERENCE ON DELETE IGNORE;
       DELETE item:12;
       SELECT count() AS n FROM item WHERE buddy = item:12 GROUP ALL;""")

  refScripts.zipWithIndex.foreach { case (q, i) =>
    test(s"reference-script[$i]: ${q.linesIterator.next().trim.take(64)}") {
      checkScript(q)
    }
  }

  test("reference-script: ON DELETE REJECT errors identically on both engines") {
    val script =
      """DEFINE FIELD buddy ON item REFERENCE ON DELETE REJECT;
         DELETE item:3;"""
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    val imsg = in.run(Parser.parse(script)).last match {
      case QErr(m) => m
      case other => fail(s"interp did not reject: $other")
    }
    val smsg = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.script(spark, "/nonexistent", script).collect()
      }
    }.getMessage
    assert(smsg.contains("ON DELETE REJECT") && imsg.contains("ON DELETE REJECT"))
    assert(smsg.contains("item:3") && imsg.contains("item:3"), s"$smsg vs $imsg")
    assert(smsg.contains("item:2") && imsg.contains("item:2"), s"$smsg vs $imsg")
  }

  test(s"fuzz: $NS generated mutation scripts agree across both engines") {
    val r = new scala.util.Random(seed + 1)
    var failures = List.empty[String]
    (0 until NS).foreach { i =>
      genScript(r).foreach { q =>
        try checkScript(q)
        catch { case e: Throwable => failures ::= s"[$i] ${e.getMessage}" }
      }
    }
    assert(failures.isEmpty,
      s"${failures.length}/$NS script fuzz cases diverged:\n${failures.reverse.take(8).mkString("\n---\n")}")
  }
}
