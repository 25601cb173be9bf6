package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.surql.{Interp, Parser, QErr, QOk, SparkPlanner, V, VArr, VBool, VFloat, VInt, VObj, VStr}

/** Cross-engine differential testing: the SAME SurrealQL text runs through
  * BOTH execution paths — the golden-verified value interpreter (Interp,
  * over rows created by CREATE statements) and the Spark planner (over the
  * same rows injected as a DataFrame via the catalog overlay) — and the
  * results must agree value-for-value. Any divergence is a lowering bug on
  * one side; the interpreter side is anchored by the reference's golden
  * corpus, so agreement transfers that anchor to the distributed plans. */
class DifferentialSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  // deterministic 30-row fixture shared by both engines (incl. a datetime
  // and an array-valued document field)
  private val rows: Seq[(Long, String, Long, Double, String, String, Seq[String])] =
    (1L to 30L).map { i =>
      (i, ("abc" (i.toInt % 3)).toString, i % 7, i * 1.25, f"n$i%02d",
        f"2024-${1 + i.toInt % 3}%02d-${1 + i.toInt % 27}%02dT12:00:00Z",
        Seq(s"t${i % 2}", s"t${i % 5}"))
    }

  private val fixtureScript: String =
    rows.map { case (id, grp, qty, price, name, ts, tags) =>
      s"CREATE item:$id SET grp = '$grp', qty = $qty, price = $price, " +
        s"name = '$name', ts = d'$ts', " +
        s"tags = [${tags.map(t => s"'$t'").mkString(", ")}];"
    }.mkString("\n")

  private lazy val interp: Interp = {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in
  }

  private lazy val df = {
    import spark.implicits._
    rows.map { case (id, grp, qty, price, name, ts, tags) =>
      (id, grp, qty, price, name,
        java.sql.Timestamp.from(java.time.Instant.parse(ts)), tags)
    }.toDF("id", "grp", "qty", "price", "name", "ts", "tags")
  }

  /** Normalize one Spark output value to the interpreter's value model. */
  private def toV(x: Any): V = x match {
    case null            => graft.surql.VNull
    case b: Boolean      => VBool(b)
    case i: Int          => VInt(i)
    case l: Long         => VInt(l)
    case d: Double       => VFloat(d)
    case s: String       => VStr(s)
    case d: java.math.BigDecimal => VFloat(d.doubleValue)
    case a: scala.collection.Seq[_] => VArr(a.map(toV).toVector)
    case m: scala.collection.Map[_, _] =>
      VObj(scala.collection.immutable.TreeMap(
        m.map { case (k, v) => k.toString -> toV(v) }.toSeq: _*))
    case t: java.sql.Timestamp => graft.surql.VDt(t.toInstant)
    case r: org.apache.spark.sql.Row =>
      VObj(scala.collection.immutable.TreeMap(
        r.schema.fieldNames.zipWithIndex
          .map { case (n, i) => n -> toV(r.get(i)) }.toIndexedSeq: _*))
    case other => VStr(other.toString)
  }

  SparkPlanner.extraRecordKeys.put("item", "id")

  private def checkSame(surql: String): Unit =
    compare(surql, interp.run(Parser.parse(surql)).last,
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.query(spark, "/nonexistent", surql)
      })

  /** Mutation scripts: a FRESH interpreter (fixture + script) against the
    * Spark script executor over the same injected rows — write semantics
    * (sequential statements, LET/FOR, WHERE-scoped updates) must agree. */
  private def checkScript(script: String): Unit = {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    compare(script, in.run(Parser.parse(script)).last,
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.script(spark, "/nonexistent", script)
      })
  }

  private def compare(surql: String,
      ires: graft.surql.QueryResult,
      sdf: org.apache.spark.sql.DataFrame): Unit = {
    val iv = ires match {
      case QOk(VArr(items)) => items
      case QOk(v)           => Vector(v)
      case QErr(m)          => fail(s"interp error: $m\n$surql")
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
      s"row count differs: spark=${srows.length} interp=${irows.length}\n$surql")
    srows.zip(irows).zipWithIndex.foreach { case ((s0, i0), n) =>
      // compare by field name; numeric values loosely (int vs float tags)
      val sm = s0.fields; val im = i0.fields
      assert(sm.keySet == im.keySet,
        s"row $n columns differ: ${sm.keySet} vs ${im.keySet}\n$surql")
      def same(a: V, b: V): Boolean = (a, b) match {
        // float vs float: BIT comparison — Python-style == is blind to
        // signed zero (round 10's idiom_array_filter escape); NaN is
        // payload-normalized by doubleToLongBits
        case (VFloat(x), VFloat(y)) =>
          java.lang.Double.doubleToLongBits(x) ==
            java.lang.Double.doubleToLongBits(y)
        // the column model promotes mixed int/float ARRAYS to double —
        // numerics compare loosely across kinds
        case (x: graft.surql.VNum, y: graft.surql.VNum) =>
          x.toDouble == y.toDouble
        // the column model renders NONE as NULL — indistinguishable on
        // the Spark side (same normalization as FuzzDifferentialSpec)
        case (graft.surql.VNull, graft.surql.VNone) => true
        // the column model renders a SET as its ordered array (one
        // ArrayType column — no distinct set type on the Spark side)
        case (VArr(xs), s: graft.surql.VSet) =>
          xs.length == s.items.length &&
            xs.zip(s.items).forall { case (p, q) => same(p, q) }
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

  private val queries = Seq(
    "SELECT name, qty FROM item WHERE qty > 2 ORDER BY name",
    "SELECT name, qty, price FROM item WHERE qty >= 1 AND price < 20.0 ORDER BY name",
    "SELECT grp, count() AS n FROM item GROUP BY grp ORDER BY grp",
    "SELECT grp, math::sum(qty) AS s, math::max(price) AS mx FROM item GROUP BY grp ORDER BY grp",
    "SELECT string::uppercase(name) AS u FROM item WHERE qty = 3 ORDER BY u",
    "SELECT name, qty * 2 + 1 AS q2 FROM item WHERE grp = 'a' ORDER BY name",
    "SELECT name FROM item WHERE name != 'n05' AND qty < 3 ORDER BY name LIMIT 5",
    "SELECT name, math::clamp(qty, 2, 5) AS c FROM item ORDER BY name LIMIT 10",
    "SELECT name, string::slug(name) AS s, string::len(name) AS l FROM item ORDER BY name LIMIT 8",
    "SELECT count() AS cnt FROM item GROUP ALL",
    "SELECT name, array::join(array::map([1, 2], |$x| $x * qty), ',') AS m FROM item ORDER BY name LIMIT 6",
    "SELECT name, IF qty > 3 THEN 'big' ELSE 'small' END AS sz FROM item ORDER BY name LIMIT 12",
    "SELECT grp, math::mean(qty) AS avg_q FROM item GROUP BY grp ORDER BY grp",
    "SELECT name FROM item ORDER BY name NUMERIC LIMIT 7",
    "SELECT name, qty FROM item WHERE qty INSIDE [1, 2, 6] ORDER BY name",
    "SELECT name FROM item ORDER BY name START 5 LIMIT 5",
    "SELECT name, t FROM (SELECT name, [1, 2] AS t FROM item) SPLIT t ORDER BY name, t LIMIT 6",
    "SELECT grp, math::median(price) AS md FROM item GROUP BY grp ORDER BY grp",
    "SELECT grp, math::min(price) AS mn, math::max(qty) AS mx FROM item GROUP BY grp ORDER BY grp",
    "SELECT grp, math::spread(qty) AS sp FROM item GROUP BY grp ORDER BY grp",
    "SELECT grp, count(qty > 3) AS big FROM item GROUP BY grp ORDER BY grp",
    "SELECT name FROM item WHERE qty INSIDE (SELECT VALUE qty FROM item WHERE grp = 'a') ORDER BY name LIMIT 8",
    "SELECT name FROM item WHERE qty = 3.0 ORDER BY name",
    "SELECT name, (NONE ?? qty) AS q FROM item ORDER BY name LIMIT 4",
    "SELECT name FROM item WHERE [1, 2, 3] CONTAINS qty ORDER BY name LIMIT 6",
    "SELECT name, name + '!' AS bang FROM item ORDER BY name LIMIT 4",
    "SELECT name, <int> (price * 4) AS ip FROM item ORDER BY name LIMIT 5",
    "SELECT name, -qty AS neg, !(qty > 3) AS nb FROM item ORDER BY name LIMIT 5",
    "SELECT name FROM item WHERE grp = 'a' OR (qty > 4 AND grp = 'b') ORDER BY name",
    "SELECT name, math::abs(0 - qty) AS aq, qty % 3 AS m FROM item ORDER BY name LIMIT 6",
    "SELECT name, time::year(ts) AS y, time::month(ts) AS mo, time::day(ts) AS dd FROM item ORDER BY name LIMIT 5",
    "SELECT name FROM item WHERE ts > d'2024-02-15T00:00:00Z' ORDER BY name LIMIT 6",
    "SELECT name, time::format(ts, '%Y/%m') AS ym FROM item ORDER BY name LIMIT 4",
    "SELECT name, array::len(tags) AS nt, array::sort(array::distinct(tags)) AS st FROM item ORDER BY name LIMIT 5",
    "SELECT name FROM item WHERE tags CONTAINS 't1' ORDER BY name LIMIT 8",
    "SELECT name, tags FROM item SPLIT tags ORDER BY name, tags LIMIT 8",
    "SELECT name, array::at(tags, 0) AS t0 FROM item ORDER BY name LIMIT 5",
    "SELECT name, array::join(array::filter([1, 2, 3, 4], |$x| $x > qty), ',') AS f FROM item ORDER BY name LIMIT 5",
    "SELECT name, array::fold([1, 2, 3], 0, |$a, $x| $a + $x) + qty AS s FROM item ORDER BY name LIMIT 4",
    "SELECT name, array::at(string::split(name, 'n'), 1) AS suffix FROM item ORDER BY name LIMIT 4",
    "SELECT name, <string> qty AS qs, <float> qty AS qf FROM item ORDER BY name LIMIT 4",
    "SELECT name, math::round(math::sqrt(price)) AS r, math::floor(price) AS fl, math::ceil(price) AS ce FROM item ORDER BY name LIMIT 5",
    "SELECT name, math::pow(qty, 2) AS p2 FROM item WHERE qty < 4 ORDER BY name LIMIT 5",
    "RETURN { x: 1 + 2, y: string::uppercase('ab'), z: [1, 2, 3] }",
    "SELECT name, string::contains(name, '1') AS has1, string::starts_with(name, 'n0') AS n0 FROM item ORDER BY name LIMIT 6",
    "SELECT name, qty / 2 AS h, price / 2 AS ph FROM item WHERE qty > 0 ORDER BY name LIMIT 5",
    "SELECT name, array::at(tags, -1) AS lastt FROM item ORDER BY name LIMIT 3",
    "SELECT name, string::slice(name, 1, 2) AS mid FROM item ORDER BY name LIMIT 3",
    "SELECT name, ts + 1h AS t1 FROM item ORDER BY name LIMIT 3",
    "SELECT name FROM item WHERE time::year(ts) = 2024 AND time::month(ts) = 2 ORDER BY name LIMIT 5",
    "SELECT name, tags[0] AS t0 FROM item ORDER BY name LIMIT 3",
    "SELECT name, string::replace(name, 'n', 'm') AS rep FROM item ORDER BY name LIMIT 3",
    "SELECT name, [qty, qty * 2] AS pair FROM item ORDER BY name LIMIT 3",
    "SELECT name, { q: qty, g: grp } AS obj FROM item ORDER BY name LIMIT 3",
    "SELECT name, qty FROM item:5..9 ORDER BY name",
    "SELECT name FROM item:7",
    "SELECT name, qty ** 2 AS p FROM item ORDER BY name LIMIT 4",
    "SELECT name, price ** 0.5 AS sq FROM item ORDER BY name LIMIT 4",
    "SELECT count() AS n, math::sum(qty) AS s, math::max(price) AS mx FROM item GROUP ALL",
    "SELECT name FROM item WHERE tags CONTAINSANY ['t1', 't4'] ORDER BY name LIMIT 6",
    "SELECT name FROM item WHERE tags CONTAINSALL ['t1'] ORDER BY name LIMIT 6",
    "SELECT name FROM item WHERE tags CONTAINSNONE ['t1', 't3'] ORDER BY name LIMIT 6",
    "SELECT name FROM item WHERE ['t0'] ALLINSIDE tags ORDER BY name LIMIT 6",
    "SELECT name FROM item WHERE ['t4', 'zz'] ANYINSIDE tags ORDER BY name LIMIT 6",
    "SELECT name FROM item WHERE tags ?= 't1' ORDER BY name LIMIT 6",
    "SELECT name FROM item WHERE tags *= 't0' ORDER BY name LIMIT 6",
    "SELECT name, qty FROM item ORDER BY qty DESC, name DESC LIMIT 5",
    "SELECT name, qty = 3 AS is3, qty != 3 AS not3 FROM item ORDER BY name LIMIT 4",
    "SELECT name FROM item WHERE !(grp = 'a') AND qty > 4 ORDER BY name LIMIT 5",
    "SELECT name, array::join(array::sort::desc([3, 1, 2]), ',') AS d, array::join(array::sort([2, 3, 1], false), ',') AS d2 FROM item ORDER BY name LIMIT 2",
    "SELECT name, string::similarity::fuzzy(name, 'n1') AS fz FROM item ORDER BY name LIMIT 6",
    "SELECT name, string::semver::compare('1.2.3', '1.10.0') AS c1, string::semver::compare('2.0.0', '1.9.9') AS c2, string::semver::compare('1.2.3', '1.2.3') AS c0 FROM item ORDER BY name LIMIT 2",
    // ---- float-edge fidelity (round 10's escape class): math::round must
    // be Rust f64::round — half AWAY from zero and sign-of-zero preserving;
    // the comparator above bit-compares float-float pairs, so these pin
    // round(-0.2) = -0.0 and round(-0.5) = -1 on BOTH engines
    "RETURN { a: math::round(0.0 - 0.2), b: math::round(0.0 - 2.5), c: math::round(2.5), d: math::round(0.0 - 0.5), e: math::round(0.49999999999999994), f: math::round(1.5) }",
    "SELECT name, math::round(qty - 0.2) AS rz, math::round(0.5 - qty) AS rh FROM item ORDER BY name LIMIT 8",
    // jaro_winkler: strsim 0.11 UNBOUNDED prefix boost + 1.0 clamp (shared
    // prefix longer than the classic 4-char cap)
    "RETURN { j: string::similarity::jaro_winkler('prefixes12', 'prefixes34'), k: string::similarity::jaro_winkler('martha', 'marhta'), l: string::similarity::jaro_winkler('abcdefgh', 'abcdefgh') }",
    // array::range: end-exclusive, EMPTY when end <= start (Spark sequence
    // would count down without the guard)
    "RETURN { a: array::range(5, 5), b: array::range(2, 5), c: array::range(5, 2) }",
    // bare `value` over a scalar-row source resolves to NONE on both
    // engines (the Spark `value` column name is rendering-only), and an
    // ORDER BY over it is a no-op that preserves the literal order
    // per-row count(x): arrays count truthy elements, scalars count 1 when
    // truthy (0 / NONE / '' are falsy) — NOT the aggregate count
    "SELECT name, count(tags) AS c FROM item ORDER BY name LIMIT 5",
    "SELECT name, math::max(tags) AS mt, math::min(tags) AS nt FROM item ORDER BY name LIMIT 5",
    "SELECT name, math::mean([qty, 4]) AS mq FROM item ORDER BY name LIMIT 6",
    "SELECT name, math::median([qty, 1, 5]) AS md, math::median([qty, 1, 5, 2]) AS md2 FROM item ORDER BY name LIMIT 7",
    "SELECT name, math::stddev([qty, 1, 5]) AS sd, math::variance([qty, 1, 5]) AS vr FROM item ORDER BY name LIMIT 7",
    "SELECT name, math::spread([qty, 1, 5]) AS sp, math::product([qty, 2]) AS pr FROM item ORDER BY name LIMIT 7",
    "SELECT name, math::percentile([qty, 1, 5, 9], 25) AS p25, math::percentile([qty, 1, 5, 9], 90) AS p90 FROM item ORDER BY name LIMIT 7",
    "SELECT name, math::interquartile([qty, 1, 5, 9]) AS iq, math::midhinge([qty, 1, 5, 9]) AS mh FROM item ORDER BY name LIMIT 7",
    "SELECT name, math::trimean([qty, 1, 5, 9]) AS tm, math::nearestrank([qty, 1, 5, 9], 60) AS nr FROM item ORDER BY name LIMIT 7",
    "SELECT name, math::mode([qty, 1, qty, 5]) AS mo FROM item ORDER BY name LIMIT 9",
    "SELECT name, time::min([ts, d'2024-02-01T00:00:00Z']) AS tn, time::max([ts, d'2024-02-01T00:00:00Z']) AS tx FROM item ORDER BY name LIMIT 6",
    "SELECT name, array::group([[qty, 1], [1, 2]]) AS g FROM item ORDER BY name LIMIT 5",
    "SELECT name, array::max([qty, 3]) AS am, array::min([qty, 3]) AS an FROM item ORDER BY name LIMIT 8",
    "SELECT name, array::len(tags) AS al, array::reverse(tags) AS ar FROM item ORDER BY name LIMIT 4",
    "SELECT name, count(qty) AS c, count(qty > 3) AS cb FROM item ORDER BY name LIMIT 9",
    "SELECT * FROM [4, 1, 3]",
    "SELECT * FROM [4, 1, 3] ORDER BY value",
    "SELECT 9 AS k, value AS v FROM [1, 2, 3]",
    "SELECT * FROM [1, 2, 3] WHERE value = 2")

  queries.zipWithIndex.foreach { case (q, i) =>
    test(f"differential[$i%02d]: ${q.take(72)}") { checkSame(q) }
  }

  private val scripts = Seq(
    """UPDATE item SET qty = qty + 10 WHERE grp = 'a';
       SELECT name, qty FROM item WHERE qty >= 10 ORDER BY name;""",
    """DELETE item WHERE qty < 2;
       SELECT count() AS n FROM item GROUP ALL;""",
    """LET $g = 'b';
       UPDATE item SET price = price * 2.0 WHERE grp = $g;
       SELECT grp, math::sum(price) AS s FROM item GROUP BY grp ORDER BY grp;""",
    """FOR $q IN [1, 2] {
         UPDATE item SET qty = qty + 1 WHERE qty = $q;
       };
       SELECT name, qty FROM item ORDER BY name LIMIT 8;""",
    """BEGIN;
       UPDATE item SET qty = 99 WHERE grp = 'a';
       CANCEL;
       SELECT name, qty FROM item WHERE grp = 'a' ORDER BY name LIMIT 5;""",
    """BEGIN;
       UPDATE item SET qty = qty + 5 WHERE grp = 'c';
       DELETE item WHERE qty > 8;
       COMMIT;
       SELECT grp, count() AS n, math::sum(qty) AS s FROM item
         GROUP BY grp ORDER BY grp;""",
    """UPDATE item:3 SET qty = 42;
       DELETE item:4..6;
       SELECT name, qty FROM item:1..8 ORDER BY name;""",
    """UPSERT item:99 SET grp = 'z', qty = 7, price = 9.5, name = 'n99';
       SELECT name, qty FROM item WHERE grp = 'z' OR qty = 42 ORDER BY name;""",
    """UPSERT item:2 SET qty = 77;
       SELECT name, qty FROM item:1..4 ORDER BY name;""",
    """UPDATE item:10..13 SET grp = 'x';
       SELECT grp, count() AS n FROM item GROUP BY grp ORDER BY grp;""",
    """CREATE item:77 SET grp = 'q', qty = 1, price = 2.0, name = 'n77';
       SELECT name FROM item:70..80 ORDER BY name;""",
    """UPDATE item:3 SET qty = 50 RETURN name, qty;""",
    // keyless INSERT: both engines must GENERATE record ids (reference
    // dbs/iterator.rs GenerateRecordId) — the generated values are random,
    // so assertions observe the invariant (id != NONE), never the value
    """INSERT INTO item [{ grp: 'k', qty: 301, price: 1.0, name: 'k1' },
                         { grp: 'k', qty: 302, price: 2.0, name: 'k2' }];
       SELECT count() AS n FROM item WHERE id != NONE GROUP ALL;""",
    """INSERT INTO item { grp: 'k', qty: 303, price: 3.0, name: 'k3' };
       SELECT name, qty FROM item WHERE qty > 300 AND id != NONE ORDER BY name;""",
    // keyless CREATE (bare-table target) generates too
    """CREATE item SET grp = 'w', qty = 305, price = 3.0, name = 'w1';
       SELECT count() AS n FROM item WHERE name = 'w1' AND id != NONE GROUP ALL;""",
    // ... unless the data clause supplies a constant id
    """CREATE item SET id = 88, grp = 'v', qty = 306, price = 4.0, name = 'v88';
       SELECT name, qty FROM item:88;""",
    // keyless rows arriving through a sub-select source generate as well
    """INSERT INTO item (SELECT grp, qty + 400 AS qty, price, name FROM item WHERE qty = 1);
       SELECT count() AS n FROM item WHERE qty > 400 AND id != NONE GROUP ALL;""",
    // id: NONE means "no id" — both engines generate
    // (insert.rs extract_table_and_rid_key: Value::None => None)
    """INSERT INTO item { id: NONE, grp: 'k', qty: 520, price: 1.0, name: 'kn' };
       SELECT count() AS n FROM item WHERE qty = 520 AND id != NONE GROUP ALL;""",
    // bare-table UPSERT: update the WHERE matches ...
    """UPSERT item SET qty = 500 WHERE qty = 2;
       SELECT name, qty FROM item WHERE qty = 500 ORDER BY name;""",
    // ... or create ONE generated-id record when none match
    """UPSERT item SET grp = 'nu', qty = 501, price = 1.0, name = 'nu1' WHERE qty = 9999;
       SELECT count() AS n FROM item WHERE qty = 501 AND id != NONE GROUP ALL;""",
    // ALTER FIELD applies to LATER mutations in the same script
    // (expr/statements/alter.rs): a dropped ASSERT lets a formerly-failing
    // UPDATE pass
    """DEFINE FIELD qty ON item TYPE int ASSERT $value < 100;
       ALTER FIELD qty ON item DROP ASSERT;
       UPDATE item SET qty = 500 WHERE name = 'n01';
       SELECT name, qty FROM item WHERE qty = 500 ORDER BY name;""",
    // ALTER FIELD TYPE re-points the coercion pipeline for later writes
    """DEFINE FIELD price ON item TYPE float;
       ALTER FIELD price ON item TYPE int;
       UPDATE item SET price = 7.0 WHERE qty = 1;
       SELECT name, price FROM item WHERE qty = 1 ORDER BY name;""",
    // ALTER FIELD VALUE replaces the write-time VALUE pipeline
    """DEFINE FIELD qty ON item TYPE int VALUE $value * 2;
       ALTER FIELD qty ON item VALUE $value + 1000;
       UPDATE item SET qty = 5 WHERE name = 'n02';
       SELECT name, qty FROM item WHERE name = 'n02';""",
    // ALTER PARAM rebinds a DEFINE PARAM catalog value
    """DEFINE PARAM $m VALUE 3;
       ALTER PARAM $m VALUE 10;
       SELECT name, qty * $m AS q FROM item WHERE qty = 2 ORDER BY name;""")

  scripts.zipWithIndex.foreach { case (q, i) =>
    test(f"differential-script[$i]: ${q.linesIterator.next().trim.take(60)}") {
      checkScript(q)
    }
  }

  // ---- record-auth permissions -------------------------------------------
  // The SAME permission clause enforced by both engines: Interp applies the
  // table's SELECT permission per read (Interp.scala readPermission); the
  // Spark path resolves it at plan time and pushes it as a scan filter
  // (SparkPlanner.permFilter). Row sets must agree exactly.
  test("differential-errors: invalid INSERT id kinds error identically") {
    // insert.rs extract_table_and_rid_key: NULL / '' / bool are not valid
    // record-id keys (while NONE generates — covered by the script cases)
    Seq("{ id: NULL, qty: 1 }", "{ id: '', qty: 1 }", "{ id: true, qty: 1 }")
      .foreach { row =>
        val script = s"INSERT INTO item $row;"
        val in = new Interp
        in.run(Parser.parse(fixtureScript))
        val imsg = in.run(Parser.parse(script)).last match {
          case QErr(m) => m
          case other => fail(s"interp accepted $row: $other")
        }
        val smsg = intercept[Exception] {
          Tables.withOverlay(Map("item" -> df)) {
            SparkPlanner.script(spark, "/nonexistent", script).collect()
          }
        }.getMessage
        assert(imsg.contains("property 'id' is:") &&
          smsg.contains(imsg.trim), s"'$imsg' vs '$smsg' for $row")
      }
  }

  test("differential-permissions: SELECT permission filters rows on both paths") {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in.run(Parser.parse("DEFINE TABLE OVERWRITE item PERMISSIONS FOR select WHERE qty > 3;"))
    in.recordAuth = true
    val q = "SELECT name, qty FROM item WHERE qty < 6 ORDER BY name"
    compare(q, in.run(Parser.parse(q)).last,
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.withAuth(SparkPlanner.AuthSession(graft.surql.VNull,
          Map("item" -> "WHERE qty > 3"))) {
          SparkPlanner.query(spark, "/nonexistent", q)
        }
      })
  }

  test("differential-permissions: NONE prunes the table on both paths") {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in.run(Parser.parse("DEFINE TABLE OVERWRITE item PERMISSIONS NONE;"))
    in.recordAuth = true
    val q = "SELECT name FROM item ORDER BY name"
    compare(q, in.run(Parser.parse(q)).last,
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.withAuth(SparkPlanner.AuthSession(graft.surql.VNull,
          Map("item" -> "NONE"))) {
          SparkPlanner.query(spark, "/nonexistent", q)
        }
      })
  }

  test("differential-permissions: UPDATE permission gates writes on both paths") {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in.run(Parser.parse(
      "DEFINE TABLE OVERWRITE item PERMISSIONS FOR select FULL FOR update WHERE qty < 3 FOR create FULL FOR delete FULL;"))
    in.recordAuth = true
    val script =
      """UPDATE item SET qty = qty + 100 WHERE qty < 6;
         SELECT name, qty FROM item WHERE qty > 90 ORDER BY name;"""
    compare(script, in.run(Parser.parse(script)).last,
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.withAuth(SparkPlanner.AuthSession(graft.surql.VNull,
          Map("item" -> "FULL"),
          actionPerms = Map(("item", "update") -> "WHERE qty < 3"))) {
          SparkPlanner.script(spark, "/nonexistent", script)
        }
      })
  }

  test("differential-permissions: CREATE permission gates UPSERT and INSERT creations on both paths") {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in.run(Parser.parse(
      "DEFINE TABLE OVERWRITE item PERMISSIONS FOR select FULL FOR update FULL FOR create WHERE qty < 3 FOR delete FULL;"))
    in.recordAuth = true
    val script =
      """UPSERT item:101 SET grp = 'z', name = 'u1', qty = 1;
         UPSERT item:102 SET grp = 'z', name = 'u2', qty = 5;
         INSERT INTO item [{ id: 103, grp: 'z', name: 'i1', qty: 2 },
           { id: 104, grp: 'z', name: 'i2', qty: 8 }];
         SELECT name, qty FROM item WHERE grp = 'z' ORDER BY name;"""
    compare(script, in.run(Parser.parse(script)).last,
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.withAuth(SparkPlanner.AuthSession(graft.surql.VNull,
          Map("item" -> "FULL"),
          actionPerms = Map(("item", "create") -> "WHERE qty < 3"))) {
          SparkPlanner.script(spark, "/nonexistent", script)
        }
      })
  }

  test("differential-permissions: DELETE permission gates removals on both paths") {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in.run(Parser.parse(
      "DEFINE TABLE OVERWRITE item PERMISSIONS FOR select FULL FOR update FULL FOR create FULL FOR delete WHERE grp = 'a';"))
    in.recordAuth = true
    val script =
      """DELETE item WHERE qty >= 0;
         SELECT grp, count() AS n FROM item GROUP BY grp ORDER BY grp;"""
    compare(script, in.run(Parser.parse(script)).last,
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.withAuth(SparkPlanner.AuthSession(graft.surql.VNull,
          Map("item" -> "FULL"),
          actionPerms = Map(("item", "delete") -> "WHERE grp = 'a'"))) {
          SparkPlanner.script(spark, "/nonexistent", script)
        }
      })
  }

  test("differential-permissions: field SELECT NONE reads as absent on both paths") {
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in.run(Parser.parse(
      "DEFINE TABLE OVERWRITE item PERMISSIONS FULL;" +
      "DEFINE FIELD price ON item PERMISSIONS FOR select NONE;"))
    in.recordAuth = true
    // SELECT * — the denied field must vanish from the row shape on both
    // engines; compare only the shared live columns via explicit projection
    // of the full remaining schema
    val q = "SELECT grp, name, qty FROM item WHERE qty = 2 ORDER BY name"
    val iRows = in.run(Parser.parse("SELECT * FROM item WHERE qty = 2 ORDER BY name")).last
    iRows match {
      case QOk(VArr(items)) =>
        assert(items.nonEmpty && items.forall {
          case VObj(m) => !m.contains("price")
          case _ => false
        }, "interp still exposes the denied field")
      case other => fail(s"interp error: $other")
    }
    val sdf = Tables.withOverlay(Map("item" -> df)) {
      SparkPlanner.withAuth(SparkPlanner.AuthSession(graft.surql.VNull,
        Map("item" -> "FULL"), fieldDeny = Map("item" -> Set("price")))) {
        SparkPlanner.query(spark, "/nonexistent",
          "SELECT * FROM item WHERE qty = 2 ORDER BY name")
      }
    }
    assert(!sdf.columns.contains("price"), "spark still exposes the denied field")
    // and the surviving columns agree value-for-value
    compare(q, in.run(Parser.parse(q)).last,
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.withAuth(SparkPlanner.AuthSession(graft.surql.VNull,
          Map("item" -> "FULL"), fieldDeny = Map("item" -> Set("price")))) {
          SparkPlanner.query(spark, "/nonexistent", q)
        }
      })
  }

  // ---- float-edge property tranche ---------------------------------------
  // Round 10 proved the signed-zero class escapes both the golden corpus and
  // a ==-based comparator. Pseudo-random + adversarial doubles flow through
  // the math:: lowerings as ONE RETURN object per engine; the bit-comparing
  // field check above catches any -0.0 / half-rounding divergence.
  private def plain(d: Double): String = {
    val s = BigDecimal(d).bigDecimal.toPlainString
    if (s.startsWith("-")) s"(0.0 ${s.replaceFirst("-", "- ")})" else s
  }

  test("differential-float-edges: math::round over adversarial doubles") {
    val rnd = new scala.util.Random(42)
    val edges = Seq(-0.2, -0.5, -0.75, -2.5, 2.5, 1.5, -1.5,
      0.49999999999999994, -0.49999999999999994, 4503599627370495.5,
      -4503599627370495.5, 0.0)
    val vals = edges ++ (1 to 52).map(_ =>
      (rnd.nextDouble() - 0.5) * math.pow(10.0, rnd.nextInt(7)))
    checkSame("RETURN { " + vals.zipWithIndex.map { case (v, i) =>
      s"r$i: math::round(${plain(v)})" }.mkString(", ") + " }")
  }

  test("differential-float-edges: math::abs/sign/fixed over adversarial doubles") {
    val rnd = new scala.util.Random(7)
    val vals = Seq(-0.25, -1.75, 3.125, -0.0078125) ++
      (1 to 28).map(_ => (rnd.nextDouble() - 0.5) * math.pow(10.0, rnd.nextInt(5)))
    checkSame("RETURN { " + vals.zipWithIndex.map { case (v, i) =>
      s"a$i: math::abs(${plain(v)}), s$i: math::sign(${plain(v)})"
    }.mkString(", ") + " }")
  }

  // the r19→r20 float-render fix: finite floats carry the `f` suffix in
  // every raw-string surface (to_raw_string → to_sql, val/number.rs ToSql),
  // decimals render `dec`-suffixed raw but PLAIN in `<string>` casts
  // (convert/cast.rs:360) — no golden covers finite float→string, so this
  // differential case is the standing guard on both paths
  test("differential-float-render: f suffix in casts/joins/concat agrees") {
    // constant path (folds through the interpreter on the Spark side)
    checkSame("""RETURN { a: <string>2.0, b: <string>2.5, c: <string>(-0.5),
      d: <string>1.5dec, e: <string>math::inf, f: <string>(0.0/0.0),
      j: array::join([2.0, 3.0], ','), jd: array::join([1.5dec, 1], '|'),
      cc: string::concat('v=', 0.1), sj: string::join('-', 2.5, 'x'),
      ts: type::string(0.5) }""")
    // row-dependent path (pins the RawStr codegen kernel)
    checkSame("""SELECT name, <string>(price * 2) AS s, type::string(price) AS t,
      string::concat('p', price) AS c, array::join([price, 2.0], ',') AS j
      FROM item WHERE qty = 1 ORDER BY name LIMIT 3;""")
  }

  // the r20 slug/words sweep: deunicode-first slug keeps underscores;
  // words splits on UNICODE whitespace with no empty parts
  test("differential-slugwords: slug/words agree across paths") {
    checkSame("""SELECT name,
      string::slug(string::concat('Héllo_Wörld ', name, ' & Co')) AS sl,
      array::join(string::words(string::concat('a', name, ' b  c')), '|') AS ws
      FROM item WHERE qty = 4 ORDER BY name LIMIT 3;""")
    checkSame("""RETURN { a: string::slug('Crème Brûlée!'), b: string::slug('a_b-C'),
      c: string::slug('ÆØß straße'), d: string::words(''),
      e: string::words(' x　y '), f: string::slug('--x--') }""")
  }

  // the r20 cast sweep: Cast-for-i64/f64/Decimal strictness on BOTH paths
  test("differential-cast: numeric cast strictness agrees across paths") {
    // successes: integral floats, strict strings, saturating forms
    checkSame("""SELECT name, <int>(qty * 1.0) AS i, <float>(qty) AS f,
      <int>string::concat('', qty) AS si,
      <float>string::concat('', qty) AS sf
      FROM item WHERE qty = 2 ORDER BY name LIMIT 3;""")
    checkSame("""RETURN { a: <int>2.0, b: <decimal>'1_000.5', c: <float>'inf',
      d: <float>'-Infinity', f: <array>(<bytes>'AB'),
      g: <string><uuid>'936DA01F9ABD4d9d80C702AF85C822A8',
      i: <array<int,3>>(1..4) }""")
    // errors: fractional floats must NOT truncate; Java-isms must not parse
    Seq("<int>price", "<int>type::string(price)",
        "<float>string::concat(price, 'f')")
      .foreach { exprTxt =>
        val q = s"SELECT $exprTxt AS v FROM item WHERE qty = 2 LIMIT 1;"
        val in = new Interp
        in.run(Parser.parse(fixtureScript))
        val imsg = in.run(Parser.parse(q)).last match {
          case QErr(m) => m
          case other => fail(s"interp accepted $exprTxt: $other")
        }
        val smsg = intercept[Exception] {
          Tables.withOverlay(Map("item" -> df)) {
            SparkPlanner.query(spark, "/nonexistent", q).collect()
          }
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(imsg.contains("Could not cast into"), s"interp: $imsg")
        assert(msgs(smsg).exists(_.contains("Could not cast into")),
          s"spark: ${msgs(smsg).mkString(" | ")}")
      }
  }

  // the r20 html sweep: sanitize is the real ammonia allowlist (div kept,
  // script dropped WITH content, attrs filtered, rel injected) — same
  // kernel on both paths
  test("differential-html: ammonia encode/sanitize agree across paths") {
    checkSame("""SELECT name,
      string::html::encode(string::concat('<b a="', name, '"/>')) AS enc,
      string::html::sanitize(string::concat('<div onclick="x()">', name,
        '</div><script>bad</script><form>', name, '</form>')) AS san
      FROM item WHERE qty = 2 ORDER BY name LIMIT 3;""")
    checkSame("""RETURN { a: string::html::sanitize('<a href="javascript:x">l</a>'),
      b: string::html::sanitize('<ul><li>1<li>2</ul>'),
      c: string::html::sanitize('a<!-- h -->b & c'),
      d: string::html::encode('1 < 2 & 3') }""")
  }

  // the r20 URL sweep: parse::* routes through the WHATWG kernel on BOTH
  // paths (UrlParse statics ↔ graft_url_part codegen) — IDNA, default
  // ports, dot segments, IP normalization, invalid-email NONE
  test("differential-parse: WHATWG url + addr email agree across paths") {
    checkSame("""SELECT name,
      parse::url::host(string::concat('HTTP://EXAMPLE.com:80/u/', name)) AS h,
      parse::url::port(string::concat('https://h.io/', name)) AS p,
      parse::url::path(string::concat('http://a/b/../', name)) AS pa,
      parse::url::domain(string::concat('http://127.0.0.', qty, '/x')) AS d,
      parse::url::scheme(string::concat('FtP://h/', name)) AS sc,
      parse::email::user(string::concat(name, '@ex.com')) AS eu,
      parse::email::host(string::concat(name, '@bücher.de')) AS eh,
      parse::email::host(string::concat(name, 'no-at-sign')) AS bad
      FROM item WHERE qty = 1 ORDER BY name LIMIT 3;""")
    checkSame("""RETURN { a: parse::url::host('http://bücher.de/'),
      b: parse::url::port('http://a:99999/x'),
      c: parse::url::query('http://a/?'),
      d: parse::url::fragment('http://a/p#f g'),
      e: parse::url::path('foo://h/..'),
      f: parse::email::host('u@[0:0:0:0:0:0:0:1]'),
      g: parse::email::host('u@[IPv6:0:0:0:0:0:0:0:1]') }""")
  }

  // array set-algebra over inputs WITH duplicates — Spark's array_union/
  // intersect/except dedup, the reference's fnc/array.rs may not; pin the
  // agreement explicitly (the r15 UNSET fix was exactly this class)
  test("array set ops: duplicate-element inputs agree") {
    checkSame("RETURN { u: array::union([1, 1, 2], [2, 3, 3]), " +
      "i: array::intersect([1, 1, 2, 3], [1, 3, 3]), " +
      "c: array::complement([1, 1, 2, 3], [3]), " +
      "d: array::difference([1, 1, 2], [2, 3]) }")
    // the per-occurrence consumption cases (val/array.rs Intersect /
    // Difference): [1,1] ∩ [1,1] keeps both; [1,1] \ [1] leaves one
    checkSame("RETURN { i2: array::intersect([1, 1], [1, 1]), " +
      "i3: array::intersect([1, 1], [1]), " +
      "d2: array::difference([1, 1], [1]), " +
      "d3: array::difference([2, 1, 2], [2, 2, 2]), " +
      "c2: array::complement([1, 1], [2]) }")
  }

  test("per-row stat folds over signed-zero / denormal doubles agree") {
    // the float-edge class (round 10) applied to the per-row fold family:
    // -0.0 and tiny magnitudes through median/stddev/spread/top/bottom
    checkSame("RETURN { " +
      "m1: math::median([(0.0 - 0.0), 0.0, 1.5]), " +
      "m2: math::median([(0.0 - 0.25), 0.25]), " +
      "sp: math::spread([(0.0 - 0.5), 0.5, 0.125]), " +
      "sd: math::stddev([2.5, 2.5, 2.5]), " +
      "t: array::sort(math::top([(0.0 - 0.5), 0.0078125, 2.5, 1.25], 2)), " +
      "b: array::sort(math::bottom([(0.0 - 0.5), 0.0078125, 2.5], 2)) }")
  }

  test("string functions over non-BMP / combining-mark text agree") {
    // Rust str ops are char (scalar-value) based; JVM String is UTF-16 —
    // surrogate pairs are where len/slice/reverse implementations diverge
    checkSame("RETURN { l1: string::len('héllo'), " +
      "l2: string::len('a\\u0301bc'), " +
      "s1: string::slice('héllo wörld', 2, 5), " +
      "r1: string::reverse('abc'), " +
      "u1: string::uppercase('straße'), " +
      "w1: string::words('  a  b\tc ') }")
    // astral-plane codepoints are TWO UTF-16 units on the JVM but one Rust
    // char — len/slice/reverse must count scalar values, not code units
    checkSame("RETURN { l: string::len('😀ab'), " +
      "s: string::slice('😀abc', 1, 2), " +
      "r: string::reverse('😀ab') }")
  }

  test("string validators / capitalize over COLUMN arguments agree") {
    // both engines run the SAME StrCheck static — this pins the Spark
    // column lowering (kernel wiring, null handling) end to end
    checkSame("SELECT name, string::capitalize(name + ' ' + grp) AS cap, " +
      "string::is_alphanum(name) AS an, string::is_numeric(name) AS nu, " +
      "string::is_email(name + '@x.co') AS em, " +
      "string::is_ascii(name) AS asc FROM item ORDER BY name LIMIT 8")
  }

  test("time::set_* / nano / type:: conversions over COLUMN arguments agree") {
    checkSame("SELECT name, time::set_year(ts, 2020) AS y2020, " +
      "time::set_month(ts, 12) AS m12, time::set_hour(ts, 5) AS h5, " +
      "time::nano(ts) AS ns, type::string(qty) AS qs, " +
      "type::bool(IF qty > 3 THEN 'true' ELSE 'false' END) AS qb " +
      "FROM item ORDER BY name LIMIT 8")
  }

  test("vector::similarity::pearson over column-built vectors agrees bit-exact") {
    checkSame("SELECT name, vector::similarity::pearson(" +
      "[price, price * 2.0, qty + 0.5], [qty + 1.0, price, 3.25]) AS p " +
      "FROM item ORDER BY name LIMIT 10")
  }

  test("string::semver inc/set over COLUMN arguments agree") {
    checkSame("SELECT name, string::semver::inc::minor('1.' + <string> qty + '.3') AS im, " +
      "string::semver::set::patch('2.0.' + <string> qty, 9) AS sp " +
      "FROM item ORDER BY name LIMIT 6")
  }

  test("crypto::blake3 / joaat over COLUMN arguments agree") {
    checkSame("SELECT name, crypto::blake3(name) AS b3, crypto::joaat(name) AS j " +
      "FROM item ORDER BY name LIMIT 6")
  }

  test("set:: algebra over duplicated/unsorted inputs agrees") {
    // Set is a BTreeSet in the reference — construction dedups and orders
    // by the value total order regardless of input arrangement
    checkSame("RETURN { u: set::union([3, 1, 1, 2], [2, 4]), " +
      "i: set::intersect([3, 1, 1], [1, 3, 5]), " +
      "d: set::difference([1, 2, 2, 3], [3, 4]), " +
      "c: set::complement([1, 2, 2, 3], [3]), " +
      "a: set::add([2, 1, 1], 3), r: set::remove([2, 1, 1], 1) }")
  }

  // ---- math::top/bottom cross-context pins --------------------------------
  // The reference returns top/bottom in arbitrary (heap) order, so every pin
  // wraps the call in array::sort — both engines then agree value-for-value.
  // The r14 bug class (projection-context functions sharing names with
  // aggregates) demands BOTH contexts pinned.
  test("math::top/bottom: projection context per-row folds, order-pinned") {
    checkSame("SELECT name, array::sort(math::top([price, price * 2.0, 1.5], 2)) AS t2, " +
      "array::sort(math::bottom([qty, qty + 3, 100], 2)) AS b2 " +
      "FROM item ORDER BY name")
  }

  test("math::top/bottom: GROUP BY context, order-pinned") {
    checkSame("SELECT grp, array::sort(math::top(qty, 3)) AS t3, " +
      "array::sort(math::bottom(price, 2)) AS b2 FROM item GROUP BY grp ORDER BY grp")
  }

  test("math::top/bottom: GROUP ALL context and k > group size") {
    checkSame("SELECT array::sort(math::top(qty, 5)) AS t5, " +
      "array::sort(math::bottom(qty, 100)) AS ball FROM item GROUP ALL")
  }

  test("math::top/bottom: k <= 0 rejected with the reference's error") {
    val err = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.query(spark, "/nonexistent",
          "SELECT grp, math::top(qty, 0) AS t FROM item GROUP BY grp").collect()
      }
    }
    assert(err.getMessage.contains("The second argument must be an integer greater than 0."))
  }

  // ---- RELATE cross-path pins ---------------------------------------------
  // The r14 divergence: standalone RELATE emitted (in, out, props) with no
  // edge id while the in-transaction path generated one. The reference gives
  // EVERY edge document an id (expr/statements/relate.rs:17-31, doc/edges.rs)
  // — the two Spark paths must agree on schema AND values for the same input.
  test("relate cross-path: explicit edge id — schema and values agree") {
    val stmt =
      "RELATE item:1->dspec_rel:`e1`->item:2 SET w = 7.5 RETURN id, in, out, w"
    val alone = Tables.withOverlay(Map("item" -> df))(
      SparkPlanner.query(spark, "/nonexistent", stmt))
    val inTxn = Tables.withOverlay(Map("item" -> df))(
      SparkPlanner.script(spark, "/nonexistent", s"BEGIN; $stmt; COMMIT;"))
    assert(alone.columns.toSeq === inTxn.columns.toSeq)
    assert(alone.collect().map(_.toSeq).toSeq ===
      inTxn.collect().map(_.toSeq).toSeq)
    assert(alone.collect().head.toSeq === Seq("e1", 1L, 2L, 7.5))
  }

  test("relate cross-path: generated edge id present on both paths") {
    val stmt = "RELATE item:1->dspec_rel2->item:3 SET w = 1.0 RETURN id, in, out, w"
    def run(f: => org.apache.spark.sql.DataFrame) =
      Tables.withOverlay(Map("item" -> df))(f).collect()
    val a = run(SparkPlanner.query(spark, "/nonexistent", stmt))
    val b = run(SparkPlanner.script(spark, "/nonexistent", s"BEGIN; $stmt; COMMIT;"))
    for (rows <- Seq(a, b)) {
      assert(rows.length === 1)
      val id = rows.head.getAs[String]("id")
      assert(id != null && id.matches("[0-9a-f]+"))
      assert(rows.head.getAs[Long]("in") === 1L)
      assert(rows.head.getAs[Long]("out") === 3L)
    }
    // standalone RELATE registers the relation for traversal/purge,
    // exactly like the script path
    assert(SparkPlanner.recordKey.get("dspec_rel2").contains("id"))
    assert(graft.operators.GraphOps.edgeDefs.contains("dspec_rel2"))
  }

  test("time::set_* on PRE-EPOCH fractional timestamps agrees (floor-mod fraction)") {
    // qty - 1750000 micros ≈ 1969-12-31T23:59:58.25Z: Java % keeps the
    // dividend's sign, so a %-based fraction would shift the seconds by -1s
    // relative to the interpreter's ZonedDateTime.withX (which keeps nanos)
    checkSame("SELECT name, time::set_hour(time::from_micros(qty - 1750000), 3) AS h, " +
      "time::set_second(time::from_micros(qty - 1750000), 5) AS s, " +
      "time::set_minute(time::from_micros(qty - 1750000), 7) AS m " +
      "FROM item ORDER BY name LIMIT 7")
  }

  test("unknown time::set_ component errors on BOTH paths (no silent identity)") {
    val q = "SELECT time::set_millis(ts, 1) AS x FROM item LIMIT 1"
    val iv = try { interp.run(Parser.parse(q)).last } catch {
      case e: Exception => QErr(e.getMessage)
    }
    assert(iv.isInstanceOf[QErr], s"interp accepted time::set_millis: $iv")
    val sErr = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.query(spark, "/nonexistent", q)
      }.collect()
    }
    assert(sErr != null)
  }

  test("set::add/remove accept COMPUTED array arguments (not just literals/fields)") {
    // array::distinct/slice results are arrays the static exprIsArray check
    // must recognize — wrapping them as single elements would produce
    // array<array<string>> and an AnalysisException
    checkSame("SELECT name, set::add(tags, array::distinct([grp, grp])) AS a, " +
      "set::remove(tags, array::slice(tags, 0, 1)) AS r " +
      "FROM item ORDER BY name LIMIT 8")
  }

  test("LET-bound k/p reach math::top/bottom/percentile on the query path") {
    // the query path now substitutes LET bindings into the select body,
    // so constant-wanting lowerings see plan-time literals (VERDICT r15 #3)
    checkSame("LET $k = 2; " +
      "SELECT grp, array::sort(math::top(price, $k)) AS t, " +
      "array::sort(math::bottom(qty, $k)) AS b " +
      "FROM item GROUP BY grp ORDER BY grp")
    // percentile p: the interp has no grouped percentile (matches the
    // reference's aggregate catalog), so pin the Spark lowering against
    // itself — LET-bound p must equal the literal-p plan's result
    val lp = Tables.withOverlay(Map("item" -> df)) {
      SparkPlanner.query(spark, "/nonexistent",
        "LET $p = 75; SELECT grp, math::percentile(price, $p) AS p75 " +
          "FROM item GROUP BY grp ORDER BY grp")
    }.collect().map(_.toSeq).toSeq
    val ll = Tables.withOverlay(Map("item" -> df)) {
      SparkPlanner.query(spark, "/nonexistent",
        "SELECT grp, math::percentile(price, 75) AS p75 " +
          "FROM item GROUP BY grp ORDER BY grp")
    }.collect().map(_.toSeq).toSeq
    assert(lp == ll && lp.nonEmpty)
  }

  test("RUNTIME k for per-row math::top/bottom (column-derived, non-constant)") {
    // reference order is arbitrary (heap) — compare through array::sort
    checkSame("SELECT name, array::sort(math::top([price, price * 2.0, price / 2.0, 1.0], " +
      "<int> (qty % 2) + 1)) AS t, " +
      "array::sort(math::bottom([price, 0.5, 9.75], <int> (qty % 3) + 1)) AS b " +
      "FROM item ORDER BY name LIMIT 9")
  }

  test("runtime k <= 0 raises the reference's error on BOTH paths") {
    val q = "SELECT math::top([1.0, 2.0], <int> (qty - qty)) AS t FROM item LIMIT 1"
    val iv = try { interp.run(Parser.parse(q)).last } catch {
      case e: Exception => QErr(e.getMessage)
    }
    assert(iv.isInstanceOf[QErr], s"interp accepted k=0: $iv")
    val sErr = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.query(spark, "/nonexistent", q)
      }.collect()
    }
    assert(sErr.getMessage.contains("greater than 0") ||
      Option(sErr.getCause).exists(_.getMessage.contains("greater than 0")),
      s"unexpected error: ${sErr.getMessage}")
  }

  test("flat semver aliases (method syntax) lower on the Spark COLUMN path") {
    // `.semver_inc_minor()` method syntax produces the FLAT function name
    // string::semver_inc_minor — fnCol must normalize it to the canonical
    // string::semver::inc::minor lowering instead of throwing unsupported
    checkSame("SELECT name, ('1.' + <string> qty + '.3').semver_inc_minor() AS im, " +
      "('2.0.' + <string> qty).semver_set_patch(9) AS sp, " +
      "('4.' + <string> qty + '.1').semver_major() AS mj " +
      "FROM item ORDER BY name LIMIT 6")
  }

  test("script-defined SEARCH index: @@ resolves the analyzer chain on both paths") {
    checkScript(
      """DEFINE ANALYZER a16 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftn ON item FIELDS name SEARCH ANALYZER a16 BM25;
         SELECT name FROM item WHERE name @@ 'N07' ORDER BY name;""")
  }

  test("ALTER ANALYZER + REBUILD INDEX change @@ results identically on both paths") {
    // before the ALTER a 2-char prefix query matches nothing; after the
    // chain gains edgengram(2,3) the postings carry prefixes and 'n0'
    // matches every n0X row — on BOTH engines
    checkScript(
      """DEFINE ANALYZER a16 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftn ON item FIELDS name SEARCH ANALYZER a16 BM25;
         ALTER ANALYZER a16 TOKENIZERS blank FILTERS lowercase, edgengram(2, 3);
         REBUILD INDEX ftn ON item;
         SELECT name FROM item WHERE name @@ 'n0' ORDER BY name;""")
    // control: WITHOUT the alter, the same prefix query matches nothing
    checkScript(
      """DEFINE ANALYZER a16 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftn ON item FIELDS name SEARCH ANALYZER a16 BM25;
         SELECT name FROM item WHERE name @@ 'n0' ORDER BY name;""")
  }

  test("snowball chain via script-defined SEARCH index agrees across paths") {
    // grp values are single letters; use tags (t0..t4) with a stemming
    // chain — snowball leaves short tokens alone, so exercise lowercase
    // normalization through the chain with an uppercase query instead
    checkScript(
      """DEFINE ANALYZER a17 TOKENIZERS blank FILTERS lowercase, snowball(english);
         DEFINE INDEX ftg ON item FIELDS grp SEARCH ANALYZER a17 BM25;
         SELECT name, grp FROM item WHERE grp @@ 'A' ORDER BY name;""")
  }

  test("ALTER ANALYZER on a missing analyzer and REBUILD of a missing index error on both paths") {
    for (script <- Seq(
      "ALTER ANALYZER nosuch TOKENIZERS blank; SELECT id FROM item LIMIT 1;",
      "REBUILD INDEX nosuch ON item; SELECT id FROM item LIMIT 1;")) {
      val in = new Interp
      in.run(Parser.parse(fixtureScript))
      val iv = in.run(Parser.parse(script))
      assert(iv.exists(_.isInstanceOf[QErr]), s"interp accepted: $script")
      val sErr = intercept[Exception] {
        Tables.withOverlay(Map("item" -> df)) {
          SparkPlanner.script(spark, "/nonexistent", script)
        }.collect()
      }
      assert(sErr.getMessage.contains("does not exist"),
        s"unexpected spark error for $script: ${sErr.getMessage}")
    }
  }

  test("CANCEL rolls back ALTER ANALYZER (chain reverts on both paths)") {
    checkScript(
      """DEFINE ANALYZER a18 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftc ON item FIELDS name SEARCH ANALYZER a18 BM25;
         BEGIN;
         ALTER ANALYZER a18 TOKENIZERS blank FILTERS lowercase, edgengram(2, 3);
         CANCEL;
         SELECT name FROM item WHERE name @@ 'n0' ORDER BY name;""")
  }

  test("DEFINE FUNCTION: expression body inlines on the Spark path") {
    checkScript(
      """DEFINE FUNCTION fn::taxed($p: number) { RETURN $p * 1.5 + 2 };
         SELECT name, fn::taxed(price) AS t FROM item ORDER BY name LIMIT 8;""")
    // nested user functions
    checkScript(
      """DEFINE FUNCTION fn::double($x: number) { RETURN $x * 2 };
         DEFINE FUNCTION fn::quad($x: number) { RETURN fn::double(fn::double($x)) };
         SELECT name, fn::quad(qty) AS q FROM item ORDER BY name LIMIT 8;""")
    // string body + builtin composition
    checkScript(
      """DEFINE FUNCTION fn::shout($s: string) { RETURN string::uppercase($s) + '!' };
         SELECT fn::shout(name) AS sh FROM item ORDER BY sh LIMIT 5;""")
  }

  test("LET-sequence fn:: bodies lower on the Spark path (r17)") {
    // pure LET-then-RETURN bodies: symbolic sequential substitution — a
    // later LET sees earlier bindings, the RETURN sees all of them, and
    // params shadowed by a LET resolve to the LET (define/function.rs runs
    // the block; the lowering must agree with the interpreter per row)
    checkScript(
      """DEFINE FUNCTION fn::net($p: number) {
           LET $tax = $p * 0.08;
           LET $fee = $tax + 2;
           RETURN $p + $tax + $fee
         };
         SELECT name, math::fixed(fn::net(price), 4) AS v FROM item
         ORDER BY name LIMIT 8;""")
    // LET shadows the param name
    checkScript(
      """DEFINE FUNCTION fn::sh($x: number) {
           LET $x = $x * 3;
           RETURN $x + 1
         };
         SELECT name, fn::sh(qty) AS v FROM item ORDER BY name LIMIT 6;""")
    // LET body calling another user fn
    checkScript(
      """DEFINE FUNCTION fn::d($x: number) { RETURN $x * 2 };
         DEFINE FUNCTION fn::c($x: number) {
           LET $a = fn::d($x);
           RETURN $a + fn::d($a)
         };
         SELECT name, fn::c(qty) AS v FROM item ORDER BY name LIMIT 6;""")
  }

  test("THROW-terminal and FOR-unrolled fn:: bodies lower on the Spark path (r19)") {
    // guarded THROW never taken: the chained IF lowers and both paths
    // agree on the values
    checkScript(
      """DEFINE FUNCTION fn::pos($x: number) {
           IF $x < 0 { THROW 'negative input' };
           RETURN $x * 2
         };
         SELECT name, fn::pos(qty) AS v FROM item ORDER BY name LIMIT 8;""")
    // FOR over a constant list, validation shape, not triggered
    checkScript(
      """DEFINE FUNCTION fn::clean($s: string) {
           FOR $bad IN ['<script>', 'DROP TABLE'] {
             IF string::contains($s, $bad) { THROW 'injection: ' + $bad }
           };
           RETURN string::lowercase($s)
         };
         SELECT fn::clean(name) AS v FROM item ORDER BY v LIMIT 8;""")
    // FOR over a constant range
    checkScript(
      """DEFINE FUNCTION fn::ckr($n: number) {
           FOR $i IN 1..4 { IF $n = $i * 100 { THROW 'century' } };
           RETURN $n + 1
         };
         SELECT name, fn::ckr(qty) AS v FROM item ORDER BY name LIMIT 8;""")
  }

  test("THROW in an inlined fn:: body errors identically on both paths (r19)") {
    def bothError(script: String, msgPart: String): Unit = {
      val in = new Interp
      in.run(Parser.parse(fixtureScript))
      in.run(Parser.parse(script)).last match {
        case QErr(m) => assert(m.contains(msgPart), s"interp: $m")
        case QOk(v)  => fail(s"interp did not error: $v\n$script")
      }
      val sErr = intercept[Exception] {
        Tables.withOverlay(Map("item" -> df)) {
          SparkPlanner.script(spark, "/nonexistent", script).collect()
        }
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(sErr).exists(_.contains(msgPart)),
        s"spark error lacks '$msgPart': ${msgs(sErr).mkString(" | ")}")
    }
    // THROW-terminal body: always errors, reference text
    bothError(
      """DEFINE FUNCTION fn::die($s: string) { THROW 'fatal: ' + $s };
         SELECT fn::die(name) AS v FROM item LIMIT 2;""",
      "An error occurred: fatal: n0")
    // guarded THROW, triggered by a matching row
    bothError(
      """DEFINE FUNCTION fn::pos($x: number) {
           IF $x >= 0 { THROW 'non-negative' };
           RETURN $x
         };
         SELECT fn::pos(qty) AS v FROM item LIMIT 2;""",
      "An error occurred: non-negative")
    // FOR-unrolled guard, triggered
    bothError(
      """DEFINE FUNCTION fn::ck($s: string) {
           FOR $bad IN ['n01', 'n02'] {
             IF $s = $bad { THROW 'blocked ' + $bad }
           };
           RETURN $s
         };
         SELECT fn::ck(name) AS v FROM item ORDER BY v LIMIT 4;""",
      "An error occurred: blocked n01")
  }

  test("LET-substitution blowup guard: doubling bindings decline fast") {
    // LET $v1 = $v0 + $v0; LET $v2 = $v1 + $v1; … doubles the substituted
    // tree per binding — 2^n growth in ONE call frame, invisible to the
    // depth-16 recursion cap. The planner must decline past MaxInlineNodes
    // with a named error in well under a second, not compile for minutes;
    // the interpreter evaluates LETs by VALUE (once per binding, the
    // reference block executor's semantics) and returns the exact result.
    val lets = (1 to 24)
      .map(i => s"LET $$v$i = $$v${i - 1} + $$v${i - 1};").mkString(" ")
    val script =
      s"""DEFINE FUNCTION fn::dbl($$x: number) {
            LET $$v0 = $$x; $lets RETURN $$v24
          };
          SELECT id, fn::dbl(1) AS v FROM item ORDER BY id LIMIT 3;"""
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    in.run(Parser.parse(script)).last match {
      case QOk(VArr(items)) =>
        items.foreach {
          case VObj(m) => assert(m("v") == VInt(1 << 24),
            s"interp by-value LET result wrong: ${m("v")}")
          case other => fail(s"unexpected interp row: $other")
        }
      case other => fail(s"interp should evaluate by value, got: $other")
    }
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.script(spark, "/nonexistent", script).collect()
      }
    }
    assert(e.getMessage.contains("interpreter-only"),
      s"expected the named decline, got: ${e.getMessage}")
    assert((System.nanoTime() - t0) / 1e9 < 10.0,
      "the guard must trip before the tree blows up, not after")
  }

  test("fn::-body decline boundary is enumerated policy (r20)") {
    // SparkPlanner.blockToExpr declines four body shapes to the
    // interpreter; each decline reason is pinned here as POLICY — the
    // Spark path must raise its NAMED error (never a silent wrong answer),
    // and the interpreter must run the same body correctly. A mutation
    // inside a per-row projection has no sane distributed semantics;
    // row-dependent FOR sources / RETURN-BREAK-CONTINUE in subtrees would
    // need per-row control flow; a non-deterministic LET must evaluate
    // once per row, which symbolic substitution would re-roll.
    def declines(script: String, msgPart: String): Unit = {
      val e = intercept[Exception] {
        Tables.withOverlay(Map("item" -> df)) {
          SparkPlanner.script(spark, "/nonexistent", script).collect()
        }
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(msgPart)),
        s"expected the named decline '$msgPart': ${msgs(e).mkString(" | ")}")
    }
    def interpOk(script: String, col: String, expect: V): Unit = {
      val in = new Interp
      in.run(Parser.parse(fixtureScript))
      in.run(Parser.parse(script)).last match {
        case QOk(VArr(items)) =>
          assert(items.nonEmpty, "interp returned no rows")
          items.head match {
            case VObj(m) => assert(m(col) == expect,
              s"interp value wrong: ${m(col)} != $expect")
            case other => fail(s"unexpected interp row: $other")
          }
        case other => fail(s"interpreter path failed: $other")
      }
    }

    // 1. mutating body — the canonical effectful shape
    val mut =
      """DEFINE FUNCTION fn::bump() {
           UPDATE item SET qty = qty + 100 WHERE id = 1; RETURN 7
         };
         SELECT fn::bump() AS v FROM item LIMIT 1;"""
    declines(mut, "interpreter-only")
    interpOk(mut, "v", VInt(7))

    // 2. row-dependent FOR source (only plan-time-constant arrays unroll)
    val rowFor =
      """DEFINE FUNCTION fn::ck2($t: array) {
           FOR $x IN $t { IF $x = 'zzz' { THROW 'no' } };
           RETURN array::len($t)
         };
         SELECT fn::ck2(tags) AS v FROM item LIMIT 1;"""
    declines(rowFor, "interpreter-only")
    interpOk(rowFor, "v", VInt(2))

    // 3a. BREAK inside a FOR subtree (whole-function control flow)
    val brk =
      """DEFINE FUNCTION fn::brk() {
           FOR $x IN [1, 2, 3] { BREAK };
           RETURN 9
         };
         SELECT fn::brk() AS v FROM item LIMIT 1;"""
    declines(brk, "interpreter-only")
    interpOk(brk, "v", VInt(9))

    // 3b. RETURN inside a NON-terminal IF (early return past a
    // continuation would change what the fn returns)
    val early =
      """DEFINE FUNCTION fn::early($x: number) {
           IF $x > 100 { RETURN 0 };
           RETURN $x
         };
         SELECT fn::early(qty) AS v FROM item WHERE qty = 3 LIMIT 1;"""
    declines(early, "interpreter-only")
    interpOk(early, "v", VInt(3))

    // 4. non-deterministic LET — declines BY NAME; by-value evaluation
    // makes $r - $r exactly zero on the interpreter
    val roll =
      """DEFINE FUNCTION fn::roll() {
           LET $r = rand::float(); RETURN $r - $r
         };
         SELECT fn::roll() AS v FROM item LIMIT 1;"""
    declines(roll, "non-deterministic LET")
    interpOk(roll, "v", VFloat(0.0))
  }

  test("array-element DEFINE FIELD paths enforce on the Spark path (r18)") {
    // tags.* (and the [*] spelling) pipe every element; tags[0] pipes one
    // element in place — VALUE and ASSERT both fan through the array
    checkScript(
      """DEFINE FIELD tags.* ON item TYPE string VALUE string::uppercase($value);
         UPDATE item SET tags = ['fresh', 'new'] WHERE qty > 40;
         SELECT name, array::join(tags, ',') AS t FROM item ORDER BY name LIMIT 8;""")
    checkScript(
      """DEFINE FIELD tags[*] ON item TYPE string VALUE string::trim($value);
         UPDATE item SET tags = ['  padded ', 'ok'] WHERE qty > 40;
         SELECT name, array::join(tags, '|') AS t FROM item ORDER BY name LIMIT 8;""")
    checkScript(
      """DEFINE FIELD tags[0] ON item VALUE string::uppercase($value);
         UPDATE item SET tags = ['first', 'second'] WHERE qty > 40;
         SELECT name, array::join(tags, ',') AS t FROM item ORDER BY name LIMIT 8;""")
    // (per-element ASSERT is not enforced by the interpreter either —
    // the paths agree by both applying only TYPE/VALUE per element)
  }

  test("nested-path unique indexes enforce on the Spark path (r18)") {
    // DEFINE INDEX … FIELDS meta.city UNIQUE resolves the struct path on
    // the scan probe and on write-time checks; a duplicating write errors
    // with the reference text on BOTH paths
    val base =
      """UPDATE item SET meta = { city: name };
         DEFINE INDEX city_ix ON item FIELDS meta.city UNIQUE;"""
    val ok = base +
      """SELECT name, meta.city AS c FROM item ORDER BY name LIMIT 6;"""
    checkScript(ok)
    val bad = base +
      """UPDATE item SET meta = { city: 'shared' } WHERE qty = 3;
         SELECT name FROM item LIMIT 1;"""
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    val ires = in.run(Parser.parse(bad))
    assert(ires.exists {
      case QErr(m) => m.contains("already contains")
      case _ => false
    }, s"interp accepted the duplicating write: $ires")
    val smsg = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.script(spark, "/nonexistent", bad).collect()
      }
    }.getMessage
    assert(smsg.contains("already contains"), s"spark text: $smsg")
  }

  test("IF-statement fn:: bodies inline on the Spark path (r18)") {
    // a TERMINAL IF whose arms all RETURN lowers to a per-row CASE: both
    // paths agree on multi-branch, LET-prefixed, and else-less (→ NONE)
    // shapes; nested IFs compose
    checkScript(
      """DEFINE FUNCTION fn::band($q: number) {
           IF $q > 40 { RETURN 'high' }
           ELSE IF $q > 15 { RETURN 'mid' }
           ELSE { RETURN 'low' }
         };
         SELECT name, fn::band(qty) AS b FROM item ORDER BY name LIMIT 8;""")
    checkScript(
      """DEFINE FUNCTION fn::disc($p: number) {
           LET $cut = $p * 0.1;
           IF $cut > 5 { LET $cap = 5; RETURN $cap }
           ELSE { RETURN $cut }
         };
         SELECT name, math::fixed(fn::disc(price), 4) AS d FROM item
         ORDER BY name LIMIT 8;""")
    // no ELSE: an unmatched branch falls off the block → NONE
    checkScript(
      """DEFINE FUNCTION fn::maybe($q: number) {
           IF $q > 100 { RETURN 'huge' }
         };
         SELECT name, fn::maybe(qty) AS m FROM item ORDER BY name LIMIT 6;""")
    // nested IF in an arm
    checkScript(
      """DEFINE FUNCTION fn::nest($q: number) {
           IF $q > 10 {
             IF $q > 40 { RETURN 'xl' } ELSE { RETURN 'l' }
           } ELSE { RETURN 's' }
         };
         SELECT name, fn::nest(qty) AS n FROM item ORDER BY name LIMIT 8;""")
  }

  test("ALTER FUNCTION rebinds the body identically on both paths") {
    checkScript(
      """DEFINE FUNCTION fn::f($x: number) { RETURN $x + 1 };
         ALTER FUNCTION fn::f ($x: number) { RETURN $x * 10 };
         SELECT name, fn::f(qty) AS v FROM item ORDER BY name LIMIT 6;""")
  }

  test("REMOVE FUNCTION / undefined fn:: error on both paths") {
    for (script <- Seq(
      """DEFINE FUNCTION fn::g($x: number) { RETURN $x };
         REMOVE FUNCTION fn::g;
         SELECT fn::g(qty) AS v FROM item LIMIT 1;""",
      "ALTER FUNCTION fn::nosuch ($x: number) { RETURN $x }; SELECT name FROM item LIMIT 1;",
      "REMOVE ANALYZER nosuch; SELECT name FROM item LIMIT 1;")) {
      val in = new Interp
      in.run(Parser.parse(fixtureScript))
      val iv = in.run(Parser.parse(script))
      assert(iv.exists(_.isInstanceOf[QErr]), s"interp accepted: $script")
      val sErr = intercept[Exception] {
        Tables.withOverlay(Map("item" -> df)) {
          SparkPlanner.script(spark, "/nonexistent", script)
        }.collect()
      }
      assert(sErr.getMessage != null, s"no spark error for $script")
    }
  }

  test("self-recursive fn:: hits the computation-depth error on both paths") {
    val script =
      """DEFINE FUNCTION fn::r($x: number) { RETURN fn::r($x + 1) };
         SELECT fn::r(qty) AS v FROM item LIMIT 1;"""
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    val iv = in.run(Parser.parse(script))
    assert(iv.exists {
      case QErr(m) => m.contains("computation depth"); case _ => false
    }, s"interp: $iv")
    val sErr = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.script(spark, "/nonexistent", script)
      }.collect()
    }
    assert(sErr.getMessage.contains("computation depth"), sErr.getMessage)
  }

  test("CANCEL rolls back DEFINE FUNCTION made inside the transaction") {
    val script =
      """BEGIN;
         DEFINE FUNCTION fn::tmp($x: number) { RETURN $x };
         CANCEL;
         SELECT fn::tmp(qty) AS v FROM item LIMIT 1;"""
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    val iv = in.run(Parser.parse(script))
    assert(iv.exists(_.isInstanceOf[QErr]), s"interp accepted: $iv")
    intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.script(spark, "/nonexistent", script)
      }.collect()
    }
  }

  test("search::score over a script-defined SEARCH index agrees across paths") {
    // BM25 over a custom chain: both engines build postings through the
    // same analyzer and score with the same k1/b — rounded to 4 to absorb
    // summation-order ulps (the fulltext rows' convention)
    checkScript(
      """DEFINE ANALYZER a19 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX fts ON item FIELDS grp SEARCH ANALYZER a19 BM25;
         SELECT name, math::fixed(search::score(0), 4) AS sc FROM item
         WHERE grp @0@ 'a' ORDER BY name;""")
  }

  test("multi-term @@ defaults to AND; @OR@ opts into OR — on both paths") {
    // the reference's bare-@@ boolean operator DEFAULTS to AND
    // (sql/operator.rs: unwrap_or(BooleanOperator::And)): no single-token
    // name carries both terms, so the AND query matches NOTHING while the
    // explicit OR form matches both docs
    checkScript(
      """DEFINE ANALYZER a20 TOKENIZERS blank FILTERS lowercase, snowball(english);
         DEFINE INDEX ftn2 ON item FIELDS name SEARCH ANALYZER a20 BM25;
         SELECT count() AS n FROM item WHERE name @@ 'n01 n22' GROUP ALL;""")
    checkScript(
      """DEFINE ANALYZER a21 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftn3 ON item FIELDS name SEARCH ANALYZER a21 BM25;
         SELECT name FROM item WHERE name @OR@ 'n01 n22' ORDER BY name;""")
    // scored OR form with a match ref
    checkScript(
      """DEFINE ANALYZER a22 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftn4 ON item FIELDS name SEARCH ANALYZER a22 BM25;
         SELECT name, math::fixed(search::score(0), 4) AS sc FROM item
         WHERE name @0,OR@ 'n01 n22' ORDER BY name;""")
  }

  test("search::highlight agrees across paths (shared span kernel)") {
    checkScript(
      """DEFINE ANALYZER a23 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftn5 ON item FIELDS name SEARCH ANALYZER a23 BM25 HIGHLIGHTS;
         SELECT name, search::highlight('<b>', '</b>', 0) AS hl FROM item
         WHERE name @0@ 'N07' ORDER BY name;""")
    // stemmed chain: the highlight wraps the ORIGINAL inflected token
    // whose stem matched, not the literal query string
    checkScript(
      """DEFINE ANALYZER a24 TOKENIZERS blank FILTERS lowercase, snowball(english);
         DEFINE INDEX ftn6 ON item FIELDS grp SEARCH ANALYZER a24 BM25 HIGHLIGHTS;
         SELECT name, grp, search::highlight('[', ']', 0) AS hl FROM item
         WHERE grp @0@ 'A' ORDER BY name LIMIT 5;""")
  }

  test("search::offsets agrees across paths") {
    checkScript(
      """DEFINE ANALYZER a25 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftn7 ON item FIELDS name SEARCH ANALYZER a25 BM25 HIGHLIGHTS;
         SELECT name, search::offsets(0) AS off FROM item
         WHERE name @0@ 'N07' ORDER BY name;""")
  }

  test("array::sort_natural / sort_lexical over COLUMN arrays agree (r17 sweep)") {
    // the lexicmp-family comparators over column-built arrays with digit
    // runs, leading zeros, and case ties — same comparator family the
    // ORDER BY sweep exercised, on the array:: surface
    checkSame("SELECT name, array::sort_natural([name, 'n007', 'n7', 'N2']) AS sn " +
      "FROM item ORDER BY name LIMIT 6")
    checkSame("SELECT name, array::sort_lexical([name, 'B', 'a2', 'A10']) AS sl " +
      "FROM item ORDER BY name LIMIT 6")
    checkSame("SELECT name, array::sort_natural_lexical([name, 'File1', 'FILE10', 'file2']) AS snl " +
      "FROM item ORDER BY name LIMIT 6")
  }

  test("string::slice / array::slice use [start, end) index semantics (r17 sweep)") {
    // fnc/string.rs:171 / fnc/array.rs:742 TypedRange: the third argument
    // is an EXCLUSIVE END INDEX (negatives wrap on both bounds), not the
    // 2.x-era length — and both lowerings are runtime-capable now
    checkSame("RETURN { a: string::slice('hello world', 2, 5)," +
      " b: string::slice('hello world', -5, 11)," +
      " c: string::slice('hello world', 2, -1)," +
      " d: string::slice('hello world', 7, 3)," +
      " e: array::slice([1,2,3,4,5], 1, 4)," +
      " f: array::slice([1,2,3,4,5], -3, -1)," +
      " g: array::slice([1,2,3,4,5], 0, 99) };")
    checkSame("SELECT name, string::slice(name, qty, 3) AS s, " +
      "array::slice(tags, 0, qty) AS t FROM item ORDER BY name LIMIT 8;")
  }

  test("string::replace: literal, runtime, and regex forms agree (r17 sweep)") {
    // fnc/string.rs replace: the plain-string arm is a LITERAL replace for
    // constant AND runtime search strings ('.' does not regex-match; the
    // old Spark lowering silently replaced spaces for non-constant
    // search); the Regex arm splices the replacement literally across all
    // matches — the old interp arm auto-tupled append(v, i, j) into a
    // tuple render (absolute pin below)
    val in6 = new Interp
    in6.run(Parser.parse("RETURN string::replace('a1b2c3', /\\d/, '.');")).last match {
      case QOk(VStr(s)) => assert(s == "a.b.c.", s"regex replace: $s")
      case other => fail(s"interp: $other")
    }
    checkSame("SELECT name, string::replace(name, name, 'X') AS a, " +
      "string::replace(name, '.', '!') AS b, " +
      "string::replace(name, /\\d+/, '#') AS c " +
      "FROM item ORDER BY name LIMIT 8;")
  }

  test("regex character classes are Unicode, as the Rust regex crate (r17 sweep)") {
    // fnc/string.rs matches → Regex::is_match: \d \w \s are UNICODE by
    // default in the crate — '١٢٣' (Arabic-Indic digits) must match \d+
    // (Java's default ASCII classes missed it on BOTH engines). Values
    // asserted absolutely, then cross-path incl. the column lowering.
    val in5 = new Interp
    in5.run(Parser.parse("RETURN string::matches('١٢٣', '\\\\d+');")).last match {
      case QOk(VBool(b)) => assert(b, "unicode digits must match \\d+")
      case other => fail(s"interp: $other")
    }
    checkSame("RETURN { a: string::matches('١٢٣', '\\\\d+')," +
      " b: string::matches('abc', '^\\\\w+$')," +
      " c: string::matches('Ärger', '^\\\\w+$')," +
      " d: string::matches('12 34', '^\\\\d+$') };")
    checkSame("SELECT name, string::matches(name, '\\\\d\\\\d$') AS m " +
      "FROM item ORDER BY name LIMIT 8;")
  }

  test("object iteration is key-sorted; array accessors yield NONE out of range (r17 sweep)") {
    // the reference's Object is a BTreeMap (val/object.rs) — keys/values/
    // entries iterate KEY-SORTED regardless of literal insertion order
    // (entries values are canonical string renders on the Spark path —
    // array elements share one type — so the pin uses string values)
    checkSame("RETURN { e: object::entries({b: '2', a: '1', c: '3'})," +
      " k: object::keys({z: 1, a: 2}), v: object::values({b: 'x', a: 'y'}) };")
    // out-of-range array accessors are NONE, not ANSI element_at errors
    // (fnc/array.rs get)
    checkSame("RETURN { a: array::at([1,2,3], -4), b: array::at([1,2,3], 3)," +
      " c: array::first([]), d: array::last([]), e: array::at([1,2,3], -1) };")
    checkSame("SELECT name, array::at(tags, qty) AS a, array::first(tags) AS f " +
      "FROM item ORDER BY name LIMIT 8;")
  }

  test("parse::url edges agree over columns (r17 sweep)") {
    // url-crate edges: bracketed IPv6 hosts (':' inside the brackets — the
    // old port patterns on BOTH paths stopped at the first ':'), missing
    // ports → NONE (not an ANSI cast error on ''), the empty special-
    // scheme path normalizing to '/', ports > 65535 rejected
    val urls = Seq(
      "https://user:pw@example.com:8080/p/q?x=1&y=2#frag",
      "http://[2001:db8::1]:9000/a",
      "https://example.com",
      "https://example.com/",
      "https://example.com:99999/x",
      "https://example.com/p%20q?a=b%26c")
    val udf0 = {
      import spark.implicits._
      urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("id", "u")
    }
    val fixture = urls.zipWithIndex.map { case (u, i) =>
      s"CREATE uu:$i SET u = '$u';" }.mkString("\n")
    SparkPlanner.extraRecordKeys.put("uu", "id")
    for (f <- Seq("domain", "host", "port", "path", "query", "fragment", "scheme")) {
      val q = s"SELECT u, parse::url::$f(u) AS v FROM uu ORDER BY u;"
      val in4 = new Interp
      in4.run(Parser.parse(fixture))
      compare(q, in4.run(Parser.parse(q)).last,
        Tables.withOverlay(Map("uu" -> udf0)) {
          SparkPlanner.query(spark, "/nonexistent", q)
        })
    }
  }

  test("semver pre-release precedence is SemVer-spec exact (r17 sweep)") {
    // fnc/string.rs semver::compare → the semver crate → spec §11: a
    // pre-release sorts BELOW its plain version, identifiers compare
    // field-wise (numeric < alphanumeric, prefix → fewer is lower), build
    // metadata is IGNORED. Both engines used to compare only the numeric
    // triple — a SHARED bug cross-path agreement was blind to, caught by
    // arbitrating against the crate's spec. Values asserted ABSOLUTELY
    // (interp), then cross-path.
    val in3 = new Interp
    def c(a: String, b: String): Long =
      in3.run(Parser.parse(s"RETURN string::semver::compare('$a', '$b');")).last match {
        case QOk(VInt(v)) => v
        case other => fail(s"compare($a,$b) -> $other")
      }
    assert(c("1.0.0-alpha", "1.0.0") == -1)        // §11.3
    assert(c("1.0.0-alpha", "1.0.0-alpha.1") == -1) // prefix, fewer lower
    assert(c("1.0.0-alpha.1", "1.0.0-alpha.beta") == -1) // numeric < alpha
    assert(c("1.0.0-alpha.beta", "1.0.0-beta") == -1)
    assert(c("1.0.0-rc.1", "1.0.0") == -1)
    assert(c("1.0.0+build1", "1.0.0+build2") == 0) // build ignored
    assert(c("1.0.0-rc.2", "1.0.0-rc.11") == -1)   // numeric ids numeric
    // cross-path over columns; inc/set keep the pre-release/build tail
    checkSame("RETURN { a: string::semver::compare('1.0.0-alpha', '1.0.0')," +
      " b: string::semver::compare('1.0.0-alpha.1', '1.0.0-alpha.beta')," +
      " c: string::semver::inc::minor('1.2.3-rc.1+b7')," +
      " d: string::semver::set::patch('1.2.3-rc.1', 9) };")
  }

  test("cast edges agree; constant casts fold with reference errors (r17 sweep)") {
    // numeric edges and the kinds with no column form (durations are
    // seconds-longs in the Spark column model, so the <duration> cast
    // compares through duration::secs). r20 re-audit vs cast.rs: a
    // FRACTIONAL float does NOT truncate to int and bool has NO int arm —
    // the r17 pins of `<int>3.9` → 3 and `<int>true` → 1 were wrong
    checkSame("RETURN { a: <int> 3.0, b: <int> (0 - 4.0), c: <int> '42'," +
      " e: <float> '1e3', f: <bool> 'true', g: <string> 1.5," +
      " h: duration::secs(<duration> '90m') };")
    Seq("RETURN <int> 3.9;", "RETURN <int> true;").foreach { bad =>
      val in = new Interp
      in.run(Parser.parse(fixtureScript))
      in.run(Parser.parse(bad)).last match {
        case QOk(got) => fail(s"interp accepted $bad: $got")
        case QErr(m) => assert(m.contains("Could not cast into `int`"), m)
      }
    }
    // an invalid constant cast carries the reference error text on BOTH
    // paths (expr/cast.rs "Could not cast into `int` using input …")
    val q = "RETURN <int> 'x';"
    val iv = try { interp.run(Parser.parse(q)).last } catch {
      case e: Exception => QErr(e.getMessage)
    }
    val iMsg = iv match {
      case QErr(m) => m; case other => fail(s"interp accepted: $other")
    }
    assert(iMsg.contains("Could not cast into"))
    val sErr = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.query(spark, "/nonexistent", q)
      }.collect()
    }
    assert(sErr.getMessage.contains("Could not cast into"),
      s"spark: ${sErr.getMessage}")
  }

  test("time::floor/ceil/round chrono edge semantics agree (r17 sweep)") {
    // chrono duration_trunc/duration_round (fnc/time.rs): pre-epoch stamps
    // floor toward -INFINITY (not toward zero), half-way ties round UP,
    // zero duration is the identity, sub-second spans work
    checkSame("RETURN { a: time::floor(d'1969-12-31T23:59:59Z', 1m)," +
      " b: time::ceil(d'1969-12-31T23:59:59Z', 1m)," +
      " c: time::round(d'1969-12-31T23:59:30Z', 1m)," +  // pre-epoch tie → UP
      " d: time::round(d'2024-03-05T12:30:30Z', 1m)," +  // tie → UP
      " e: time::floor(d'2024-03-05T12:31:17Z', 0ns)," + // zero → identity
      " f: time::round(d'2024-03-05T12:31:17.123456Z', 500µs) };")
    // COLUMN timestamps through the Spark kernel (pre-epoch rows included)
    checkSame("SELECT name, time::floor(ts, 7m) AS f, time::ceil(ts, 7m) AS c, " +
      "time::round(ts, 7m) AS r FROM item ORDER BY name LIMIT 8;")
    // chrono's i64-nanos limits: a duration past i64 nanos errors with the
    // reference's InvalidFunctionArguments text on BOTH paths
    val q = "RETURN time::floor(d'2024-03-05T12:31:00Z', duration::max);"
    val iv = try { interp.run(Parser.parse(q)).last } catch {
      case e: Exception => QErr(e.getMessage)
    }
    val iMsg = iv match {
      case QErr(m) => m
      case other => fail(s"interp accepted duration::max floor: $other")
    }
    assert(iMsg.contains("represented as nanoseconds"), s"interp: $iMsg")
    val sErr = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.query(spark, "/nonexistent", q)
      }.collect()
    }
    assert(sErr.getMessage.contains("represented as nanoseconds"),
      s"spark: ${sErr.getMessage}")
  }

  test("duration arithmetic overflow carries the reference error on both paths (r17 sweep)") {
    // val/duration.rs TryAdd/TrySub (the query-path `+`/`-` are the checked
    // ops, fnc/operate.rs:20-24): overflow → "…arithmetic overflow.",
    // below-zero → "…negative value." — same text on BOTH paths.
    // constant datetime ± duration also folds through the checked ops —
    // value agreement down to Spark's TimestampType precision (MICROS; a
    // 1ns delta is interp-only precision, inherent to the column model)
    checkSame("RETURN d'2024-03-05T12:31:00Z' + 90m;")
    checkSame("RETURN d'2024-03-05T12:31:00Z' - 1µs;")
    for ((q, needle) <- Seq(
      "RETURN duration::max + 1ns;" -> "arithmetic overflow",
      "RETURN 1s - 2s;" -> "negative value",
      // past chrono's DateTime<Utc>::MAX_UTC (+262142): the reference's
      // Duration TryAdd<Datetime> errors (val/duration.rs:325-338)
      "RETURN d'9999-12-31T23:59:59Z' + 9999999y;" -> "arithmetic overflow",
      "RETURN d'2024-01-01T00:00:00Z' + duration::max;" -> "arithmetic overflow")) {
      val iv = try { interp.run(Parser.parse(q)).last } catch {
        case e: Exception => QErr(e.getMessage)
      }
      val iMsg = iv match {
        case QErr(m) => m
        case other => fail(s"interp accepted: $q -> $other")
      }
      assert(iMsg.contains(needle), s"interp error text: $iMsg")
      val sErr = intercept[Exception] {
        Tables.withOverlay(Map("item" -> df)) {
          SparkPlanner.query(spark, "/nonexistent", q)
        }.collect()
      }
      assert(sErr.getMessage.contains(needle),
        s"spark error text: ${sErr.getMessage}")
    }
  }

  test("COLLATE/NUMERIC edge ordering agrees (r17 sweep)") {
    // natural_cmp / lexical_cmp / natural_lexical_cmp (val/value/
    // compare.rs:15-19, lexicmp crate) on the adversarial edges: leading
    // zeros, digit runs LONGER than any fixed pad width (the old Spark key
    // lpad-truncated at 20 digits and misordered 'x234y' vs
    // 'x…0001234y'), case ties, empty strings.
    val edges = Seq("a007", "a7", "a07b", "a7b", "File1", "FILE10", "file2",
      "x123456789012345678901234567890", "x123456789012345678901234567891",
      "x000000000000000000001234y", "x234y", "B", "a", "")
    val fixture = edges.zipWithIndex.map { case (v, i) =>
      s"CREATE s:${i + 1} SET v = '$v';"
    }.mkString("\n")
    import spark.implicits._
    val sdf = edges.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
      .toDF("id", "v")
    SparkPlanner.extraRecordKeys.put("s", "id")
    for (mode <- Seq("NUMERIC", "COLLATE", "COLLATE NUMERIC")) {
      val q = s"SELECT v FROM s ORDER BY v $mode;"
      val in = new Interp
      in.run(Parser.parse(fixture))
      compare(q, in.run(Parser.parse(q)).last,
        Tables.withOverlay(Map("s" -> sdf)) {
          SparkPlanner.query(spark, "/nonexistent", q)
        })
    }
  }

  test("string::similarity::sorensen_dice is strsim-exact on both paths") {
    // r17 sweep catch: strsim::sorensen_dice strips whitespace from the
    // STRINGS before building bigrams (so 'ab cd' ≡ 'abcd' → 1.0) and
    // divides by the stripped lengths — the old per-bigram filter lost the
    // cross-space bigram and divided by bigram counts. Hand-traced crate
    // vectors: ('ferris','feris') = 8/9.
    checkSame(
      """RETURN { a: string::similarity::sorensen_dice('ferris', 'feris'),
                  b: string::similarity::sorensen_dice('ab cd', 'abcd'),
                  c: string::similarity::sorensen_dice('night', 'nacht'),
                  d: string::similarity::sorensen_dice('', ''),
                  e: string::similarity::sorensen_dice('a', 'b') };""")
    checkSame(
      """SELECT name, string::similarity::sorensen_dice(name, 'n0 1') AS sd
         FROM item ORDER BY name LIMIT 8;""")
  }

  test("encoding::base64 / geo::hash / crypto::pbkdf2 reference edges (r18)") {
    // base64: unpadded encode by default, truthy 2nd arg pads; decode is
    // padding-INDIFFERENT (fnc/encoding.rs) — both paths agree
    checkSame(
      """RETURN { a: encoding::base64::encode(<bytes>'hello'),
                  b: encoding::base64::encode(<bytes>'hello', true),
                  c: <string>encoding::base64::decode('aGVsbG8'),
                  d: <string>encoding::base64::decode('aGVsbG8=') };""")
    // malformed input errors with the reference text on both paths —
    // Spark's builtin unbase64 would have silently skipped the bad chars
    val q = "SELECT <string>encoding::base64::decode('a===') AS v FROM item LIMIT 1;"
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    assert(in.run(Parser.parse(q)).last match {
      case QErr(m) => m.contains(
        "Incorrect arguments for function encoding::base64::decode(). invalid base64")
      case _ => false
    }, "interp accepted malformed base64")
    val smsg = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.query(spark, "/nonexistent", q).collect()
      }
    }.getMessage
    assert(smsg.contains("invalid base64"), s"spark: $smsg")

    // geo::hash::encode uses the reference's STRICT `>` midpoint test
    // (fnc/util/geo/mod.rs:24): (0,0) encodes as 7zzz…, not the s000… of
    // >=-based geohash libraries; grid-aligned (90,45) likewise; decode
    // round-trips; length 0/13 raise the reference's geo::encode error
    val in2 = new Interp
    val gres = in2.run(Parser.parse(
      """RETURN [geo::hash::encode((0.0, 0.0)),
                 geo::hash::encode((90.0, 45.0), 6),
                 geo::hash::encode((-5.6, 42.6), 4)];""")).last
    gres match {
      case QOk(VArr(vs)) =>
        assert(vs(0) == VStr("7zzzzzzzzzzz"), s"(0,0): ${vs(0)}")
        assert(vs(1) == VStr("tzzzzz"), s"(90,45): ${vs(1)}")
        assert(vs(2) == VStr("ezs4"), s"(-5.6,42.6): ${vs(2)}") // classic vector
      case other => fail(s"unexpected: $other")
    }
    assert(in2.run(Parser.parse(
      "RETURN geo::hash::encode((1.0, 2.0), 13);")).last match {
      case QErr(m) => m.contains("Incorrect arguments for function geo::encode(). " +
        "The second argument must be an integer greater than 0 and less than or equal to 12.")
      case _ => false
    }, "length 13 must raise the reference's geo::encode error")

    // crypto::pbkdf2: REAL PHC verification of externally-generated
    // hashes (pbkdf2 crate format), cost-bounded; round-trip; malformed
    // and over-cost hashes compare false (cmp never errors)
    val phc = "$pbkdf2-sha256$i=4096,l=32$c2FsdA$xeR41ZKIyEGqUw22hFxMjZYok6ABzk4RpJY4c6qYE0o"
    val phc512 = "$pbkdf2-sha512$i=1000,l=64$MDEyMzQ1Njc4OWFiY2RlZg$Xp/4UtI3VYuUskUJvg/ElBho/1QUob2t4wOqDH2dRs5/P6kzj5+E8oi97sPcw7P4ZvydZ2rKx3aQeetuxYWOOg"
    val overCost = "$pbkdf2-sha256$i=9999999,l=32$c2FsdA$xeR41ZKIyEGqUw22hFxMjZYok6ABzk4RpJY4c6qYE0o"
    val cres = in2.run(Parser.parse(
      s"""RETURN [crypto::pbkdf2::compare('$phc', 'password'),
                  crypto::pbkdf2::compare('$phc', 'wrong'),
                  crypto::pbkdf2::compare('$phc512', 'hunter2'),
                  crypto::pbkdf2::compare('$overCost', 'password'),
                  crypto::pbkdf2::compare('not a hash', 'x'),
                  crypto::pbkdf2::compare(crypto::pbkdf2::generate('s3cret'), 's3cret'),
                  crypto::argon2::compare(crypto::argon2::generate('s3cret'), 's3cret'),
                  crypto::bcrypt::compare(crypto::bcrypt::generate('s3cret'), 'wrong')];""")).last
    cres match {
      case QOk(VArr(vs)) =>
        assert(vs == Vector(VBool(true), VBool(false), VBool(true),
          VBool(false), VBool(false), VBool(true), VBool(true), VBool(false)),
          s"pbkdf2/compare vector: $vs")
      case other => fail(s"unexpected: $other")
    }
  }

  test("time::format carries chrono's FULL specifier table (r18)") {
    // r18 sweep catch: the old interp formatter VALIDATED %F/%D/%T/%C/%e/
    // %I/%U/%W/%G/%V/%r/%R/%z &c. and then rendered them LITERALLY; the
    // old Spark translation named-errored on them. Both paths now run the
    // shared Strftime engine — this pin first locks cross-path agreement,
    // then locks the ABSOLUTE values to hand-derived chrono vectors for
    // 2021-03-07T04:05:06.007008009Z (a Sunday, yday 66, ISO week 09).
    // cross-path probe at MICROSECOND precision: Spark timestamps are µs,
    // so sub-µs digits exist only on the interp path (asserted below
    // against chrono vectors at full nano precision)
    val ts = "d'2021-03-07T04:05:06.007008Z'"
    checkSame(
      s"""RETURN { a: time::format($ts, '%F %T'),
                   b: time::format($ts, '%D|%x|%R|%r'),
                   c: time::format($ts, '%a %A %w %u %j'),
                   d: time::format($ts, '%U %W %G %g %V'),
                   e: time::format($ts, '%C %y %e %I %l %P %p %k'),
                   f: time::format($ts, '%f|%.f|%.3f|%3f|%6f'),
                   g: time::format($ts, '%z %:z %Z %s'),
                   h: time::format($ts, '%c'),
                   i: time::format($ts, '%v'),
                   j: time::format($ts, '%+'),
                   k: time::format($ts, '%-d %0e %_m %-j') };""")
    val tn = "d'2021-03-07T04:05:06.007008009Z'"
    val in = new Interp
    val res = in.run(Parser.parse(
      s"""RETURN [time::format($tn, '%F %T'), time::format($tn, '%D'),
                  time::format($tn, '%a %A %w %u %j'),
                  time::format($tn, '%U %W %G %g %V'),
                  time::format($tn, '%C %y %e %I %l %P %p'),
                  time::format($tn, '%f|%.f|%.3f|%3f|%6f'),
                  time::format($tn, '%z %:z %Z'),
                  time::format($tn, '%c'), time::format($tn, '%v'),
                  time::format($tn, '%+'),
                  time::format($tn, '%-d %0e %_m')];""")).last
    res match {
      case QOk(VArr(vs)) =>
        val got = vs.map { case VStr(s) => s; case o => o.toString }
        val want = Vector(
          "2021-03-07 04:05:06",
          "03/07/21",
          "Sun Sunday 0 7 066",
          "10 09 2021 21 09",
          "20 21  7 04  4 am AM",
          "007008009|.007008009|.007|007|007008",
          "+0000 +00:00 UTC",
          "Sun Mar  7 04:05:06 2021",
          " 7-Mar-2021",
          "2021-03-07T04:05:06.007008009+00:00",
          "7 07  3")
        got.zip(want).zipWithIndex.foreach { case ((g, w), n) =>
          assert(g == w, s"chrono vector $n: got '$g', want '$w'")
        }
      case other => fail(s"unexpected: $other")
    }
    // invalid specifiers error with the reference's text on both paths
    // (%q does not exist in chrono; a trailing % is incomplete)
    for (bad <- Seq("'%q'", "'abc%'")) {
      val q = s"SELECT time::format(d'2021-03-07T04:05:06Z', $bad) AS v FROM item LIMIT 1;"
      val in2 = new Interp
      in2.run(Parser.parse(fixtureScript))
      val ires = in2.run(Parser.parse(q)).last
      assert(ires match {
        case QErr(m) => m.contains("is not a valid time formatting string")
        case _ => false
      }, s"interp accepted $bad")
      val smsg = intercept[Exception] {
        Tables.withOverlay(Map("item" -> df)) {
          SparkPlanner.query(spark, "/nonexistent", q).collect()
        }
      }.getMessage
      assert(smsg.contains("is not a valid time formatting string"),
        s"spark text for $bad: $smsg")
    }
  }

  test("math::fixed is the reference's format-then-parse shape (r18)") {
    // val/number.rs:583-588: Int/Float format through "{v:.p}" and parse
    // BACK — so fixed(5, 2) is FLOAT 5.0 (not int 5), rounding happens on
    // the exact binary value with ties-to-even (2.675f64 is exactly
    // 2.67499… → 2.67, where canonical-string HALF_UP says 2.68; 0.125 at
    // p=2 is an exact tie → 0.12), and NaN/±inf pass through the
    // "NaN"/"inf" round-trip. Decimals use rust_decimal round_dp:
    // banker's rounding, shorter scales NOT zero-padded.
    checkSame(
      """RETURN { a: math::fixed(5, 2),
                  b: math::fixed(2.675, 2),
                  c: math::fixed(0.125, 2),
                  d: math::fixed(0.375, 2),
                  e: math::fixed(2.5, 1),
                  f: math::fixed(0.0 - 0.125, 2) };""")
    checkSame(
      """SELECT name, math::fixed(price / 7, 3) AS v FROM item
         ORDER BY name LIMIT 8;""")
    // math::round on a DECIMAL is rust_decimal round(): banker's —
    // 2.5dec → 2, 3.5dec → 4 (float round stays half-away-from-zero)
    checkSame(
      """RETURN { a: math::round(2.5dec), b: math::round(3.5dec),
                  c: math::round(0.0 - 2.5dec), d: math::round(2.5),
                  e: math::fixed(2.125dec, 2), f: math::fixed(5dec, 3) };""")
  }

  test("array::clump/windows edge sizes error like the reference (r18)") {
    // val/array.rs:245,423: size max(0)'d then required >= 1 — 0 and
    // negatives raise InvalidFunctionArguments on BOTH paths; oversize
    // windows yield EMPTY, oversize clump yields one short chunk
    checkSame(
      """RETURN { a: array::clump([1, 2, 3, 4, 5], 2),
                  b: array::clump([1, 2], 5),
                  c: array::windows([1, 2, 3], 2),
                  d: array::windows([1, 2], 5),
                  e: array::clump([], 3), f: array::windows([], 3) };""")
    for (bad <- Seq("array::clump([1, 2], 0)", "array::windows([1, 2], 0)",
        "array::clump([1], 0 - 3)", "array::windows([1], 0 - 3)")) {
      val fn = bad.takeWhile(_ != '(')
      val q = s"SELECT $bad AS v FROM item LIMIT 1;"
      val in = new Interp
      in.run(Parser.parse(fixtureScript))
      val ires = in.run(Parser.parse(q)).last
      val want = s"Incorrect arguments for function $fn(). " +
        "The second argument must be an integer greater than 0"
      ires match {
        case QErr(m) => assert(m.contains(want), s"interp text for $bad: $m")
        case other   => fail(s"interp accepted $bad: $other")
      }
      val smsg = intercept[Exception] {
        Tables.withOverlay(Map("item" -> df)) {
          SparkPlanner.query(spark, "/nonexistent", q).collect()
        }
      }.getMessage
      assert(smsg.contains(want), s"spark text for $bad: $smsg")
    }
  }

  test("string-sim family: Unicode scalars, Rust White_Space, DoS guard (r18)") {
    // Rust-char (code-point) iteration and char::is_whitespace, NOT Java
    // UTF-16 units / Character.isWhitespace:
    //  - U+00A0 NBSP is Unicode White_Space (Java says no) → sorensen
    //    strips it: 'ab cd' ≡ 'abcd' → 1.0
    //  - U+001C file separator is NOT Unicode White_Space (Java says yes)
    //    → it stays and breaks equality
    //  - a non-BMP scalar (𝄞 U+1D11E) is ONE unit everywhere: hamming and
    //    levenshtein count it once, sorensen bigrams don't split the
    //    surrogate pair
    checkSame(
      """RETURN { a: string::similarity::sorensen_dice('ab cd', 'abcd'),
                  b: string::distance::hamming('a𝄞c', 'axc'),
                  c: string::distance::levenshtein('𝄞𝄞', '𝄞'),
                  d: string::similarity::jaro('a𝄞', 'a𝄞'),
                  e: string::distance::normalized_levenshtein('𝄞x', '𝄞y') };""")
    // the reference's STRING_SIMILARITY_LIMIT guard (fnc/string.rs:28,
    // 16384 BYTES): both engines raise the same InvalidFunctionArguments
    // text. string::repeat builds the oversized input inside the query.
    val q = """SELECT string::distance::levenshtein(string::repeat('a', 20000), 'b') AS v
               FROM item LIMIT 1;"""
    val in = new Interp
    in.run(Parser.parse(fixtureScript))
    val ires = in.run(Parser.parse(q)).last
    val imsg = ires match {
      case QErr(m) => m
      case other   => fail(s"interp accepted oversized input: $other")
    }
    val smsg = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.query(spark, "/nonexistent", q).collect()
      }
    }.getMessage
    val want = "Incorrect arguments for function string::distance::levenshtein(). " +
      "Input strings must not exceed 16384 bytes (got 20000 and 1)."
    assert(imsg.contains(want), s"interp error text: $imsg")
    assert(smsg.contains(want), s"spark error text: $smsg")
  }

  test("geo::distance / geo::bearing over COLUMN points agree BIT-exact") {
    // r17 geo sweep: both engines implement haversine independently and the
    // DuckDB twin can't arbitrate ulps — pin raw doubles, no rounding. The
    // shared shape is georust Haversine (fnc/geo.rs): asin form, exact
    // association. (price, qty) stays inside valid (lon, lat) ranges.
    checkSame(
      """SELECT name,
              geo::distance((price, qty), (2.35, 48.85)) AS d,
              geo::bearing((price, qty), (2.35, 48.85)) AS b
         FROM item ORDER BY name LIMIT 10;""")
    // GeoJSON-shaped object points coerce in geo:: argument positions
    checkSame(
      """SELECT name,
              geo::distance({ type: 'Point', coordinates: [price, qty] },
                            { type: 'Point', coordinates: [2.35, 48.85] }) AS d
         FROM item ORDER BY name LIMIT 10;""")
  }

  test("UPDATE SET on a missing field CREATES it (schemaless default)") {
    // doc/alter.rs set-path walk: the reference's default table is
    // schemaless, so SET newfield = … creates the field; rows outside the
    // WHERE keep it absent (NONE)
    checkScript(
      """UPDATE item SET flag = qty * 2 WHERE qty > 4;
         SELECT name, qty, flag FROM item WHERE qty >= 4 ORDER BY name;""")
    // a new ARRAY field built from an existing field + a literal
    checkScript(
      """UPDATE item SET pair = [name, 'fixed'] WHERE qty = 1;
         SELECT name, pair FROM item WHERE qty <= 1 ORDER BY name;""")
  }

  test("FUNCTION analyzers build Spark-side postings (r17)") {
    // idx/ft/analyzer/mod.rs:97-104: the whole input runs through a user
    // fn:: BEFORE tokenization, on BOTH the indexing side (per-row inlined
    // column expression) and the query side (driver-side constant fold).
    // fn::pre maps '0'→'x', so 'N07' indexes as 'nx7' and only the
    // transformed query text matches.
    checkScript(
      """DEFINE FUNCTION fn::pre($t: string) { RETURN string::replace($t, '0', 'x') };
         DEFINE ANALYZER afn FUNCTION fn::pre TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftf1 ON item FIELDS name SEARCH ANALYZER afn BM25;
         SELECT name FROM item WHERE name @@ 'N07' ORDER BY name;""")
    // scored: BM25 over fn-transformed postings agrees
    checkScript(
      """DEFINE FUNCTION fn::pre2($t: string) { RETURN $t + ' extra' };
         DEFINE ANALYZER afn2 FUNCTION fn::pre2 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftf2 ON item FIELDS grp SEARCH ANALYZER afn2 BM25;
         SELECT name, math::fixed(search::score(0), 4) AS sc FROM item
         WHERE grp @0,OR@ 'extra a' ORDER BY name LIMIT 6;""")
    // ALTER FUNCTION re-keys the postings: after the ALTER the transform
    // maps '0'→'z', so the old query term no longer matches
    checkScript(
      """DEFINE FUNCTION fn::pre3($t: string) { RETURN string::replace($t, '0', 'x') };
         DEFINE ANALYZER afn3 FUNCTION fn::pre3 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftf3 ON item FIELDS name SEARCH ANALYZER afn3 BM25;
         ALTER FUNCTION fn::pre3 ($t: string) { RETURN string::replace($t, '0', 'z') };
         REBUILD INDEX ftf3 ON item;
         SELECT name FROM item WHERE name @@ 'N07' ORDER BY name;""")
  }

  test("FUNCTION analyzers over ARRAY fields: per-value fn on both paths (r17)") {
    // the reference's analyze_value walks arrays and runs the fn per string
    // value (mod.rs:75-80); tags = ['t{i%2}', 't{i%5}'] and fn maps 't'→'z',
    // so only the transformed query term matches — with spans keyed by
    // value index and highlight wrapping the original values
    checkScript(
      """DEFINE FUNCTION fn::zz($t: string) { RETURN string::replace($t, 't', 'z') };
         DEFINE ANALYZER afz FUNCTION fn::zz TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftz ON item FIELDS tags SEARCH ANALYZER afz BM25 HIGHLIGHTS;
         SELECT name, tags, search::highlight('<', '>', 0) AS hl,
                search::offsets(0) AS off
         FROM item WHERE tags @0@ 't3' ORDER BY name;""")
    checkScript(
      """DEFINE FUNCTION fn::zz2($t: string) { RETURN string::replace($t, 't', 'z') };
         DEFINE ANALYZER afz2 FUNCTION fn::zz2 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftz2 ON item FIELDS tags SEARCH ANALYZER afz2 BM25;
         SELECT name, math::fixed(search::score(0), 4) AS sc FROM item
         WHERE tags @0,OR@ 't1 t4' ORDER BY name;""")
  }

  test("search::highlight/offsets over FUNCTION analyzers agree (r17)") {
    // spans come from the fn-TRANSFORMED text and wrap the ORIGINAL value
    // (the fn here is length-preserving, so offsets stay in range); both
    // the highlight splice and the offsets map must agree across paths
    checkScript(
      """DEFINE FUNCTION fn::pre4($t: string) { RETURN string::replace($t, '0', 'x') };
         DEFINE ANALYZER afn4 FUNCTION fn::pre4 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftf4 ON item FIELDS name SEARCH ANALYZER afn4 BM25 HIGHLIGHTS;
         SELECT name, search::highlight('<', '>', 0) AS hl, search::offsets(0) AS off
         FROM item WHERE name @0@ 'N07' ORDER BY name;""")
    // a LENGTHENING fn pushes spans past the original: the reference's
    // highlighter errors ("A value can't be highlighted: …",
    // highlighter.rs:92-95) — both paths must error
    val script =
      """DEFINE FUNCTION fn::pre5($t: string) { RETURN 'xxxxxxxx' + $t };
         DEFINE ANALYZER afn5 FUNCTION fn::pre5 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftf5 ON item FIELDS name SEARCH ANALYZER afn5 BM25 HIGHLIGHTS;
         SELECT name, search::highlight('<', '>', 0) AS hl FROM item
         WHERE name @0@ 'N07' ORDER BY name;"""
    val in2 = new Interp
    in2.run(Parser.parse(fixtureScript))
    val iv = try { in2.run(Parser.parse(script)).last } catch {
      case e: Exception => QErr(e.getMessage)
    }
    val iMsg = iv match {
      case QErr(m) => m
      case other => fail(s"interp accepted lengthening-fn highlight: $other")
    }
    assert(iMsg.contains("can't be highlighted"), s"interp error: $iMsg")
    val sErr = intercept[Exception] {
      Tables.withOverlay(Map("item" -> df)) {
        SparkPlanner.script(spark, "/nonexistent", script)
      }.collect()
    }
    assert(sErr.getMessage.contains("can't be highlighted"),
      s"spark error: ${sErr.getMessage}")
  }

  test("array-valued fields: @@ match, highlight, offsets agree across paths") {
    // tags is array<string> (["t{i%2}", "t{i%5}"]): the index analyzes
    // every value; highlight wraps matched values in place; offsets keys
    // spans by VALUE INDEX (highlighter.rs:83-84,169-175) — 't1' can hit
    // value 0 (odd i), value 1 (i%5==1), or both (i%10==1)
    checkScript(
      """DEFINE ANALYZER a26 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftt1 ON item FIELDS tags SEARCH ANALYZER a26 BM25 HIGHLIGHTS;
         SELECT name, tags, search::highlight('<', '>', 0) AS hl FROM item
         WHERE tags @0@ 't1' ORDER BY name;""")
    checkScript(
      """DEFINE ANALYZER a27 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftt2 ON item FIELDS tags SEARCH ANALYZER a27 BM25 HIGHLIGHTS;
         SELECT name, search::offsets(0) AS off FROM item
         WHERE tags @0@ 't1' ORDER BY name;""")
    // scored array-field match: BM25 over per-value-aggregated tf/dl
    checkScript(
      """DEFINE ANALYZER a28 TOKENIZERS blank FILTERS lowercase;
         DEFINE INDEX ftt3 ON item FIELDS tags SEARCH ANALYZER a28 BM25;
         SELECT name, math::fixed(search::score(0), 4) AS sc FROM item
         WHERE tags @0@ 't3' ORDER BY name;""")
  }
}
