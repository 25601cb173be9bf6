package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.surql._

/** Engine unit coverage: parser round-trips, value semantics, and the golden
  * corpus manifest (every pinned file must stay fully green). */
class SurqlSpec extends AnyFunSuite {

  private def run1(sql: String): QueryResult =
    new Interp().run(Parser.parse(sql)).last

  private def value(sql: String): String = run1(sql) match {
    case QOk(v)  => v.render
    case QErr(m) => fail(s"unexpected error: $m")
  }
  private def error(sql: String): String = run1(sql) match {
    case QErr(m) => m
    case QOk(v)  => fail(s"expected error, got ${v.render}")
  }

  test("arithmetic follows reference semantics (checked ints, float promotion)") {
    assert(value("1 + 2 * 3") == "7")
    assert(value("8 % 3") == "2")
    assert(value("8.0 % 3") == "2f")
    assert(value("8 % 3dec") == "2dec")
    assert(value("1 / 0") == "NaN")
    assert(error("3 % 0") == "Cannot perform remainder with '3' and '0'")
    assert(value("2 ** 10") == "1024")
    assert(error("9223372036854775807 + 1").startsWith("Cannot perform addition"))
  }

  test("total value ordering across types") {
    assert(value("[1..2, /a/, a:b, {  }, [], 1d, 1, true, NULL, NONE].sort()") ==
      "[NONE, NULL, true, 1, 1d, [], {  }, a:b, /a/, 1..2]")
  }

  test("casts + literal kinds") {
    assert(value("<int> '42'") == "42")
    assert(value("<array> 1..5") == "[1, 2, 3, 4]")
    assert(value("<string> 1dec") == "'1'")
    assert(error("<object> 1dec") == "Could not cast into `object` using input `1dec`")
  }

  test("control flow: FOR/BREAK/RETURN, closures as boundaries") {
    assert(value("{ LET $t = 0; FOR $i IN [1,2,3,4] { IF $i == 3 { BREAK } }; RETURN 'done' }") == "'done'")
    assert(value("(|$x| $x + 1)(41)") == "42")
  }

  test("SELECT pipeline over in-memory records") {
    val sql =
      """CREATE p:1 SET v = 3; CREATE p:2 SET v = 1; CREATE p:3 SET v = 2;
         SELECT v FROM p ORDER BY v DESC LIMIT 2;"""
    val results = new Interp().run(Parser.parse(sql))
    assert(results.last == QOk(Parser.parseValue("[{ v: 3 }, { v: 2 }]")))
  }

  test("nested BEGIN aborts with the failed-transaction consume loop (executor.rs:856-918)") {
    val sql =
      """BEGIN; CREATE p:1 SET v = 1; BEGIN; CREATE p:2 SET v = 2; COMMIT;"""
    val rs = new Interp().run(Parser.parse(sql))
    val failedBegin = "The query was not executed due to a failed transaction: BEGIN"
    assert(rs.length == 5)
    assert(rs(0) == QOk(VNone))
    // Prior in-tx result flips with the BEGIN sql suffix, not the bare message.
    assert(rs(1) == QErr(failedBegin))
    assert(rs(2) == QErr("Tried to start a transaction while another transaction was open"))
    // Skipped statements carry their own sql text (not the cancelled message).
    assert(rs(3) == QErr("The query was not executed due to a failed transaction: CREATE p:2"))
    assert(rs(4) == QErr("Cannot COMMIT: the transaction was aborted due to a nested BEGIN"))

    // CANCEL after a nested-BEGIN abort DOES get a result row…
    val rs2 = new Interp().run(Parser.parse("BEGIN; BEGIN; CANCEL;"))
    assert(rs2.length == 3)
    assert(rs2(2) == QErr("The query was not executed due to a failed transaction: CANCEL"))
    // …while CANCEL after an error abort does not.
    val rs3 = new Interp().run(Parser.parse("BEGIN; THROW 'x'; CANCEL;"))
    assert(rs3.length == 2)
    assert(rs3(1) == QErr("An error occurred: x"))
  }

  test("golden corpus per-category floors hold") {
    val root = java.nio.file.Paths.get("/root/reference/language-tests/tests")
    assume(java.nio.file.Files.isDirectory(root), "reference corpus not present")
    val in = getClass.getResourceAsStream("/golden_floors.txt")
    val floors = scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty)
      .map { l => val Array(c, f) = l.split('\t'); (c, f.toLong) }.toVector
    val outcomes = Golden.runPaths(root, root)
    val byCat = scala.collection.mutable.HashMap[String, Long]()
    outcomes.foreach { o =>
      val cat = root.relativize(o.path).toString.split('/').take(2).mkString("/")
      byCat(cat) = byCat.getOrElse(cat, 0L) + o.passed
    }
    val regressed = floors.collect {
      case (cat, floor) if byCat.getOrElse(cat, 0L) < floor =>
        s"$cat: ${byCat.getOrElse(cat, 0L)} < $floor"
    }
    assert(regressed.isEmpty, s"categories below floor:\n${regressed.mkString("\n")}")
  }

  test("SurrealQL→Spark planner produces the same rows as the interpreter shape") {
    val spark = TestSpark.session
    val df = SparkPlanner.query(spark, "/root/testdata/sf0.001",
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 110 ORDER BY o_orderkey")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.map(_.getLong(0)).toSeq.sorted == rows.map(_.getLong(0)).toSeq)
  }

  test("LIVE SELECT / KILL / SHOW CHANGES statements") {
    val i = new Interp()
    def run(sql: String): QueryResult = i.run(Parser.parse(sql)).last
    // LIVE returns a uuid; KILL with that uuid removes the subscription
    val uuid = run("LIVE SELECT * FROM person WHERE age > 18") match {
      case QOk(VUuid(u)) => u
      case other => fail(s"expected uuid, got $other")
    }
    assert(i.liveQueries.contains(uuid))
    assert(run(s"KILL '$uuid'") == QOk(VNone))
    assert(!i.liveQueries.contains(uuid))
    run(s"KILL '$uuid'") match {
      case QErr(m) => assert(m.startsWith("Cannot execute KILL statement"))
      case other => fail(s"expected error, got $other")
    }
    // SHOW CHANGES reads the versionstamped log of CHANGEFEED tables
    i.run(Parser.parse(
      """DEFINE TABLE person CHANGEFEED 1d;
         CREATE person:1 SET age = 30;
         UPDATE person:1 SET age = 31;
         DELETE person:1;"""))
    run("SHOW CHANGES FOR TABLE person SINCE 0") match {
      case QOk(VArr(rows)) =>
        assert(rows.length == 3)
        val kinds = rows.map {
          case o: VObj => o.fields("changes") match {
            case VArr(Vector(c: VObj)) => c.fields.keys.head
            case other => fail(s"bad change $other")
          }
          case other => fail(s"bad row $other")
        }
        assert(kinds == Vector("update", "update", "delete"))
      case other => fail(s"expected rows, got $other")
    }
    // non-changefeed tables contribute nothing
    run("SHOW CHANGES FOR DATABASE SINCE 0 LIMIT 2") match {
      case QOk(VArr(rows)) => assert(rows.length == 2)
      case other => fail(s"expected rows, got $other")
    }
  }

  test("planner refuses silent divergences instead of lowering wrongly") {
    val spark = TestSpark.session
    val d = "/root/testdata/sf0.001"
    // loose `=` across type families coerces in SurrealQL; Spark === doesn't
    val e1 = intercept[SqlError](SparkPlanner.query(spark, d,
      "SELECT o_orderkey FROM orders WHERE o_orderkey = '1'"))
    assert(e1.msg.contains("loose ="))
    // non-primitive INSIDE elements must not degrade to rendered strings
    val e2 = intercept[SqlError](SparkPlanner.query(spark, d,
      "SELECT o_orderkey FROM orders WHERE o_orderdate INSIDE [d'2020-01-01T00:00:00Z']"))
    assert(e2.msg.contains("INSIDE"))
    // graph hops only lower on declared relation endpoints
    val e3 = intercept[SqlError](SparkPlanner.query(spark, d,
      "SELECT ->supplies->part FROM customer"))
    assert(e3.msg.contains("graph lookup"))
  }

  test("planner graph/MATCHES/KNN lowerings execute from text") {
    val spark = TestSpark.session
    val d = "/root/testdata/sf0.001"
    val g = SparkPlanner.query(spark, d,
      "SELECT s_suppkey, ->supplies->part AS parts FROM supplier:1..3 ORDER BY s_suppkey").collect()
    assert(g.length == 2 && g.forall(!_.isNullAt(1)))
    val m = SparkPlanner.query(spark, d,
      "SELECT doc_id, search::score(1) AS score FROM documents WHERE text @1@ 'spark' ORDER BY score DESC, doc_id LIMIT 5").collect()
    assert(m.nonEmpty && m.length <= 5)
    val k = SparkPlanner.query(spark, d,
      "SELECT vec_id, vector::distance::knn() AS dist FROM embeddings WHERE vec_id != 0 AND embedding <|5,EUCLIDEAN|> [0.1, 0.2] ORDER BY dist, vec_id").collect()
    assert(k.length == 5 && k.forall(_.getLong(0) != 0L))
  }

  test("dynamic scan, mock source, ORDER BY RAND, VERSION, TIMEOUT from text") {
    val spark = TestSpark.session
    val d = "/root/testdata/sf0.001"
    // DynamicScan: FROM $param resolves at plan time
    val dyn = SparkPlanner.query(spark, d,
      "LET $t = 'region'; SELECT r_regionkey FROM $t ORDER BY r_regionkey").collect()
    assert(dyn.length == 5)
    val unbound = intercept[SqlError](SparkPlanner.query(spark, d,
      "SELECT * FROM $nope"))
    assert(unbound.msg.contains("unbound"))
    // mock sources: count and range forms
    assert(SparkPlanner.query(spark, d, "SELECT id FROM |m:7|").count() == 7)
    assert(SparkPlanner.query(spark, d, "SELECT id FROM |m:3..=6|").count() == 4)
    // ORDER BY RAND permutes without loss
    val r = SparkPlanner.query(spark, d,
      "SELECT r_regionkey FROM region ORDER BY RAND()").collect()
    assert(r.map(_.getAs[Number](0).longValue).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // VERSION with no qualifying snapshot falls back to the live table
    val v = SparkPlanner.query(spark, d,
      "SELECT r_regionkey FROM region VERSION d'1980-01-01T00:00:00Z'").count()
    assert(v == 5)
    // TIMEOUT: a 1ns budget trips before any job can finish; the message
    // matches the reference's (exec/operators/timeout.rs:25)
    val t = intercept[SqlError](SparkPlanner.query(spark, d,
      "SELECT l_orderkey FROM lineitem TIMEOUT 1ns"))
    assert(t.msg.contains("exceeded the timeout"))
    // a generous budget executes normally
    assert(SparkPlanner.query(spark, d,
      "SELECT count() AS c FROM region GROUP ALL TIMEOUT 1m").collect()
      .head.getLong(0) == 5L)
  }

  test("recursion @{n..m} lowers to the frontier loop from text") {
    val spark = TestSpark.session
    val d = "/root/testdata/sf0.001"
    // default strategy: final-depth frontier; dead-ends under min → empty
    val r = SparkPlanner.query(spark, d,
      """SELECT o_orderkey, array::join(@{1..3}(->next_order->orders), ',') AS reached
         FROM orders:1..11 ORDER BY o_orderkey""").collect()
    assert(r.length == 10)
    // fixed depth {2} reaches strictly the 2nd-next order when it exists
    val f = SparkPlanner.query(spark, d,
      """SELECT o_orderkey, array::join(@{2}(->next_order->orders), ',') AS nxt2
         FROM orders:1..4 ORDER BY o_orderkey""").collect()
    assert(f.length == 3)
    // non-self-recursive bodies refuse to lower (Interp-only semantics)
    val e = intercept[SqlError](SparkPlanner.query(spark, d,
      "SELECT @{1..2}(->supplies->part) AS x FROM supplier"))
    assert(e.msg.contains("self-relation"))
  }

  test("rand::* lowers to distributed per-row randomness with pinned ranges") {
    val spark = TestSpark.session
    val rows = SparkPlanner.query(spark, "/root/testdata/sf0.001",
      """SELECT o_orderkey, rand::float() AS f, rand::float(10.0, 20.0) AS fr,
                rand::int(1, 6) AS die, rand::uuid() AS u
         FROM orders:1..101 ORDER BY o_orderkey""").collect()
    assert(rows.length == 100)
    assert(rows.forall { r =>
      val f = r.getDouble(1); val fr = r.getDouble(2); val die = r.getLong(3)
      f >= 0.0 && f < 1.0 && fr >= 10.0 && fr < 20.0 && die >= 1 && die <= 6 &&
        r.getString(4).length == 36
    })
    // not constant across rows
    assert(rows.map(_.getDouble(1)).distinct.length > 1)
  }

  test("destructure on a record link joins and projects one struct") {
    val spark = TestSpark.session
    val d = "/root/testdata/sf0.001"
    val rows = SparkPlanner.query(spark, d,
      """SELECT o_orderkey, o_custkey.{c_name, c_mktsegment} AS cust
         FROM orders:1..4 ORDER BY o_orderkey""").collect()
    assert(rows.length == 3)
    val cust = rows.head.getStruct(1)
    assert(cust.schema.fieldNames.toSeq == Seq("c_name", "c_mktsegment"))
    // cross-check one value against the base tables
    import org.apache.spark.sql.functions._
    val o1 = Tables.orders(spark, d).filter(col("o_orderkey") === 1L)
      .select("o_custkey").head.getLong(0)
    val cname = Tables.customer(spark, d).filter(col("c_custkey") === o1)
      .select("c_name").head.getString(0)
    assert(cust.getString(0) == cname)
  }

  test("GraphQL nested selection runs distributed through the planner") {
    val spark = TestSpark.session
    val d = "/root/testdata/sf0.001"
    val df = graft.gql.Gql.query(spark, d,
      """{ orders(filter: {o_orderkey: {lt: 4}}, order: {asc: o_orderkey}) {
             o_orderkey o_custkey { c_name } } }""")
    val rows = df.collect()
    assert(rows.length == 4) // orders keys start at 0
    assert(rows.head.getStruct(1).schema.fieldNames.toSeq == Seq("c_name"))
  }
}
