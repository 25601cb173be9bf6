package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.surql._

/** Record-key lookup semantics of `findKeyLoose`, which compares a probe
  * only with the stored keys of its loose-key bucket. Pins:
  * cross-representation numeric ids still collide loosely, string/array ids
  * behave structurally, regex ids are rejected at every insert boundary
  * with the reference's error (RecordIdKey has no regex variant) while a
  * regex read probe still matches by pattern, a bulk FOR/CREATE loop
  * compares no key, every write path keeps stored keys loosely distinct,
  * and a probe that two stored keys share a bucket with finds its match.
  * Three write paths keep to the records actually stored: RELATE over a
  * loosely equal key keeps the stored id, an ignored INSERT RELATION marks
  * no edge, and a table UPDATE skips a record an event deleted. */
class InterpKeySpec extends AnyFunSuite {

  private def run(sql: String): Seq[QueryResult] = {
    val i = new Interp()
    i.namespaces("test") = "DEFINE NAMESPACE test"
    i.databases("test") = "DEFINE DATABASE test"
    i.run(Parser.parse(sql))
  }
  private def errOf(r: QueryResult): String =
    r match { case QErr(m) => m; case QOk(v) => fail(s"expected error, got ${v.render}") }

  test("numeric ids collide across int/float representations (looseEq)") {
    val rs = run("CREATE a:1; CREATE a CONTENT {id: 1.0f};")
    assert(errOf(rs(1)).contains("already exists"))
  }

  test("array ids collide across element representations") {
    val rs = run("CREATE a:[1,2]; CREATE a CONTENT {id: [1.0f, 2]};")
    assert(errOf(rs(1)).contains("already exists"))
  }

  test("string ids collide structurally and update/delete find them") {
    val rs = run(
      """CREATE a:xyz SET v = 1;
         CREATE a SET id = 'xyz';
         UPDATE a:xyz SET v = 2;
         DELETE a:xyz;
         SELECT count() FROM a GROUP ALL;""")
    assert(errOf(rs(1)).contains("already exists"))
    assert(rs(2).isInstanceOf[QOk])
    assert(rs(4) match { case QOk(v) => v.render.contains("count: 0"); case _ => false },
      s"expected empty table after delete, got ${rs(4)}")
  }

  test("regex record ids are rejected at every insert boundary") {
    val stmts = Seq(
      "CREATE a SET id = /x/;",
      "CREATE a CONTENT {id: /x/};",
      "UPSERT a CONTENT {id: /x/};",
      "INSERT INTO a {id: /x/};",
      "CREATE a CONTENT {id: ['q', /x/]};")
    stmts.foreach { s =>
      val msg = errOf(run(s).head)
      assert(msg.contains("for the Record ID but this is not a valid id"), s"$s -> $msg")
    }
    // UPDATE and DELETE reach a regex key through an array id; the stored
    // string id beside it would loose-match (string ~ regex) if the key
    // were looked up instead of rejected
    val writes = Seq(
      "UPDATE a:['q', /x/] SET v = 2;",
      "UPDATE a:['q', /x/] MERGE {v: 2};",
      "DELETE a:['q', /x/];",
      "DELETE a:['q', /x/] RETURN BEFORE;")
    writes.foreach { s =>
      val rs = run(s"CREATE a:['q', 'x'] SET v = 1; $s SELECT * FROM a;")
      val msg = errOf(rs(1))
      assert(msg.contains("for the Record ID but this is not a valid id"), s"$s -> $msg")
      assert(rs(2) == QOk(VArr(Vector(V.obj(
        "id" -> VRid("a", VArr(Vector(VStr("q"), VStr("x"))): V), "v" -> VInt(1))))),
        s"$s touched the stored record: ${rs(2)}")
    }
  }

  test("bulk FOR/CREATE with generated ids is not quadratic") {
    val i = new Interp()
    val rs = i.run(Parser.parse(
      """FOR $i IN 0..10000 { CREATE bulk CONTENT { something: $i }; };
         SELECT count() FROM bulk GROUP ALL;"""))
    assert(rs(1) match { case QOk(v) => v.render.contains("10000"); case _ => false })
    // a generated id's bucket is empty, so an existence probe compares no
    // key; one comparison per stored key per CREATE was the O(n²) relapse
    assert(i.keysCompared == 0, s"${i.keysCompared} keys compared")
  }

  /** Runs `write` after storing `t:1`, with `$f` = 1.0f and `$d` = 1dec. */
  private def records(write: String): QueryResult =
    run(s"LET $$f = 1.0f; LET $$d = 1dec; CREATE t:1 SET v = 1; $write " +
      "SELECT count() AS n FROM t GROUP ALL;").last

  test("every write path keeps stored keys loosely distinct") {
    val writes = Seq(
      // CREATE
      "CREATE t:$f;", "CREATE t:$d;", "CREATE t CONTENT {id: 1.0f};", "CREATE t CONTENT {id: 1dec};",
      // INSERT, ON DUPLICATE KEY UPDATE, INSERT RELATION
      "INSERT INTO t {id: 1.0f};", "INSERT INTO t {id: 1dec};",
      "INSERT INTO t {id: 1dec, v: 3} ON DUPLICATE KEY UPDATE v = 4;",
      "INSERT IGNORE INTO t {id: 1dec};",
      "INSERT RELATION INTO t {id: 1dec, in: a:1, out: b:1};",
      "INSERT RELATION INTO t {id: 1.0f, in: a:1, out: b:1} ON DUPLICATE KEY UPDATE v = 5;",
      // UPSERT
      "UPSERT t:$f SET v = 2;", "UPSERT t:$d CONTENT {v: 2};", "UPSERT t CONTENT {id: 1dec, v: 2};",
      // UPDATE
      "UPDATE t:$f SET v = 2;", "UPDATE t:$d MERGE {v: 2};", "UPDATE t:1 CONTENT {id: 1.0f, v: 2};",
      // RELATE
      "RELATE a:1->t:$f->b:1;", "RELATE a:1->t:$d->b:1;", "RELATE a:1->t->b:1 CONTENT {id: 1dec};")
    writes.foreach { w =>
      assert(records(w) == QOk(VArr(Vector(V.obj("n" -> VInt(1))))), s"$w -> ${records(w)}")
    }
  }

  test("a float probe finds its own match when two stored ints share its bucket") {
    // 2^53 and 2^53 + 1 are distinct ints with the same double; the float
    // 2^53 equals only the first, whichever order they were stored in
    Seq("CREATE t:9007199254740993; CREATE t:9007199254740992;",
        "CREATE t:9007199254740992; CREATE t:9007199254740993;").foreach { setup =>
      val rs = run(s"$setup LET $$k = 9007199254740992f; LET $$m = <decimal> '9007199254740993'; " +
        "SELECT VALUE id FROM t:$k; SELECT VALUE id FROM t:$m;")
      assert(rs(4) == QOk(VArr(Vector(VRid("t", VInt(9007199254740992L))))), s"$setup ${rs(4)}")
      assert(rs(5) == QOk(VArr(Vector(VRid("t", VInt(9007199254740993L))))), s"$setup ${rs(5)}")
    }
  }

  test("a regex read probe matches stored strings by pattern") {
    val rs = run("CREATE a:['q', 'x'] SET v = 1; SELECT * FROM a:['q', /x/]; SELECT * FROM a:['q', /y/];")
    assert(rs(1) == QOk(VArr(Vector(V.obj(
      "id" -> VRid("a", VArr(Vector(VStr("q"), VStr("x"))): V), "v" -> VInt(1))))), rs(1))
    assert(rs(2) == QOk(VArr(Vector.empty)), rs(2))
  }

  test("RELATE writes over a loosely equal stored key instead of adding a second record") {
    def count(sql: String): String = run(sql).last match {
      case QOk(v) => v.render
      case QErr(m) => fail(m)
    }
    assert(count("RELATE a:1->e:1->b:1; RELATE a:1->e->b:1 CONTENT {id: 1.0f}; " +
      "SELECT count() FROM e GROUP ALL;").contains("count: 1"))
    assert(count("RELATE a:1->e:1->b:1; RELATE a:1->e:1->b:1; " +
      "SELECT count() FROM e GROUP ALL;").contains("count: 1"))
  }

  test("RELATE over a loosely equal stored key keeps the stored id") {
    val rs = run("LET $d = 1dec; RELATE a:1->e:1->b:1; RELATE a:1->e:$d->b:2 RETURN VALUE id; " +
      "SELECT VALUE id FROM e;")
    val stored = QOk(VArr(Vector(VRid("e", VInt(1)))))
    assert(rs(2) == stored, rs(2))
    assert(rs(3) == stored, rs(3))
  }

  test("an ignored INSERT RELATION leaves a plain record unmarked") {
    val rs = run("CREATE t:1 SET in = a:1, out = b:1; " +
      "INSERT RELATION IGNORE INTO t {id: 1, in: a:2, out: b:2}; " +
      "UPDATE t:1 SET in = a:9 RETURN in;")
    assert(rs(2) == QOk(VArr(Vector(V.obj("in" -> VRid("a", VInt(9)))))), rs(2))
  }

  test("a table UPDATE does not bring back a record its event deleted") {
    val rs = run("DEFINE EVENT ev ON n WHEN $event = 'UPDATE' AND $after.id = n:1 THEN { DELETE n:2 }; " +
      "CREATE n:1 SET v = 0; CREATE n:2 SET v = 0; UPDATE n SET v = 1 RETURN VALUE id; " +
      "SELECT VALUE id FROM n;")
    val only1 = QOk(VArr(Vector(VRid("n", VInt(1)))))
    assert(rs(3) == only1, rs(3))
    assert(rs(4) == only1, rs(4))
  }
}
