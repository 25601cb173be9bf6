package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.surql._

/** Record-key lookup semantics after the r21 findKeyLoose rewrite (the
  * loose O(n) table scan per CREATE/UPDATE/INSERT/fetch became a hash
  * lookup for number-free, regex-free probes). Pins: cross-representation
  * numeric ids still collide loosely, string/array ids behave structurally,
  * regex ids are rejected at every insert boundary with the reference's
  * error (RecordIdKey has no regex variant), a bulk FOR/CREATE loop makes
  * no loose table scan, and RELATE keeps stored keys loosely distinct. */
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
    // generated ids are strings, so every existence probe takes the hash
    // path; one loose table scan per CREATE was the O(n²) relapse
    assert(i.looseScans == 0, s"${i.looseScans} loose table scans")
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
}
