package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.surql._

/** Every stored create and update in [[Interp]] runs one write step
  * (doc/mod.rs:12-36): INSERT and RELATE shape their RETURN like CREATE, with
  * the table's COMPUTED fields, and their events see the statement's
  * document as `$input`, as CREATE's and UPDATE's do. Every delete runs one
  * remove step, once per record. */
class InterpWriteSpec extends AnyFunSuite {

  private def run(sql: String): Seq[QueryResult] = new Interp().run(Parser.parse(sql))

  test("INSERT and RELATE return a COMPUTED field, as CREATE does") {
    val rs = run(
      """DEFINE FIELD c ON e COMPUTED w * 10;
         CREATE e:1 SET w = 1;
         INSERT INTO e {id: 2, w: 2};
         RELATE a:1->e:3->b:1 SET w = 3;
         INSERT INTO e {id: 2, w: 0} ON DUPLICATE KEY UPDATE w = 4 RETURN c;""")
    def c(r: QueryResult): V = r match {
      case QOk(VArr(Vector(VObj(m)))) => m.getOrElse("c", VNone)
      case other => fail(s"expected one record, got $other")
    }
    assert(rs.drop(1).map(c) == Seq(VInt(10), VInt(20), VInt(30), VInt(40)), rs)
  }

  test("a RELATE event sees the statement's document as $input") {
    val rs = run(
      """DEFINE FIELD w ON e VALUE $value * 2;
         DEFINE EVENT ev ON e WHEN $event = 'CREATE' THEN {
           CREATE log:1 SET given = $input.w, stored = $after.w };
         RELATE a:1->e:1->b:1 SET w = 3;
         SELECT given, stored FROM log;""")
    assert(rs.last == QOk(VArr(Vector(V.obj("given" -> VInt(3), "stored" -> VInt(6))))), rs.last)
  }

  test("an edge that its CASCADE victim's purge reaches is removed once") {
    // n:a is an edge out of n:b, and n:b references n:a: deleting n:a
    // cascades to n:b, whose edge purge meets n:a while n:a is being removed
    val rs = run(
      """DEFINE EVENT ev ON n WHEN $event = 'DELETE' THEN { CREATE log SET k = $before.id };
         CREATE n:b;
         INSERT RELATION INTO n {id: 'a', in: n:b, out: n:c};
         UPDATE n:b SET p = n:a;
         DEFINE FIELD p ON n REFERENCE ON DELETE CASCADE;
         DELETE n:a;
         SELECT VALUE k FROM log ORDER BY k;""")
    assert(rs.last == QOk(VArr(Vector(VRid("n", VStr("a")), VRid("n", VStr("b"))))), rs.last)
  }
}
