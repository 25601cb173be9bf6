package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.surql._

/** Rollback through the interpreter's undo journal: a failed statement, an
  * aborted transaction and a CANCEL restore every table exactly, in
  * iteration order, together with the edge marks and the write log, and a
  * statement that succeeds journals only the records it wrote. Every check
  * is a count or an equality; none reads the clock. */
class InterpTxSpec extends AnyFunSuite {

  private val Persons = 2000

  /** 2,000 persons and 3,000 `knows` edges; `level` is asserted below 100. */
  private def catalog(): Interp = {
    val in = new Interp()
    val sb = new StringBuilder("DEFINE FIELD level ON person ASSERT $value < 100;\nBEGIN;\n")
    (1 to Persons).foreach(i => sb ++= s"CREATE person:$i SET level = ${i % 50};\n")
    (1 to Persons).foreach { i =>
      sb ++= s"RELATE person:$i->knows->person:${i % Persons + 1} SET w = 1;\n"
      if (i % 2 == 0) sb ++= s"RELATE person:$i->knows->person:${(i * 7) % Persons + 1} SET w = 2;\n"
    }
    sb ++= "COMMIT;"
    val rs = in.run(Parser.parse(sb.toString))
    assert(rs.forall(_.isInstanceOf[QOk]), rs.collectFirst { case QErr(m) => m })
    in
  }

  /** Everything a rollback must restore: each table's records in iteration
    * order, the edge marks and the length of the write log. Each table's
    * indexes must equal a rebuild from its records. */
  private def state(in: Interp) = {
    InterpIndexSpec.assertIndexed(in, "state")
    (in.tables.toVector.map { case (n, t) => n -> t.toVector }, in.edgeMarkSet, in.history.length)
  }

  private def run(in: Interp, sql: String): Seq[QueryResult] = in.run(Parser.parse(sql))

  private def assertRolledBack(in: Interp, sql: String): Seq[QueryResult] = {
    val before = state(in)
    val rs = run(in, sql)
    assert(rs.exists(_.isInstanceOf[QErr]), s"expected a failure: $rs")
    val after = state(in)
    assert(after._1.map(_._1) == before._1.map(_._1), "table list changed")
    before._1.zip(after._1).foreach { case ((n, b), (_, a)) =>
      assert(a == b, s"table $n differs after rollback")
    }
    assert(after._2 == before._2, "edge marks differ after rollback")
    assert(after._3 == before._3, "write log differs after rollback")
    rs
  }

  test("FOR { CREATE } that THROWs after some writes leaves no record behind") {
    val in = catalog()
    assertRolledBack(in,
      "FOR $i IN 1..50 { CREATE person SET level = 1; RELATE person:1->knows->person:2; " +
        "IF $i = 40 { THROW 'stop' }; };")
  }

  test("UPDATE over many records failing an ASSERT midway restores every record") {
    val in = catalog()
    // levels 10..39 pass (+60 < 100), the first record at level 40 fails
    val rs = assertRolledBack(in, "UPDATE person SET level += 60 WHERE level >= 10;")
    assert(rs.head.toString.contains("level"), rs.head)
  }

  test("DELETE whose cascade removed edges and then failed an event restores nodes, edges and marks") {
    val in = catalog()
    // person:10's edges: two out (w = 1 and w = 2), one in from person:9 (w = 1);
    // the cascade removes the w = 1 edges first and fails on the w = 2 one
    assert(run(in, "DEFINE EVENT boom ON knows WHEN $event = 'DELETE' AND $before.w = 2 " +
      "AND $before.in = person:10 THEN { THROW 'boom' };").forall(_.isInstanceOf[QOk]))
    val rs = assertRolledBack(in, "DELETE person:10;")
    assert(rs.head.toString.contains("boom"), rs.head)
    // the same delete without the failing event removes the node and its edges
    assert(run(in, "REMOVE EVENT boom ON knows; DELETE person:10;").forall(_.isInstanceOf[QOk]))
    assert(!in.tables("person").contains(VInt(10)))
    assert(in.tables("knows").values.forall(e =>
      !Seq("in", "out").exists(s => e.fields.get(s).contains(VRid("person", VInt(10))))))
  }

  test("BEGIN … CANCEL over mixed writes restores the catalog in iteration order") {
    val in = catalog()
    val before = state(in)
    val rs = run(in,
      """BEGIN;
         CREATE person:9001 SET level = 3;
         DELETE person:5;
         UPDATE person:7 SET level = 1;
         RELATE person:9001->knows->person:1 SET w = 3;
         DELETE knows WHERE w = 2 AND in = person:8;
         INSERT INTO person {id: 9002, level: 4};
         UPSERT person:6 SET level = 9;
         DELETE person:9001;
         CREATE person:5 SET level = 5;
         DEFINE TABLE tmp;
         CREATE tmp:1;
         CANCEL;""")
    assert(rs.collect { case QErr(m) => m }.forall(_.contains("cancelled transaction")), rs)
    assert(state(in) == before)
    assert(!in.tables.contains("tmp"))
  }

  test("CANCEL after a USE rolls back the writes and definitions of both databases") {
    val rs = run(new Interp(),
      "CREATE a:1; BEGIN; CREATE a:2; USE DB other; CREATE a:3; DEFINE TABLE z; CANCEL; " +
        "SELECT * FROM a; INFO FOR DB; USE DB test; SELECT * FROM a;")
    assert(rs(7).toString.contains("does not exist"), rs(7))
    assert(!rs(8).toString.contains("DEFINE TABLE z"), rs(8))
    assert(rs(10) == QOk(VArr(Vector(V.obj("id" -> VRid("a", VInt(1)))))), rs(10))
  }

  test("a statement that succeeds journals only what it wrote") {
    val in = catalog()
    val j0 = in.journalEntries
    assert(run(in, "SELECT level FROM person:42;").head.isInstanceOf[QOk])
    assert(in.journalEntries - j0 == 0)
    val j1 = in.journalEntries
    assert(run(in, "UPDATE person:42 SET level = 7;").head.isInstanceOf[QOk])
    assert(in.journalEntries - j1 == 1)
  }

  test("edge marks roll back with their records") {
    // a CANCELled delete restores the edge's mark, so its `in` stays pinned
    val restored = run(new Interp(),
      "RELATE a:1->e:1->b:1; BEGIN; DELETE e:1; CANCEL; UPDATE e:1 SET in = a:9 RETURN in;")
    assert(restored.last == QOk(VArr(Vector(V.obj("in" -> VRid("a", VInt(1)))))), restored.last)
    // a CANCELled RELATE leaves no mark to pin a later plain record
    val plain = run(new Interp(),
      "BEGIN; RELATE a:1->e:1->b:1; CANCEL; CREATE e:1 SET in = a:1, out = b:1; " +
        "UPDATE e:1 SET in = a:9 RETURN in;")
    assert(plain.last == QOk(VArr(Vector(V.obj("in" -> VRid("a", VInt(9)))))), plain.last)
  }
}
