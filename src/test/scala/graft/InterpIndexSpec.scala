package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.surql._

/** Interp's per-table indexes (loose-key buckets, endpoint index) against
  * brute force: over seeded generated scripts ([[InterpScripts]]), every
  * point read and every 1-hop, in-hop and 2-hop after every chunk equals a
  * scan of `in.tables`, and both indexes equal a rebuild from the records.
  * Then: the keys a lookup compares do not grow with the catalog. */
class InterpIndexSpec extends AnyFunSuite {
  import InterpIndexSpec._

  /** The first stored key loosely equal to `rid`'s key, by scan. */
  private def fetch(in: Interp, rid: VRid): Option[VObj] =
    in.tables.get(rid.table).flatMap(t => t.keysIterator.find(V.looseEq(_, rid.key)).map(t(_)))

  private def hasInOut(d: VObj): Boolean =
    Seq("in", "out").forall(s => d.fields.get(s).exists(_.isInstanceOf[VRid]))

  /** One plain lookup hop, by scan: the source edge's pointer, then the
    * edges of `tb` anchored at the source, by key. */
  private def hop(in: Interp, srcs: Vector[V], dir: String, tb: String): Vector[V] =
    srcs.collect { case r: VRid => r }.flatMap { src =>
      val rec = fetch(in, src).filter(hasInOut)
      (if (dir == "both") Vector("in", "out") else Vector(dir)).flatMap { d =>
        val anchor = if (d == "out") "in" else "out"
        val ptr = rec.toVector.flatMap(_.fields.get(d).collect { case t: VRid if t.table == tb => t })
        val adj = in.tables.get(tb).toVector.flatMap(_.values)
          .filter(e => hasInOut(e) && e.fields.get(anchor).contains(src))
          .flatMap(_.fields.get("id").collect { case e: VRid => e })
          .sortBy(_.key)(V.ordering)
        ptr ++ adj
      }
    }

  /** What each of [[InterpScripts.probes]] must return, by scan: the
    * records, then one array of hop results per source. */
  private def expected(in: Interp, srcs: Vector[V]): Vector[V] = {
    def each(f: Vector[V] => Vector[V]) = VArr(srcs.map(s => VArr(f(Vector(s)))))
    Vector(
      VArr(srcs.collect { case r: VRid => fetch(in, r) }.flatten),
      each(hop(in, _, "out", "e")),
      each(hop(in, _, "in", "e")),
      each(hop(in, _, "both", "e")),
      each(s => hop(in, hop(in, s, "out", "e"), "out", "n")),
      each(s => hop(in, hop(in, s, "in", "e"), "in", "n")),
      each(hop(in, _, "out", "n")),
      each(hop(in, _, "in", "n")))
  }

  test("indexes answer like a scan after every chunk of 400 generated scripts") {
    var twoHops = 0
    var rolledBack = 0
    (1L to 400L).foreach { seed =>
      val in = InterpScripts.fresh()
      InterpScripts.script(seed).foreach { chunk =>
        val (rs, got) = InterpScripts.step(in, chunk)
        if (rs.exists(_.isInstanceOf[QErr])) rolledBack += 1
        val want = expected(in, InterpScripts.sources(in).items)
        InterpScripts.probes.indices.foreach { i =>
          assert(got(i) == QOk(want(i)),
            s"seed $seed after `$chunk`: ${InterpScripts.probes(i)}\n" +
              s"got  ${InterpScripts.render(got(i))}\nwant ${want(i).render}")
        }
        twoHops += want(4).asInstanceOf[VArr].items.count(_ != VArr(Vector.empty))
        assertIndexed(in, s"seed $seed after `$chunk`")
      }
    }
    // the scripts reach the paths under test
    assert(twoHops > 1000, s"$twoHops non-empty two-hops")
    assert(rolledBack > 1000, s"$rolledBack failing chunks")
  }

  /** `n` persons in a ring, each with edges to its next three; `person:42`
    * has three edges out and three in at every size. */
  private def ring(n: Int): Interp = {
    val in = new Interp()
    val sb = new StringBuilder("BEGIN;\n")
    (1 to n).foreach(i => sb ++= s"CREATE person:$i SET level = ${i % 50};\n")
    (1 to n).foreach(i => (1 to 3).foreach(d => sb ++= s"RELATE person:$i->knows->person:${(i + d - 1) % n + 1};\n"))
    sb ++= "COMMIT;"
    val rs = in.run(Parser.parse(sb.toString))
    assert(rs.forall(_.isInstanceOf[QOk]), rs.collectFirst { case QErr(m) => m })
    in
  }

  /** Keys compared by each statement, on a fresh ring of `n` persons. */
  private def compared(n: Int): Seq[Long] = {
    val in = ring(n)
    Seq("SELECT level FROM person:42;",
      "SELECT VALUE ->knows->person FROM ONLY person:42;",
      "SELECT VALUE ->knows->person->knows->person FROM ONLY person:42;",
      "DELETE person:42;").map { s =>
      val k0 = in.keysCompared
      val rs = in.run(Parser.parse(s))
      assert(rs.forall(_.isInstanceOf[QOk]), s"$s: $rs")
      in.keysCompared - k0
    }
  }

  test("a point read, a 1-hop, a 2-hop and a DELETE cascade compare as many keys at 2k as at 32k records") {
    // 500 persons + 1,500 edges, and 8,000 persons + 24,000 edges
    val small = compared(500)
    val large = compared(8000)
    assert(small == large, s"keys compared at 2k records $small, at 32k $large")
    assert(small.forall(_ > 0), small)
  }
}

object InterpIndexSpec {
  import org.scalatest.Assertions._

  /** Every table's index equals a rebuild from its records, and no two of
    * its stored keys are loosely equal. */
  def assertIndexed(in: Interp, where: String): Unit = in.tables.foreach { case (name, t) =>
    val byKey = t.keys.toVector.groupBy(Interp.looseCoarse)
    val byEnd = t.toVector.flatMap { case (k, d) =>
      Seq("in", "out").flatMap(s => d.fields.get(s).collect { case r: VRid => (s, Interp.looseCoarse(r)) -> k })
    }.groupMap(_._1)(_._2)
    assert(t.indexView == Map[Any, Vector[V]]((byKey.toSeq ++ byEnd.toSeq): _*),
      s"$where: the index of `$name` differs from a rebuild")
    byKey.values.foreach { ks =>
      assert(!ks.combinations(2).exists(p => V.looseEq(p(0), p(1))),
        s"$where: `$name` stores loosely equal keys ${ks.map(_.render)}")
    }
  }
}
