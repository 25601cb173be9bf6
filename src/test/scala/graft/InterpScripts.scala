package graft

import java.io.{BufferedWriter, FileWriter}

import scala.util.Random

import graft.surql._

/** Seeded SurrealQL scripts over a node table `n` and an edge table `e`:
  * creates, RELATEs, `in`/`out` written on plain records, `INSERT RELATION
  * IGNORE` and `… ON DUPLICATE KEY UPDATE`, deletes with edge cascades and
  * events, UPDATEs whose event deletes a record, a UNIQUE index on `w` of
  * `e` defined and removed, a `REFERENCE ON DELETE CASCADE` field `p` on `n`
  * defined and removed (its references may form cycles, self-references
  * included), `BEGIN … CANCEL`, a failing `FOR`, a `USE` switch
  * and back, `REMOVE TABLE`. Keys mix ints, a float and a decimal equal to
  * ints, strings, arrays and generated ids, so loose key matches and
  * rollbacks are exercised together.
  *
  * [[InterpIndexSpec]] runs them and checks every probe against a scan. The
  * `main` dumps, for each script and after each chunk, the chunk's results,
  * the probes' results, every table's keys and documents in iteration order
  * and the edge marks, with generated ids numbered by first appearance, so
  * two builds can be compared byte for byte:
  * {{{
  * sbt "Test/runMain graft.InterpScripts <scripts> <first seed> <out file>"
  * }}}
  * It reads only `Interp.run`, `tables`, `globals` and `edgeMarkSet`, and
  * sets `Interp.idRng` per script. */
object InterpScripts {

  /** Parameters the scripts use as keys: a float and a decimal. */
  val globals: Map[String, V] = Map("f1" -> VFloat(1.0), "d2" -> VDec(BigDecimal(2)))

  private val keys = Vector("1", "2", "3", "4", "$f1", "$d2", "x", "[1, 'x']", "[$f1, 'x']")

  /** Keys every probe covers besides the stored ones (99 is never written). */
  val probeKeys: Vector[V] = Vector(VInt(1), VInt(2), VFloat(1.0), VDec(BigDecimal(2)),
    VStr("x"), VArr(Vector(VFloat(1.0), VStr("x"))), VInt(99))

  /** The probes run after every chunk, over `$srcs` (see [[sources]]). */
  val probes: Vector[String] = Vector("SELECT * FROM $srcs;", "RETURN $srcs->e;",
    "RETURN $srcs<-e;", "RETURN $srcs<->e;", "RETURN $srcs->e->n;", "RETURN $srcs<-e<-n;",
    "RETURN $srcs->n;", "RETURN $srcs<-n;")

  /** One script: chunks, each a unit of [[Interp.run]]. */
  def script(seed: Long): Vector[String] = {
    val r = new Random(seed)
    def k(): String = keys(r.nextInt(keys.length))
    def n(): Int = r.nextInt(4)
    def ref(): String =
      s"UPDATE n:${k()} SET p = ${if (r.nextInt(5) == 0) "NONE" else "n:" + k()};"
    def simple(): String = r.nextInt(19) match {
      case 0  => s"CREATE n:${k()} SET v = ${n()};"
      case 1  => s"CREATE n SET v = ${n()};"
      case 2  => s"RELATE n:${k()}->e->n:${k()} SET w = ${n()};"
      case 3  => s"RELATE n:${k()}->e:${k()}->n:${k()} SET w = ${n()};"
      case 4  => s"UPDATE n:${k()} SET in = n:${k()}, out = n:${k()};"
      case 5  => s"UPDATE n:${k()} SET ${if (r.nextBoolean()) "in" else "out"} = ${n()};"
      case 6  => s"UPDATE e SET w = ${n()} WHERE w = ${n()};"
      case 7  => s"UPDATE e:${k()} SET in = n:${k()}, w = ${n()};"
      case 8  => s"DELETE n:${k()};"
      case 9  => s"DELETE e WHERE w = ${n()};"
      case 10 => s"DELETE n WHERE v = ${n()};"
      case 11 => s"CREATE e:${k()} SET in = n:${k()}, out = n:${k()}, w = ${n()};"
      case 12 => s"INSERT RELATION INTO e {id: ${k()}, in: n:${k()}, out: n:${k()}, w: ${n()}};"
      case 13 => s"UPSERT n:${k()} SET v = ${n()};"
      case 14 => s"UPDATE n SET in = n:${k()}, out = n:${k()} WHERE v = ${n()};"
      case 15 => s"INSERT RELATION IGNORE INTO ${if (r.nextBoolean()) "e" else "n"} " +
        s"{id: ${k()}, in: n:${k()}, out: n:${k()}, w: ${n()}};"
      case 16 => s"INSERT RELATION INTO e {id: ${k()}, in: n:${k()}, out: n:${k()}, w: ${n()}} " +
        s"ON DUPLICATE KEY UPDATE w = ${n()};"
      case 17 => ref()
      case _  => s"INSERT INTO n {id: ${k()}, v: ${n()}} ON DUPLICATE KEY UPDATE v += 1;"
    }
    def chunk(): String = r.nextInt(28) match {
      case 0 => s"DEFINE EVENT ev ON e WHEN $$event = 'DELETE' AND $$before.w = ${n()} THEN { THROW 'boom' };"
      case 1 => s"DEFINE EVENT ev ON e WHEN $$event = 'DELETE' AND $$before.w = ${n()} THEN { DELETE n:${k()} };"
      case 2 => "REMOVE EVENT ev ON e;"
      case 3 => s"BEGIN; ${simple()} ${simple()} CANCEL;"
      case 4 => s"BEGIN; ${simple()} ${simple()} COMMIT;"
      case 5 => s"FOR $$i IN 1..3 { RELATE n:${k()}->e->n:${k()} SET w = $$i; DELETE n:${k()}; " +
        s"IF $$i = ${1 + r.nextInt(3)} { THROW 'stop' }; };"
      case 6 => s"USE DB other; ${simple()} ${simple()} USE DB test;"
      case 7 => if (r.nextBoolean()) "REMOVE TABLE e;" else "REMOVE TABLE n;"
      case 8 => s"DEFINE EVENT up ON n WHEN $$event = 'UPDATE' THEN { DELETE n:${k()} };"
      case 9 => "REMOVE EVENT up ON n;"
      case 10 => "DEFINE INDEX ew ON e FIELDS w UNIQUE;"
      case 11 => "REMOVE INDEX ew ON e;"
      case 12 => "DEFINE FIELD p ON n REFERENCE ON DELETE CASCADE;"
      case 13 => "REMOVE FIELD p ON n;"
      case _ => simple()
    }
    Vector.fill(12 + r.nextInt(20))(chunk())
  }

  /** Every record id a probe starts from: the probe keys in `n`, and every
    * stored key of `n` and `e`. */
  def sources(in: Interp): VArr = VArr(
    (probeKeys.map(k => VRid("n", k)) ++
      Seq("n", "e").flatMap(t => in.tables.get(t).toVector.flatMap(_.keys.map(k => VRid(t, k))))).toVector)

  /** Runs `chunk` and the probes after it; returns the chunk's results and
    * the probes' results. */
  def step(in: Interp, chunk: String): (Seq[QueryResult], Seq[QueryResult]) = {
    val rs = in.run(Parser.parse(chunk))
    in.globals = in.globals.updated("srcs", sources(in))
    (rs, probes.map(p => in.run(Parser.parse(p)).head))
  }

  def render(r: QueryResult): String = r match {
    case QOk(v)  => v.render
    case QErr(m) => "ERR " + m
  }

  /** Every table's keys and documents in iteration order, and the marks. */
  def state(in: Interp): String =
    in.tables.map { case (n, t) =>
      s"table $n: " + t.map { case (k, d) => k.render + " => " + d.render }.mkString("; ")
    }.mkString("\n") + "\nmarks: " + in.edgeMarkSet.toVector.map { case (t, k) => t + ":" + k.render }
      .sorted.mkString(", ")

  private val generatedId = "[0-9a-z]{20}".r

  /** `text` with each generated id replaced by its rank of first appearance. */
  def numberIds(text: String): String = {
    val seen = scala.collection.mutable.LinkedHashMap[String, Int]()
    generatedId.replaceAllIn(text, m => "#" + seen.getOrElseUpdate(m.matched, seen.size))
  }

  def fresh(): Interp = {
    val in = new Interp()
    in.globals = globals
    in
  }

  def main(args: Array[String]): Unit = {
    val Array(count, first, out) = args
    val w = new BufferedWriter(new FileWriter(out))
    try (0 until count.toInt).foreach { i =>
      val seed = first.toLong + i
      // a script's generated ids depend on its seed alone, not on how many
      // ids the scripts before it drew
      Interp.idRng.set(seed << 20)
      val in = fresh()
      val sb = new StringBuilder(s"== script $seed\n")
      // a chunk that throws out of `run` ends its script
      script(seed).iterator.takeWhile { c =>
        sb ++= "> " ++= c ++= "\n"
        scala.util.Try(step(in, c)) match {
          case scala.util.Success((rs, ps)) =>
            rs.foreach(x => sb ++= "  " ++= render(x) ++= "\n")
            ps.foreach(x => sb ++= "  ? " ++= render(x) ++= "\n")
            sb ++= state(in) ++= "\n"
            true
          case scala.util.Failure(e) =>
            sb ++= "  THROWN " ++= e.toString ++= "\n"
            false
        }
      }.foreach(_ => ())
      w.write(numberIds(sb.toString))
    } finally w.close()
  }
}
