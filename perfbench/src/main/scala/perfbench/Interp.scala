package perfbench

import scala.collection.mutable

import graft.surql.{Json => _, _}

/** `interp_graph`: the in-memory semantics engine, `Parser.parse` then
  * `Interp.run`, no Spark. */
final class InterpEngine(setupScript: String) extends Engine {
  private var in: Interp = _
  private var parseNs = 0L
  private val runNs = mutable.LinkedHashMap("read" -> 0L, "graph" -> 0L, "write" -> 0L)

  /** Layer of each template: reads of single records and filtered counts,
    * graph traversals, and writes. */
  private def layer(template: String): String = template match {
    case "point" | "count" => "read"
    case "hop1" | "hop2" | "hop_new" => "graph"
    case _ => "write"
  }

  def setup(): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    in = new Interp
    val t1 = System.nanoTime()
    val res = in.run(Parser.parse(setupScript))
    res.collectFirst { case QErr(m) => m }.foreach(m => throw new IllegalStateException(s"graph load failed: $m"))
    val t2 = System.nanoTime()
    Seq("session" -> (t1 - t0) / 1e9, "load" -> (t2 - t1) / 1e9, "index" -> 0.0)
  }

  def run(op: Main.Op, traced: Boolean): Main.Outcome = {
    val t0 = System.nanoTime()
    val ast = Parser.parse(op.stmt)
    val t1 = System.nanoTime()
    val res = in.run(ast)
    if (traced) {
      parseNs += t1 - t0
      runNs(layer(op.template)) += System.nanoTime() - t1
    }
    res.last match {
      case QOk(v) => Main.Outcome(() => InterpEngine.json(v), None)
      case QErr(m) => Main.Outcome(() => "", Some(m))
    }
  }

  def startTrace(): Unit = ()

  def stopTrace(ops: Int, cpuNs: Long): Seq[(String, Double)] =
    Seq(
      "parser.ms_per_op" -> parseNs / 1e6 / ops,
      "interp.read_ms_per_op" -> runNs("read") / 1e6 / ops,
      "interp.graph_ms_per_op" -> runNs("graph") / 1e6 / ops,
      "interp.write_ms_per_op" -> runNs("write") / 1e6 / ops,
      "interp.records" -> in.tables.valuesIterator.map(_.size).sum.toDouble,
      "driver.cpu_ms_per_op" -> cpuNs / 1e6 / ops)

  def close(): Unit = ()
}

object InterpEngine {
  /** A SurrealQL value as JSON: record ids as `table:key` strings. */
  def json(v: V): String = v match {
    case VNone | VNull => "null"
    case VBool(b) => b.toString
    case VInt(i) => i.toString
    case VFloat(d) => Json.num(d)
    case VDec(d) => d.bigDecimal.toPlainString
    case VStr(s) => Json.str(s)
    case VRid(t, k) => Json.str(t + ":" + (k match {
      case VInt(i) => i.toString
      case VStr(s) => s
      case other => other.toString
    }))
    case VArr(items) => items.map(json).mkString("[", ",", "]")
    case VSet(items) => items.map(json).mkString("[", ",", "]")
    case VObj(fields) => fields.map { case (k, x) => Json.str(k) + ":" + json(x) }.mkString("{", ",", "}")
    case other => Json.str(other.toString)
  }
}
