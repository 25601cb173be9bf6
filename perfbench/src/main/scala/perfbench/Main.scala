package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One closed-loop benchmark client: a single thread issues the workload's
  * generated statements one after another through the program's public
  * entry points, in whole rounds, until the measuring time is spent.
  *
  * Arguments: workload, ops file (one `template<TAB>statement` line per
  * operation of a round), set-up file (the graph script for Interp, the
  * tables to load for Spark), corpus dir, results file, seconds, trace
  * (0|1), launch time in epoch ns, Spark cores, untimed warm-up rounds,
  * fewest timed rounds, reference probe time in ns (see [[Probes]]).
  *
  * The last stdout line is a flat JSON object of measurements; every
  * operation's result goes to the results file (`round<TAB>index<TAB>json`)
  * for the caller to check against its own computation. */
object Main {
  final case class Op(template: String, stmt: String)

  /** One executed operation: its result as JSON, or the error it raised. */
  final case class Outcome(json: () => String, error: Option[String])

  def nowEpochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = osBean.getProcessCpuTime
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val Array(workload, opsFile, setupFile, dataDir, resultsFile, secondsArg,
      traceArg, launchNsArg, cpusArg, warmupArg, minRoundsArg, probeRefArg) = args
    val probes = new Probes(probeRefArg.toDouble)
    Probe.warm()
    probes.take()
    val round = Files.readAllLines(Paths.get(opsFile), UTF_8).asScala.toIndexedSeq
      .filter(_.nonEmpty).map { l =>
        val Array(t, s) = l.split("\t", 2)
        Op(t, s)
      }
    val setupInput = new String(Files.readAllBytes(Paths.get(setupFile)), UTF_8)
    val engine: Engine = workload match {
      case "interp_graph" => new InterpEngine(setupInput)
      case "spark_point" | "spark_analytic" =>
        new SparkEngine(dataDir, cpusArg.toInt, setupInput.split("\n").toSeq.filter(_.nonEmpty),
          round.map(_.template).toSet)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // outcomes are kept and written out after the loop, off the timed path
    val recorded = mutable.ArrayBuffer[IndexedSeq[Outcome]]()
    def record(outcomes: IndexedSeq[Outcome]): Unit = recorded += outcomes

    val setup = engine.setup()
    probes.take()
    val tw = System.nanoTime()
    for (_ <- 1 to warmupArg.toInt) record(round.map { op =>
      val o = engine.run(op, traced = false)
      if (probes.due) probes.take()
      o
    })
    val setupPhases = setup :+ ("warmup" -> (System.nanoTime() - tw) / 1e9)
    probes.take()
    val setupS = (nowEpochNs() - launchNsArg.toLong) / 1e9
    val setupProbes = probes.count
    val setupFactor = probes.factor(0, setupProbes)

    /** Whole rounds until the measuring time is spent, and at least enough
      * of them that ten latencies lie above p90. In a traced run the rounds
      * alternate untraced and traced, so both kinds see the same JIT and
      * cache state and their ms/op difference is the tracing overhead. */
    val budget = (secondsArg.toDouble * 1e9).toLong
    val minRounds = minRoundsArg.toInt
    val tracing = traceArg == "1"
    val plain, traced = new Tally
    if (tracing) engine.startTrace()
    val start = System.nanoTime()
    var i = 0
    while (System.nanoTime() - start < budget || i < minRounds || (tracing && i % 2 == 1)) {
      val tr = tracing && i % 2 == 1
      val tally = if (tr) traced else plain
      val probeNs0 = probes.spentNs
      val cpu0 = processCpuNs(); val gc0 = gcMs(); val t0 = System.nanoTime()
      record(round.map { op =>
        val before = probes.count - 1
        val s = System.nanoTime()
        val o = engine.run(op, tr)
        tally.lat += System.nanoTime() - s
        if (probes.due) probes.take()
        tally.probeAt += before
        o
      })
      probes.take()
      tally.roundWallNs += System.nanoTime() - t0 - (probes.spentNs - probeNs0)
      tally.roundCpuNs += processCpuNs() - cpu0 - (probes.spentNs - probeNs0)
      tally.gcMs += gcMs() - gc0
      i += 1
    }

    val out = mutable.LinkedHashMap[String, Double]()
    if (!tracing) {
      out ++= endToEnd(plain, probes.factor, setupS * setupFactor)
      // the same figures as measured, before scaling to the reference speed
      out ++= endToEnd(plain, (_, _) => 1.0, setupS).map { case (k, v) => s"raw.$k" -> v }
      out("probe.setup_factor") = setupFactor
      out("probe.factor") = probes.factor(setupProbes, probes.count)
    }
    else {
      val n = traced.lat.length
      out("trace.overhead_pct") = (traced.msPerOp / plain.msPerOp - 1.0) * 100.0
      out ++= engine.stopTrace(n, traced.cpuNs)
      out("jvm.gc_ms_per_op") = traced.gcMs.toDouble / n
      setupPhases.foreach { case (k, v) => out(s"setup.${k}_s") = v }
    }
    val results = new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(resultsFile), UTF_8))
    for ((outcomes, r) <- recorded.zipWithIndex; (o, i) <- outcomes.zipWithIndex) {
      val body = o.error.map(e => "{\"error\":" + Json.str(e) + "}").getOrElse(o.json())
      results.println(s"$r\t$i\t$body")
    }
    results.close()
    engine.close()
    println(out.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
      .mkString("{", ",", "}"))
    System.out.flush()
    sys.exit(0)
  }

  /** Latencies (ns) and the wall, CPU and GC time of a set of rounds; for
    * each operation, the index of the last probe taken before it. */
  final class Tally {
    val lat = mutable.ArrayBuffer[Long]()
    val probeAt = mutable.ArrayBuffer[Int]()
    val roundWallNs, roundCpuNs = mutable.ArrayBuffer[Long]()
    var gcMs = 0L
    def wallNs: Long = roundWallNs.sum
    def cpuNs: Long = roundCpuNs.sum
    def msPerOp: Double = wallNs / 1e6 / lat.length
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def endToEnd(t: Tally, scale: (Int, Int) => Double, setupS: Double): Seq[(String, Double)] = {
    // each operation at the reference speed, from the probes taken just
    // before and just after it
    val lat = t.lat.indices.map(j => t.lat(j) * scale(t.probeAt(j), t.probeAt(j) + 2))
    val sorted = lat.sorted
    def pct(q: Double): Double = {
      // linear interpolation between closest ranks
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      (sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)) / 1e6
    }
    // Throughput and CPU are medians over rounds, so one round slowed by a
    // GC pause or a burst on a shared host does not move them. A round's
    // wall and CPU time are scaled as its operations are on the whole.
    val perRound = sorted.length / t.roundWallNs.length
    val roundScale = t.roundWallNs.indices.map { r =>
      val ops = r * perRound until (r + 1) * perRound
      ops.map(lat).sum / ops.map(t.lat(_).toDouble).sum
    }
    def scaledMedian(xs: collection.Seq[Long]): Double = median(xs.indices.map(r => xs(r) * roundScale(r)))
    Seq(
      "setup_s" -> setupS,
      "throughput_ops" -> perRound / (scaledMedian(t.roundWallNs) / 1e9),
      "latency_p50_ms" -> pct(0.50),
      "latency_p90_ms" -> pct(0.90),
      "cpu_ms_per_op" -> scaledMedian(t.roundCpuNs) / 1e6 / perRound,
      "peak_rss_mb" -> peakRssMb(),
      "samples" -> sorted.length.toDouble)
  }
}

/** The probe times of a run, in order, and the wall time spent taking them
  * (which no timing includes). Times are reported at a reference host
  * speed: a stretch of work is scaled by the reference probe time over the
  * mean probe time around it, so that a run on a host slowed by other
  * tenants reads about what it would on the host the bounds were set on. */
final class Probes(refNs: Double) {
  private val ns = mutable.ArrayBuffer[Long]()
  private var last = 0L
  var spentNs = 0L
  def count: Int = ns.length
  def take(): Unit = {
    val t0 = System.nanoTime()
    ns += Probe.ns()
    last = System.nanoTime()
    spentNs += last - t0
  }
  /** At most one probe per 100 ms of work, between operations. */
  def due: Boolean = System.nanoTime() - last > 100000000L
  /** Scale for the work done between probes `from` and `until - 1`. */
  def factor(from: Int, until: Int): Double =
    refNs / ((from until until).map(ns(_).toDouble).sum / (until - from))
}

/** The program under test behind one interface: set up, run one operation. */
trait Engine {
  /** Set-up phases in order, seconds each. */
  def setup(): Seq[(String, Double)]
  def run(op: Main.Op, traced: Boolean): Main.Outcome
  def startTrace(): Unit
  /** Per-layer metrics of the traced rounds (`ops` operations, `cpuNs`
    * process CPU during them). */
  def stopTrace(ops: Int, cpuNs: Long): Seq[(String, Double)]
  def close(): Unit
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
}
