package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.surql.{Parser, SparkPlanner}

/** `spark_point` and `spark_analytic`: `SparkPlanner.query` lowers each
  * statement to a DataFrame, `Dataset.collect` runs it. */
final class SparkEngine(dir: String, cpus: Int, tables: Seq[String], templates: Set[String])
    extends Engine {
  private var spark: SparkSession = _
  private var listener: Option[SparkEngine.Counters] = None
  private val ns = Array.fill(6)(0L) // parse, lower, analyze, optimize, physical, exec
  private var codegen = 0L
  private var scanRows = 0L
  private var resultRows = 0L

  def setup(): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val t1 = System.nanoTime()
    tables.foreach(t => graft.Tables(spark, dir, t).count())
    val t2 = System.nanoTime()
    // the persisted indexes the workload's templates read, built into the
    // run's own (initially empty) GRAFT_CACHE_DIR
    if (templates("bm25")) graft.operators.FullText.index(spark, dir)
    if (templates("arrow")) graft.operators.GraphOps.warmEdges(spark, dir)
    val t3 = System.nanoTime()
    Seq("session" -> (t1 - t0) / 1e9, "load" -> (t2 - t1) / 1e9, "index" -> (t3 - t2) / 1e9)
  }

  private def timed[T](slot: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    ns(slot) += System.nanoTime() - t0
    r
  }

  def run(op: Main.Op, traced: Boolean): Main.Outcome =
    try {
      val rows =
        if (!traced) SparkPlanner.query(spark, dir, op.stmt).collect()
        else {
          val sc = spark.sparkContext
          val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          // the parse is timed on its own; query() parses again inside, so
          // the lowering time is the query() call minus this parse
          timed(0)(Parser.parse(op.stmt))
          sc.setLocalProperty(SparkEngine.Phase, "lower")
          val df: DataFrame = timed(1)(SparkPlanner.query(spark, dir, op.stmt))
          sc.setLocalProperty(SparkEngine.Phase, "exec")
          val qe = df.queryExecution
          timed(2)(qe.analyzed)
          timed(3)(qe.optimizedPlan)
          timed(4)(qe.executedPlan)
          val rows = timed(5)(df.collect())
          sc.setLocalProperty(SparkEngine.Phase, null)
          codegen += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
          scanRows += SparkEngine.fileScanRows(qe.executedPlan)
          resultRows += rows.length
          rows
        }
      Main.Outcome(() => rows.map(SparkEngine.json).mkString("[", ",", "]"), None)
    } catch {
      case e: Exception => Main.Outcome(() => "", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  def startTrace(): Unit = {
    val l = new SparkEngine.Counters
    spark.sparkContext.addSparkListener(l)
    listener = Some(l)
  }

  def stopTrace(ops: Int, cpuNs: Long): Seq[(String, Double)] = {
    val l = listener.get
    l.drain()
    spark.sparkContext.removeSparkListener(l)
    def per(x: Double) = x / ops
    val taskCpuMs = l.taskCpuNs.get / 1e6
    Seq(
      "parser.ms_per_op" -> per(ns(0) / 1e6),
      "planner.lower_ms_per_op" -> per((ns(1) - ns(0)) / 1e6),
      "planner.jobs_per_op" -> per(l.jobs("lower").toDouble),
      "catalyst.analyze_ms_per_op" -> per(ns(2) / 1e6),
      "catalyst.optimize_ms_per_op" -> per(ns(3) / 1e6),
      "catalyst.physical_ms_per_op" -> per(ns(4) / 1e6),
      "exec.ms_per_op" -> per(ns(5) / 1e6),
      "exec.jobs_per_op" -> per(l.jobs("exec").toDouble),
      "exec.stages_per_op" -> per(l.stages.get.toDouble),
      "exec.tasks_per_op" -> per(l.tasks.get.toDouble),
      "exec.shuffle_read_bytes_per_op" -> per(l.shuffleRead.get.toDouble),
      "exec.shuffle_write_bytes_per_op" -> per(l.shuffleWrite.get.toDouble),
      "exec.spill_bytes_per_op" -> per(l.spill.get.toDouble),
      "exec.codegen_compiles_per_op" -> per(codegen.toDouble),
      "exec.scan_rows_per_result_row" -> scanRows.toDouble / math.max(1L, resultRows),
      "exec.task_cpu_ms_per_op" -> per(taskCpuMs),
      "driver.cpu_ms_per_op" -> per(cpuNs / 1e6 - taskCpuMs))
  }

  def close(): Unit = spark.stop()
}

object SparkEngine {
  val Phase = "perfbench.phase"

  /** Job, stage, task, shuffle and spill counts of the traced rounds: only
    * jobs submitted with the phase property set count, each under the phase
    * (lowering or execution) that submitted it. */
  final class Counters extends SparkListener {
    private val jobCount = new ConcurrentHashMap[String, AtomicLong]()
    private val tracedStages = ConcurrentHashMap.newKeySet[Int]()
    val stages, tasks, shuffleRead, shuffleWrite, spill, taskCpuNs = new AtomicLong
    private val started, ended = new AtomicLong
    def jobs(phase: String): Long = Option(jobCount.get(phase)).map(_.get).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty(Phase))).foreach { phase =>
        jobCount.computeIfAbsent(phase, _ => new AtomicLong).incrementAndGet()
        e.stageIds.foreach(id => tracedStages.add(id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (tracedStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (tracedStages.contains(e.stageId)) {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          taskCpuNs.addAndGet(m.executorCpuTime)
        }
      }

    /** Wait until the listener bus has delivered every event of the loop. */
    def drain(): Unit = {
      var last = -1L
      var stable = 0
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = tasks.get + ended.get
        if (now == last && started.get == ended.get) stable += 1 else stable = 0
        last = now
      }
    }
  }

  /** Rows produced by the file scans of an executed plan, through adaptive
    * query stages and subqueries. */
  def fileScanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => fileScanRows(a.executedPlan)
    case s: QueryStageExec => fileScanRows(s.plan)
    case f: FileSourceScanExec => f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(fileScanRows).sum
  }

  def json(r: Row): String = (0 until r.length).map(i => value(r.get(i))).mkString("[", ",", "]")

  private def value(x: Any): String = x match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case d: Double => Json.num(d)
    case f: Float => Json.num(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case s: String => Json.str(s)
    case r: Row => json(r)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => Json.str(other.toString)
  }
}
