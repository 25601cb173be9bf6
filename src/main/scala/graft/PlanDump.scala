package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dump `explain("formatted")` for declared queries to text files — the
  * optimization-round evidence trail (`plans/r20/<query>_{before,after}.txt`).
  *
  * Usage: `sbt "runMain graft.PlanDump <outDir> <suffix>"` with the same
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` env contract as [[Bench]];
  * `SPARK_GRAFT_ONLY=a,b,c` restricts to named queries. Plans are captured
  * AFTER the shared index warms (same steady state the bench times). Each
  * row's driver actions — the Dataset actions (root SQL executions) and
  * plain RDD jobs its lowering runs while the DataFrame is built — go to
  * `driver_actions_<suffix>.txt`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r20")
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = Session.local(Session.cpus(), logLevel = "ERROR")
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())
    Bench.indexWarms(spark, sfDir).foreach { case (_, warm) => warm() }
    Files.createDirectories(Paths.get(outDir))
    // each row's lowering runs in its own job group, by which its actions count
    val actions = new ConcurrentHashMap[String, AtomicInteger]()
    def count(group: Option[String]): Unit = group.foreach(g =>
      actions.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.sql.execution.id") == null)
          .foreach(p => count(Option(p.getProperty("spark.jobGroup.id"))))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.rootExecutionId.forall(_ == x.executionId) =>
          count(x.jobGroupId)
        case _ => ()
      }
    })
    val mode = ExplainMode.fromString("formatted")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        try {
          spark.sparkContext.setJobGroup(name, name)
          val df = try fn(spark, sfDir) finally spark.sparkContext.clearJobGroup()
          val txt = df.queryExecution.explainString(mode)
          Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          System.err.println(s"[plandump] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
        name
      }
    // the listener bus delivers job starts asynchronously
    Thread.sleep(2000)
    val counts = names.map(n => s"$n ${Option(actions.get(n)).map(_.get).getOrElse(0)}")
    Files.write(Paths.get(outDir, s"driver_actions_$suffix.txt"),
      counts.mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
