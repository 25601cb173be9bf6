package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `explain("formatted")` for declared queries to text files — the
  * optimization-round evidence trail (`plans/r20/<query>_{before,after}.txt`).
  *
  * Usage: `sbt "runMain graft.PlanDump <outDir> <suffix>"` with the same
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` env contract as [[Bench]];
  * `SPARK_GRAFT_ONLY=a,b,c` restricts to named queries. Plans are captured
  * AFTER the shared index warms (same steady state the bench times). */
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
    val mode = ExplainMode.fromString("formatted")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(mode)
          Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          System.err.println(s"[plandump] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
