package graft.operators

import org.apache.spark.sql.functions._

/** Scratch: split plan-construction vs execution time for one query.
  * sbt "Test/runMain graft.operators.TimePhases fn_agg_stats /root/testdata/sf0.1" */
object TimePhases {
  def main(args: Array[String]): Unit = {
    val name = args(0); val d = args(1)
    val s = graft.Session.local(graft.Session.cpus(), logLevel = "ERROR")
    val fn = graft.SparkEntry.queries(name)
    (1 to 6).foreach { i =>
      val t0 = System.nanoTime()
      val df = fn(s, d)
      val t1 = System.nanoTime()
      val opt = df.queryExecution.executedPlan // forces analyze+optimize+plan
      val t2 = System.nanoTime()
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(expr("bit_xor(h)")).collect()
      val t3 = System.nanoTime()
      println(f"rep$i build=${(t1 - t0) / 1e9}%.3f  plan=${(t2 - t1) / 1e9}%.3f  exec=${(t3 - t2) / 1e9}%.3f")
    }
    // fresh build each rep with whole-stage codegen OFF: if the per-rep cost
    // is Janino compilation, these go fast
    s.conf.set("spark.sql.codegen.wholeStage", false)
    (1 to 4).foreach { i =>
      val t0 = System.nanoTime()
      val df = fn(s, d)
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(expr("bit_xor(h)")).collect()
      println(f"nocodegen$i ${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    s.conf.set("spark.sql.codegen.wholeStage", true)
    // same df re-collected (no rebuild): isolates per-execution cost
    val df = fn(s, d)
    df.collect()
    (1 to 4).foreach { i =>
      val t0 = System.nanoTime(); df.collect()
      println(f"recollect$i ${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    // raw parquet control: same agg shape straight off the table
    val li = graft.Tables(s, d, "lineitem")
    val ctl = li.groupBy("l_returnflag").agg(expr("percentile(l_quantity, 0.5)").as("med"))
    ctl.collect()
    (1 to 4).foreach { i =>
      val t0 = System.nanoTime(); ctl.collect()
      println(f"control$i ${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    s.stop()
  }
}
