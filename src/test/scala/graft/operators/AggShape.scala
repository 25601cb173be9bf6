package graft.operators

import org.apache.spark.sql.functions._

/** Scratch: split-vs-single aggregation shape for median+declarative mixes.
  * sbt "Test/runMain graft.operators.AggShape /root/testdata/sf0.1" */
object AggShape {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val s = graft.Session.local(graft.Session.cpus(), logLevel = "ERROR")
    import graft.functions.Exact

    def split() = {
      val li = graft.Tables(s, d, "lineitem")
      val dAgg = li.groupBy("l_returnflag").agg(
        Exact.dstddev(col("l_quantity")).as("sd"),
        Exact.dvarSamp(col("l_quantity")).as("vr"),
        Exact.davg(col("l_quantity")).as("mean"),
        min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"))
      val mAgg = li.groupBy("l_returnflag")
        .agg(median(col("l_quantity")).as("med"))
      dAgg.join(mAgg, Seq("l_returnflag"), "inner")
    }
    def single() = {
      val li = graft.Tables(s, d, "lineitem")
      li.groupBy("l_returnflag").agg(
        Exact.dstddev(col("l_quantity")).as("sd"),
        Exact.dvarSamp(col("l_quantity")).as("vr"),
        median(col("l_quantity")).as("med"),
        Exact.davg(col("l_quantity")).as("mean"),
        min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"))
    }
    def time(name: String, f: () => org.apache.spark.sql.DataFrame): Unit = {
      (1 to 6).foreach { i =>
        val t0 = System.nanoTime()
        val df = f()
        df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
          .agg(expr("bit_xor(h)")).collect()
        println(f"$name rep$i ${(System.nanoTime() - t0) / 1e9}%.3f")
      }
      // steady-state data path (same plan re-collected)
      val df = f(); df.collect()
      val t0 = System.nanoTime(); (1 to 5).foreach(_ => df.collect())
      println(f"$name recollect ${(System.nanoTime() - t0) / 5e9}%.3f")
    }
    s.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables(s, d, "lineitem").count()
    time("split ", split)
    time("single", single)
    time("split2", split)
    time("single2", single)
    s.stop()
  }
}
