package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the r21 QualityGates rewrite: the ANN gate math moved
  * from a crossJoin-of-aggregates plan (which evaluated each ≤k-row side
  * once per consumer — the brute-force subtree twice per gate row) to a
  * single driver-local materialization per side. These tests pin the
  * rewritten arithmetic against hand-computed values: multiset join-hit
  * counting, means, the recall/ratio/headroom gate directions, and row
  * shape/order. */
class GateMathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import graft.operators.QualityGates

  private def df(rows: Seq[(Long, Double)]) = {
    import spark.implicits._
    rows.toDF("vec_id", "cos_sim")
  }

  test("annGates: recall is the multiset vec_id join count over k") {
    val ann = df(Seq(1L -> 0.9, 2L -> 0.8, 3L -> 0.7, 9L -> 0.6))
    val exact = df(Seq(1L -> 0.95, 2L -> 0.85, 4L -> 0.75, 5L -> 0.65))
    // hits = |{1,2}| = 2, k = 4 → recall 0.5; ann_mean 0.75, ex_mean 0.80
    val out = QualityGates.annGates(ann, exact, 4, 0.49, 0.90).collect()
    assert(out.length == 2)
    val recallRow = out.find(_.getString(0).startsWith("recall@4")).get
    assert(recallRow.getDouble(1) == 0.49 && recallRow.getBoolean(2))
    val ratioRow = out.find(_.getString(0).startsWith("sim_ratio@4")).get
    // 0.75 / 0.80 = 0.9375 ≥ 0.90
    assert(ratioRow.getBoolean(2))
  }

  test("annGates: a failing threshold reports pass=false, not a dropped row") {
    val ann = df(Seq(1L -> 0.1))
    val exact = df(Seq(2L -> 0.9))
    val out = QualityGates.annGates(ann, exact, 1, 0.5, 0.5).collect()
    assert(out.length == 2 && out.forall(!_.getBoolean(2)))
  }

  test("annGatesWithScan: headroom gate is 1 - scan_frac") {
    val ann = df(Seq(1L -> 0.9))
    val exact = df(Seq(1L -> 0.9))
    val scan = spark.range(1).select(lit(0.4).as("scan_frac"))
    val out = QualityGates.annGatesWithScan(ann, exact, scan, 1, 0.9, 0.9, 0.59)
      .collect()
    val head = out.find(_.getString(0).startsWith("scan_headroom")).get
    assert(head.getBoolean(2), "1 - 0.4 = 0.6 ≥ 0.59 must pass")
    val tight = QualityGates.annGatesWithScan(ann, exact, scan, 1, 0.9, 0.9, 0.61)
      .collect().find(_.getString(0).startsWith("scan_headroom")).get
    assert(!tight.getBoolean(2), "1 - 0.4 = 0.6 < 0.61 must fail")
  }

  test("gate rows come back ordered by metric name (oracle row order)") {
    val ann = df(Seq(1L -> 0.9))
    val out = QualityGates.annGates(ann, ann, 1, 0.5, 0.5).collect()
    assert(out.map(_.getString(0)).toSeq == out.map(_.getString(0)).sorted.toSeq)
  }

  test("a null vec_id or cos_sim fails the gates instead of throwing") {
    import spark.implicits._
    val good = df(Seq(1L -> 0.9))
    val nullSim = Seq((1L, Option.empty[Double])).toDF("vec_id", "cos_sim")
    val nullId = Seq((Option.empty[Long], 0.9)).toDF("vec_id", "cos_sim")
    Seq(QualityGates.annGates(nullSim, good, 1, 0.5, 0.5),
        QualityGates.annGates(good, nullId, 1, 0.5, 0.5)).foreach { gates =>
      val out = gates.collect()
      assert(out.length == 2 && out.forall(r => !r.isNullAt(2) && !r.getBoolean(2)),
        out.mkString(", "))
    }
    val scan = spark.range(1).select(lit(0.4).as("scan_frac"))
    val out = QualityGates.annGatesWithScan(nullSim, good, scan, 1, 0.5, 0.5, 0.1).collect()
    val passed = out.map(r => r.getString(0).takeWhile(_ != ' ') -> r.getBoolean(2)).toMap
    assert(passed == Map("recall@1" -> false, "sim_ratio@1" -> false, "scan_headroom" -> true),
      out.mkString(", "))
  }
}
