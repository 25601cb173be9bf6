package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + semantics checks for every SparkEntry query at sf0.001.
  * Oracle-exact parity vs DuckDB is checked by scripts/compare_oracle.py
  * (and by the driver at sf0.01); these specs pin cheap invariants so
  * `sbt test` catches regressions without the oracle. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("every registered query runs and yields a schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      withClue(s"$name: ") {
        val df = fn(spark, sf)
        assert(df.schema.fields.nonEmpty, s"$name has empty schema")
      }
    }
  }

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("count_all matches table count") {
    val n = SparkEntry.queries("count_all")(spark, sf).collect()(0).getLong(0)
    assert(n == Tables.lineitem(spark, sf).count())
  }

  test("only_one returns exactly one row") {
    assert(SparkEntry.queries("only_one")(spark, sf).count() == 1)
  }

  test("topk is sorted descending") {
    val prices = SparkEntry.queries("topk")(spark, sf)
      .collect().map(_.getDouble(2))
    assert(prices.length == 10 && prices.sameElements(prices.sorted.reverse))
  }

  test("limit_start offsets correctly") {
    val keys = SparkEntry.queries("limit_start")(spark, sf)
      .collect().map(_.getLong(0))
    val all = Tables.orders(spark, sf)
      .select("o_orderkey").orderBy("o_orderkey")
      .limit(30).collect().map(_.getLong(0))
    assert(keys.sameElements(all.drop(10)))
  }

  test("recursion depth never exceeds bound and chains are consistent") {
    val rows = SparkEntry.queries("recursion_chain")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= 3))
  }

  test("agg_group sums are exact across repartitioning") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
    val a = li.agg(graft.functions.Exact.dsum(col("l_extendedprice"))).collect()(0).getDouble(0)
    val b = li.repartition(17).agg(graft.functions.Exact.dsum(col("l_extendedprice"))).collect()(0).getDouble(0)
    assert(a == b, "decimal-routed sum must be partition-order independent")
  }
}

object TestSpark {
  // 8 cores whatever the box: RecursionJobsSpec's job budgets assume it
  lazy val session: SparkSession = Session.local(8)
}
