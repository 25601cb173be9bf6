package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Live

/** End-to-end LIVE SELECT over Structured Streaming: mutation batches feed
  * a MemoryStream change feed; the SAME `Live.notifications` transform that
  * the batch oracle verifies runs incrementally per microbatch, and the
  * memory sink must contain exactly the expected Create/Update/Delete
  * notifications in versionstamp order. */
class LiveSpec extends AnyFunSuite {

  test("mutation batches → streaming notifications match expected actions") {
    val spark = TestSpark.session
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // change rows as (vs, id, action, value) — two mutation batches
    val stream = MemoryStream[(Long, Long, String, Double)]
    val changes = stream.toDF.toDF("vs", "id", "action", "value")
      .withColumn("record", struct(col("id"), col("value")))

    // LIVE SELECT … WHERE value > 100 (deletes always notify)
    val notif = Live.notifications(changes, col("record.value") > 100.0)

    val q = notif.writeStream.format("memory").queryName("live_notifs")
      .outputMode("append").start()
    try {
      // batch 1: two creates (one below threshold), one update
      stream.addData((1L, 1L, "CREATE", 150.0), (1L, 2L, "CREATE", 50.0),
        (1L, 3L, "UPDATE", 200.0))
      q.processAllAvailable()
      // batch 2: a delete (always notifies) + an update below threshold
      stream.addData((2L, 2L, "DELETE", 50.0), (2L, 3L, "UPDATE", 80.0))
      q.processAllAvailable()

      val rows = spark.table("live_notifs")
        .select("vs", "id", "action").orderBy("vs", "id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      assert(rows == Seq(
        (1L, 1L, "CREATE"),
        (1L, 3L, "UPDATE"),
        (2L, 2L, "DELETE")))
    } finally q.stop()
  }

  test("versionstamped change feed derives create/update/delete from table pairs") {
    val spark = TestSpark.session
    import spark.implicits._
    val before = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val after  = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v")
    val feed = Live.changes(before, after, "id", versionstamp = 7L)
      .select("vs", "id", "action").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(feed == Seq((7L, 2L, "UPDATE"), (7L, 3L, "DELETE"), (7L, 4L, "CREATE")))
  }

  test("incremental view maintenance: streamed deltas converge to the recomputed view") {
    val spark = TestSpark.session
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // base table (id, g, v) then one mutation batch: update 2 moves groups,
    // delete 3, create 4
    val before = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("id", "g", "v")
    val after  = Seq((1L, "a", 10.0), (2L, "b", 20.0), (4L, "b", 40.0)).toDF("id", "g", "v")
    val feed = Live.changes(before, after, "id", versionstamp = 1L)

    // the SAME delta decomposition streams: base rows as insertions
    // (batch 1), then the change feed's retract/insert deltas (batch 2);
    // complete-mode fold = the maintained view after each commit
    val stream = MemoryStream[(String, Long, Double)]
    val q = Live.maintainView(stream.toDF.toDF("g", "dn", "dv"))
      .writeStream.format("memory").queryName("mat_view")
      .outputMode("complete").start()
    try {
      stream.addData(Seq(("a", 1L, 10.0), ("a", 1L, 20.0), ("b", 1L, 30.0)))
      q.processAllAvailable()
      val deltas = Live.viewDeltas(feed, "g", "v")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      stream.addData(deltas)
      q.processAllAvailable()

      val maintained = spark.table("mat_view").orderBy("g")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      // recompute from scratch on the after-state — must match exactly
      val recomputed = after.select(col("g"), lit(1L).as("dn"), col("v").as("dv"))
        .transform(Live.maintainView).orderBy("g")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(maintained == recomputed)
      assert(maintained == Seq(("a", 1L, 10.0), ("b", 2L, 60.0)))
    } finally q.stop()
  }
}
