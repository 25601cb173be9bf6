package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.surql.SparkPlanner

/** Edge-case semantics of the script executor (transactions, overlay,
  * events, control flow) that the oracle entries don't pin. */
class ScriptSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("CANCEL reverts to the BEGIN snapshot; a later transaction still applies") {
    val out = SparkPlanner.script(spark, sf,
      """BEGIN;
         UPDATE orders SET o_orderpriority = 'LOST' WHERE o_orderkey = 1;
         CANCEL;
         BEGIN;
         UPDATE orders SET o_orderpriority = 'KEPT' WHERE o_orderkey = 2;
         SELECT o_orderkey, o_orderpriority FROM orders:1..3 ORDER BY o_orderkey;
         COMMIT;""")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(2L) == "KEPT")
    assert(out(1L) != "LOST", "cancelled write leaked into a later read")
  }

  test("SHOW CHANGES reports the script-scope create/update/delete rows") {
    val out = SparkPlanner.script(spark, sf,
      """BEGIN;
         UPDATE orders SET o_totalprice = o_totalprice + 1.0
           WHERE o_orderkey >= 1 AND o_orderkey < 3;
         CREATE orders:930001 SET o_custkey = 1, o_orderstatus = 'O',
           o_totalprice = 5.0, o_orderpriority = '1-URGENT';
         DELETE orders:5;
         SHOW CHANGES FOR TABLE orders SINCE 0;
         COMMIT;""")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "update"), (2L, "update"),
      (930001L, "create"), (5L, "delete")), s"got $out")
  }

  test("SHOW CHANGES respects LIMIT") {
    val out = SparkPlanner.script(spark, sf,
      """BEGIN;
         UPDATE orders SET o_totalprice = o_totalprice + 1.0 WHERE o_orderkey < 10;
         SHOW CHANGES FOR TABLE orders SINCE 0 LIMIT 4;
         COMMIT;""").collect()
    assert(out.length == 4)
  }

  test("an UPDATE event fires for exactly the update rows SHOW CHANGES reports") {
    // keys 0, 1, 6 and 7 are already 'F' at sf0.001: the UPDATE leaves them
    // unchanged, so neither the feed nor the event sees them (doc/event.rs
    // skips an unchanged document); the CREATE must not fire the event
    def run(last: String) = SparkPlanner.script(spark, sf,
      s"""DEFINE EVENT audit ON TABLE orders WHEN $$event = 'UPDATE' THEN (
            CREATE events SET event_id = $$after.o_orderkey + 300000,
              user_id = 1, event_type = 'audit', value = 1.0, props = '{}');
          UPDATE orders SET o_orderstatus = 'F' WHERE o_orderkey < 8;
          CREATE orders:930002 SET o_custkey = 1, o_orderstatus = 'O',
            o_totalprice = 5.0, o_orderpriority = '1-URGENT';
          SHOW CHANGES FOR TABLE orders SINCE 0;
          $last""").collect()
    val changes = run("").map(r => (r.getLong(0), r.getString(1))).toSet
    val fired = run("SELECT event_id FROM events WHERE event_type = 'audit';")
      .map(_.getLong(0) - 300000L).toSet
    assert(changes == Set((2L, "update"), (3L, "update"), (4L, "update"),
      (5L, "update"), (930002L, "create")), s"got $changes")
    assert(fired == changes.collect { case (k, "update") => k }, s"fired for $fired")
  }

  test("script overlay does not leak outside the script") {
    SparkPlanner.script(spark, sf,
      """UPDATE orders SET o_orderpriority = 'X' WHERE o_orderkey = 1;
         SELECT o_orderkey FROM orders:1..2;""").collect()
    val prio = Tables.orders(spark, sf).filter(col("o_orderkey") === 1L)
      .select("o_orderpriority").head.getString(0)
    assert(prio != "X", "uncommitted overlay mutated the base catalog")
  }

  test("events fire once per mutation and do not cascade on event-generated writes") {
    // the orders event CREATEs into events; an events event would cascade
    // off those rows if event-generated writes re-fired triggers
    val out = SparkPlanner.script(spark, sf,
      """DEFINE EVENT a ON TABLE orders WHEN $event = 'UPDATE' THEN (
           CREATE events SET event_id = $after.o_orderkey + 100000,
             user_id = 1, event_type = 'aud', value = 1.0, props = '{}');
         DEFINE EVENT b ON TABLE events WHEN $event = 'CREATE' THEN (
           CREATE events SET event_id = $after.event_id + 200000,
             user_id = 2, event_type = 'cascade', value = 2.0, props = '{}');
         UPDATE orders SET o_totalprice = o_totalprice + 1.0
           WHERE o_orderkey < 4;
         SELECT event_type, count() AS n FROM events
           WHERE event_type = 'aud' OR event_type = 'cascade'
           GROUP BY event_type;""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out.get("aud").contains(4L), // orderkeys 0,1,2,3 exist at sf0.001
      s"orders event fired wrong count: $out")
    assert(!out.contains("cascade"), s"event cascaded off an event-generated write: $out")
  }

  test("FOR loop param shadows an outer LET of the same name") {
    val out = SparkPlanner.script(spark, sf,
      """LET $k = 99;
         FOR $k IN [1, 2] {
           UPDATE orders SET o_orderpriority = 'LOOPED' WHERE o_orderkey = $k;
         };
         SELECT o_orderkey, o_orderpriority FROM orders
           WHERE o_orderpriority = 'LOOPED' ORDER BY o_orderkey;""")
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L), s"loop binding wrong: $out")
  }

  test("IF takes the first truthy branch, ELSE otherwise") {
    val thenOut = SparkPlanner.script(spark, sf,
      "IF 1 > 2 { RETURN { r: 'a' }; } ELSE { RETURN { r: 'b' }; };")
      .collect().head.getString(0)
    assert(thenOut == "b")
  }

  test("ON DUPLICATE sub-select source with multiplicity 100 stays bounded and leaves no cache") {
    // reference semantics is sequential per occurrence: a key repeated 100
    // times applies its update arm 100 times. The chain localCheckpoints
    // every 32 levels, so the analyzer never sees a 100-deep plan, and the
    // batch materializes through a checkpoint (ContextCleaner-reclaimed),
    // never the CacheManager.
    val before = Tables.orders(spark, sf)
      .filter(col("o_orderkey") === 1L)
      .select("o_totalprice").head.getDouble(0)
    // other suites share the session and may cache legitimately — only
    // assert that THIS statement adds nothing to the CacheManager
    val cacheWasEmpty = spark.sharedState.cacheManager.isEmpty
    val t0 = System.nanoTime()
    val out = SparkPlanner.script(spark, sf,
      """INSERT INTO orders (SELECT 1 AS o_orderkey, 7 AS o_custkey FROM orders LIMIT 100)
           ON DUPLICATE KEY UPDATE o_totalprice += 1;
         SELECT o_totalprice FROM orders:1;""")
      .collect().head.getDouble(0)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(math.round(out - before) == 100,
      s"expected +100 sequential applications, got $before -> $out")
    assert(secs < 180, s"multiplicity-100 chain took ${secs}s — analyzer blowup")
    if (cacheWasEmpty)
      assert(spark.sharedState.cacheManager.isEmpty,
        "INSERT arm left an entry pinned in the CacheManager")
  }

  test("query() delegates multi-statement text to the script executor") {
    val out = SparkPlanner.query(spark, sf,
      """UPDATE orders SET o_orderpriority = 'QX' WHERE o_orderkey = 3;
         SELECT o_orderkey, o_orderpriority FROM orders:3;""")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((3L, "QX")))
  }

  test("CANCEL unregisters a RELATE's relation catalog entries") {
    // the reference discards the whole transaction context on CANCEL; a
    // leaked registration would let a later DELETE's edge purge match a
    // table this cancelled transaction never created
    SparkPlanner.script(spark, sf,
      """BEGIN;
         RELATE orders:1->cxlink->orders:2 SET w = 1;
         CANCEL;
         RETURN 1;""")
    assert(SparkPlanner.recordKey.get("cxlink").isEmpty)
    assert(!graft.operators.GraphOps.edgeDefs.contains("cxlink"))
  }

  test("ON DELETE CASCADE victims purge their graph edges too") {
    // doc/purge.rs purges per deleted record: a row removed by a CASCADE
    // level must shed its edges exactly like a row the DELETE named.
    // orders:17 cascades (its customer is in nation 3); orders:1 survives.
    val out = SparkPlanner.script(spark, sf,
      """BEGIN;
         RELATE orders:17->olink->orders:1 SET w = 1;
         RELATE orders:1->olink->orders:2 SET w = 2;
         DEFINE FIELD o_custkey ON orders REFERENCE ON DELETE CASCADE;
         DELETE customer WHERE c_nationkey = 3;
         SELECT w FROM olink ORDER BY w;
         COMMIT;""")
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(2L),
      s"cascaded orders:17 should purge its olink edge, got weights $out")
  }

  test("array-link referential UNSET past the threshold explodes into an equi-join") {
    // a 100k-key delete set must NOT materialize as one driver-sized
    // broadcast array (the small-set path); the scale path explodes the
    // link arrays and equi-joins the deleted keys
    import org.apache.spark.sql.types._
    val big = spark.range(1, 100001).select(col("id"))
    val refrSchema = StructType(Seq(StructField("id", LongType),
      StructField("links", ArrayType(LongType))))
    val refr = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, Seq(5L, 200000L)),
        org.apache.spark.sql.Row(2L, Seq(200001L)),
        org.apache.spark.sql.Row(3L, null),
        org.apache.spark.sql.Row(4L, Seq(7L, 8L))), refrSchema)
    SparkPlanner.extraRecordKeys.put("big", "id")
    SparkPlanner.extraRecordKeys.put("refr", "id")
    val out = Tables.withOverlay(Map("big" -> big, "refr" -> refr)) {
      SparkPlanner.script(spark, sf,
        """BEGIN;
           DEFINE FIELD links ON refr TYPE array<record<big>> REFERENCE ON DELETE UNSET;
           DELETE big WHERE id >= 1;
           SELECT id, links FROM refr ORDER BY id;
           COMMIT;""")
    }
    assert(!out.queryExecution.optimizedPlan.toString.contains("collect_set"),
      "large-delete UNSET plan still builds the single-row collect_set broadcast")
    val rows = out.collect().map(r => r.getLong(0) ->
      Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
    assert(rows(1L) == Some(Seq(200000L)), s"got ${rows(1L)}")
    assert(rows(2L) == Some(Seq(200001L)))
    assert(rows(3L) == None, "null link array must stay null")
    assert(rows(4L) == Some(Seq.empty), "fully-purged array must be empty, not null")
  }

  test("array-link UNSET keeps duplicate surviving elements (small path)") {
    // Interp filterNot semantics: UNSET removes the deleted keys but must
    // NOT dedup survivors — array_except would collapse [7,7] to [7]
    import spark.implicits._
    val big = spark.range(1, 10).select(col("id"))
    val refr = Seq((1L, Seq(5L, 5L, 7L)), (2L, Seq(7L, 7L)))
      .toDF("id", "links")
    SparkPlanner.extraRecordKeys.put("big", "id")
    SparkPlanner.extraRecordKeys.put("refr3", "id")
    val out = Tables.withOverlay(Map("big" -> big, "refr3" -> refr)) {
      SparkPlanner.script(spark, sf,
        """BEGIN;
           DEFINE FIELD links ON refr3 TYPE array<record<big>> REFERENCE ON DELETE UNSET;
           DELETE big:5;
           SELECT id, links FROM refr3 ORDER BY id;
           COMMIT;""")
    }
    val rows = out.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(rows(1L) == Seq(7L), s"got ${rows(1L)}")
    assert(rows(2L) == Seq(7L, 7L),
      s"survivor duplicates were deduped: ${rows(2L)}")
  }

  test("array-link referential CASCADE past the threshold uses victim equi-joins") {
    val big = spark.range(1, 50001).select(col("id"))
    import spark.implicits._
    val refr = Seq((1L, Seq(5L)), (2L, Seq(60000L)), (4L, Seq(7L, 60001L)))
      .toDF("id", "links")
    SparkPlanner.extraRecordKeys.put("big", "id")
    SparkPlanner.extraRecordKeys.put("refr2", "id")
    val out = Tables.withOverlay(Map("big" -> big, "refr2" -> refr)) {
      SparkPlanner.script(spark, sf,
        """BEGIN;
           DEFINE FIELD links ON refr2 TYPE array<record<big>> REFERENCE ON DELETE CASCADE;
           DELETE big WHERE id >= 1;
           SELECT id FROM refr2 ORDER BY id;
           COMMIT;""")
    }
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(2L),
      "rows linking any deleted key must cascade-delete; others survive")
  }

  test("sub-select INSERT generated ids are identical across re-executions") {
    // insertRows localCheckpoints the keyed batch: the generated ids come
    // from a partition-layout ordinal (monotonically_increasing_id), so an
    // unmaterialized plan could mint DIFFERENT ids on each action over the
    // lazy overlay — the stored id would disagree with the returned one.
    val out = SparkPlanner.script(spark, sf,
      """BEGIN;
         INSERT INTO orders (SELECT 77 AS o_custkey, 1.25 AS o_totalprice
           FROM orders WHERE o_orderkey <= 40);
         SELECT o_orderkey FROM orders WHERE o_custkey = 77 AND o_totalprice = 1.25;
         COMMIT;""")
    val first = out.collect().map(_.getLong(0)).sorted.toSeq
    val second = out.collect().map(_.getLong(0)).sorted.toSeq
    assert(first.length == 41 && first.distinct.length == first.length)
    assert(first == second,
      "generated ids changed between two actions on the same composed plan")
  }
}
