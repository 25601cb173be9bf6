package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.Mutations

/** Live queries + change feeds on Structured Streaming (SURVEY §2.8).
  *
  * Reference semantics: every committed write appends a versionstamped row
  * to the table's change feed (cf/writer.rs); LIVE SELECT registrations
  * evaluate their condition against each change and push
  * `Notification{id, action: Create/Update/Delete, record}` to subscribers
  * (expr/statements/live.rs:23-30, fan-out doc/lives.rs:223-308;
  * types/src/notification.rs). There are no watermark/window constructs —
  * the feed is versionstamp-ordered, so the Spark mapping is:
  *
  *  - change feed  = an append-only DataFrame (vs, id, action, rec_before,
  *    rec_after) derived from each mutation batch by [[changes]] — Delta
  *    CDF shape; a LIVE notification's record is its after-image, or the
  *    before-image of a DELETE;
  *  - LIVE SELECT  = ONE transform (filter + project) applied identically
  *    to the batch feed and to a `readStream` over it — the streaming
  *    plan is the batch plan, so correctness is oracle-checkable in batch
  *    while the stream path is exercised end-to-end in LiveSpec with a
  *    MemoryStream source and per-microbatch incremental execution.
  *
  * At scale the feed is a partitioned append-only table (bucketed by id,
  * partitioned by versionstamp range); notification fan-out is a stateless
  * map over the stream — no shuffle, no state store, unbounded throughput. */
object Live {

  /** The change rows of a before/after table pair — the cf/writer.rs
    * analog, and the one diff that SHOW CHANGES, DEFINE EVENT and the LIVE
    * rows all read: a full-outer join on the id, one row per changed
    * record (vs, id, action, rec_before, rec_after). The action is CREATE,
    * UPDATE or DELETE; a whole-row hash compare drops unchanged records.
    * Both record sides travel (cf/writer.rs `store_diff`) so a consumer
    * can retract the before-image (view maintenance below). */
  def changes(before: DataFrame, after: DataFrame, idCol: String,
      versionstamp: Long): DataFrame = {
    def side(df: DataFrame, name: String): DataFrame = {
      val rec = struct(df.columns.map(col).toIndexedSeq: _*)
      df.select(col(idCol).as("id"), xxhash64(rec).as(s"h_$name"), rec.as(s"rec_$name"))
    }
    side(before, "before").join(side(after, "after"), Seq("id"), "full_outer")
      .select(
        lit(versionstamp).as("vs"),
        col("id"),
        when(col("h_before").isNull, "CREATE")
          .when(col("h_after").isNull, "DELETE")
          .when(col("h_before") =!= col("h_after"), "UPDATE")
          .as("action"),
        col("rec_before"), col("rec_after"))
      .filter(col("action").isNotNull)
  }

  /** LIVE SELECT notification transform — applied identically to a batch
    * feed or a streaming feed (doc/lives.rs condition check + projection:
    * DELETE notifications always pass; the condition is evaluated against
    * the record for CREATE/UPDATE). */
  def notifications(changes: DataFrame, cond: Column): DataFrame =
    changes.filter(col("action") === "DELETE" || cond)
      .select(col("vs"), col("id"), col("action"), col("record"))

  /** Drive [[notifications]] from LIVE SELECT statement text over
    * [[changes]] rows: the notified record is the after-image, or the
    * before-image of a DELETE. The parsed WHERE lowers through
    * SparkPlanner.toCol against that record — the registration path
    * (expr/statements/live.rs) and the fan-out transform share one
    * condition definition. */
  def liveFromText(changeRows: DataFrame, surql: String): DataFrame =
    graft.surql.Parser.parse(surql).stmts match {
      case scala.collection.Seq(s: graft.surql.ast.LiveStmt) =>
        val feed = changeRows.withColumn("record",
          coalesce(col("rec_after"), col("rec_before")))
        val recSchema = feed.schema("record").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        // flatten the record payload so WHERE fields resolve as columns
        val flat = feed.select(
          (feed.columns.map(col).toSeq ++
            recSchema.fieldNames.toSeq.map(n => col(s"record.$n").as(n))): _*)
        val ctx = graft.surql.SparkPlanner.Ctx(
          feed.sparkSession, "", "", recSchema, Map.empty)
        val cond = s.where.map(graft.surql.SparkPlanner.toCol(_, ctx))
          .getOrElse(lit(true))
        notifications(flat, cond)
      case other =>
        throw new IllegalArgumentException(s"not a LIVE statement: $other")
    }

  /** DIFF-mode notifications (expr/statements/live.rs `diff`): instead of
    * the full record, each notification carries a JSON-patch describing
    * the change — `replace` per modified field against the before-image,
    * `add` of the whole document on CREATE, `remove` on DELETE
    * (types/src/notification.rs result with store_diff). Runs identically
    * batch/streaming: a stateless projection over the full change feed. */
  def diffNotifications(changes: DataFrame): DataFrame = {
    val recSchema = changes.schema("rec_after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val replaces = array(recSchema.fieldNames.toIndexedSeq.map { f =>
      when(!(col(s"rec_before.$f") <=> col(s"rec_after.$f")),
        struct(lit("replace").as("op"), lit("/" + f).as("path"),
          col(s"rec_after.$f").cast("string").as("value")))
        .otherwise(lit(null))
    }: _*)
    changes.withColumn("patch",
      when(col("action") === "CREATE", to_json(array(struct(
        lit("add").as("op"), lit("/").as("path"),
        to_json(col("rec_after")).as("value")))))
        .when(col("action") === "DELETE", to_json(array(struct(
          lit("remove").as("op"), lit("/").as("path"),
          lit(null).cast("string").as("value")))))
        .otherwise(to_json(filter(replaces, p => p.isNotNull))))
      .select(col("vs"), col("id"), col("action"), col("patch"))
  }

  /** CORRECTNESS row: a controlled one-field UPDATE through DIFF mode —
    * the oracle rebuilds the identical patch strings in SQL. */
  val liveDiff = Q("live_diff",
    """SELECT CAST(1 AS BIGINT) AS vs, o_orderkey AS id, 'UPDATE' AS action,
              '[{"op":"replace","path":"/o_totalprice","value":"'
                || CAST(o_totalprice + 1000.0 AS VARCHAR) || '"}]' AS patch
       FROM orders WHERE o_orderkey < 30 ORDER BY id""") {
    (s, d) =>
      val o = Tables.orders(s, d)
      val after = Mutations.update(o, col("o_orderkey") < 30,
        Map("o_totalprice" -> (col("o_totalprice") + lit(1000.0))))
      diffNotifications(changes(o, after, "o_orderkey", versionstamp = 1L))
        .orderBy("id")
  }

  /** Incremental view maintenance (doc/table.rs: `DEFINE TABLE v AS SELECT
    * g, count(), sum(x) GROUP BY g` views update on every write, never
    * recompute): each change decomposes into a retraction delta against its
    * BEFORE group (-1, -x) and an insertion delta for its AFTER group
    * (+1, +x) — an UPDATE that moves a record between groups emits both.
    * Folding the deltas is a plain grouped sum, so the SAME transform runs
    * batch (oracle-checkable against a from-scratch recompute) and
    * streaming (update-mode agg over the delta stream, LiveSpec). Decimal-
    * exact sums make retraction arithmetic associative — maintained state
    * equals recompute bit-for-bit at any scale. */
  def viewDeltas(feed: DataFrame, groupField: String, valueField: String): DataFrame = {
    // ONE pass over the feed: each change row fans out to its retraction
    // and/or insertion delta via explode, instead of the old
    // filter-retract UNION filter-insert shape, which evaluated the entire
    // upstream feed pipeline (a full-outer diff join) TWICE — once per
    // union branch. Same rows out (union order is irrelevant: the consumer
    // is a grouped sum); half the upstream compute and shuffle.
    val retractD = when(col("action").isin("UPDATE", "DELETE"),
      struct(col(s"rec_before.$groupField").as("g"),
        lit(-1L).as("dn"), (-col(s"rec_before.$valueField")).as("dv")))
    val insertD = when(col("action").isin("CREATE", "UPDATE"),
      struct(col(s"rec_after.$groupField").as("g"),
        lit(1L).as("dn"), col(s"rec_after.$valueField").as("dv")))
    feed.select(explode(array(retractD, insertD)).as("d"))
      .filter(col("d").isNotNull)
      .select(col("d.g").as("g"), col("d.dn").as("dn"), col("d.dv").as("dv"))
  }

  /** Fold view deltas into the maintained view state (batch or streaming;
    * groups whose count reaches zero drop out of the view). */
  def maintainView(deltas: DataFrame): DataFrame =
    deltas.groupBy("g")
      .agg(sum(col("dn")).as("cnt"), graft.functions.Exact.dsum(col("dv")).as("total"))
      .filter(col("cnt") > 0)

  /** The orders table after the `mut_upsert` INSERT … ON DUPLICATE KEY
    * UPDATE ([[graft.operators.SurqlQueries.ordersUpsert]]), read back
    * through the script executor: the after-state the rows below diff
    * against the base table. */
  private def upsertedOrders(s: SparkSession, d: String): DataFrame =
    graft.surql.SparkPlanner.script(s, d,
      s"${graft.operators.SurqlQueries.ordersUpsert} RETURN NONE; SELECT * FROM orders;")

  /** CORRECTNESS row: the orders upsert scenario's view, maintained
    * incrementally (base rows as insertion deltas + the change feed's
    * retract/insert deltas) — the oracle RECOMPUTES the same view from
    * scratch on the after-state, so a green row proves maintained state ==
    * recompute. */
  val matViewIncremental = Q("mat_view_incremental",
    s"""WITH after AS (
          SELECT o_orderstatus,
                 CASE WHEN o_orderkey < 50 THEN o_totalprice + 1000.0
                      ELSE o_totalprice END AS p
          FROM orders
          UNION ALL
          SELECT 'N' AS o_orderstatus, o_totalprice AS p
          FROM orders WHERE o_orderkey < 5)
        SELECT o_orderstatus AS g, count(*) AS cnt,
               ${graft.functions.Exact.sqlSum("p")} AS total
        FROM after GROUP BY g ORDER BY g""") {
    (s, d) =>
      val o = Tables.orders(s, d)
      val feed = changes(o, upsertedOrders(s, d), "o_orderkey", versionstamp = 1L)
      val base = o.select(col("o_orderstatus").as("g"),
        lit(1L).as("dn"), col("o_totalprice").as("dv"))
      maintainView(base.unionByName(viewDeltas(feed, "o_orderstatus", "o_totalprice")))
        .orderBy("g")
  }

  /** CORRECTNESS row: the orders upsert scenario's feed run through a LIVE
    * SELECT with a condition — hash-checked against the oracle replaying
    * the same mutation. The same `notifications` transform is what the
    * streaming path runs per microbatch (LiveSpec). */
  val liveSelect = Q("live_select",
    """SELECT CAST(1 AS BIGINT) AS vs, o_orderkey AS id, 'UPDATE' AS action,
              o_totalprice + 1000.0 AS total
       FROM orders WHERE o_orderkey < 50 AND o_totalprice + 1000.0 > 100000.0
       UNION ALL
       SELECT CAST(1 AS BIGINT) AS vs, o_orderkey + 1000000 AS id, 'CREATE' AS action,
              o_totalprice AS total
       FROM orders WHERE o_orderkey < 5 AND o_totalprice > 100000.0
       ORDER BY id""") {
    (s, d) =>
      val feed = changes(Tables.orders(s, d), upsertedOrders(s, d), "o_orderkey",
        versionstamp = 1L)
      // the registration is REAL statement text; its WHERE becomes the
      // notification condition on the feed
      liveFromText(feed, "LIVE SELECT * FROM orders WHERE o_totalprice > 100000.0")
        .select(col("vs"), col("id"), col("action"),
          col("record.o_totalprice").as("total"))
        .orderBy("id")
  }

  val all: Seq[Q] = Seq(liveSelect, matViewIncremental, liveDiff)
}
