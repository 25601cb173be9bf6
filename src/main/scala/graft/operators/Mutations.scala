package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.immutable.TreeMap

import graft.{Q, Tables}
import graft.functions.Exact
import graft.surql.{V, VArr, VObj, VRid, VStr}

/** The mutation surface (SURVEY §2.2 — reference legacy pipeline dbs/ + doc/:
  * CREATE / INSERT / UPDATE / UPSERT / DELETE / RELATE with data clauses
  * SET/+=/UNSET/MERGE/REPLACE/CONTENT and RETURN NONE/DIFF/BEFORE/AFTER).
  *
  * Spark is a batch engine, so a mutation is a **pure table transform**:
  * read → join/filter/compute the new version → write back (Delta MERGE in
  * production; the transform itself is what's verified here) → emit change
  * rows for feeds/live queries (§2.8). Nothing collects to the driver; every
  * mutation is one distributed join or filter, exactly the plan a 100 TB
  * MERGE INTO runs.
  *
  * The reference's per-document lifecycle (doc/mod.rs:12-36: alter → check →
  * field → store → changefeed) becomes: column exprs for SET/field pipeline,
  * the anti/outer join for conflict handling, and [[changeLog]] for the
  * changefeed step. */
object Mutations {

  /** UPDATE … SET col = expr WHERE cond. Returns the full new table; SET on
    * non-matching rows is identity. `+=`-style ops are just `col(c) + delta`
    * exprs. All SET values are evaluated against the ORIGINAL row in one
    * select (simultaneous-assignment semantics — a SET expression never
    * observes another SET's result). Keys must name existing columns. */
  def update(table: DataFrame, cond: Column, sets: Map[String, Column]): DataFrame = {
    val existing = table.columns.toSet
    val cols = table.columns.map { c =>
      sets.get(c) match {
        case Some(v) => when(cond, v).otherwise(col(c)).as(c)
        case scala.None => col(c)
      }
    } ++
      // a SET on a missing field CREATES it (schemaless default,
      // doc/alter.rs): new column, NULL (absent) outside the condition
      sets.keys.filterNot(existing).toSeq.sorted.map(c =>
        when(cond, sets(c)).as(c))
    table.select(cols.toIndexedSeq: _*)
  }

  /** DELETE WHERE cond → (new table, deleted rows i.e. RETURN BEFORE). */
  def delete(table: DataFrame, cond: Column): (DataFrame, DataFrame) =
    (table.filter(!cond), table.filter(cond))

  /** UPSERT / INSERT … ON DUPLICATE KEY UPDATE: delta wins on key collision,
    * table rows survive otherwise — one full-outer join on the key. */
  def upsert(table: DataFrame, delta: DataFrame, idCol: String): DataFrame = {
    val t = table.alias("t")
    val d = delta.alias("d")
    val cols = table.columns.map { c =>
      coalesce(col(s"d.$c"), col(s"t.$c")).as(c)
    }
    t.join(d, col(s"t.$idCol") === col(s"d.$idCol"), "full_outer")
      .select(cols.toIndexedSeq: _*)
  }

  /** RELATE src->edge->dst: build an edge table (in, out, props) — edges are
    * ordinary rows in a relation table (catalog/table.rs:151-156). */
  def relate(pairs: DataFrame, inCol: Column, outCol: Column, props: Seq[Column]): DataFrame =
    pairs.select((inCol.as("in") +: outCol.as("out") +: props): _*)

  /** Change-feed rows from a before/after pair (cf/writer.rs analog):
    * full-outer join on the id → action ∈ {create, update, delete}.
    * Unchanged rows are dropped by a whole-row hash compare. RETURN DIFF /
    * SHOW CHANGES read from this. */
  def changeLog(before: DataFrame, after: DataFrame, idCol: String): DataFrame = {
    val bh = before.select(col(idCol).as("id"),
      xxhash64(struct(before.columns.map(col).toIndexedSeq: _*)).as("h_before"))
    val ah = after.select(col(idCol).as("id"),
      xxhash64(struct(after.columns.map(col).toIndexedSeq: _*)).as("h_after"))
    bh.join(ah, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("h_before").isNull, "create")
          .when(col("h_after").isNull, "delete")
          .when(col("h_before") =!= col("h_after"), "update")
          .as("action"))
      .filter(col("action").isNotNull)
  }

  // ---- RETURN DIFF -----------------------------------------------------

  /** One Spark value → the document-model V it diffs as: NULL struct fields
    * are ABSENT (the document model has no null columns — matching the
    * interpreter's docs, so adds/removes surface as `add`/`remove` ops, not
    * `replace` against a null). Array slots keep explicit nulls (an array
    * element cannot be absent). */
  private def toVDoc(x: Any): V = x match {
    case r: org.apache.spark.sql.Row =>
      VObj(TreeMap(r.schema.fieldNames.zipWithIndex.collect {
        case (nm, i) if !r.isNullAt(i) => nm -> toVDoc(r.get(i))
      }.toIndexedSeq: _*))
    case a: scala.collection.Seq[_] => VArr(a.map(toVDoc).toVector)
    case other => graft.sources.Export.toV(other)
  }

  /** The document a row-slice renders as: `id` carries the record id (the
    * reference's documents always hold one), the raw key column is folded
    * into it, NULL columns are absent, and record-link columns (`links`:
    * column → target table) render as record ids — the document model the
    * reference diffs over. `offset` selects the before or after half of a
    * joined row. */
  private def docV(r: org.apache.spark.sql.Row, names: Array[String],
      offset: Int, keyName: String, table: String,
      links: Map[String, String]): VObj = {
    val b = TreeMap.newBuilder[String, V]
    var i = 0
    while (i < names.length) {
      val raw = offset + i
      if (names(i) == keyName)
        b += ("id" -> VRid(table, graft.sources.Export.toV(r.get(raw))))
      else if (!r.isNullAt(raw)) b += (names(i) -> (links.get(names(i)) match {
        case Some(tgt) => VRid(tgt, graft.sources.Export.toV(r.get(raw)))
        case scala.None => toVDoc(r.get(raw))
      }))
      i += 1
    }
    VObj(b.result())
  }

  private val diffEnc =
    org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.STRING)

  /** RETURN DIFF over an update-shaped mutation (reference
    * val/value/diff.rs JSON-patch, shaped in doc/pluck.rs): one row per
    * touched record carrying the JSON-patch ops between the record's before
    * and after documents. Patch ops are variant-typed (`value` holds any
    * SurrealQL value), which no static Spark schema can express — the ops
    * array travels as ONE JSON string column, the schema-stable carrier.
    * The plan is a key-aligned join of the before/after row sets plus one
    * distributed render pass; an after row with no before partner (the
    * UPSERT create arm) diffs as a creation. No driver-side loop — the diff
    * scales exactly as the mutation's own join does. */
  def returnDiff(before: DataFrame, after: DataFrame, table: String,
      key: String, links: Map[String, String] = Map.empty): DataFrame = {
    val bCols = before.columns
    val aCols = after.columns
    val n = bCols.length
    val keyIdxB = before.schema.fieldIndex(key)
    val keyIdxA = after.schema.fieldIndex(key)
    val joined = before
      .select(bCols.map(c => col(c).as("__b_" + c)).toIndexedSeq: _*)
      .join(after.select(aCols.map(c => col(c).as("__a_" + c)).toIndexedSeq: _*),
        col("__b_" + key) === col("__a_" + key), "right_outer")
    joined.mapPartitions { rows =>
      rows.map { r =>
        val aDoc = docV(r, aCols, n, key, table, links)
        val ops =
          if (r.isNullAt(keyIdxB)) // outer-join miss: this row is a creation
            Vector(V.obj("op" -> VStr("replace"), "path" -> VStr(""),
              "value" -> aDoc))
          else graft.surql.Interp.valueDiff(
            docV(r, bCols, 0, key, table, links), aDoc)
        (String.valueOf(r.get(n + keyIdxA)), graft.surql.Json.encode(VArr(ops)))
      }
    }(diffEnc).toDF(key, "diff")
  }

  /** RETURN DIFF over a creation (CREATE / fresh INSERT / RELATE): the
    * reference emits a single root `replace` carrying the whole new document
    * (val::Value::diff of none→object). Single-sided render, no join. */
  def createDiff(created: DataFrame, table: String, key: String,
      links: Map[String, String] = Map.empty): DataFrame = {
    val cols = created.columns
    val keyIdx = created.schema.fieldIndex(key)
    created.mapPartitions { rows =>
      rows.map { r =>
        val ops = Vector(V.obj("op" -> VStr("replace"), "path" -> VStr(""),
          "value" -> docV(r, cols, 0, key, table, links)))
        (String.valueOf(r.get(keyIdx)), graft.surql.Json.encode(VArr(ops)))
      }
    }(diffEnc).toDF(key, "diff")
  }

  // ---- oracle-checked mutation queries (pure transforms) ---------------

  /** RELATE supplier->supplies->part, aggregating lineitem into edge props
    * (edge id = "supplies:⟨in⟩:⟨out⟩" — record-id canonical form). */
  val mutRelate = Q("mut_relate",
    s"""SELECT 'supplies:' || CAST(l_suppkey AS VARCHAR) || ':'
                 || CAST(l_partkey AS VARCHAR) AS edge_id,
               l_suppkey AS "in", l_partkey AS "out",
               COUNT(*) AS n_shipments, ${Exact.sqlSum("l_quantity")} AS total_qty
        FROM lineitem GROUP BY l_suppkey, l_partkey
        ORDER BY "in", "out"""") {
    (s, d) =>
      val pairs = Tables.lineitem(s, d)
        .groupBy("l_suppkey", "l_partkey")
        .agg(count(lit(1)).as("n_shipments"), Exact.dsum(col("l_quantity")).as("total_qty"))
      relate(pairs, col("l_suppkey"), col("l_partkey"),
        Seq(col("n_shipments"), col("total_qty")))
        .select(
          concat(lit("supplies:"), col("in").cast("string"), lit(":"),
            col("out").cast("string")).as("edge_id"),
          col("in"), col("out"), col("n_shipments"), col("total_qty"))
        .orderBy("in", "out")
  }

  /** SHOW CHANGES analog: change rows derived from the upsert above —
    * updates for keys < 50 whose payload changed, creates for the 5 new ids
    * (cf/writer.rs → SHOW CHANGES FOR TABLE orders). */
  val mutChangefeed = Q("mut_changefeed",
    """SELECT o_orderkey AS id, 'update' AS action FROM orders WHERE o_orderkey < 50
       UNION ALL
       SELECT o_orderkey + 1000000 AS id, 'create' AS action FROM orders WHERE o_orderkey < 5
       ORDER BY id""") {
    (s, d) =>
      val o = Tables.orders(s, d)
      val deltaUp = o.filter(col("o_orderkey") < 50)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      val deltaNew = o.filter(col("o_orderkey") < 5)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
        .withColumn("o_orderstatus", lit("N"))
      val after = upsert(o, deltaUp.unionByName(deltaNew), "o_orderkey")
      changeLog(o, after, "o_orderkey")
        .select(col("id"), col("action"))
        .orderBy("id")
  }

  val all: Seq[Q] = Seq(mutRelate, mutChangefeed)
}
