package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.immutable.TreeMap

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
  * the anti/outer join for conflict handling, and
  * [[graft.streaming.Live.changes]] for the changefeed step. */
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
}
