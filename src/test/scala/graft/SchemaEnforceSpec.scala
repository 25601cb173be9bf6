package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.surql.{Interp, Parser, QErr, QOk, SparkPlanner, SqlError, V, VArr, VFloat, VInt, VNone, VNull, VObj, VStr}

/** DEFINE FIELD / DEFINE INDEX UNIQUE enforcement on the Spark script path,
  * differentially against the interpreter (which is golden-corpus anchored
  * to doc/field.rs + idx/index.rs): DEFAULT fill, VALUE recompute, TYPE
  * cast, ASSERT raise, READONLY change detection, unique-index conflicts
  * (with the NULL exemption). The Spark side runs every clause as a
  * distributed column expression — these tests pin that the lazily-composed
  * plan errors (or doesn't) exactly where the reference would. */
class SchemaEnforceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val fixture =
    (1 to 6).map { i =>
      s"CREATE doc:$i SET grp = '${("ab"((i - 1) % 2))}', qty = ${i * 10}, " +
        s"score = $i.5, label = 'L$i';"
    }.mkString("\n") + "\n" +
      (1 to 4).map { i =>
        s"CREATE prof:$i SET meta = { a: $i, b: 'x$i' }, score = ${i * 10}, " +
          s"hist = [{ q: $i, p: ${i * 2} }, { q: ${i + 1}, p: 0 }];"
      }.mkString("\n")

  private def df = {
    import spark.implicits._
    (1 to 6).map { i =>
      (i.toLong, ("ab"((i - 1) % 2)).toString, i.toLong * 10, i + 0.5, s"L$i")
    }.toDF("id", "grp", "qty", "score", "label")
  }

  SparkPlanner.extraRecordKeys.put("doc", "id")
  SparkPlanner.extraRecordKeys.put("linksto", "id")
  SparkPlanner.extraRecordKeys.put("prof", "id")

  /** Struct-columned table: meta = { a: long, b: string }. */
  private def profDf = {
    import spark.implicits._
    (1 to 4).map(i => (i.toLong, (i.toLong, s"x$i"), i.toLong * 10,
        Seq((i.toLong, i.toLong * 2), (i.toLong + 1, 0L))))
      .toDF("id", "meta", "score", "hist")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("meta").cast("struct<a:bigint,b:string>"),
        org.apache.spark.sql.functions.col("score"),
        org.apache.spark.sql.functions.col("hist").cast("array<struct<q:bigint,p:bigint>>"))
  }
  graft.operators.GraphOps.extraEdgeDefs.put("linksto", ("doc", "doc"))

  /** Empty relation table (id, in, out, w) — INSERT RELATION populates it. */
  private def linksDf = {
    import spark.implicits._
    Seq.empty[(String, Long, Long, Long)].toDF("id", "in", "out", "w")
  }

  private def toV(x: Any): V = x match {
    case null            => VNull
    case b: Boolean      => graft.surql.VBool(b)
    case i: Int          => VInt(i)
    case l: Long         => VInt(l)
    case d: Double       => VFloat(d)
    case s: String       => VStr(s)
    case a: scala.collection.Seq[_] => VArr(a.map(toV).toVector)
    case r: org.apache.spark.sql.Row =>
      VObj(scala.collection.immutable.TreeMap(
        r.schema.fieldNames.zipWithIndex
          .map { case (n, i) => n -> toV(r.get(i)) }.toIndexedSeq: _*))
    case o               => VStr(o.toString)
  }

  /** Run `script` on both engines; both must succeed with identical rows. */
  private def checkSame(script: String): Unit = {
    val in = new Interp
    in.run(Parser.parse(fixture))
    val ires = in.run(Parser.parse(script)).last
    val iv = ires match {
      case QOk(VArr(items)) => items
      case QOk(v)           => Vector(v)
      case QErr(m)          => fail(s"interp error: $m\n$script")
    }
    val sdf = Tables.withOverlay(Map("doc" -> df, "linksto" -> linksDf, "prof" -> profDf)) {
      SparkPlanner.script(spark, "/nonexistent", script)
    }
    val srows = sdf.collect().map { r =>
      VObj(scala.collection.immutable.TreeMap(
        sdf.columns.zipWithIndex.map { case (c, i) => c -> toV(r.get(i)) }: _*))
    }.toVector
    val irows = iv.map {
      case VObj(m) => VObj(m)
      case v => VObj(scala.collection.immutable.TreeMap("value" -> v))
    }
    assert(srows.length == irows.length,
      s"rows: spark=${srows.length} interp=${irows.length}\n$script")
    srows.zip(irows).foreach { case (s0, i0) =>
      assert(s0.fields.keySet == i0.fields.keySet, s"columns differ\n$script")
      s0.fields.keySet.foreach { k =>
        val ok = (s0.fields(k), i0.fields(k)) match {
          // the Spark column model carries the raw record KEY; the interp
          // renders the full record id
          case (sv, graft.surql.VRid(_, ik)) => sv == ik ||
            ((sv, ik) match {
              case (a: graft.surql.VNum, b: graft.surql.VNum) => a.toDouble == b.toDouble
              case _ => false
            })
          case (a: graft.surql.VNum, b: graft.surql.VNum) => a.toDouble == b.toDouble
          case (VNull, VNone) => true
          case (a, b) => a == b
        }
        assert(ok, s"field $k: ${s0.fields(k).render} vs ${i0.fields(k).render}\n$script")
      }
    }
  }

  /** Run `script` on both engines; both must ERROR, with messages sharing
    * `needle` (exact wording differs only in value rendering). */
  private def checkBothError(script: String, needle: String): Unit = {
    val in = new Interp
    in.run(Parser.parse(fixture))
    // outside an explicit transaction each interp statement errors
    // independently and the script continues — the Spark path's lazy
    // overlay instead surfaces the error when the final plan executes
    val imsg = in.run(Parser.parse(script))
      .collectFirst { case QErr(m) => m }
      .getOrElse(fail(s"interp succeeded where error expected\n$script"))
    assert(imsg.contains(needle), s"interp message `$imsg` lacks `$needle`")
    checkSparkError(script, needle)
  }

  /** Run `text` on the Spark side through `script()` (or `query()`); it
    * must ERROR with a message containing `needle`. */
  private def checkSparkError(text: String, needle: String,
      viaQuery: Boolean = false): Unit = {
    val smsg = intercept[Throwable] {
      Tables.withOverlay(Map("doc" -> df, "linksto" -> linksDf, "prof" -> profDf)) {
        (if (viaQuery) SparkPlanner.query(spark, "/nonexistent", text)
         else SparkPlanner.script(spark, "/nonexistent", text)).collect()
      }
    }.getMessage
    assert(smsg != null && smsg.contains(needle),
      s"spark message `$smsg` lacks `$needle`${if (viaQuery) " (query)" else ""}\n$text")
  }

  test("DEFAULT fills an absent field on CREATE") {
    checkSame("""
      DEFINE FIELD label ON doc DEFAULT 'unlabeled';
      CREATE doc:7 SET grp = 'c', qty = 70, score = 7.5;
      SELECT id, label FROM doc ORDER BY id;""")
  }

  test("VALUE recomputes from $value on UPDATE") {
    checkSame("""
      DEFINE FIELD qty ON doc VALUE $value * 2;
      UPDATE doc SET qty = qty + 1 WHERE id < 3;
      SELECT id, qty FROM doc ORDER BY id;""")
  }

  test("VALUE clause applies on CREATE too") {
    checkSame("""
      DEFINE FIELD label ON doc VALUE string::uppercase($value);
      CREATE doc:8 SET grp = 'c', qty = 80, score = 8.5, label = 'mixed';
      SELECT id, label FROM doc WHERE id = 8;""")
  }

  test("TYPE float coerces an int assignment") {
    checkSame("""
      DEFINE FIELD score ON doc TYPE float;
      UPDATE doc SET score = 9 WHERE id = 1;
      SELECT id, score FROM doc ORDER BY id;""")
  }

  test("ASSERT violation errors on UPDATE") {
    checkBothError("""
      DEFINE FIELD qty ON doc ASSERT $value >= 0;
      UPDATE doc SET qty = 0 - 5 WHERE qty = 20;
      SELECT id, qty FROM doc ORDER BY id;""",
      "must conform to")
  }

  test("ASSERT pass leaves rows untouched") {
    checkSame("""
      DEFINE FIELD qty ON doc ASSERT $value >= 0;
      UPDATE doc SET qty = qty + 5 WHERE id <= 3;
      SELECT id, qty FROM doc ORDER BY id;""")
  }

  test("READONLY field rejects a change") {
    checkBothError("""
      DEFINE FIELD grp ON doc READONLY;
      UPDATE doc SET grp = 'z' WHERE qty = 10;
      SELECT id, grp FROM doc ORDER BY id;""",
      "field is readonly")
  }

  test("READONLY field allows writing the same value") {
    checkSame("""
      DEFINE FIELD grp ON doc READONLY;
      UPDATE doc SET grp = 'a' WHERE qty = 10;
      SELECT id, grp FROM doc ORDER BY id;""")
  }

  test("UNIQUE index build fails on pre-existing duplicates") {
    checkBothError("""
      DEFINE INDEX grp_uniq ON doc FIELDS grp UNIQUE;
      SELECT id FROM doc;""",
      "already contains")
  }

  test("UNIQUE index rejects a conflicting CREATE") {
    checkBothError("""
      DEFINE INDEX label_uniq ON doc FIELDS label UNIQUE;
      CREATE doc:9 SET grp = 'c', qty = 90, score = 9.5, label = 'L1';
      SELECT id FROM doc;""",
      "already contains")
  }

  test("UNIQUE index allows a distinct CREATE, and NULL is exempt") {
    checkSame("""
      DEFINE INDEX label_uniq ON doc FIELDS label UNIQUE;
      CREATE doc:9 SET grp = 'c', qty = 90, score = 9.5, label = 'L9';
      CREATE doc:10 SET grp = 'c', qty = 100, score = 10.5;
      CREATE doc:11 SET grp = 'c', qty = 110, score = 11.5;
      SELECT id, label FROM doc ORDER BY id;""")
  }

  test("UNIQUE index rejects an UPDATE that collides") {
    checkBothError("""
      DEFINE INDEX label_uniq ON doc FIELDS label UNIQUE;
      UPDATE doc SET label = 'L1' WHERE qty = 20;
      SELECT id FROM doc;""",
      "already contains")
  }

  test("multi-field UNIQUE: any NULL component exempts the tuple") {
    // two creates share (grp='c', label=NONE) — the reference stores
    // any-NONE tuples under the non-unique key format with no check
    // (idx/index.rs index_unique), so neither errors
    checkSame("""
      DEFINE INDEX gl_uniq ON doc FIELDS grp, label UNIQUE;
      CREATE doc:9 SET grp = 'c', qty = 90, score = 9.5;
      CREATE doc:10 SET grp = 'c', qty = 100, score = 10.5;
      SELECT id, grp, label FROM doc ORDER BY id;""")
  }

  test("multi-field UNIQUE rejects a fully non-null duplicate tuple") {
    checkBothError("""
      DEFINE INDEX gl_uniq ON doc FIELDS grp, label UNIQUE;
      CREATE doc:9 SET grp = 'a', qty = 90, score = 9.5, label = 'L1';
      SELECT id FROM doc;""",
      "already contains")
  }

  test("UNSET removes a field (absent → NULL column)") {
    checkSame("""
      UPDATE doc UNSET label WHERE qty = 20;
      SELECT id, grp, label FROM doc ORDER BY id;""")
  }

  test("REPLACE swaps the whole document body, keeping only the id") {
    checkSame("""
      UPDATE doc REPLACE { grp: 'r', qty: 1 } WHERE qty = 30;
      SELECT id, grp, qty, score, label FROM doc ORDER BY id;""")
  }

  test("PATCH applies add/replace/remove ops") {
    checkSame("""
      UPDATE doc PATCH [
        { op: 'replace', path: '/label', value: 'patched' },
        { op: 'remove', path: '/grp' }
      ] WHERE qty = 40;
      SELECT id, grp, label FROM doc ORDER BY id;""")
  }

  test("INSERT with object-literal rows") {
    checkSame("""
      INSERT INTO doc [{ id: 7, grp: 'c', qty: 70, score: 7.5, label: 'L7' },
                       { id: 8, grp: 'd', qty: 80, score: 8.5, label: 'L8' }];
      SELECT id, grp, qty, score, label FROM doc ORDER BY id;""")
  }

  test("plain INSERT on an existing id errors") {
    checkBothError("""
      INSERT INTO doc { id: 1, grp: 'x', qty: 1, score: 0.5, label: 'LX' };
      SELECT id FROM doc;""",
      "already exists")
  }

  test("INSERT IGNORE skips duplicates and inserts the fresh rows") {
    checkSame("""
      INSERT IGNORE INTO doc [{ id: 1, grp: 'x', qty: 999, score: 0.5, label: 'LX' },
                              { id: 7, grp: 'c', qty: 70, score: 7.5, label: 'L7' }];
      SELECT id, grp, qty FROM doc ORDER BY id;""")
  }

  test("REMOVE FIELD drops the pipeline registration") {
    checkSame("""
      DEFINE FIELD qty ON doc VALUE $value * 100;
      REMOVE FIELD qty ON doc;
      UPDATE doc SET qty = qty + 1 WHERE qty = 10;
      SELECT id, qty FROM doc ORDER BY id;""")
  }

  test("REMOVE INDEX drops the unique registration") {
    checkSame("""
      DEFINE INDEX label_uniq ON doc FIELDS label UNIQUE;
      REMOVE INDEX label_uniq ON doc;
      CREATE doc:9 SET grp = 'c', qty = 90, score = 9.5, label = 'L1';
      SELECT id, label FROM doc ORDER BY id;""")
  }

  test("COMPUTED field projects at read time") {
    checkSame("""
      DEFINE FIELD total ON doc COMPUTED qty * 2 + 1;
      SELECT id, qty, total FROM doc ORDER BY id;""")
  }

  test("COMPUTED field recomputes after a dependency write") {
    checkSame("""
      DEFINE FIELD total ON doc COMPUTED qty * 2 + 1;
      UPDATE doc SET qty = qty + 5 WHERE qty = 20;
      SELECT id, qty, total FROM doc ORDER BY id;""")
  }

  test("COMPUTED rejects VALUE/DEFAULT/ASSERT/READONLY combinations") {
    checkBothError("""
      DEFINE FIELD total ON doc VALUE $value COMPUTED qty * 2;
      SELECT id FROM doc;""",
      "Cannot use the `VALUE` keyword with `COMPUTED`.")
  }

  test("INSERT RELATION populates an edge table the graph arrows traverse") {
    checkSame("""
      INSERT RELATION INTO linksto [
        { id: 'e1', in: doc:1, out: doc:2, w: 5 },
        { id: 'e2', in: doc:1, out: doc:3, w: 7 },
        { id: 'e3', in: doc:2, out: doc:3, w: 9 }];
      SELECT id, label, math::sum(->linksto->doc.qty) AS sq
      FROM doc WHERE qty < 30 ORDER BY id;""")
  }

  test("INSERT RELATION rejects a non-record `in`") {
    checkBothError("""
      INSERT RELATION INTO linksto { id: 'e1', in: 42, out: doc:2, w: 5 };
      SELECT id FROM doc;""",
      "Cannot execute INSERT statement where property 'in' is:")
  }

  test("DEFINE PARAM binds for the rest of the script") {
    checkSame("""
      DEFINE PARAM $cut VALUE 25;
      SELECT id, qty FROM doc WHERE qty > $cut ORDER BY id;""")
  }

  test("nested SET writes one struct field, preserving the rest") {
    checkSame("""
      UPDATE prof SET meta.a = meta.a + 100 WHERE score > 15;
      SELECT id, meta, score FROM prof ORDER BY id;""")
  }

  test("nested SET on two fields of the same struct folds into one rebuild") {
    checkSame("""
      UPDATE prof SET meta.a = 0, meta.b = 'reset' WHERE score = 20;
      SELECT id, meta FROM prof ORDER BY id;""")
  }

  test("nested SET mixes with a top-level assignment") {
    checkSame("""
      UPDATE prof SET score = score + 1, meta.b = string::uppercase(meta.b)
        WHERE score < 25;
      SELECT id, meta, score FROM prof ORDER BY id;""")
  }

  test("nested DEFINE FIELD VALUE recomputes the struct slot on write") {
    checkSame("""
      DEFINE FIELD meta.a ON prof VALUE $value * 10;
      UPDATE prof SET meta.a = meta.a + 1 WHERE score = 20;
      SELECT id, meta FROM prof ORDER BY id;""")
  }

  test("nested DEFINE FIELD ASSERT rejects a bad slot write") {
    checkBothError("""
      DEFINE FIELD meta.a ON prof ASSERT $value < 100;
      UPDATE prof SET meta.a = 500 WHERE score = 20;
      SELECT id, meta FROM prof ORDER BY id;""",
      "must conform to")
  }

  test("MERGE deep-merges a nested object, preserving untouched siblings") {
    checkSame("""
      UPDATE prof MERGE { meta: { a: 99 } } WHERE score = 20;
      SELECT id, meta FROM prof ORDER BY id;""")
  }

  test("CREATE with a struct literal conforms to the column type") {
    checkSame("""
      CREATE prof:13 SET meta = { a: 13, b: 'q' }, score = 65;
      SELECT id, meta, score FROM prof ORDER BY id;""")
  }

  test("CANCEL rolls back DEFINE FIELD registrations") {
    checkSame("""
      BEGIN;
      DEFINE FIELD qty ON doc VALUE $value * 100;
      CANCEL;
      UPDATE doc SET qty = qty + 1 WHERE qty = 10;
      SELECT id, qty FROM doc ORDER BY id;""")
  }

  test("CANCEL rolls back DEFINE PARAM: a later ALTER PARAM finds no param") {
    val text = """
      BEGIN;
      DEFINE PARAM $m VALUE 3;
      CANCEL;
      ALTER PARAM $m VALUE 10;
      RETURN { v: $m };"""
    val needle = "The param '$m' does not exist"
    // the interp reports the cancelled statements first, then the ALTER
    val imsgs = new Interp().run(Parser.parse(text)).collect { case QErr(m) => m }
    assert(imsgs.exists(_.contains(needle)), s"interp messages $imsgs lack `$needle`")
    checkSparkError(text, needle)
  }

  // ---- array-wildcard DEFINE FIELD paths (addresses.*.city shape) --------

  test("array-wildcard DEFINE FIELD VALUE rewrites every element slot on UPDATE") {
    checkSame("""
      DEFINE FIELD hist.*.p ON prof VALUE $value * 10;
      UPDATE prof SET score = score + 1 WHERE id = 2;
      SELECT id, hist, score FROM prof ORDER BY id;""")
  }

  test("array-wildcard DEFINE FIELD VALUE applies on CREATE") {
    checkSame("""
      DEFINE FIELD hist.*.p ON prof VALUE $value + 1;
      CREATE prof:9 SET meta = { a: 9, b: 'q' }, score = 90,
        hist = [{ q: 1, p: 1 }, { q: 2, p: 2 }];
      SELECT id, hist FROM prof ORDER BY id;""")
  }

  test("array-wildcard DEFINE FIELD ASSERT rejects a bad element") {
    checkBothError("""
      DEFINE FIELD hist.*.q ON prof ASSERT $value < 100;
      UPDATE prof SET hist = [{ q: 500, p: 1 }] WHERE score = 10;
      SELECT id, hist FROM prof ORDER BY id;""",
      "must conform to")
  }

  test("struct-wildcard DEFINE FIELD constrains every value of the object") {
    checkSame("""
      DEFINE FIELD meta.* ON prof ASSERT $value != NONE;
      UPDATE prof SET meta.a = meta.a + 1 WHERE id = 3;
      SELECT id, meta FROM prof ORDER BY id;""")
  }

  // ---- intra-batch duplicate record ids (sequential row semantics) -------

  test("plain INSERT with a duplicate id WITHIN one batch errors") {
    checkBothError("""
      INSERT INTO doc [{ id: 7, grp: 'x', qty: 70, score: 7.5, label: 'L7' },
                       { id: 7, grp: 'y', qty: 71, score: 7.6, label: 'L7b' }];
      SELECT id FROM doc;""",
      "already exists")
  }

  test("INSERT IGNORE keeps the FIRST occurrence of an intra-batch duplicate") {
    checkSame("""
      INSERT IGNORE INTO doc [{ id: 7, grp: 'x', qty: 70, score: 7.5, label: 'L7' },
                              { id: 7, grp: 'y', qty: 99, score: 9.9, label: 'NO' },
                              { id: 8, grp: 'd', qty: 80, score: 8.5, label: 'L8' }];
      SELECT id, grp, qty, label FROM doc ORDER BY id;""")
  }

  test("ON DUPLICATE applies once per extra occurrence of a fresh key") {
    checkSame("""
      INSERT INTO doc [{ id: 7, grp: 'x', qty: 70, score: 7.5, label: 'L7' },
                       { id: 7, grp: 'y', qty: 1, score: 1.5, label: 'NO' },
                       { id: 7, grp: 'z', qty: 2, score: 2.5, label: 'NO2' }]
        ON DUPLICATE KEY UPDATE qty += 1, label = 'DUP';
      SELECT id, grp, qty, label FROM doc ORDER BY id;""")
  }

  test("ON DUPLICATE applies once per occurrence when the key already exists") {
    checkSame("""
      INSERT INTO doc [{ id: 1, grp: 'x', qty: 1, score: 1.5, label: 'NO' },
                       { id: 1, grp: 'y', qty: 2, score: 2.5, label: 'NO2' }]
        ON DUPLICATE KEY UPDATE qty += 10;
      SELECT id, grp, qty, label FROM doc ORDER BY id;""")
  }

  test("ON DUPLICATE mixes fresh, duplicated-fresh and existing keys") {
    checkSame("""
      INSERT INTO doc [{ id: 9, grp: 'f', qty: 90, score: 9.5, label: 'L9' },
                       { id: 2, grp: 'x', qty: 1, score: 1.5, label: 'NO' },
                       { id: 7, grp: 'x', qty: 70, score: 7.5, label: 'L7' },
                       { id: 7, grp: 'y', qty: 1, score: 1.5, label: 'NO' }]
        ON DUPLICATE KEY UPDATE qty += 3;
      SELECT id, grp, qty, label FROM doc ORDER BY id;""")
  }

  test("ON DUPLICATE binds $input to the incoming row") {
    checkSame("""
      INSERT INTO doc [{ id: 1, grp: 'x', qty: 77, score: 1.5, label: 'LX' }]
        ON DUPLICATE KEY UPDATE qty = $input.qty, label = 'UPD';
      SELECT id, grp, qty, label FROM doc ORDER BY id;""")
  }

  test("per-occurrence $input in an intra-batch duplicate chain") {
    checkSame("""
      INSERT INTO doc [{ id: 7, grp: 'a', qty: 1, score: 1.5, label: 'L7' },
                       { id: 7, grp: 'b', qty: 9, score: 2.5, label: 'NO' }]
        ON DUPLICATE KEY UPDATE qty = $input.qty + 100;
      SELECT id, grp, qty, label FROM doc ORDER BY id;""")
  }

  test("explicit-id INSERT with a unique-index conflict errors despite ON DUPLICATE") {
    // reference core/tests/insert.rs insert_with_savepoint: a row naming a
    // specific fresh id is a plain create — only GENERATED ids reroute a
    // unique-index collision through the update arm
    checkBothError("""
      DEFINE INDEX label_u ON doc FIELDS label UNIQUE;
      INSERT INTO doc [{ id: 7, grp: 'x', qty: 70, score: 7.5, label: 'L1' }]
        ON DUPLICATE KEY UPDATE qty = 0;
      SELECT id, label FROM doc ORDER BY id;""",
      "already contains")
  }

  test("INSERT IGNORE skips a unique-index conflict instead of erroring") {
    checkSame("""
      DEFINE INDEX label_u ON doc FIELDS label UNIQUE;
      INSERT IGNORE INTO doc [{ id: 7, grp: 'x', qty: 70, score: 7.5, label: 'L1' },
                              { id: 8, grp: 'y', qty: 80, score: 8.5, label: 'L8' }];
      SELECT id, label FROM doc ORDER BY id;""")
  }

  test("INSERT RETURN BEFORE: NONE (all-null) for creations, prior doc for the update arm") {
    // reference doc/pluck.rs Output::Before = the initial document — NONE
    // for a fresh insert, the pre-update doc on the ON DUPLICATE arm
    val sdf = Tables.withOverlay(Map("doc" -> df)) {
      SparkPlanner.script(spark, "/nonexistent",
        """INSERT INTO doc [{ id: 1, grp: 'x', qty: 99, score: 1.5, label: 'LX' },
                            { id: 7, grp: 'c', qty: 70, score: 7.5, label: 'L7' }]
             ON DUPLICATE KEY UPDATE qty = 0 RETURN BEFORE;""")
    }
    val rows = sdf.collect()
    assert(rows.length == 2)
    val (nulls, befs) = rows.partition(_.isNullAt(0))
    assert(nulls.length == 1)                   // fresh doc:7 → NONE row
    assert(befs.length == 1 && befs.head.getLong(0) == 1L &&
      befs.head.getLong(2) == 10L)              // doc:1 pre-update qty
  }

  test("DELETE with no RETURN clause returns nothing on both engines") {
    checkSame("DELETE doc WHERE qty = 20;")
    checkSame("DELETE doc WHERE qty = 20; SELECT id, qty FROM doc WHERE qty <= 30 ORDER BY id;")
  }

  test("DELETE RETURN VALUE sees the deleted doc as $before") {
    checkSame("""
      DELETE doc WHERE qty = 20 RETURN VALUE $before.qty;""")
  }

  test("UPDATE RETURN VALUE evaluates with $before/$after bound") {
    checkSame("""
      UPDATE doc SET qty = qty + 5 WHERE qty = 20 RETURN VALUE qty;""")
    checkSame("""
      UPDATE doc SET qty = qty * 2 WHERE qty = 30
        RETURN VALUE $after.qty - $before.qty;""")
  }

  test("CREATE with a repeated target id errors") {
    checkBothError("""
      CREATE doc:7, doc:7 SET grp = 'x', qty = 70, score = 7.5, label = 'L7';
      SELECT id FROM doc;""",
      "already exists")
  }

  test("RETURN DIFF with ON DUPLICATE: patch on the update arm, root replace on the create arm") {
    val script =
      """INSERT INTO doc [{ id: 1, grp: 'x', qty: 15, score: 1.5, label: 'L1' },
                          { id: 7, grp: 'c', qty: 70, score: 7.5, label: 'L7' }]
           ON DUPLICATE KEY UPDATE qty += 5 RETURN DIFF;"""
    val in = new Interp
    in.run(Parser.parse(fixture))
    val iv = in.run(Parser.parse(script)).last match {
      case QOk(VArr(items)) => items
      case other => fail(s"interp: $other")
    }
    // interp emits ops arrays in input-row order: [update(id 1), create(id 7)]
    assert(iv.length == 2)
    val sdf = Tables.withOverlay(Map("doc" -> df)) {
      SparkPlanner.script(spark, "/nonexistent", script)
    }
    val srows = sdf.collect().map(r => (String.valueOf(r.get(0)), r.getString(1))).toMap
    assert(srows.keySet == Set("1", "7"))
    // compare JSON-encoded (record ids stringify identically on both sides)
    assert(srows("1") == graft.surql.Json.encode(iv(0)),
      s"update-arm diff differs: ${srows("1")} vs ${iv(0).render}")
    assert(srows("7") == graft.surql.Json.encode(iv(1)),
      s"create-arm diff differs: ${srows("7")} vs ${iv(1).render}")
  }

  // ---- a lone mutation runs on the script executor ------------------------

  test("keyed UPSERT RETURN runs the DEFINE FIELD VALUE pipeline") {
    checkSame("""
      DEFINE FIELD label ON doc VALUE string::uppercase($value);
      UPSERT doc:1 SET label = 'mixed';""")
  }

  test("keyed UPSERT RETURN raises a DEFINE FIELD ASSERT violation") {
    checkBothError("""
      DEFINE FIELD qty ON doc ASSERT $value >= 0;
      UPSERT doc:1 SET qty = 0 - 5;""",
      "must conform to")
  }

  test("bare-table UPSERT re-checks a unique index on a nested field") {
    checkBothError("""
      DEFINE INDEX ma ON prof FIELDS meta.a UNIQUE;
      UPSERT prof SET meta.a = 1 WHERE score = 20;
      SELECT id FROM prof;""",
      "already contains")
  }

  test("a lone CREATE of an existing id errors through query() too") {
    val text = "CREATE doc:1 SET grp = 'x', qty = 5;"
    checkBothError(text, "Database record `doc:1` already exists")
    checkSparkError(text, "Database record `doc:1` already exists", viaQuery = true)
  }

  test("CREATE across tables is unsupported through query() and script()") {
    val text = "CREATE doc:9, prof:9 SET score = 3;"
    checkSparkError(text, "CREATE across tables is unsupported")
    checkSparkError(text, "CREATE across tables is unsupported", viaQuery = true)
  }
}
