package graft.surql

import graft.surql.ast._
import scala.collection.immutable.TreeMap
import scala.collection.mutable

/** Per-statement result: a value or an error message (mirrors the
  * reference's `Vec<QueryResult>`, dbs/response.rs). */
sealed trait QueryResult
final case class QOk(v: V) extends QueryResult
final case class QErr(msg: String) extends QueryResult

object Interp {
  /** A table's records by stored key, in iteration order, with the
    * indexes that answer record-key probes and graph hops without a scan
    * (the reference keys both in its KV store: the record key, and the
    * per-node graph keys RELATE writes, doc/edges.rs). One map holds both:
    *  - loose-key buckets: [[looseCoarse]] of a stored key → the keys;
    *  - the endpoint index: (`"in"` or `"out"`, [[looseCoarse]] of a record
    *    id) → the keys of the records whose side holds that id.
    * A bucket is a superset; callers filter it with their own predicate and
    * order it by [[position]], the rank of a key in iteration order. Only
    * [[Interp!.putRecord]], [[Interp!.removeRecord]] and [[Interp!.undoTo]]
    * write a table, through [[store]], [[drop]] and [[restoreOrder]], so the
    * indexes roll back with the records; USE parking, `REMOVE TABLE` and
    * [[TablesUndo]] carry them with the table object. Statement executors
    * write records only through [[Interp!.writeDoc]] (every create and
    * update) and [[Interp!.removeDoc]] (every delete); besides them only the
    * ON DELETE UNSET action and the view-maintenance rollback in
    * [[Interp!.fireEvents]] put or remove a record. */
  final class Table extends mutable.LinkedHashMap[V, VObj] {
    private val index = mutable.HashMap[Any, mutable.ArrayBuffer[V]]()
    private val pos = mutable.HashMap[V, Long]()
    private var nextPos = 0L

    private def entries(key: V, doc: VObj): Seq[Any] = looseCoarse(key) +:
      Seq("in", "out").flatMap(s => doc.fields.get(s).collect { case r: VRid => (s, looseCoarse(r)) })
    private def bucket(entry: Any): Vector[V] = index.get(entry).fold(Vector.empty[V])(_.toVector)
    private def add(entry: Any, key: V): Unit =
      index.getOrElseUpdate(entry, new mutable.ArrayBuffer[V](1)) += key
    private def del(entry: Any, key: V): Unit = index.get(entry).foreach { b =>
      b -= key
      if (b.isEmpty) index.remove(entry)
    }

    /** Stored keys that may loosely equal `probe`. */
    private[surql] def keysLike(probe: V): Vector[V] = bucket(looseCoarse(probe))
    /** Keys of the records whose `side` (`in` or `out`) may hold `rid`. */
    private[surql] def keysAt(side: String, rid: VRid): Vector[V] = bucket((side, looseCoarse(rid)))
    private[surql] def position(key: V): Long = pos(key)

    private[Interp] def store(key: V, doc: VObj): Option[VObj] = {
      val prior = put(key, doc)
      prior match {
        case scala.None =>
          pos(key) = nextPos; nextPos += 1
          entries(key, doc).foreach(add(_, key))
        case Some(old) =>
          val (was, is) = (entries(key, old), entries(key, doc))
          if (was != is) { was.foreach(del(_, key)); is.foreach(add(_, key)) }
      }
      prior
    }

    private[Interp] def drop(key: V): Option[VObj] = {
      val prior = remove(key)
      prior.foreach { old => pos.remove(key); entries(key, old).foreach(del(_, key)) }
      prior
    }

    /** Puts the records back in the order `keys` (the same key set). */
    private[Interp] def restoreOrder(keys: Array[V]): Unit = {
      val docs = keys.map(apply)
      clear(); pos.clear()
      keys.indices.foreach { i => put(keys(i), docs(i)); pos(keys(i)) = i.toLong }
      nextPos = keys.length.toLong
    }

    /** The index, each bucket in iteration order (for consistency checks). */
    private[graft] def indexView: Map[Any, Vector[V]] =
      index.iterator.map { case (e, ks) => e -> ks.toVector.sortBy(pos) }.toMap
  }

  /** A coarse form of a record key, equal for any two values [[V.looseEq]]
    * holds equal (regexes aside, which no stored key holds): numbers become
    * their `toDouble` (-0.0 as 0.0, one NaN; mixed-representation `numEq`
    * compares exactly, so equal numbers have equal doubles), arrays, sets,
    * objects and record ids map elementwise, and every other value is
    * itself (`looseEq` is structural there). */
  def looseCoarse(v: V): V = v match {
    case n: VNum =>
      val d = n.toDouble
      VInt(if (d == 0.0) 0L else java.lang.Double.doubleToLongBits(d))
    case VArr(items) => VArr(items.map(looseCoarse))
    case VSet(items) => VSet(items.map(looseCoarse))
    case VObj(fs)    => VObj(fs.map { case (k, x) => k -> looseCoarse(x) })
    case VRid(tb, k) => VRid(tb, looseCoarse(k))
    case other       => other
  }

  // ---- undo journal entries (see Interp#journal) ----------------------

  /** One journaled change to the record data, undone in reverse order. */
  private sealed trait Undo
  /** A record write at stored key `key` of `t`; `prior` is the document the
    * key held before it (None: the key was absent). */
  private final case class RecordUndo(t: Table, key: V, prior: Option[VObj]) extends Undo
  /** The key order of `t` before its first removal under the innermost mark. */
  private final case class OrderUndo(t: Table, keys: Array[V]) extends Undo
  /** The table list before a table was created or dropped. */
  private final case class TablesUndo(prior: Vector[(String, Table)]) extends Undo
  /** An edge mark that was added (`added`) or removed. */
  private final case class MarkUndo(tb: String, key: V, added: Boolean) extends Undo
  /** A USE that switched the live database from `from` to `to`;
    * `restoreDefs` restores the definitions `to` had when it was entered. */
  private final case class UseUndo(from: (String, String), to: (String, String),
      restoreDefs: () => Unit) extends Undo

  /** Edge records keep their identity fields across CONTENT/REPLACE updates
    * (doc/relate.rs — in/out are readonly on edges). */
  def keepEdgeIdentity(updated: VObj, before: VObj, rid: VRid): VObj = {
    (before.fields.get("in"), before.fields.get("out")) match {
      case (Some(i: VRid), Some(o: VRid)) =>
        VObj(updated.fields.updated("id", rid: V).updated("in", i: V).updated("out", o: V))
      case _ => updated
    }
  }

  /** None-elimination on stored documents: object entries whose value is
    * NONE are dropped recursively; NONE stays inside arrays (doc write
    * normalization — upsert/none_remove_field, field/none_elimination). */
  def stripNoneKeys(o: VObj): VObj = {
    def walk(v: V): V = v match {
      case VObj(fs) => VObj(fs.collect { case (k, x) if x != VNone => k -> walk(x) })
      // NONE is storable in arrays again since 2.2.1
      // (upgrade/value/none_null_array; the 2.1.x drop behavior is
      // version-gated out by the runner's importing-version check)
      case VArr(items) => VArr(items.map(walk))
      case other => other
    }
    walk(o).asInstanceOf[VObj]
  }

  private def keyHasRegex(v: V): Boolean = v match {
    case _: VRegex   => true
    case VArr(items) => items.exists(keyHasRegex)
    case VSet(items) => items.exists(keyHasRegex)
    case VObj(fs)    => fs.valuesIterator.exists(keyHasRegex)
    case _ => false
  }

  /** Reject regexes as (or inside) record keys, as the reference does —
    * RecordIdKey has no regex variant and id conversion raises
    * "Found {value} for the Record ID but this is not a valid id"
    * (err/mod.rs:571). Beyond fidelity, this keeps stored keys regex-free,
    * which the loose-key buckets of [[Table]] rely on: a stored regex key is
    * the one value that could loose-match a string probe that its
    * [[looseCoarse]] bucket does not hold. */
  def checkIdKey(tb: String, key: V): Unit =
    if (keyHasRegex(key))
      throw SqlError(
        s"Found ${Render.sql(VRid(tb, key))} for the Record ID but this is not a valid id")

  /** Per-codepoint ASCII transliterations (lexicmp's any_ascii behavior,
    * core/src/val/mod.rs:500-502): CJK → pinyin, hangul → revised
    * romanization, kana → romaji, Greek/Cyrillic/Arabic/Thai → latin.
    * Covers the scripts exercised by the golden corpus; Latin accents
    * fall through to NFD mark-stripping; anything else transliterates
    * empty so the codepoint tie-break decides. */
  private val translitTable: Map[Int, String] = {
    def row(chars: String, outs: String*): Seq[(Int, String)] = {
      val cps = chars.codePoints().toArray
      cps.toSeq.zip(outs)
    }
    (row("αβγδεζηθικλμνξοπρςστυφχψω",
         "a","b","g","d","e","z","i","th","i","k","l","m","n","x","o","p","r","s","s","t","y","f","kh","ps","o") ++
     row("ΑΒΓΔΕΖΗΘΙΚΛΜΝΞΟΠΡΣΤΥΦΧΨΩ",
         "a","b","g","d","e","z","i","th","i","k","l","m","n","x","o","p","r","s","t","y","f","kh","ps","o") ++
     row("абвгдежзийклмнопрстуфхцчшщъыьэюя",
         "a","b","v","g","d","e","zh","z","i","i","k","l","m","n","o","p","r","s","t","u","f","kh","ts","ch","sh","shch","","y","","e","yu","ya") ++
     row("АБВГДЕЖЗИЙКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯ",
         "a","b","v","g","d","e","zh","z","i","i","k","l","m","n","o","p","r","s","t","u","f","kh","ts","ch","sh","shch","","y","","e","yu","ya") ++
     row("ابتثجحخرعلمية", "", "b","t","th","j","h","kh","r","","l","m","y","h") ++
     row("世中你国好文界日本語", "shi","zhong","ni","guo","hao","wen","jie","ri","ben","yu") ++
     Seq(0x6C49 -> "xan") ++ // 汉 — pinned any_ascii value per order/unicode/chinese golden
     row("あいうえおアイウ", "a","i","u","e","o","a","i","u") ++
     row("가나다라마바사한국어", "ga","na","da","ra","ma","ba","sa","han","gug","eo") ++
     row("กขคงจฉชซภาษไทย", "k","kh","kh","ng","ch","ch","ch","ch","ph","a","s","ai","th","y") ++
     Seq('ß'.toInt -> "ss", 'æ'.toInt -> "ae", 'Æ'.toInt -> "AE",
         'ø'.toInt -> "o", 'Ø'.toInt -> "O", 'đ'.toInt -> "d", 'Đ'.toInt -> "D")
    ).toMap
  }

  private def translit(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp < 128) sb.append(cp.toChar)
      else translitTable.get(cp) match {
        case Some(t) => sb.append(t)
        case scala.None =>
          val d = java.text.Normalizer.normalize(
            new String(Character.toChars(cp)), java.text.Normalizer.Form.NFD)
          d.foreach(c => if (c < 128) sb.append(c))
      }
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** ORDER BY … COLLATE/NUMERIC string comparison: unicode collation with
    * upper-case-first tie-break (ICU caseFirst=upper), and natural numeric
    * run comparison (expr/order.rs). */
  def orderedStrCmp(a: String, b: String, collate: Boolean, numeric: Boolean): Int = {
    if (numeric) {
      // split into digit / non-digit runs
      def runs(s: String): Vector[String] = {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < s.length) {
          val digit = s.charAt(i).isDigit
          val j0 = i
          while (i < s.length && s.charAt(i).isDigit == digit) i += 1
          out += s.substring(j0, i)
        }
        out.toVector
      }
      val (ra, rb) = (runs(a), runs(b))
      var i = 0
      while (i < ra.length && i < rb.length) {
        val (x, y) = (ra(i), rb(i))
        // with COLLATE the case tie-break waits for the WHOLE string —
        // "File1" < "FILE10" numerically even though FILE < File binary
        // (lexicmp natural_lexical_cmp; order_string_collate_numeric)
        val c =
          if (x.nonEmpty && y.nonEmpty && x.head.isDigit && y.head.isDigit)
            BigInt(x).compare(BigInt(y))
          else if (collate) translit(x).toLowerCase(java.util.Locale.ROOT)
            .compareTo(translit(y).toLowerCase(java.util.Locale.ROOT))
          else x.compareTo(y)
        if (c != 0) return c
        i += 1
      }
      if (ra.length != rb.length) ra.length - rb.length
      else if (collate) a.compareTo(b)
      else 0
    }
    else collateCmp(a, b)
  }

  /** lexicmp::lexical_cmp: compare ASCII transliterations case-insensitively,
    * tie-break on the original string's codepoints. */
  private def collateCmp(a: String, b: String): Int = {
    val c = translit(a).toLowerCase(java.util.Locale.ROOT)
      .compareTo(translit(b).toLowerCase(java.util.Locale.ROOT))
    if (c != 0) c else a.compareTo(b)
  }
  /** Recursive JSON-patch diff (val/value/diff.rs:14): nested objects
    * recurse, arrays diff element-wise, string→string changes emit a
    * `change` op carrying a diff-match-patch patch text. */
  def valueDiff(a0: V, b0: V): Vector[V] = {
    val ops = mutable.ArrayBuffer[V]()
    def diffRec(a: V, bv: V, path: String): Unit = (a, bv) match {
      case (VObj(fa), VObj(fb)) if a != bv =>
        fa.keys.foreach { k =>
          if (!fb.contains(k))
            ops += V.obj("op" -> VStr("remove"), "path" -> VStr(s"$path/$k"))
        }
        fb.foreach { case (k, v) =>
          fa.get(k) match {
            case scala.None =>
              ops += V.obj("op" -> VStr("add"), "path" -> VStr(s"$path/$k"), "value" -> v)
            case Some(old) => diffRec(old, v, s"$path/$k")
          }
        }
      case (VArr(ia), VArr(ib)) if a != bv =>
        val mn = math.min(ia.length, ib.length)
        (0 until mn).foreach(n => diffRec(ia(n), ib(n), s"$path/$n"))
        (mn until ib.length).foreach(n =>
          ops += V.obj("op" -> VStr("add"), "path" -> VStr(s"$path/$n"), "value" -> ib(n)))
        (mn until ia.length).foreach(n =>
          ops += V.obj("op" -> VStr("remove"), "path" -> VStr(s"$path/$n")))
      case (VStr(x), VStr(y)) if x != y =>
        ops += V.obj("op" -> VStr("change"), "path" -> VStr(path),
          "value" -> VStr(Interp.dmpPatchText(x, y)))
      case _ if a != bv =>
        ops += V.obj("op" -> VStr("replace"), "path" -> VStr(path), "value" -> bv)
      case _ => ()
    }
    diffRec(a0, b0, "")
    ops.toVector
  }

  /** UPDATE/UPSERT may not move a record to a different id
    * (doc/alter.rs generate_record_id; update/recordid golden). */
  def checkIdUnchanged(applied: VObj, rid: VRid): Unit =
    applied.fields.get("id") match {
      case Some(r: VRid) if !V.looseEq(r, rid) => throw SqlError(idChanged(r))
      case _ => ()
    }

  /** The error of an update that gives a record the id `r`. */
  def idChanged(r: VRid): String =
    s"Found ${Render.sql(r)} for the `id` field, but a specific record has been specified"

  /** diff-match-patch patch text for a string change (dmp patch_make1 +
    * patch_to_text, val/value/diff.rs:70) — the full canonical pipeline
    * (Myers bisect, half-match, semantic + efficiency cleanup, MULTI-hunk
    * patch splitting at ≥ 2×margin equalities) lives in [[Dmp]]; the r13
    * single-hunk prefix/suffix approximation diverged on any string with
    * two distant edits. */
  def dmpPatchText(a: String, b: String): String = {
    if (a == b) return ""
    Dmp.patchText(a, b)
  }

  /** Apply a diff-match-patch patch text (dmp patch_apply; exact-position
    * application — hunks are assumed to match, as they do on round-trips
    * of diffs this engine produced). */
  def dmpPatchApply(patch: String, orig: String): String = {
    def dec(t: String): String = {
      val bytes = new java.io.ByteArrayOutputStream
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        if (c == '%' && i + 2 < t.length) {
          bytes.write(Integer.parseInt(t.substring(i + 1, i + 3), 16)); i += 3
        } else { bytes.write(c.toInt); i += 1 } // unencoded chars are ASCII
      }
      new String(bytes.toByteArray, "UTF-8")
    }
    val hunkRe = """@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@""".r
    // Parse all hunks first (patch_from_text rejects bad lines up front),
    // then apply SEQUENTIALLY to the evolving text: canonical patch_make
    // resets char_count1 = char_count2 when it closes a patch, so every
    // hunk after the first is addressed in the coordinates of the text
    // with all PREVIOUS hunks already applied — not the original.
    final case class Hunk(start: Int, len1: Int, repl: String)
    val hunks = mutable.Buffer[Hunk]()
    var cur: Hunk = null
    val repl = new StringBuilder
    def flush(): Unit = if (cur != null) {
      hunks += cur.copy(repl = repl.toString); repl.clear(); cur = null
    }
    patch.split("\n", -1).foreach {
      case hunkRe(a, b, _, _) =>
        flush()
        val len1 = Option(b).map(_.toInt).getOrElse(1)
        // patch_to_text prints start1 (0-based) when len1 == 0, else
        // start1 + 1
        val start = if (len1 == 0) a.toInt else a.toInt - 1
        cur = Hunk(start, len1, "")
      case line if line.nonEmpty =>
        // dmp patch_from_text rejects anything that is not a hunk header
        // followed by ' '/'-'/'+' body lines (patch.rs:106 wraps the
        // crate's error; the crate's exact Debug text is not
        // reproducible offline — the ERROR itself is the pinned behavior)
        if (cur == null || !" -+".contains(line.charAt(0)))
          throw SqlError("The JSON Patch contains invalid operations. " +
            s"Failed to parse JSON patch structure: invalid patch string: $line")
        val body = dec(line.substring(1))
        line.charAt(0) match {
          case ' ' | '+' => repl.append(body)
          case _         => () // '-': consumed via len1
        }
      case _ => ()
    }
    flush()
    var text = orig
    hunks.foreach { h =>
      val at = math.min(h.start, text.length)
      val end = math.min(h.start + h.len1, text.length)
      text = text.substring(0, at) + h.repl + text.substring(end)
    }
    text
  }

  /** The generated-id counter; a differential run resets it per script so
    * each script's ids do not depend on the scripts before it. */
  private[graft] val idRng = new java.util.concurrent.atomic.AtomicLong(0x5eed5eedL)
  /** 20-char lowercase-alnum record id, shaped like the reference's random
    * ids (nanoid alphabet subset) but deterministic per session. */
  def randomId(): String = {
    val n = idRng.incrementAndGet()
    val rnd = new scala.util.Random(n * 0x9e3779b97f4a7c15L)
    val alphabet = "0123456789abcdefghijklmnopqrstuvwxyz"
    (1 to 20).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
  }
}

/** SurrealQL interpreter over an in-memory catalog — the semantic twin of
  * the reference's executor (surrealdb: dbs/executor.rs:599-676 statement
  * loop, doc/ lifecycle for mutations, exec/planner/select.rs:1213 SELECT
  * pipeline). This is the correctness engine the golden corpus runs on;
  * `SurqlPlanner` lowers the same AST onto Spark DataFrames for scale. */
final class Interp {

  /** table name → insertion-ordered (record key → document). */
  val tables: mutable.LinkedHashMap[String, Interp.Table] =
    mutable.LinkedHashMap.empty

  var globals: Map[String, V] = Map.empty
  /** OPTION IMPORT: mutations run but return NONE (bulk-import mode). */
  var importMode = false
  /** Bulk-import mode suppresses mutation OUTPUT but keeps the statement's
    * shape: array-valued statements report `[]`, ONLY forms `NONE`
    * (upsert_where_option_import_phantom vs option/import_indexes). */
  private def suppressIfImport(v: V): V =
    if (!importMode) v
    else v match { case _: VArr => VArr(Vector.empty); case _ => VNone }

  /** Typed LET coercion with the statement-level error wrapper
    * (let/typed: "Tried to set `$x`, but couldn't coerce value: ..."). */
  def letCoerce(name: String, kindAnn: Option[Kind], v0: V): V =
    kindAnn.map { k =>
      try Coerce.coerce(k, v0)
      catch { case e: SqlError => throw SqlError(
        s"Tried to set `$$$name`, but couldn't coerce value: ${e.msg}") }
    }.getOrElse(v0)
  /** DEFINE FUNCTION registry: name (sans fn::) → closure. */
  val customFns: mutable.LinkedHashMap[String, VClosure] = mutable.LinkedHashMap.empty
  /** Auth ceiling per function ("fn::name" → DATABASE/NAMESPACE): ALTER
    * FUNCTION recomputes the function's privilege limit from the ALTERING
    * principal, so a DB-owner's alteration cannot escalate to namespace
    * operations (reproductions/alter_auth_limit_escalation). */
  val fnAuthCeiling: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  /** Level of the signed-in SYSTEM user (DATABASE/NAMESPACE/ROOT), if any. */
  var authUserLevel: Option[String] = scala.None
  /** Ceiling active while a custom function body executes. */
  var activeFnCeiling: Option[String] = scala.None
  /** DEFINE FIELD registry per table, in definition order. */
  val fieldPipeline: mutable.LinkedHashMap[String, Vector[DefineFieldStmt]] =
    mutable.LinkedHashMap.empty
  /** DEFINE INDEX UNIQUE registry per table: (index name, fields). */
  val uniqueIndexes: mutable.LinkedHashMap[String, Vector[(String, Seq[String])]] =
    mutable.LinkedHashMap.empty
  private var idCounter = 0L

  // ---- schema catalog (INFO / REMOVE / ALTER surface) ------------------
  var curNs = "test"
  var curDb = "test"
  /** Databases defined STRICT: writes to undefined tables error
    * (DEFINE DATABASE … STRICT, closure/readonly golden). */
  val strictDbs = mutable.HashSet[String]()
  val namespaces = mutable.LinkedHashMap[String, String]()
  val databases = mutable.LinkedHashMap[String, String]()
  val rootUsers = mutable.LinkedHashMap[String, Defs.UserDef]()
  val nsUsers = mutable.LinkedHashMap[String, Defs.UserDef]()
  val dbUsers = mutable.LinkedHashMap[String, Defs.UserDef]()
  val analyzers = mutable.LinkedHashMap[String, Defs.AnalyzerDef]()
  val paramDefs = mutable.LinkedHashMap[String, Defs.ParamDef]()
  /** DEFINE PARAM values — session LETs shadow these (param/shadowed);
    * transactional, unlike session variables (param/cancel_commit). */
  val dbParams = mutable.LinkedHashMap[String, V]()
  val functionDefs = mutable.LinkedHashMap[String, Defs.FnDef]()
  /** ALTER SYSTEM QUERY_TIMEOUT — surfaced in INFO FOR ROOT `config`. */
  var systemQueryTimeout: Option[VDur] = scala.None
  /** DEFINE CONFIG DEFAULT NAMESPACE x DATABASE y — root-level (ns, db). */
  var rootDefaultConfig: Option[(String, String)] = scala.None
  /** Whether the simulated storage backend accepts compaction requests
    * (mem does not; rocksdb-style backends do). */
  var compactSupported = false
  /** Session base: whether a namespace/database is selected (language-tests
    * provisioner flags) — bare ACCESS statements resolve to the deepest
    * selected level (sql/statements/access.rs base resolution). */
  var sessionHasNs = true
  var sessionHasDb = true
  private val grantRng = new scala.util.Random(0x6772616e74L)
  private def grantToken(n: Int): String = {
    val cs = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    Vector.fill(n)(cs(grantRng.nextInt(cs.length))).mkString
  }
  val tableDefs = mutable.LinkedHashMap[String, Defs.TableDef]()
  val fieldDefs2 = mutable.LinkedHashMap[(String, String), Defs.FieldDef]()
  /** Subtype `name.*` definitions auto-created for array<K>/set<K> fields
    * (define/field.rs process_recursive_definitions) — these never conflict
    * with a later explicit DEFINE FIELD of the same path. */
  val autoFields = mutable.Set[(String, String)]()
  val indexDefs = mutable.LinkedHashMap[(String, String), Defs.IndexDef]()
  val eventDefs = mutable.LinkedHashMap[(String, String), Defs.EventDef]()
  val sequences = mutable.LinkedHashMap[String, Defs.SequenceDef]()
  /** Next value per sequence (sequence::nextval). */
  val sequenceState = mutable.LinkedHashMap[String, Long]()
  val accesses = mutable.LinkedHashMap[(String, String), Defs.AccessDef]()
  /** Issued access grants (bearer/record): (level, access) → grant objects
    * in issue order (expr/statements/access.rs GrantStatement). */
  val accessGrants = mutable.LinkedHashMap[(String, String), Vector[VObj]]()
  /** DEFINE CONFIG API/GRAPHQL — structured payloads for INFO. */
  val configs = mutable.LinkedHashMap[String, V]()
  /** DEFINE API definitions keyed by canonical path text (api/path.rs). */
  val apiDefs = mutable.LinkedHashMap[String, Api.RtDef]()
  /** DEFINE CONFIG API database-wide middleware + permissions. */
  var apiGlobalMw: Seq[(String, Seq[Expr], String)] = Nil
  var apiGlobalPerms: Option[String] = scala.None
  /** Record-level auth session ([env] auth with an access method) — API
    * permission clauses are only enforced for record users (check_perms). */
  var recordAuth = false
  /** Record-auth session subject ($auth) for permission WHERE clauses. */
  var authRid: Option[VRid] = scala.None
  /** Session authentication state after a signup/signin: access method
    * name ($access / $session.ac), token claims ($token / $session.tk),
    * record subject ($session.rd). */
  var sessionAccess: Option[String] = scala.None
  var sessionToken: Option[V] = scala.None
  var sessionRd: Option[V] = scala.None
  /** System-user auth role ([env] auth.level): "viewer" is read-only —
    * DDL and mutations raise the IAM error (iam/check.rs role checks). */
  var authLevel: Option[String] = scala.None
  /** Capabilities ([env.capabilities]): denied function paths error at
    * call time; scripting=false rejects `function(){}` outright. */
  var capDenyFunctions: Set[String] = Set.empty
  var capScripting: Boolean = true

  /** Custom-function call depth: the reference budgets 120 computation-depth
    * units with function frames costing 8 each (err/mod.rs:381), so the 16th
    * nested `fn::` call errors (script/massive_parallel pins 15 surviving
    * frames). */
  var fnCallDepth: Int = 0
  private val permExprCache = mutable.HashMap[String, Option[ast.Expr]]()

  /** The SELECT permission applied to reads of `tb` under record auth:
    * None = unrestricted, Some(None) = table pruned (NONE),
    * Some(Some(cond)) = row filter (catalog perms; doc/compute.rs). */
  def readPermission(tb: String): Option[Option[ast.Expr]] =
    actionPermission(tb, "select")

  /** The permission for `action` (select/create/update/delete) on `tb`
    * under record auth — same shape as [[readPermission]]. */
  def actionPermission(tb: String, action: String): Option[Option[ast.Expr]] = {
    if (!recordAuth) return scala.None
    tableDefs.get(tb).flatMap { d =>
      d.perms.collectFirst { case (`action`, v) => v }.flatMap {
        case "FULL" => scala.None
        case "NONE" => Some(scala.None)
        case w if w.startsWith("WHERE ") =>
          val cond = permExprCache.getOrElseUpdate(w,
            try Some(Parser.parse("RETURN " + w.stripPrefix("WHERE ") + ";").stmts.collectFirst {
              case ReturnStmt(e) => e
            }.get)
            catch { case _: Exception => scala.None })
          Some(cond)
        case _ => scala.None
      }
    }
  }

  /** Row-level permission check for a mutation action (doc/allow.rs):
    * record users need the action's clause truthy against the document. */
  def permAllows(tb: String, action: String, doc: VObj): Boolean = {
    if (permDepth > 0) return true
    actionPermission(tb, action) match {
      case scala.None => true
      case Some(scala.None) => false
      case Some(Some(cond)) =>
        val base = Env(params = globals + ("auth" -> authRid.map(identity[V]).getOrElse(VNone)),
          interp = Some(this))
        permDepth += 1
        try Eval.eval(cond, base.copy(doc = Some(doc))).truthy
        finally permDepth -= 1
    }
  }

  /** Re-entrancy guard: permission predicates with subqueries must not
    * re-check permissions on the tables they read (skip_fetch_perms). */
  private var permDepth = 0

  /** Filter rows by the table's SELECT permission ($auth bound), then
    * strip fields whose own SELECT permission denies the record user. */
  def permFilter(tb: String, rows: Vector[VObj]): Vector[VObj] = {
    if (permDepth > 0) return rows
    val out = readPermission(tb) match {
      case scala.None => rows
      case Some(scala.None) => Vector.empty
      case Some(Some(cond)) =>
        val base = Env(params = globals + ("auth" -> authRid.map(identity[V]).getOrElse(VNone)),
          interp = Some(this))
        permDepth += 1
        try rows.filter(r => Eval.eval(cond, base.copy(doc = Some(r))).truthy)
        finally permDepth -= 1
    }
    out.map(redactDoc(tb, _))
  }

  /** Field-level SELECT permissions: denied fields read as absent for
    * record users (doc/pluck.rs field permission check;
    * update/field_permissions). */
  def redactDoc(tb: String, doc: VObj): VObj = {
    if (!recordAuth || permDepth > 0) return doc
    val denied = fieldDefs2.collect {
      case ((t, f), d) if t == tb &&
          d.perms.collectFirst { case ("select", v) => v }.contains("NONE") => f
    }
    if (denied.isEmpty) doc
    else VObj(doc.fields.filterNot { case (k, _) =>
      denied.exists(df => df == k || k.startsWith(df + ".")) })
  }
  /** Active api::timeout deadline: (instant, rendered duration). */
  var apiDeadline: Option[(java.time.Instant, String)] = scala.None

  /** Statement-level deadline check (Error::QueryTimedout shape). */
  def checkApiDeadline(): Unit = apiDeadline.foreach { case (dl, durTxt) =>
    if (!java.time.Instant.now().isBefore(dl))
      throw Api.ApiErr(s"The query was not executed because it exceeded the timeout: $durTxt")
  }
  /** DEFINE BUCKET registry: object-store namespaces for file::* / f"…"
    * values (buc/controller.rs; the memory backend, buc/store/memory.rs).
    * Keys are stored in display form with a leading '/'. */
  final class BucketRt(val readonly: Boolean, val backendRendered: Option[String],
      val perms: String = "FULL", val comment: Option[String] = scala.None) {
    val objects = mutable.LinkedHashMap[String, (Vector[Byte], java.time.Instant)]()
    var name: String = ""
    def render: String =
      "DEFINE BUCKET " + Defs.escIdent(name) +
        (if (readonly) " READONLY" else "") +
        backendRendered.map(b => " BACKEND " + b).getOrElse("") +
        " PERMISSIONS " + perms +
        comment.map(c => " COMMENT " + Render.sql(VStr(c))).getOrElse("")
    def copyRt(readonly2: Boolean = readonly, perms2: String = perms,
        comment2: Option[String] = comment): BucketRt = {
      val b = new BucketRt(readonly2, backendRendered, perms2, comment2)
      b.name = name; b.objects ++= objects; b
    }
  }
  val buckets = mutable.LinkedHashMap[String, BucketRt]()

  /** Per-index build stats for INFO FOR INDEX (idx building status): rows
    * present when the index was (re)built. */
  val indexBuildInfo = mutable.LinkedHashMap[(String, String), Long]()
  /** Failed CONCURRENTLY builds: (table, index) → error text. */
  val indexBuildError = mutable.LinkedHashMap[(String, String), String]()

  /** Versioned write log: (timestamp, table, key, doc-or-tombstone) — VERSION
    * reads reconstruct table state as of a timestamp (kvs versionstamps,
    * exec/operators/version_scope.rs). */
  val history = mutable.ArrayBuffer[(java.time.Instant, String, V, Option[VObj])]()
  /** Monotonic write generation: bumped on every history append AND on every
    * rollback, so caches keyed on it (FTS corpus) can never alias a
    * rolled-back state with a later one that has the same history length. */
  var writeGen: Long = 0L
  /** Active VERSION scope: reads snapshot at this timestamp. */
  var versionAsOf: Option[java.time.Instant] = scala.None
  /** Session planner strategy: trailing `… EXPLAIN` renders the legacy
    * Iterate/Collector array under compute-only (dbs/ legacy executor). */
  var legacyPlanner = false

  /** Copy of the definition catalog (functions, tables', fields', indexes'
    * and events' definitions, sequences, accesses, params, buckets, …) plus
    * the lengths of the append-only `history` and `ddlSnaps` logs. Records
    * and edge marks are not in it: they roll back through the undo journal
    * ([[TxMark]]). Definitions are immutable values, so cloning each map
    * suffices; they number O(definitions), so a copy per statement is cheap.
    * Session params are NOT snapshotted: LET survives CANCEL (language-tests
    * parameters/set_within_transaction). */
  private final class DefsSnapshot {
    val fns = customFns.clone(); val fp = fieldPipeline.clone()
    val uniq = uniqueIndexes.clone(); val tds = tableDefs.clone()
    val fds = fieldDefs2.clone(); val af = autoFields.clone()
    val ixs = indexDefs.clone(); val evs = eventDefs.clone()
    val seqs = sequences.clone(); val accs = accesses.clone()
    val grants = accessGrants.clone()
    val cfgs = configs.clone(); val apis = apiDefs.clone()
    val anas = analyzers.clone(); val pds = paramDefs.clone()
    val dbp = dbParams.clone()
    val fnds = functionDefs.clone(); val histLen = history.length
    val snapsLen = ddlSnaps.length
    val bks = buckets.map { case (k, b) => (k, b.copyRt()) }
    def restore(): Unit = {
      buckets.clear(); bks.foreach { case (k, b) => buckets(k) = b }
      def put[K, W](dst: mutable.LinkedHashMap[K, W], src: mutable.LinkedHashMap[K, W]): Unit = {
        dst.clear(); dst ++= src
      }
      put(customFns, fns); put(fieldPipeline, fp); put(uniqueIndexes, uniq)
      put(tableDefs, tds); put(fieldDefs2, fds)
      autoFields.clear(); autoFields ++= af
      put(indexDefs, ixs); put(eventDefs, evs); put(sequences, seqs)
      put(accesses, accs); put(accessGrants, grants)
      put(configs, cfgs); put(apiDefs, apis)
      put(analyzers, anas); put(paramDefs, pds); put(functionDefs, fnds)
      put(dbParams, dbp)
      // Guard: a versioned-INFO restore of an OLDER snapshot may have already
      // truncated history below our mark; removing a negative count throws.
      if (history.length > histLen) history.remove(histLen, history.length - histLen)
      // DDL snapshots recorded after this snapshot belong to rolled-back
      // statements — discard them so INFO … VERSION can't resurrect
      // never-committed catalog state.
      if (ddlSnaps.length > snapsLen) ddlSnaps.remove(snapsLen, ddlSnaps.length - snapsLen)
      writeGen += 1
    }
  }

  // ---- undo journal ------------------------------------------------------

  import Interp.{Table, Undo, RecordUndo, OrderUndo, TablesUndo, MarkUndo, UseUndo}

  /** Rollback of record data (the reference rolls back through its kv
    * transaction, dbs/executor.rs; here the "store" is `tables`). Every
    * record write goes through [[putRecord]]/[[removeRecord]], every table
    * creation and drop through [[table]]/[[dropTable]], every edge mark
    * through [[markEdge]]/[[unmarkEdge]], every USE that switches database
    * through the USE arm, and each appends the undo entry of its change
    * while a [[TxMark]] is open. So a statement that succeeds costs
    * O(records it wrote), and a rollback undoes exactly those writes. The
    * definitions are not journaled: each mark copies them
    * ([[DefsSnapshot]], O(definitions)), and so does each USE under a mark
    * for the database it enters.
    *
    * Iteration order is restored exactly: updating a present key keeps its
    * place in the LinkedHashMap and undoing an insert is a plain remove, so
    * only removals move records. The first removal from a table under the
    * innermost open mark therefore journals the table's key order
    * ([[OrderUndo]]), and undoing that entry rebuilds only that table in the
    * saved order, once every later entry has restored its contents. */
  private val journal = mutable.ArrayBuffer[Undo]()
  /** Journal positions of the open marks, innermost last. */
  private val marks = mutable.ArrayBuffer[Int]()
  /** Per table (by identity): journal position of its latest [[OrderUndo]]. */
  private val orderSaved = new java.util.IdentityHashMap[Table, Integer]()
  private var journalCount = 0L
  /** Undo entries journaled since this interpreter was created. */
  def journalEntries: Long = journalCount

  private def journalAdd(u: Undo): Unit =
    if (marks.nonEmpty) { journal += u; journalCount += 1 }

  /** Stores `doc` at the stored key `key` of `t`. */
  private def putRecord(t: Table, key: V, doc: VObj): Unit =
    journalAdd(RecordUndo(t, key, t.store(key, doc)))

  /** Removes the stored key `key` from `t`, returning its document. */
  private def removeRecord(t: Table, key: V): Option[VObj] =
    if (!t.contains(key)) scala.None
    else {
      if (marks.nonEmpty) {
        val at = orderSaved.get(t)
        if (at == null || at < marks.last) {
          orderSaved.put(t, journal.length)
          journalAdd(OrderUndo(t, t.keysIterator.toArray))
        }
      }
      val prior = t.drop(key)
      journalAdd(RecordUndo(t, key, prior))
      prior
    }

  private def dropTable(name: String): Unit =
    if (tables.contains(name)) {
      journalAdd(TablesUndo(tables.toVector))
      tables.remove(name)
    }

  private def undoTo(at: Int): Unit =
    while (journal.length > at) journal.remove(journal.length - 1) match {
      case RecordUndo(t, k, Some(d))    => t.store(k, d)
      case RecordUndo(t, k, scala.None) => t.drop(k)
      case OrderUndo(t, keys) =>
        t.restoreOrder(keys)
        orderSaved.remove(t)
      case TablesUndo(prior) => tables.clear(); tables ++= prior
      case MarkUndo(tb, k, added) =>
        if (added) unmarkEdge0(tb, k) else markEdge0(tb, k)
      case UseUndo(from, to, restoreDefs) => restoreDefs(); swapDbState(to, from)
    }

  /** A rollback point: an implicit per-statement transaction or an explicit
    * BEGIN. [[rollback]] undoes the journal back to the mark, restores the
    * definitions copied at the mark and switches back to the session's
    * database if a USE was undone; [[close]] (COMMIT, or the end of the
    * statement) pops the mark and, once no mark is open, drops the journal.
    * Marks nest and close innermost first. */
  private final class TxMark {
    private val at = journal.length
    private val defs = new DefsSnapshot
    private val db = (curNs, curDb)
    marks += at
    def rollback(): Unit = {
      undoTo(at)
      defs.restore()
      if (db != ((curNs, curDb))) swapDbState(db, (curNs, curDb))
    }
    def close(): Unit = {
      marks.remove(marks.length - 1)
      if (marks.isEmpty) { journal.clear(); orderSaved.clear() }
    }
  }

  /** Per-database catalog + data (catalog is namespaced Ns→Db→… in the
    * reference; reproductions/7135 — schemafull fields must not leak across
    * databases). USE DB parks the current database's state here and installs
    * the target's. `history`/`ddlSnaps` (VERSION) and live queries stay
    * session-global. */
  private final class DbState {
    var tabs = mutable.LinkedHashMap.empty[String, Table]
    var fns = mutable.LinkedHashMap.empty[String, VClosure]
    var fnAuth = mutable.LinkedHashMap.empty[String, String]
    var fp = mutable.LinkedHashMap.empty[String, Vector[DefineFieldStmt]]
    var uniq = mutable.LinkedHashMap.empty[String, Vector[(String, Seq[String])]]
    var tds = mutable.LinkedHashMap.empty[String, Defs.TableDef]
    var fds = mutable.LinkedHashMap.empty[(String, String), Defs.FieldDef]
    var af = mutable.Set.empty[(String, String)]
    var ixs = mutable.LinkedHashMap.empty[(String, String), Defs.IndexDef]
    var evs = mutable.LinkedHashMap.empty[(String, String), Defs.EventDef]
    var seqs = mutable.LinkedHashMap.empty[String, Defs.SequenceDef]
    var seqSt = mutable.LinkedHashMap.empty[String, Long]
    var accs = mutable.LinkedHashMap.empty[(String, String), Defs.AccessDef]
    var grants = mutable.LinkedHashMap.empty[(String, String), Vector[VObj]]
    var cfgs = mutable.LinkedHashMap.empty[String, V]
    var apis = mutable.LinkedHashMap.empty[String, Api.RtDef]
    var anas = mutable.LinkedHashMap.empty[String, Defs.AnalyzerDef]
    var pds = mutable.LinkedHashMap.empty[String, Defs.ParamDef]
    var dbp = mutable.LinkedHashMap.empty[String, V]
    var fnds = mutable.LinkedHashMap.empty[String, Defs.FnDef]
    var dbus = mutable.LinkedHashMap.empty[String, Defs.UserDef]
    var bks = mutable.LinkedHashMap.empty[String, BucketRt]
    var rawFds = mutable.LinkedHashMap.empty[(String, String), String]
    var marks = mutable.HashMap.empty[String, mutable.HashSet[V]]
    var ixInfo = mutable.LinkedHashMap.empty[(String, String), Long]
    var ixErr = mutable.LinkedHashMap.empty[(String, String), String]
  }
  private val dbStates = mutable.HashMap[(String, String), DbState]()

  private def swapDbState(from: (String, String), to: (String, String)): Unit = {
    if (from == to) return
    val parked = new DbState
    def park[K, W](live: mutable.LinkedHashMap[K, W]): mutable.LinkedHashMap[K, W] = {
      val m = live.clone(); live.clear(); m
    }
    parked.tabs = park(tables); parked.fns = park(customFns)
    parked.fnAuth = park(fnAuthCeiling); parked.fp = park(fieldPipeline)
    parked.uniq = park(uniqueIndexes); parked.tds = park(tableDefs)
    parked.fds = park(fieldDefs2)
    parked.af = { val s = mutable.Set.empty[(String, String)] ++= autoFields; autoFields.clear(); s }
    parked.ixs = park(indexDefs); parked.evs = park(eventDefs)
    parked.seqs = park(sequences); parked.seqSt = park(sequenceState)
    parked.accs = park(accesses); parked.grants = park(accessGrants)
    parked.cfgs = park(configs); parked.apis = park(apiDefs)
    parked.anas = park(analyzers); parked.pds = park(paramDefs)
    parked.dbp = park(dbParams); parked.fnds = park(functionDefs)
    parked.dbus = park(dbUsers); parked.bks = park(buckets)
    parked.rawFds = park(fieldDefs)
    parked.marks = { val m = edgeMarks.clone(); edgeMarks.clear(); m }
    parked.ixInfo = park(indexBuildInfo); parked.ixErr = park(indexBuildError)
    dbStates(from) = parked
    dbStates.get(to).foreach { st =>
      tables ++= st.tabs; customFns ++= st.fns; fnAuthCeiling ++= st.fnAuth
      fieldPipeline ++= st.fp; uniqueIndexes ++= st.uniq; tableDefs ++= st.tds
      fieldDefs2 ++= st.fds; autoFields ++= st.af; indexDefs ++= st.ixs
      eventDefs ++= st.evs; sequences ++= st.seqs; sequenceState ++= st.seqSt
      accesses ++= st.accs; accessGrants ++= st.grants; configs ++= st.cfgs
      apiDefs ++= st.apis; analyzers ++= st.anas; paramDefs ++= st.pds
      dbParams ++= st.dbp; functionDefs ++= st.fnds; dbUsers ++= st.dbus
      buckets ++= st.bks; fieldDefs ++= st.rawFds; edgeMarks ++= st.marks
      indexBuildInfo ++= st.ixInfo; indexBuildError ++= st.ixErr
    }
    writeGen += 1
  }

  /** Best-effort statement → canonical SQL, for the nested-BEGIN abort
    * messages ("… failed transaction: <stmt>", executor.rs:903 uses
    * stmt.to_sql()). Only the statement head needs to be faithful here. */
  private def stmtSql(s: Statement): String = {
    def es(e: Expr): String =
      try Explain.exprSql(e) catch { case _: MatchError => "…" }
    def targets(ws: Seq[Expr]) = ws.map(es).mkString(", ")
    s match {
      case BeginStmt         => "BEGIN"
      case CommitStmt        => "COMMIT"
      case CancelStmt        => "CANCEL"
      case BreakStmt         => "BREAK"
      case ContinueStmt      => "CONTINUE"
      case ExprStmt(e)       => es(e)
      case ReturnStmt(e)     => s"RETURN ${es(e)}"
      case ThrowStmt(e)      => s"THROW ${es(e)}"
      case LetStmt(n, _, w)  => s"LET $$$n = ${es(w)}"
      case c: CreateStmt     => "CREATE " + (if (c.only) "ONLY " else "") + targets(c.what)
      case u: UpdateStmt     => "UPDATE " + (if (u.only) "ONLY " else "") + targets(u.what)
      case u: UpsertStmt     => "UPSERT " + (if (u.only) "ONLY " else "") + targets(u.what)
      case d: DeleteStmt     => "DELETE " + (if (d.only) "ONLY " else "") + targets(d.what)
      case i: InsertStmt     => "INSERT" + i.into.map(e => s" INTO ${es(e)}").getOrElse("")
      case r: RelateStmt     => s"RELATE ${es(r.from)}->${es(r.edge)}->${es(r.to)}"
      case sel: SelectStmt   =>
        val fs = if (sel.value) "VALUE …" else if (sel.fields.isEmpty) "*" else "…"
        s"SELECT $fs FROM ${targets(sel.what)}"
      case other =>
        // DEFINE/REMOVE/ALTER/INFO/… — the leading keyword is enough.
        val n = other.getClass.getSimpleName.stripSuffix("$").stripSuffix("Stmt")
        n.replaceAll("([a-z])([A-Z])", "$1 $2").toUpperCase.split(" ").headOption.getOrElse(n)
    }
  }

  def run(ast: Ast): Seq[QueryResult] = {
    val results = mutable.ArrayBuffer[QueryResult]()
    // Transaction state (dbs/executor.rs statement loop): statements between
    // BEGIN and COMMIT/CANCEL execute eagerly; on the first error the
    // transaction aborts — prior successful results flip to the
    // failed-transaction error, later statements are skipped as cancelled,
    // and the catalog rolls back to the BEGIN mark.
    var inTx = false
    var txAborted = false
    // Abort cause matters (executor.rs keeps two distinct consume loops):
    // an error abort skips statements with the cancelled-transaction message
    // and pushes NO row for CANCEL, while a nested-BEGIN abort skips them
    // with "failed transaction: <stmt sql>" and DOES push a row for CANCEL.
    var txNested = false
    // a top-level RETURN inside a transaction skips the remaining
    // statements (no result rows) until COMMIT/CANCEL (executor.rs:842)
    var txReturned = false
    var txStart = 0
    var txMark: Option[TxMark] = scala.None
    def endTx(rollback: Boolean): Unit = {
      txMark.foreach { m => if (rollback) m.rollback(); m.close() }
      txMark = scala.None
    }
    val FailedTx = "The query was not executed due to a failed transaction"
    val CancelledTx = "The query was not executed due to a cancelled transaction"

    try ast.stmts.foreach { stmt =>
      stmt match {
        case BeginStmt if inTx && txAborted && txNested =>
          // Another BEGIN inside the already-aborted consume loop is just a
          // skipped statement with its own sql text (executor.rs:903).
          results += QErr(s"$FailedTx: BEGIN")
        case BeginStmt =>
          if (!inTx) {
            txMark = Some(new TxMark); inTx = true; txAborted = false; txNested = false; txReturned = false
            results += QOk(VNone)
            txStart = results.length
          } else {
            // Nested BEGIN aborts the open transaction (executor.rs:856-918):
            // prior results flip to the failed-transaction error WITH the
            // aborting statement's sql text, the nested BEGIN itself errors,
            // and the remaining statements are skipped until COMMIT/CANCEL
            // closes the aborted transaction.
            for (i <- txStart until results.length)
              results(i) = QErr(s"$FailedTx: BEGIN")
            results += QErr("Tried to start a transaction while another transaction was open")
            txAborted = true; txNested = true
          }
        case CommitStmt =>
          if (!inTx)
            results += QErr("Invalid statement: Cannot COMMIT without starting a transaction")
          else if (txAborted) {
            endTx(rollback = true)
            results += QErr(
              if (txNested) "Cannot COMMIT: the transaction was aborted due to a nested BEGIN"
              else "Cannot COMMIT: the transaction was aborted due to a prior error")
            inTx = false; txReturned = false; txAborted = false; txNested = false
          } else {
            endTx(rollback = false)
            results += QOk(VNone)
            inTx = false; txReturned = false
          }
        case CancelStmt =>
          if (!inTx)
            results += QErr("Invalid statement: Cannot CANCEL without starting a transaction")
          else if (txAborted) {
            // Post-abort CANCEL: after an error abort the reference's consume
            // loop returns without pushing any row; after a nested-BEGIN abort
            // it pushes the failed-transaction row first (executor.rs:903-910).
            if (txNested) results += QErr(s"$FailedTx: CANCEL")
            endTx(rollback = true)
            inTx = false; txReturned = false; txAborted = false; txNested = false
          } else {
            endTx(rollback = true)
            for (i <- txStart until results.length)
              results(i) match {
                case QOk(_) => results(i) = QErr(CancelledTx)
                case _      => ()
              }
            results += QOk(VNone)
            inTx = false; txReturned = false; txAborted = false
          }
        case _ if inTx && txReturned =>
          () // skipped entirely: no result row (executor.rs skip_remaining)
        case _ if inTx && txAborted =>
          results += QErr(if (txNested) s"$FailedTx: ${stmtSql(stmt)}" else CancelledTx)
        case other =>
          // each statement outside an explicit transaction runs in its own
          // implicit one: an error rolls its writes back (dbs/executor.rs —
          // for/break_in_function: the FOR's creates vanish on error)
          val stmtMark = if (inTx) scala.None else Some(new TxMark)
          try {
            // session/namespace requirements + read-only role gate, checked
            // before execution (dbs/executor.rs context checks; iam/check)
            other match {
              case _: CreateStmt | _: UpdateStmt | _: UpsertStmt | _: DeleteStmt |
                   _: InsertStmt | _: RelateStmt =>
                if (!sessionHasNs) throw SqlError("Specify a namespace to use")
                if (!sessionHasDb) throw SqlError("Specify a database to use")
              case _ => ()
            }
            if (authLevel.contains("viewer")) other match {
              case _: DefineStmt | _: DefineFunctionStmt | _: DefineFieldStmt |
                   _: DefineIndexStmt | _: DefineTableStmt | _: DefineEventStmt |
                   _: DefineUserStmt | _: DefineSequenceStmt | _: DefineRawStmt |
                   _: DefineApiStmt | _: RemoveStmt | _: AlterTableStmt |
                   _: AlterFunctionStmt | _: AlterEventStmt | _: AlterFieldStmt |
                   _: CreateStmt | _: UpdateStmt | _: UpsertStmt | _: DeleteStmt |
                   _: InsertStmt | _: RelateStmt =>
                throw SqlError("IAM error: Not enough permissions to perform this action")
              case _ => ()
            }
            val env = Env(params = globals, interp = Some(this))
            other match {
              case LetStmt(name, kindAnn, what) =>
                if (protectedParams.contains(name))
                  throw SqlError(s"'$name' is a protected variable and cannot be set")
                val v0 = execExprStatementValue(what, env)
                val v = letCoerce(name, kindAnn, v0)
                globals = globals + (name -> v)
                results += QOk(VNone)
              case _ =>
                results += QOk(execStatement(other, env))
                if (inTx && other.isInstanceOf[ReturnStmt]) txReturned = true
            }
          } catch {
            case ReturnSignal(v) =>
              results += QOk(v)
              if (inTx) txReturned = true
            case e: Throwable =>
              val msg = e match {
                case se: SqlError   => se.msg
                case pe: ParseError => pe.getMessage
                case BreakSignal | ContinueSignal =>
                  "Invalid control flow statement, break or continue statement found outside of loop."
                case _ => throw e
              }
              stmtMark.foreach(_.rollback())
              if (inTx) {
                for (i <- txStart until results.length)
                  results(i) match {
                    case QOk(_) => results(i) = QErr(FailedTx)
                    case _      => ()
                  }
                txAborted = true
              }
              results += QErr(msg)
          } finally stmtMark.foreach(_.close())
      }
    } catch { // an exception escaping the loop closes the open mark, rolling nothing back
      case e: Throwable => endTx(rollback = false); throw e
    }
    // EOF with an open transaction: implicit rollback (never reached by the
    // golden corpus, but leaves the catalog consistent for REPL-style use).
    if (inTx) endTx(rollback = true)
    results.toSeq
  }

  /** DDL catalog timeline for INFO … VERSION: a snapshot after every DDL
    * statement; versioned INFO restores the latest snapshot ≤ ts, reads,
    * then restores the present (kvs versionstamped catalog reads). */
  private val ddlSnaps = mutable.ArrayBuffer[(java.time.Instant, DefsSnapshot)]()
  private val emptySnap = new DefsSnapshot // construction-time (empty) catalog

  private def execInfoVersioned(s: InfoStmt, env: Env): V = {
    val ts = Eval.eval(s.version.get, env) match {
      case VDt(i) => i
      case other  => throw SqlError(s"Expected a datetime but found ${other.render}")
    }
    val cur = new DefsSnapshot
    val savedHist = history.toVector
    val savedSnaps = ddlSnaps.toVector
    try {
      ddlSnaps.reverseIterator.find(!_._1.isAfter(ts)).map(_._2)
        .getOrElse(emptySnap).restore()
      execInfo(s.copy(version = scala.None))
    } finally {
      cur.restore()
      history.clear(); history ++= savedHist
      ddlSnaps.clear(); ddlSnaps ++= savedSnaps
    }
  }

  /** Statement evaluation inside expressions/subqueries. */
  def execStatement(stmt: Statement, env: Env): V = {
    val v = execStatement0(stmt, env)
    stmt match {
      case _: DefineTableStmt | _: DefineFieldStmt | _: DefineIndexStmt |
           _: DefineEventStmt | _: DefineUserStmt | _: DefineSequenceStmt |
           _: DefineBucketStmt | _: DefineRawStmt | _: DefineApiStmt |
           _: DefineAnalyzerStmt | _: DefineParamStmt | _: DefineAccessStmt |
           _: RemoveStmt | _: AlterTableStmt | _: AlterFunctionStmt |
           _: AlterEventStmt | _: AlterFieldStmt | _: AlterIndexStmt |
           _: AlterParamStmt | _: AlterAnalyzerStmt | _: AlterAccessStmt |
           _: AlterBucketStmt | _: AlterApiStmt | _: AlterConfigStmt |
           _: AlterUserStmt =>
        ddlSnaps += ((java.time.Instant.now(), new DefsSnapshot))
      case _ => ()
    }
    v
  }

  private def execStatement0(stmt: Statement, env: Env): V = stmt match {
    case ExprStmt(e)   => Eval.eval(e, env)
    case ReturnStmt(e) => Eval.eval(e, env)
    case ExplainStmt(analyze, json, inner) => Explain.run(this, analyze, json, inner, env)
    case s: SelectStmt if s.explain && legacyPlanner =>
      Explain.legacy(this, s.copy(explain = false, explainFull = false), env,
        full = s.explainFull)
    case s: SelectStmt if s.explain =>
      Explain.run(this, s.explainFull, json = true, s.copy(explain = false, explainFull = false), env)
    case s: SelectStmt =>
      // type::field/fields OMIT markers bind to the session env here
      val sx = if (s.omit.exists(_.startsWith(" ")))
        s.copy(omit = expandIdxFields(s.omit, env)) else s
      execSelect(sx, env)
    case s: CreateStmt => checkApiDeadline(); checkStmtTimeout(s.timeout, env); suppressIfImport(execCreate(s, env))
    case s: UpdateStmt if s.explain => Explain.legacyMut(this, s.what, s.where, env)
    case s: UpsertStmt if s.explain => Explain.legacyMut(this, s.what, s.where, env, defer = true)
    case s: DeleteStmt if s.explain => Explain.legacyMut(this, s.what, s.where, env)
    case s: UpdateStmt => checkApiDeadline(); checkStmtTimeout(s.timeout, env); suppressIfImport(execUpdate(s.only, s.what, s.data, s.where, s.output, env, upsert = false))
    case s: UpsertStmt => checkApiDeadline(); checkStmtTimeout(s.timeout, env); suppressIfImport(execUpdate(s.only, s.what, s.data, s.where, s.output, env, upsert = true))
    case s: DeleteStmt => checkApiDeadline(); checkStmtTimeout(s.timeout, env); suppressIfImport(execDelete(s, env))
    case s: InsertStmt => checkApiDeadline(); suppressIfImport(execInsert(s, env))
    case s: RelateStmt => checkApiDeadline(); suppressIfImport(execRelate(s, env))
    case s: LiveStmt => execLive(s, env)
    case s: KillStmt => execKill(s, env)
    case s: ShowChangesStmt => execShowChanges(s, env)
    case IfStmt(branches, otherwise) =>
      Eval.eval(IfExpr(branches, otherwise), env)
    case ForStmt(param, iterable, block) =>
      val items = Eval.eval(iterable, env) match {
        case VArr(its) => its
        case r: VRng   => Coerce.rangeToArray(r).map(_.items).getOrElse(Vector.empty)
        case other     => throw SqlError(s"Expected a array but found ${other.render}")
      }
      items.foreach { it =>
        try runLoopBody(block.stmts, env.bind(param, it))
        catch {
          case BreakSignal    => return VNone
          case ContinueSignal => ()
        }
      }
      VNone
    case LetStmt(name, kindAnn, what) =>
      if (protectedParams.contains(name))
        throw SqlError(s"'$name' is a protected variable and cannot be set")
      val v0 = execExprStatementValue(what, env)
      val v = kindAnn.map(Coerce.coerce(_, v0)).getOrElse(v0)
      globals = globals + (name -> v)
      VNone
    case ThrowStmt(e) =>
      throw SqlError(s"An error occurred: ${Eval.eval(e, env).renderRaw}")
    case BreakStmt    => throw BreakSignal
    case ContinueStmt => throw ContinueSignal
    case d: DefineStmt => execDefine(d); VNone
    case s: DefineFunctionStmt => execDefineFunction(s.copy(comment = rc(s.comment, env))); VNone
    case f: DefineFieldStmt => execDefineField(resolveFieldNames(f, env)); VNone
    case ix: DefineIndexStmt =>
      val fs = expandIdxFields(ix.fields, env)
      execDefineIndex(ix.copy(name = rn(ix.name, env),
        table = rn(ix.table, env), fields = fs,
        meta = ix.meta.map(m => m.copy(name = rn(m.name, env),
          table = rn(m.table, env), fields = fs)))); VNone
    case s: DefineTableStmt => execDefineTable(s.copy(d = s.d.copy(name = rn(s.d.name, env),
      comment = rc(s.d.comment, env)))); VNone
    case s: DefineEventStmt => execDefineEvent(s.copy(d = s.d.copy(name = rn(s.d.name, env),
      table = rn(s.d.table, env), comment = rc(s.d.comment, env)))); VNone
    case s: DefineUserStmt => execDefineUser(s.copy(d = s.d.copy(name = rn(s.d.name, env),
      comment = rc(s.d.comment, env),
      durToken = rd(Some(s.d.durToken), env).getOrElse("NONE"),
      durSession = rd(Some(s.d.durSession), env).getOrElse("NONE")))); VNone
    case s: DefineSequenceStmt => execDefineSequence(s.copy(d = s.d.copy(name = rn(s.d.name, env))), env); VNone
    case s: DefineRawStmt => execDefineRaw(s.copy(name = rn(s.name, env),
      comment = rc(s.comment, env)), env); VNone
    case s: DefineApiStmt =>
      val pathStr = Eval.eval(s.path, env) match {
        case VStr(p) => p
        case other   => other.renderRaw
      }
      val segs = Api.parsePath(pathStr)
      val sqlPath = Api.pathSql(segs)
      if (ddlGate(apiDefs.contains(sqlPath), s.mode, s"The api '$sqlPath' already exists")) {
        // middleware args bind at define time: the catalog renders their
        // VALUES, not the $param references (parameterized/schema/api)
        val clauses = s.clauses.map { c =>
          c.copy(middleware = c.middleware.map { case (nm, argEs, _) =>
            val rendered = nm + "(" + argEs.map(e =>
              try Render.sql(Eval.eval(e, env))
              catch { case _: SqlError => Explain.exprSql(e) }).mkString(", ") + ")"
            (nm, argEs.map(e => try Lit(Eval.eval(e, env)): Expr
              catch { case _: SqlError => e }), rendered)
          })
        }
        val fallback = clauses.find(_.methods.contains("any"))
        val actions = clauses.filterNot(_.methods.contains("any"))
        apiDefs(sqlPath) = Api.RtDef(sqlPath, segs, actions, fallback, rc(s.comment, env))
      }
      VNone
    case s: DefineApiConfigStmt =>
      if (ddlGate(configs.contains("api"), s.mode, "The config for api already exists")) {
        configs("api") = VStr(Api.renderConfig(s.middleware, s.permsRaw))
        apiGlobalMw = s.middleware
        apiGlobalPerms = s.permsRaw
      }
      VNone
    case s: DefineBucketStmt => execDefineBucket(s.copy(name = rn(s.name, env)), env); VNone
    case s: RemoveStmt => execRemove(s.copy(name = rn(s.name, env),
      onTable = s.onTable.map(rn(_, env)))); VNone
    case s: AlterTableStmt => execAlterTable(s); VNone
    case s: DefineAnalyzerStmt => execDefineAnalyzer(s.copy(d = s.d.copy(
      name = rn(s.d.name, env), comment = rc(s.d.comment, env)))); VNone
    case s: DefineParamStmt => execDefineParam(s.copy(d = s.d.copy(
      name = rn(s.d.name, env), comment = rc(s.d.comment, env)))); VNone
    case s: DefineAccessStmt => execDefineAccess(s.copy(d = s.d.copy(
      name = rn(s.d.name, env), comment = rc(s.d.comment, env),
      durGrant = rd(s.d.durGrant, env), durToken = rd(s.d.durToken, env),
      durSession = rd(s.d.durSession, env)),
      keyRaw = s.keyRaw.map(rn(_, env)),
      issuerKeyRaw = s.issuerKeyRaw.map(rn(_, env)))); VNone
    case s0: AlterFunctionStmt =>
      val s = s0.copy(name = rn(s0.name, env), comment = s0.comment.map(_.flatMap(c => rc(Some(c), env))))
      execAlterFunction(s); VNone
    case s0: AlterEventStmt =>
      val s = s0.copy(name = rn(s0.name, env), table = rn(s0.table, env),
        comment = s0.comment.map(_.flatMap(c => rc(Some(c), env))))
      execAlterEvent(s); VNone
    case s0: AlterFieldStmt =>
      val s = s0.copy(table = rn(s0.table, env),
        comment = s0.comment.map(_.flatMap(c => rc(Some(c), env))))
      execAlterField(s); VNone
    case s0: AlterIndexStmt =>
      val s = s0.copy(name = rn(s0.name, env), table = rn(s0.table, env),
        comment = s0.comment.map(_.flatMap(c => rc(Some(c), env))))
      execAlterIndex(s); VNone
    case s0: AlterParamStmt =>
      val s = s0.copy(comment = s0.comment.map(_.flatMap(c => rc(Some(c), env))))
      execAlterParam(s, env); VNone
    case s0: AlterAnalyzerStmt =>
      val s = s0.copy(name = rn(s0.name, env),
        comment = s0.comment.map(_.flatMap(c => rc(Some(c), env))))
      execAlterAnalyzer(s); VNone
    case s0: AlterAccessStmt =>
      val s = s0.copy(name = rn(s0.name, env),
        comment = s0.comment.map(_.flatMap(c => rc(Some(c), env))),
        durGrant = s0.durGrant.map(rd(_, env)), durToken = s0.durToken.map(rd(_, env)),
        durSession = s0.durSession.map(rd(_, env)))
      execAlterAccess(s); VNone
    case s0: AlterBucketStmt =>
      val s = s0.copy(name = rn(s0.name, env),
        comment = s0.comment.map(_.flatMap(c => rc(Some(c), env))))
      execAlterBucket(s); VNone
    case s0: AlterUserStmt =>
      val s = s0.copy(name = rn(s0.name, env),
        comment = s0.comment.map(_.flatMap(c => rc(Some(c), env))),
        durToken = s0.durToken.map(rd(_, env)), durSession = s0.durSession.map(rd(_, env)))
      execAlterUser(s); VNone
    case s: AlterApiStmt => execAlterApi(s, env); VNone
    case s: AccessStmt => execAccess(s.copy(name = rn(s.name, env)), env)
    case s: AlterConfigStmt => execAlterConfig(s); VNone
    case s: AlterSystemStmt =>
      if (s.compact && !compactSupported)
        throw SqlError("The storage layer does not support compaction requests.")
      s.queryTimeout.foreach {
        case Some((secs, nanos)) => systemQueryTimeout = Some(VDur(secs, nanos))
        case scala.None          => systemQueryTimeout = scala.None
      }
      VNone
    case s: AlterCompactStmt =>
      if (s.level != "SEQUENCE" && !compactSupported)
        throw SqlError("The storage layer does not support compaction requests.")
      VNone
    case s: AlterSequenceStmt =>
      sequences.get(s.name) match {
        case Some(d) =>
          s.timeout.foreach(t => sequences(s.name) = d.copy(timeout = t))
        case scala.None =>
          if (!s.ifExists) throw SqlError(s"The sequence '${s.name}' does not exist")
      }
      VNone
    case s: RebuildIndexStmt =>
      if (!indexDefs.contains((s.table, s.name))) {
        if (!s.ifExists) throw SqlError(s"The index '${s.name}' does not exist")
      } else indexBuildInfo((s.table, s.name)) =
        tables.get(s.table).map(_.size.toLong).getOrElse(0L)
      VNone
    case s0: InfoStmt if s0.version.isDefined =>
      execInfoVersioned(s0.copy(target = rn(s0.target, env)), env)
    case s0: InfoStmt => execInfo(s0.copy(target = rn(s0.target, env)))
    case u: UseStmt =>
      val before = (curNs, curDb)
      u.ns.foreach { n => curNs = n; sessionHasNs = true }
      u.db.foreach { d => curDb = d; sessionHasDb = true }
      if (before != ((curNs, curDb))) {
        swapDbState(before, (curNs, curDb))
        val defs = new DefsSnapshot
        journalAdd(UseUndo(before, (curNs, curDb), () => defs.restore()))
      }
      // USE reports the resulting session target (statements/use) — an
      // explicitly selected EMPTY name reports '' (parsing/idents)
      VObj(TreeMap(
        "database" -> (if (curDb.isEmpty && !sessionHasDb) VNone else VStr(curDb): V),
        "namespace" -> (if (curNs.isEmpty && !sessionHasNs) VNone else VStr(curNs): V)))
    case s: OptionStmt =>
      // OPTION IMPORT: bulk-import mode — mutation statements suppress
      // their output (executor import handling; option/import_indexes)
      if (s.name.equalsIgnoreCase("IMPORT")) importMode = s.value
      VNone
    case BeginStmt | CommitStmt | CancelStmt => VNone
  }

  // ---- DDL (DEFINE / REMOVE / ALTER / INFO) ----------------------------

  /** Resolve a `$param` reference in a definition-name position. */
  private def rn(n: String, env: Env): String =
    if (n.startsWith("$"))
      Eval.eval(Param(n.substring(1)), env) match {
        case VStr(s)   => s
        case VTable(s) => s
        case other     => other.renderRaw
      }
    else n

  /** Resolve a `$param` duration to its canonical render; NONE drops it. */
  private def rd(d: Option[String], env: Env): Option[String] =
    d.flatMap { t =>
      if (t.startsWith("$"))
        Eval.eval(Param(t.substring(1)), env) match {
          case dur: VDur => Some(Render.sql(dur))
          case VNone | VNull => scala.None
          case other => Some(other.renderRaw)
        }
      else Some(t)
    }

  /** Resolve a COMMENT value; a `$param` that evaluates to NONE/NULL drops
    * the comment entirely (the reference stores comment as an Expr and
    * omits it when it computes to None). */
  private def rc(c: Option[String], env: Env): Option[String] =
    c.flatMap { n =>
      if (n.startsWith("$"))
        Eval.eval(Param(n.substring(1)), env) match {
          case VNone | VNull => scala.None
          case VStr(s)       => Some(s)
          case other         => Some(other.renderRaw)
        }
      else Some(n)
    }

  private def resolveFieldNames(f: DefineFieldStmt, env: Env): DefineFieldStmt =
    f.copy(field = rn(f.field, env), table = rn(f.table, env),
      meta = f.meta.map(m => m.copy(name = rn(m.name, env), table = rn(m.table, env),
        comment = rc(m.comment, env))))

  /** `mode`: "" errors on duplicates, "ifnotexists" no-ops, "overwrite"
    * replaces (sql/statements/define DefineKind; remove.rs errors). */
  private def ddlGate(exists: Boolean, mode: String, already: => String): Boolean = {
    if (exists) {
      mode match {
        // bulk IMPORT overwrites existing definitions by default
        // (import/overwrite-by-default; executor import handling)
        case "" if importMode => true
        case ""            => throw SqlError(already)
        case "ifnotexists" => false
        case "overwrite"   => true
      }
    } else true
  }

  private def execDefineFunction(s: DefineFunctionStmt): Unit = {
    val key = s.name.stripPrefix("fn::")
    val full = if (s.name.startsWith("fn::")) s.name else "fn::" + s.name
    if (ddlGate(functionDefs.contains(full), s.mode, s"The function '$full' already exists")) {
      customFns(key) = VClosure(s.params, s.body, scala.None, Map.empty)
      // an empty body block prints as `{;}` (sql Block Display: zero
      // statements emit the bare separator — upgrade/define/function golden)
      val body0 = Defs.normRaw(s.bodyRaw).replace("; }", " }")
      val body = if (body0.replaceAll("[\\s{}]", "").isEmpty) "{;}" else body0
      functionDefs(full) = Defs.FnDef(full, s.paramsRaw, s.returnsRaw, body, s.comment, s.perms)
    }
  }

  /** Subtype-kind agreement: defining `parent.*`/`parent.x`/`parent[i]`
    * with an explicit TYPE must match the child kind the parent's TYPE
    * implies (define/field.rs mismatch check). Comparison is exact up to
    * option-unwrapping and either-flattening; `any` on either side passes. */
  private def checkSubtypeMismatch(f: DefineFieldStmt): Unit = {
    import Kind._
    val declared = f.kind.getOrElse(return)
    // split "a.b[0].*" → parent "a.b[0]" + last segment
    val name = f.field
    val (parent, seg) = {
      val di = name.lastIndexOf('.')
      val bi = name.lastIndexOf('[')
      if (di < 0 && bi < 0) return
      if (bi > di) (name.substring(0, bi), name.substring(bi)) // "[i]"
      else (name.substring(0, di), name.substring(di + 1))     // "*" or field
    }
    val parentDef = fieldPipeline.getOrElse(f.table, Vector.empty)
      .find(_.field == parent).getOrElse(return)
    val parentKind = parentDef.kind.getOrElse(return)
    def flat(k: Kind): Vector[Kind] = k match {
      case KEither(ks) => ks.toVector.flatMap(flat)
      case KOption(i)  => flat(i)
      case other       => Vector(other)
    }
    val mismatch = new Exception with scala.util.control.NoStackTrace
    // child kinds implied by one parent member; None = unconstrained
    def childOf(m: Kind): Option[Vector[Kind]] = (m, seg) match {
      case (KAny, _) => scala.None
      case (KArray(inner, _), "*") => Some(Vector(inner.getOrElse(KAny)))
      case (KSet(inner, _), "*")   => Some(Vector(inner.getOrElse(KAny)))
      case (KArray(inner, max), s) if s.startsWith("[") =>
        val i = s.stripPrefix("[").stripSuffix("]").toLong
        if (max.exists(i >= _)) throw mismatch else Some(Vector(inner.getOrElse(KAny)))
      case (KSet(inner, max), s) if s.startsWith("[") =>
        val i = s.stripPrefix("[").stripSuffix("]").toLong
        if (max.exists(i >= _)) throw mismatch else Some(Vector(inner.getOrElse(KAny)))
      case (KLiteralArr(items), "*") => Some(items.toVector)
      case (KLiteralArr(items), s) if s.startsWith("[") =>
        val i = s.stripPrefix("[").stripSuffix("]").toInt
        if (i < items.length) Some(Vector(items(i))) else throw mismatch
      case (KLiteralObj(fields), "*") => Some(fields.map(_._2).toVector)
      case (KLiteralObj(fields), fn) if !fn.startsWith("[") =>
        fields.find(_._1 == fn) match {
          case Some((_, k)) => Some(Vector(k))
          case scala.None   => throw mismatch
        }
      case (KObject, s) if !s.startsWith("[") => scala.None
      case _ => throw mismatch
    }
    val err = {
      val declRaw = f.meta.flatMap(_.kindRaw).getOrElse("")
      val parRaw = parentDef.meta.flatMap(_.kindRaw).getOrElse("")
      SqlError(s"Cannot set field `$name` with type `$declRaw` as it mismatched " +
        s"with field `$parent` with type `$parRaw`")
    }
    try {
      val members = flat(parentKind)
      val constrained = members.flatMap(childOf)
      if (constrained.nonEmpty) {
        val expected = constrained.flatten.flatMap(flat).distinct
        val decl = flat(declared).distinct
        val ok = decl.contains(KAny) || expected.contains(KAny) ||
          (expected.toSet == decl.toSet)
        if (!ok) throw mismatch
      }
    } catch { case `mismatch` => throw err }
  }

  private def execDefineField(f: DefineFieldStmt): Unit = {
    val key = (f.table, f.field)
    if (f.computed.isDefined) {
      // COMPUTED restrictions (catalog/schema/field.rs + define/field.rs)
      if (f.field == "id") throw SqlError("Cannot use the `COMPUTED` keyword on the `id` field.")
      if (f.value.isDefined) throw SqlError("Cannot use the `VALUE` keyword with `COMPUTED`.")
      if (f.assert.isDefined) throw SqlError("Cannot use the `ASSERT` keyword with `COMPUTED`.")
      if (f.default.isDefined) throw SqlError("Cannot use the `DEFAULT` keyword with `COMPUTED`.")
      if (f.meta.exists(_.referenceRaw.isDefined)) throw SqlError("Cannot use the `REFERENCE` keyword with `COMPUTED`.")
      if (f.readonly) throw SqlError("Cannot use the `READONLY` keyword with `COMPUTED`.")
      if (f.field.contains('.'))
        throw SqlError(s"Cannot define field `${f.field}` as `COMPUTED` fields must be top-level.")
      fieldPipeline.getOrElse(f.table, Vector.empty)
        .find(d => d.field.startsWith(f.field + ".")).foreach { nested =>
          throw SqlError(s"Cannot define field `${f.field}` as `COMPUTED` since a nested field `${nested.field}` already exists.")
        }
      indexDefs.collect { case ((t, _), d) if t == f.table => d }
        .find(_.fields.exists(ff => ff == f.field || ff.startsWith(f.field + ".") || ff.startsWith(f.field + "[")))
        .foreach { idx =>
          throw SqlError(s"Computed fields cannot be indexed. Index: '${idx.name}' - Field: '${f.field}'")
        }
    }
    if (f.field.contains('.')) {
      val parent = f.field.takeWhile(_ != '.')
      if (fieldPipeline.getOrElse(f.table, Vector.empty).exists(d => d.field == parent && d.computed.isDefined))
        throw SqlError(s"Cannot define nested field `${f.field}` as parent field `$parent` is a `COMPUTED` field.")
    }
    if (f.flexible && !tableDefs.get(f.table).exists(_.full))
      throw SqlError("An error occurred: FLEXIBLE can only be used in SCHEMAFULL tables")
    if (f.meta.exists(_.referenceRaw.isDefined)) {
      // REFERENCE restrictions (define/field.rs): root-level fields only,
      // and the type must be record-only (possibly wrapped/unioned)
      if (f.field.contains('.') || f.field.contains('['))
        throw SqlError(s"Cannot use the `REFERENCE` keyword on nested field `${f.field}`. " +
          "Specify a referencing field at the root level instead.")
      def recordOnly(k: Kind): Boolean = k match {
        case Kind.KRecord(_) => true
        case Kind.KOption(inner) => recordOnly(inner)
        case Kind.KArray(inner, _) => inner.forall(recordOnly)
        case Kind.KSet(inner, _) => inner.forall(recordOnly)
        case Kind.KEither(ks) => ks.forall(recordOnly)
        case _ => false
      }
      f.kind.foreach { k =>
        if (!recordOnly(k))
          throw SqlError(s"Cannot use the `REFERENCE` keyword with `TYPE ${f.meta.flatMap(_.kindRaw).getOrElse(Explain.kindSql(k))}`. " +
            "Specify only a `record` type, or a type containing only records, instead.")
      }
    }
    checkSubtypeMismatch(f)
    // `id` TYPE must be a valid record-id key kind at top level (nested
    // kinds are unrestricted) — define/field.rs id-kind validation
    if (f.field == "id") f.kind.foreach { k =>
      import Kind._
      def bad(k: Kind): Option[String] = k match {
        case KEither(ks) => ks.flatMap(bad).headOption
        case KRange => Some("range")
        case KFunction => Some("function")
        case KFile => Some("file")
        case _: KGeometry => Some("geometry")
        case KNone => Some("none")
        case KNull => Some("null")
        case KBool => Some("bool")
        case KBytes => Some("bytes")
        case KDatetime => Some("datetime")
        case KDecimal => Some("decimal")
        case KDuration => Some("duration")
        case KFloat => Some("float")
        case KRegex => Some("regex")
        case _: KRecord => Some("record")
        case KOption(i) => Some("option")
        case _ => scala.None
      }
      bad(k).foreach(n => throw SqlError(
        s"Cannot use the `$n` type on the `id` field, as that's not a valid record id key."))
    }
    if (ddlGate(fieldDefs2.contains(key) && !autoFields.contains(key), f.mode,
        s"The field '${f.field}' already exists")) {
      autoFields.remove(key)
      // an explicit in/out record<> field on a RELATION table re-types the
      // relation itself (catalog/schema keeps them in sync)
      if (f.field == "in" || f.field == "out") f.kind.foreach {
        case Kind.KRecord(tables) if tables.nonEmpty =>
          tableDefs.get(f.table).filter(_.ttype == "RELATION").foreach { d =>
            tableDefs(f.table) =
              if (f.field == "in") d.copy(relIn = tables) else d.copy(relOut = tables)
          }
        case _ => ()
      }
      val next = fieldPipeline.getOrElse(f.table, Vector.empty).filterNot(_.field == f.field) :+ f
      checkComputedCycles(next)
      fieldPipeline(f.table) = next
      f.meta.foreach(fieldDefs2(key) = _)
      table(f.table) // schema definition brings the table into existence
      // array<K>/set<K> register recursive subtype fields `name.*` TYPE K
      // (define/field.rs process_recursive_definitions; skips bare `array`
      // whose inner kind is `any`)
      // the element kind unions across EITHER arms: each array/set arm
      // contributes its element type, nested eithers flatten in arm order
      // (define/field/recursive_types: array<float|array<bool>> | set<number>
      // → `.*` TYPE float | array<bool> | number)
      def innerOf(k: Kind): Option[Kind] = {
        def arms(x: Kind): Seq[Kind] = x match {
          case Kind.KEither(ks) => ks.flatMap(arms)
          case other            => Seq(other)
        }
        val elems = arms(k).flatMap {
          case Kind.KArray(inner, _) => arms(inner.getOrElse(Kind.KAny))
          case Kind.KSet(inner, _)   => arms(inner.getOrElse(Kind.KAny))
          case _                     => Nil
        }
        elems.distinct match {
          case Seq()    => scala.None
          case Seq(one) => Some(one)
          case many     => Some(Kind.KEither(many))
        }
      }
      var curName = f.field
      var curInner = f.kind.flatMap(innerOf)
      while (curInner.isDefined && curInner.get != Kind.KAny) {
        val k = curInner.get
        curName = curName + ".*"
        val subKey = (f.table, curName)
        val kindTxt = Explain.kindSql(k)
        val subMeta = fieldDefs2.get(subKey) match {
          case Some(d)    => d.copy(kindRaw = Some(kindTxt))
          case scala.None => Defs.FieldDef(curName, f.table, kindRaw = Some(kindTxt))
        }
        if (!fieldDefs2.contains(subKey)) autoFields += subKey
        fieldDefs2(subKey) = subMeta
        val pipe = fieldPipeline.getOrElse(f.table, Vector.empty)
        if (pipe.exists(_.field == curName))
          // an explicit child def keeps its clauses/permissions; only the
          // KIND is overwritten by the parent's recursive definition
          fieldPipeline(f.table) = pipe.map {
            case d if d.field == curName => d.copy(kind = Some(k), meta = Some(subMeta))
            case d => d
          }
        else
          fieldPipeline(f.table) = pipe :+ DefineFieldStmt(curName, f.table,
            Some(k), false, scala.None, scala.None, false, scala.None, "",
            false, Some(subMeta))
        curInner = innerOf(k)
      }
    }
  }

  /** Field names referenced by a computed expression — bare idioms and
    * `$this.x` / `$this['x']` accesses (doc compute-phase dependency graph). */
  private def exprFieldDeps(e: Expr): Set[String] = {
    val out = mutable.HashSet[String]()
    def goParts(ps: Seq[Part]): Unit = {
      ps match {
        case PField(n) +: _ => out += n
        case PStart(Param("this" | "self")) +: PField(n) +: _ => out += n
        case PStart(Param("this" | "self")) +: PIndex(Lit(VStr(n))) +: _ => out += n
        case _ => ()
      }
      ps.foreach {
        case PStart(inner)   => go(inner)
        case PIndex(inner)   => go(inner)
        case PWhere(inner)   => go(inner)
        case PMethod(_, as)  => as.foreach(go)
        case PDestructure(fs) => fs.foreach(_._2.foreach(goParts))
        case g: PGraph       => g.cond.foreach(go)
        case PRecurse(_, _, _, nest, _) => nest.foreach(goParts)
        case _ => ()
      }
    }
    def go(e: Expr): Unit = e match {
      case Idiom(ps)        => goParts(ps)
      case Binary(_, l, r)  => go(l); go(r)
      case Prefix(_, x)     => go(x)
      case Cast(_, x)       => go(x)
      case FnCall(_, as)    => as.foreach(go)
      case ArrLit(xs)       => xs.foreach(go)
      case ObjLit(fs)       => fs.foreach { case (_, v) => go(v) }
      case RidLit(_, k)     => go(k)
      case RangeLit(lo, hi) => lo.foreach(b => go(b._1)); hi.foreach(b => go(b._1))
      case Closure(_, b, _) => go(b)
      case IfExpr(bs, o)    => bs.foreach { case (c, v) => go(c); go(v) }; o.foreach(go)
      case Subquery(_) | BlockExpr(_) => ()
      case _ => ()
    }
    go(e)
    out.toSet
  }

  /** Detect cycles among computed fields of one table at DEFINE time
    * (error contract: "Cyclic dependency detected among computed fields:
    * a -> b -> a"). */
  private def checkComputedCycles(defs: Vector[DefineFieldStmt]): Unit = {
    val computed = defs.flatMap(d => d.computed.map(c => d.field -> exprFieldDeps(c))).toMap
    if (computed.isEmpty) return
    val visiting = mutable.LinkedHashSet[String]()
    val done = mutable.HashSet[String]()
    def dfs(n: String): Unit = {
      if (done(n) || !computed.contains(n)) return
      if (visiting(n)) {
        val path = visiting.toVector.dropWhile(_ != n) :+ n
        throw SqlError(s"Cyclic dependency detected among computed fields: ${path.mkString(" -> ")}")
      }
      visiting += n
      computed(n).toSeq.sorted.foreach(dfs)
      visiting -= n
      done += n
    }
    computed.keys.toSeq.sorted.foreach(dfs)
  }

  /** Topologically-ordered computed-field definitions for a table. */
  private def computedOrder(tb: String): Vector[DefineFieldStmt] = {
    val defs = fieldPipeline.getOrElse(tb, Vector.empty).filter(_.computed.isDefined)
    if (defs.isEmpty) return defs
    val byName = defs.map(d => d.field -> d).toMap
    val seen = mutable.LinkedHashSet[String]()
    def visit(n: String): Unit = byName.get(n).foreach { d =>
      if (!seen(n)) {
        exprFieldDeps(d.computed.get).toSeq.sorted.foreach(dep => if (dep != n) visit(dep))
        seen += n
      }
    }
    defs.foreach(d => visit(d.field))
    seen.toVector.flatMap(byName.get)
  }

  /** Whether an index field path resolves against the table's schema —
    * SCHEMAFULL DEFINE INDEX requires it (define/index.rs field check).
    * `object`/`any` kinds are open; literal object/array kinds must contain
    * the segment; array kinds accept `*`/`[i]` into their element kind. */
  private def indexFieldResolvable(tb: String, path: String): Boolean = {
    import Kind._
    // tokenize a.b[0].* → ["a", "b", "[0]", "*"]
    val segs = mutable.ArrayBuffer[String]()
    var cur = new StringBuilder
    var i = 0
    while (i < path.length) {
      path.charAt(i) match {
        case '.' => if (cur.nonEmpty) { segs += cur.toString; cur = new StringBuilder }
        case '[' =>
          if (cur.nonEmpty) { segs += cur.toString; cur = new StringBuilder }
          val j = path.indexOf(']', i)
          segs += path.substring(i, j + 1); i = j
        case c => cur.append(c)
      }
      i += 1
    }
    if (cur.nonEmpty) segs += cur.toString
    def joined(n: Int): String = {
      val sb = new StringBuilder(segs.head)
      segs.slice(1, n).foreach { s =>
        if (s.startsWith("[")) sb.append(s) else sb.append('.').append(s)
      }
      sb.toString
    }
    def walk(k: Kind, rest: List[String]): Boolean = rest match {
      case Nil => true
      case seg :: more => k match {
        case KAny | KObject => true
        case KOption(inner) => walk(inner, rest)
        case KEither(ks) => ks.exists(walk(_, rest))
        case KLiteralObj(fs) if seg == "*" => fs.exists(f => walk(f._2, more))
        case KLiteralObj(fs) if !seg.startsWith("[") => fs.find(_._1 == seg).exists(f => walk(f._2, more))
        case KArray(inner, _) if seg == "*" || seg.startsWith("[") => walk(inner.getOrElse(KAny), more)
        case KSet(inner, _) if seg == "*" || seg.startsWith("[") => walk(inner.getOrElse(KAny), more)
        case KLiteralArr(items) if seg == "*" => items.exists(walk(_, more))
        case KLiteralArr(items) if seg.startsWith("[") =>
          val ix = seg.stripPrefix("[").stripSuffix("]").toIntOption.getOrElse(-1)
          items.lift(ix).exists(walk(_, more))
        case _ => false
      }
    }
    val pipe = fieldPipeline.getOrElse(tb, Vector.empty)
    if (segs.headOption.exists(Set("id", "in", "out"))) return true
    (segs.length to 1 by -1).exists { n =>
      val prefix = joined(n)
      pipe.find(_.field == prefix) match {
        case Some(fd) =>
          if (n == segs.length) true
          else walk(fd.kind.getOrElse(KAny), segs.drop(n).toList)
        case scala.None => false
      }
    }
  }

  private def execDefineIndex(ix: DefineIndexStmt): Unit = {
    val key = (ix.table, ix.name)
    // computed fields cannot be indexed (either definition order)
    fieldPipeline.getOrElse(ix.table, Vector.empty).filter(_.computed.isDefined).foreach { cf =>
      if (ix.fields.exists(ff => ff == cf.field || ff.startsWith(cf.field + ".") || ff.startsWith(cf.field + "[")))
        throw SqlError(s"Computed fields cannot be indexed. Index: '${ix.name}' - Field: '${cf.field}'")
    }
    if (ddlGate(indexDefs.contains(key), ix.mode, s"The index '${ix.name}' already exists")) {
      // SCHEMAFULL tables require every indexed path to resolve in the schema
      if (tableDefs.get(ix.table).exists(_.full)) ix.fields.foreach { fpath =>
        if (!indexFieldResolvable(ix.table, fpath))
          throw SqlError(s"The field '$fpath' does not exist")
      }
      if (ix.unique && !ix.concurrently) {
        // index build scans existing rows: a pre-existing duplicate fails
        // the build and leaves the index unregistered (idx building)
        val seen = mutable.HashMap[Vector[V], VRid]()
        tables.getOrElse(ix.table, mutable.LinkedHashMap.empty).foreach { case (k, doc) =>
          val vals = ix.fields.map(f => idxFieldValue(doc, f))
          // any-NONE/NULL tuples index under the non-unique key format with
          // no uniqueness check (idx/index.rs index_unique) — same rule as
          // the mutation-time check below
          if (vals.forall(v => v != VNone && v != VNull)) {
            val rid = doc.fields.get("id") match {
              case Some(r: VRid) => r; case _ => VRid(ix.table, k)
            }
            indexEntryFan(ix.fields, vals).foreach { entry =>
              seen.get(entry.toVector) match {
                case Some(holder) =>
                  val shown = if (entry.length == 1) entry.head.render else VArr(entry.toVector).render
                  throw SqlError(s"Database index `${ix.name}` already contains $shown, with record `${Render.sql(holder)}`")
                case scala.None => seen(entry.toVector) = rid
              }
            }
          }
        }
        uniqueIndexes(ix.table) =
          uniqueIndexes.getOrElse(ix.table, Vector.empty).filterNot(_._1 == ix.name) :+ ((ix.name, ix.fields))
      }
      if (ix.unique && ix.concurrently) {
        // CONCURRENTLY defers the build: a pre-existing duplicate doesn't
        // fail the statement — the background build errors and INFO FOR
        // INDEX reports it (multiple_unique_existing_concurrently)
        val seen = mutable.HashMap[Vector[V], VRid]()
        var err: Option[String] = scala.None
        tables.getOrElse(ix.table, mutable.LinkedHashMap.empty).foreach { case (k, doc) =>
          if (err.isEmpty) {
            val vals = ix.fields.map(f => idxFieldValue(doc, f))
            if (vals.forall(v => v != VNone && v != VNull)) {
              val rid = doc.fields.get("id") match {
                case Some(r: VRid) => r; case _ => VRid(ix.table, k)
              }
              indexEntryFan(ix.fields, vals).foreach { entry =>
                seen.get(entry.toVector) match {
                  case Some(holder) if err.isEmpty =>
                    val shown = if (entry.length == 1) entry.head.render else VArr(entry.toVector).render
                    err = Some(s"Database index `${ix.name}` already contains $shown, with record `${Render.sql(holder)}`")
                  case _ => seen(entry.toVector) = rid
                }
              }
            }
          }
        }
        err match {
          case Some(m) => indexBuildError(key) = m
          case scala.None =>
            indexBuildError.remove(key)
            uniqueIndexes(ix.table) =
              uniqueIndexes.getOrElse(ix.table, Vector.empty).filterNot(_._1 == ix.name) :+ ((ix.name, ix.fields))
        }
      } else indexBuildError.remove(key)
      ix.meta.foreach(indexDefs(key) = _)
      indexBuildInfo(key) = tables.get(ix.table).map(_.size.toLong).getOrElse(0L)
      table(ix.table)
    }
  }

  private def execDefineTable(s: DefineTableStmt): Unit = {
    val name = s.d.name
    if (ddlGate(tableDefs.contains(name), s.mode, s"The table '$name' already exists")) {
      tableDefs(name) = s.d
      table(name)
      // RELATION IN/OUT clauses register in/out field definitions
      // (catalog/table.rs Relation → record<…> fields)
      if (s.d.ttype == "RELATION") {
        def rel(fieldName: String, targets: Seq[String]): Unit = if (targets.nonEmpty) {
          val kindRaw = s"record<${targets.mkString(" | ")}>"
          val kind = Kind.KRecord(targets)
          val meta = Defs.FieldDef(fieldName, name, kindRaw = Some(kindRaw))
          val stmt = DefineFieldStmt(fieldName, name, Some(kind), flexible = false,
            scala.None, scala.None, defaultAlways = false, scala.None, "", readonly = false,
            Some(meta))
          fieldPipeline(name) =
            fieldPipeline.getOrElse(name, Vector.empty).filterNot(_.field == fieldName) :+ stmt
          fieldDefs2((name, fieldName)) = meta
        }
        rel("in", s.d.relIn)
        rel("out", s.d.relOut)
      }
    }
  }

  private def execDefineEvent(s: DefineEventStmt): Unit = {
    val key = (s.d.table, s.d.name)
    if (ddlGate(eventDefs.contains(key), s.mode, s"The event '${s.d.name}' already exists")) {
      eventDefs(key) = s.d
      table(s.d.table)
    }
  }

  private def execDefineUser(s: DefineUserStmt): Unit = {
    val reg = s.d.level match {
      case "ROOT"      => rootUsers
      case "NAMESPACE" => nsUsers
      case _           => dbUsers
    }
    val levelName = s.d.level match {
      case "ROOT" => "root"; case "NAMESPACE" => "namespace"; case _ => "database"
    }
    if (s.d.level == "DATABASE" && !sessionHasDb)
      throw SqlError("Specify a database to use")
    if (s.d.level == "NAMESPACE" && !sessionHasNs)
      throw SqlError("Specify a namespace to use")
    // a function body running under a DB-level auth ceiling cannot define
    // users above its level (iam: auth_limit; alter_auth_limit_escalation)
    activeFnCeiling.foreach { c =>
      val rank = Map("DATABASE" -> 0, "NAMESPACE" -> 1, "ROOT" -> 2)
      if (rank.getOrElse(s.d.level, 0) > rank.getOrElse(c, 2))
        throw SqlError("IAM error: Not enough permissions to perform this action")
    }
    if (ddlGate(reg.contains(s.d.name), s.mode, s"The $levelName user '${s.d.name}' already exists"))
      reg(s.d.name) = s.d
  }

  private def execDefineSequence(s: DefineSequenceStmt, env: Env): Unit = {
    var d = s.d
    s.batchE.foreach(e => d = d.copy(batch = Eval.eval(e, env) match {
      case VInt(n) => n
      case other => throw SqlError(s"Expected a int but found ${other.render}")
    }))
    s.startE.foreach(e => d = d.copy(start = Eval.eval(e, env) match {
      case VInt(n) => n
      case other => throw SqlError(s"Expected a int but found ${other.render}")
    }))
    s.timeoutE.foreach(e => d = d.copy(timeout = Some(Eval.eval(e, env) match {
      case dd: VDur => Render.sql(dd)
      case other => throw SqlError(s"Expected a duration but found ${other.render}")
    })))
    if (ddlGate(sequences.contains(d.name), s.mode, s"The sequence '${d.name}' already exists"))
      sequences(d.name) = d
  }

  private def execDefineRaw(s: DefineRawStmt, env: Env): Unit = s.what match {
    case "NAMESPACE" =>
      if (ddlGate(namespaces.contains(s.name), s.mode, s"The namespace '${s.name}' already exists"))
        namespaces(s.name) = s"DEFINE NAMESPACE ${Defs.escIdent(s.name)}" +
          s.comment.map(c => " COMMENT " + Render.sql(VStr(c))).getOrElse("")
    case "DATABASE" =>
      if (ddlGate(databases.contains(s.name), s.mode, s"The database '${s.name}' already exists")) {
        databases(s.name) = s"DEFINE DATABASE ${Defs.escIdent(s.name)}" +
          s.comment.map(c => " COMMENT " + Render.sql(VStr(c))).getOrElse("")
        if (s.rendered == "STRICT") strictDbs += s.name
      }
    case "CONFIG" if s.name == "default" =>
      // DEFINE CONFIG DEFAULT NAMESPACE x DATABASE y lives at ROOT level
      // (remove/config/default golden; define/config/default.rs)
      if (ddlGate(rootDefaultConfig.isDefined, s.mode, "The config for default already exists")) {
        // NAMESPACE/DATABASE values may be $params or quoted strings —
        // they bind at define time (parameterized/schema/config)
        def tok(t: String): String =
          if (t.startsWith("$")) Eval.eval(Param(t.drop(1)), env) match {
            case VStr(x) => x
            case other   => other.renderRaw
          }
          else t.stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\"")
        val ns = "(?i)NAMESPACE\\s+(\\S+)".r.findFirstMatchIn(s.rendered).map(m => tok(m.group(1)))
        val db = "(?i)DATABASE\\s+(\\S+)".r.findFirstMatchIn(s.rendered).map(m => tok(m.group(1)))
        rootDefaultConfig = Some((ns.getOrElse(""), db.getOrElse("")))
      }
    case "CONFIG" =>
      if (ddlGate(configs.contains(s.name), s.mode, s"The config for ${s.name} already exists")) {
        configs(s.name) = s.name match {
          case "api"     => V.obj("permissions" -> VBool(true))
          case "graphql" =>
            VStr(if (s.rendered.nonEmpty) s.rendered else "GRAPHQL TABLES NONE FUNCTIONS NONE")
          case _         => V.obj()
        }
      }
    case _ => () // BUCKET/API/MODULE/MODEL … — registered loosely via execDefine
  }

  private def userMissing(level: String, name: String): String = level match {
    case "DATABASE"  => s"The user '$name' does not exist in the database '$curDb'"
    case "NAMESPACE" => s"The user '$name' does not exist in the namespace '$curNs'"
    case _           => s"The root user '$name' does not exist"
  }

  /** ACCESS … GRANT/SHOW/REVOKE/PURGE over bearer-capable access methods
    * (expr/statements/access.rs; grants are in-memory catalog rows). */
  private def execAccess(s: AccessStmt, env: Env): V = {
    val level = s.level.getOrElse(
      if (sessionHasDb) "DATABASE" else if (sessionHasNs) "NAMESPACE" else "ROOT")
    val d = accesses.getOrElse((level, s.name),
      throw SqlError(if (level == "ROOT") s"The root access method '${s.name}' does not exist"
        else accessMissing(level, s.name)))
    def redact(g: VObj): VObj = g.fields.get("grant") match {
      case Some(go: VObj) => VObj(g.fields.updated("grant", VObj(go.fields.updated("key", VStr("[REDACTED]")))))
      case _ => g
    }
    s.op match {
      case "GRANT" =>
        if (!d.canIssueGrants)
          throw SqlError(s"The access method cannot issue grants")
        val subject: V = s.subjectKind match {
          case "USER" =>
            val reg = level match {
              case "ROOT" => rootUsers; case "NAMESPACE" => nsUsers; case _ => dbUsers
            }
            if (!reg.contains(s.subject)) throw SqlError(userMissing(level, s.subject))
            V.obj("user" -> VStr(s.subject))
          case _ =>
            V.obj("record" -> (try Parser.parseValue(s.subject)
              catch { case _: Exception => VStr(s.subject): V }))
        }
        val id = grantToken(12)
        val key = "surreal-bearer-" + id + "-" + grantToken(24)
        val creation = java.time.Instant.now()
        val expiration: V = d.durGrant match {
          case Some(txt) =>
            try Parser.parseValue(txt) match {
              case VDur(secs, nanos) => VDt(creation.plusSeconds(secs).plusNanos(nanos.toLong))
              case _ => VNone
            } catch { case _: Exception => VNone }
          case scala.None => VNone
        }
        val grant = V.obj(
          "ac" -> VStr(s.name),
          "creation" -> VDt(creation),
          "expiration" -> expiration,
          "grant" -> V.obj("id" -> VStr(id), "key" -> VStr(key)),
          "revocation" -> VNone,
          "subject" -> subject,
          "type" -> VStr(if (d.kind == "BEARER") "bearer" else "refresh"))
        accessGrants((level, s.name)) =
          accessGrants.getOrElse((level, s.name), Vector.empty) :+ grant
        grant
      case "SHOW" =>
        val gs = accessGrants.getOrElse((level, s.name), Vector.empty)
        // WHERE conds evaluate per grant against the REDACTED grant object
        // as the current document (access.rs:580-603)
        def condMatch(g: VObj): Boolean =
          Eval.eval(s.selectorExpr.getOrElse(throw SqlError(
            "Missing WHERE condition in ACCESS statement")),
            env.copy(doc = Some(redact(g)))).truthy
        val sel: Vector[VObj] = s.selector match {
          case "ALL" => gs
          case g if g.startsWith("GRANT ") =>
            val id = g.stripPrefix("GRANT ")
            gs.filter(_.fields.get("grant").exists {
              case go: VObj => go.fields.get("id").contains(VStr(id)); case _ => false
            })
          case _ => gs.filter(condMatch)
        }
        VArr(sel.map(g => redact(g): V))
      case "REVOKE" =>
        val gs = accessGrants.getOrElse((level, s.name), Vector.empty)
        val nowDt = VDt(java.time.Instant.now())
        def condMatch(g: VObj): Boolean =
          Eval.eval(s.selectorExpr.getOrElse(throw SqlError(
            "Missing WHERE condition in ACCESS statement")),
            env.copy(doc = Some(redact(g)))).truthy
        val (hit, rest) = s.selector match {
          case "ALL" => (gs, Vector.empty[VObj])
          case g if g.startsWith("GRANT ") =>
            val id = g.stripPrefix("GRANT ")
            gs.partition(_.fields.get("grant").exists {
              case go: VObj => go.fields.get("id").contains(VStr(id)); case _ => false
            })
          case _ => gs.partition(condMatch)
        }
        val revoked = hit.map((g => VObj(g.fields.updated("revocation", nowDt))))
        accessGrants((level, s.name)) = rest ++ revoked
        VArr(revoked.map(g => redact(g): V))
      case _ => // PURGE
        val gs = accessGrants.getOrElse((level, s.name), Vector.empty)
        val now = java.time.Instant.now()
        // FOR <dur> grace window: purge only grants expired/revoked MORE
        // than `grace` seconds ago — strictly greater, whole seconds, and
        // never for future timestamps (access.rs:887-896)
        val graceSecs: Long = s.purgeFor.map { txt =>
          try Parser.parseValue(txt) match {
            case VDur(secs, _) => secs
            case _ => 0L
          } catch { case _: Exception => 0L }
        }.getOrElse(0L)
        def pastGrace(t: java.time.Instant): Boolean =
          now.getEpochSecond >= t.getEpochSecond &&
            (now.getEpochSecond - t.getEpochSecond) > graceSecs
        val (purged, kept) = gs.partition { g =>
          val expired = g.fields.get("expiration").exists {
            case VDt(t) => pastGrace(t); case _ => false
          }
          val revoked = g.fields.get("revocation").exists {
            case VDt(t) => pastGrace(t); case _ => false
          }
          (s.purgeExpired && expired) || (s.purgeRevoked && revoked)
        }
        accessGrants((level, s.name)) = kept
        VArr(purged.map(g => redact(g): V))
    }
  }

  // ---- LIVE / KILL / SHOW CHANGES ---------------------------------------

  /** Registered live subscriptions (expr/statements/live.rs — node/table lq
    * keys; here a session registry the write path notifies). */
  val liveQueries = mutable.LinkedHashMap[java.util.UUID, LiveStmt]()

  private def execLive(s: LiveStmt, env: Env): V = {
    val tableName = s.what match {
      case Idiom(Seq(PField(n))) => n
      case TableRef(n)           => n
      case e => Eval.eval(e, env) match {
        case VTable(n) => n
        case VStr(n)   => n
        case other =>
          throw SqlError(s"Cannot execute LIVE statement using value: ${other.render}")
      }
    }
    val id = java.util.UUID.randomUUID()
    liveQueries(id) = s.copy(what = TableRef(tableName))
    VUuid(id)
  }

  private def execKill(s: KillStmt, env: Env): V = {
    val idV = Eval.eval(s.id, env)
    val uuid = idV match {
      case VUuid(u) => Some(u)
      case VStr(str) =>
        try Some(java.util.UUID.fromString(str))
        catch { case _: IllegalArgumentException => scala.None }
      case _ => scala.None
    }
    uuid.filter(liveQueries.contains) match {
      case Some(u) => liveQueries.remove(u); VNone
      case scala.None =>
        throw SqlError(s"Cannot execute KILL statement using id: ${idV.render}")
    }
  }

  /** SHOW CHANGES … SINCE reads the versioned write log (the same log
    * VERSION time-travel uses) shaped as the reference's changefeed rows
    * (cf/mutations.rs:123-185: {versionstamp, changes:[{update}|{delete}]}).
    * Only CHANGEFEED-enabled tables feed it; versionstamps step by 65536
    * per write, as the reference's per-commit stamps do. */
  private def execShowChanges(s: ShowChangesStmt, env: Env): V = {
    def feedEnabled(tb: String) = tableDefs.get(tb).exists(_.changefeed.isDefined)
    val sinceV = Eval.eval(s.since, env)
    val limit = s.limit.map(e => Eval.eval(e, env) match {
      case n: VNum => n.toDouble.toInt
      case other => throw SqlError(s"Expected an integer but found ${other.render}")
    }).getOrElse(Int.MaxValue)
    def vs(i: Int): Long = (i.toLong + 1) * 65536L
    val entries = history.zipWithIndex.filter { case ((_, tb, _, _), _) =>
      s.table match {
        case Some(t)    => tb == t && feedEnabled(t)
        case scala.None => feedEnabled(tb)
      }
    }
    val afterSince = sinceV match {
      case VDt(ts) => entries.filter { case ((t, _, _, _), _) => !t.isBefore(ts) }
      case n: VNum =>
        val v = n.toDouble.toLong
        entries.filter { case (_, i) => vs(i) >= v }
      case other =>
        throw SqlError(s"Expected a datetime or versionstamp but found ${other.render}")
    }
    VArr(afterSince.take(limit).map { case ((_, tb, k, doc), i) =>
      val change: V = doc match {
        case Some(d)    => V.obj("update" -> (d: V))
        case scala.None => V.obj("delete" -> V.obj("id" -> (VRid(tb, k): V)))
      }
      V.obj("versionstamp" -> VInt(vs(i)), "changes" -> VArr(Vector(change))): V
    }.toVector)
  }

  /** Missing-access error, level-qualified (expr/statements/define/access.rs). */
  private def accessMissing(level: String, name: String): String = level match {
    case "DATABASE"  => s"The access method '$name' does not exist in the database '$curDb'"
    case "NAMESPACE" => s"The access method '$name' does not exist in the namespace '$curNs'"
    case _           => s"The access method '$name' does not exist"
  }

  private def execDefineAccess(s: DefineAccessStmt): Unit = {
    val d = s.d
    // IF NOT EXISTS no-ops BEFORE algorithm validation (define/access.rs)
    if (s.mode == "ifnotexists" && accesses.contains((d.level, d.name))) return
    // unsupported/invalid algorithm checks (sql/algorithm.rs)
    (s.algorithm.toSeq ++ s.issuerAlgorithm.toSeq).foreach {
      case "ES512" => throw SqlError(
        "The ES512 algorithm is not currently supported. Please use ES384 or another supported algorithm")
      case _ => ()
    }
    for (alg <- s.algorithm; key <- s.keyRaw; iss <- s.issuerKeyRaw)
      if (alg.startsWith("HS") && key != iss)
        throw SqlError(s"Invalid query: Symmetric algorithm $alg requires the same key for signing " +
          "and verification. Use the same key value for both KEY and WITH ISSUER KEY clauses, " +
          "or omit WITH ISSUER KEY.")
    val already = d.level match {
      case "DATABASE" => s"The access method '${d.name}' already exists in the database '$curDb'"
      case "NAMESPACE" => s"The access method '${d.name}' already exists in the namespace '$curNs'"
      case _ => s"The access method '${d.name}' already exists"
    }
    if (ddlGate(accesses.contains((d.level, d.name)), s.mode, already))
      accesses((d.level, d.name)) = d
  }

  private def execDefineAnalyzer(s: DefineAnalyzerStmt): Unit =
    if (ddlGate(analyzers.contains(s.d.name), s.mode, s"The analyzer '${s.d.name}' already exists"))
      analyzers(s.d.name) = s.d

  /** DEFINE PARAM value timeline — VERSION queries resolve $params at the
    * versioned timestamp (select/version_param_resolution). */
  val paramLog = mutable.ArrayBuffer[(java.time.Instant, String, V)]()

  /** Param value as of the active VERSION snapshot (falls back to HEAD). */
  def versionedParam(name: String): Option[V] = versionAsOf match {
    case Some(ts) =>
      paramLog.filter(e => e._2 == name && !e._1.isAfter(ts)).lastOption.map(_._3)
        .orElse(dbParams.get(name))
    case scala.None => dbParams.get(name)
  }

  private def execDefineParam(s: DefineParamStmt): Unit =
    if (ddlGate(paramDefs.contains(s.d.name), s.mode, s"The param '$$${s.d.name}' already exists")) {
      paramDefs(s.d.name) = s.d
      s.value.foreach { e =>
        val v = Eval.eval(e, Env(params = globals, interp = Some(this)))
        dbParams(s.d.name) = v
        paramLog += ((java.time.Instant.now(), s.d.name, v))
      }
    }

  private def execDefineBucket(s: DefineBucketStmt, env: Env): Unit =
    if (ddlGate(buckets.contains(s.name), s.mode, s"The bucket '${s.name}' already exists")) {
      val backendTxt = s.backend.map(e => Eval.eval(e, env))
      backendTxt.foreach {
        case VStr(url) if url.startsWith("file:") =>
          // filesystem backends are behind a capability gate (buc/manager.rs)
          throw SqlError(s"File access denied: ${url.stripPrefix("file:")}")
        case VStr(url) if url != "memory" && !url.startsWith("memory") =>
          throw SqlError("Bucket backend is not supported")
        case _ => ()
      }
      val commentTxt = s.comment.map(e => Eval.eval(e, env))
      val b = new BucketRt(s.readonly, backendTxt.map(Render.sql), s.perm,
        commentTxt.collect { case v if v != VNone => v.renderRaw })
      b.name = s.name
      buckets(s.name) = b
    }

  private def execRemove(s: RemoveStmt): Unit = {
    def gone(exists: Boolean, missing: => String)(drop: => Unit): Unit =
      if (exists) drop
      else if (!s.ifExists) throw SqlError(missing)
    s.what match {
      case "TABLE" =>
        gone(tableDefs.contains(s.name) || tables.contains(s.name), s"The table '${s.name}' does not exist") {
          val dependents = tableDefs.values.filter(d =>
            d.viewStmt.exists(_.what.exists {
              case Idiom(Seq(PField(n))) => n == s.name
              case _ => false
            })).map(_.name).toSeq
          if (dependents.nonEmpty)
            throw SqlError(s"Invalid query: Cannot delete table `${s.name}` on which a view is defined, " +
              s"table(s) `${dependents.mkString("`, `")}` are defined as a view on this table.")
          dropTable(s.name); tableDefs.remove(s.name)
          fieldPipeline.remove(s.name); uniqueIndexes.remove(s.name)
          fieldDefs2.keys.filter(_._1 == s.name).toSeq.foreach(fieldDefs2.remove)
          indexDefs.keys.filter(_._1 == s.name).toSeq.foreach(indexDefs.remove)
          eventDefs.keys.filter(_._1 == s.name).toSeq.foreach(eventDefs.remove)
        }
      case "FIELD" =>
        val tb = s.onTable.getOrElse("")
        gone(fieldDefs2.contains((tb, s.name)), s"The field '${s.name}' does not exist") {
          fieldDefs2.remove((tb, s.name))
          fieldPipeline(tb) = fieldPipeline.getOrElse(tb, Vector.empty).filterNot(_.field == s.name)
        }
      case "INDEX" =>
        val tb = s.onTable.getOrElse("")
        gone(indexDefs.contains((tb, s.name)), s"The index '${s.name}' does not exist") {
          indexDefs.remove((tb, s.name))
          uniqueIndexes(tb) = uniqueIndexes.getOrElse(tb, Vector.empty).filterNot(_._1 == s.name)
        }
      case "EVENT" =>
        val tb = s.onTable.getOrElse("")
        gone(eventDefs.contains((tb, s.name)), s"The event '${s.name}' does not exist") {
          eventDefs.remove((tb, s.name))
        }
      case "PARAM" =>
        gone(paramDefs.contains(s.name), s"The param '$$${s.name}' does not exist") {
          paramDefs.remove(s.name)
          dbParams.remove(s.name)
          globals = globals - s.name
        }
      case "FUNCTION" =>
        val full = if (s.name.startsWith("fn::")) s.name else "fn::" + s.name
        gone(functionDefs.contains(full), s"The function '$full' does not exist") {
          functionDefs.remove(full)
          customFns.remove(full.stripPrefix("fn::"))
        }
      case "NAMESPACE" | "NS" =>
        gone(namespaces.contains(s.name), s"The namespace '${s.name}' does not exist") {
          namespaces.remove(s.name)
        }
      case "DATABASE" | "DB" =>
        gone(databases.contains(s.name), s"The database '${s.name}' does not exist") {
          databases.remove(s.name)
          strictDbs -= s.name
        }
      case "ANALYZER" =>
        gone(analyzers.contains(s.name), s"The analyzer '${s.name}' does not exist") {
          analyzers.remove(s.name)
        }
      case "BUCKET" =>
        gone(buckets.contains(s.name), s"The bucket '${s.name}' does not exist") {
          buckets.remove(s.name)
        }
      case "USER" =>
        val (reg, levelName) = s.onTable match {
          case Some("ROOT")      => (rootUsers, "root")
          case Some("NAMESPACE") => (nsUsers, "namespace")
          case Some("DATABASE")  => (dbUsers, "database")
          case _                 => (rootUsers, "root")
        }
        gone(reg.contains(s.name), s"The $levelName user '${s.name}' does not exist") {
          reg.remove(s.name)
        }
      case "SEQUENCE" =>
        gone(sequences.contains(s.name), s"The sequence '${s.name}' does not exist") {
          sequences.remove(s.name)
        }
      case "ACCESS" =>
        val level = s.onTable.getOrElse("DATABASE")
        val missing = level match {
          case "NAMESPACE" => s"The access method '${s.name}' does not exist in the namespace '$curNs'"
          case "ROOT"      => s"The access method '${s.name}' does not exist"
          case _           => s"The access method '${s.name}' does not exist in the database '$curDb'"
        }
        gone(accesses.contains((level, s.name)), missing) {
          accesses.remove((level, s.name))
        }
      case "CONFIG" =>
        val key = s.name.toLowerCase
        // DEFAULT configs are stored at DB level by ALTER but REMOVE resolves
        // them at Root level (alter/config.rs vs remove/config.rs), where
        // only DEFINE CONFIG DEFAULT registers one
        if (key == "default")
          gone(rootDefaultConfig.isDefined, s"The config for $key does not exist") {
            rootDefaultConfig = scala.None
          }
        else gone(configs.contains(key), s"The config for $key does not exist") {
          configs.remove(key)
          if (key == "api") { apiGlobalMw = Nil; apiGlobalPerms = scala.None }
        }
      case "API" =>
        gone(apiDefs.contains(s.name), s"The api '${s.name}' does not exist") {
          apiDefs.remove(s.name)
        }
      case _ => ()
    }
  }

  // ---- ALTER family (sql/statements/alter/) ------------------------------

  private def execAlterFunction(s: AlterFunctionStmt): Unit = {
    val full = if (s.name.startsWith("fn::")) s.name else "fn::" + s.name
    functionDefs.get(full) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(s"The function '$full' does not exist")
      case Some(d0) =>
        var d = d0
        s.redefine.foreach { r =>
          customFns(full.stripPrefix("fn::")) = VClosure(r.params, r.body, scala.None, Map.empty)
          d = d.copy(paramsRaw = r.paramsRaw, returnsRaw = r.returnsRaw,
            bodyRendered = Defs.normRaw(r.bodyRaw).replace("; }", " }"))
        }
        s.comment.foreach(c => d = d.copy(comment = c))
        s.perms.foreach(p => d = d.copy(perms = p))
        functionDefs(full) = d
        // recompute the auth ceiling from the ALTERING principal: a DB- or
        // NS-level user pins the function to its own privilege level
        authUserLevel match {
          case Some(l @ ("DATABASE" | "NAMESPACE")) => fnAuthCeiling(full) = l
          case _ => fnAuthCeiling.remove(full)
        }
    }
  }

  private def execAlterEvent(s: AlterEventStmt): Unit = {
    eventDefs.get((s.table, s.name)) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(s"The event '${s.name}' does not exist")
      case Some(d0) =>
        var d = d0
        s.when.foreach { case (e, r) => d = d.copy(whenE = Some(e), whenRaw = r) }
        s.thenE.foreach { case (es, r) => d = d.copy(thenE = es, thenRaw = r) }
        s.comment.foreach(c => d = d.copy(comment = c))
        s.async.foreach { a =>
          d = d.copy(async = a)
          if (!a) d = d.copy(retry = scala.None, maxDepth = scala.None)
        }
        s.retry.foreach(r => d = d.copy(retry = Some(r)))
        s.maxDepth.foreach(m => d = d.copy(maxDepth = Some(m)))
        eventDefs((s.table, s.name)) = d
    }
  }

  private def execAlterField(s: AlterFieldStmt): Unit = {
    fieldDefs2.get((s.table, s.field)) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(s"The field '${s.field}' does not exist")
      case Some(d0) =>
        var d = d0
        s.kind.foreach {
          case Some((_, raw)) => d = d.copy(kindRaw = Some(raw))
          case scala.None     => d = d.copy(kindRaw = scala.None)
        }
        s.flexible.foreach(f => d = d.copy(flexible = f))
        s.value.foreach {
          case Some((_, raw)) => d = d.copy(valueRaw = Some(raw))
          case scala.None     => d = d.copy(valueRaw = scala.None)
        }
        s.default.foreach {
          case Some((_, raw, always)) => d = d.copy(defaultRaw = Some(raw), defaultAlways = always)
          case scala.None             => d = d.copy(defaultRaw = scala.None, defaultAlways = false)
        }
        s.assertC.foreach {
          case Some((_, raw)) => d = d.copy(assertRaw = Some(raw))
          case scala.None     => d = d.copy(assertRaw = scala.None)
        }
        s.readonly.foreach(r => d = d.copy(readonly = r))
        s.reference.foreach {
          case Some(raw) => d = d.copy(referenceRaw = Some(if (raw.isEmpty) "ON DELETE IGNORE" else raw))
          case scala.None => d = d.copy(referenceRaw = scala.None)
        }
        s.comment.foreach(c => d = d.copy(comment = c))
        s.perms.foreach(p => d = d.copy(perms = p))
        fieldDefs2((s.table, s.field)) = d
        // the execution pipeline (type coercion / VALUE / ASSERT) follows the
        // stored FieldDef; rebuild the pipeline entry from the altered meta
        val stmt = Parser.parse(d.render + ";").stmts.collectFirst { case f: DefineFieldStmt => f }
        stmt.foreach { f =>
          val vec = fieldPipeline.getOrElse(s.table, Vector.empty)
          val ix = vec.indexWhere(_.field == s.field)
          fieldPipeline(s.table) =
            if (ix >= 0) vec.updated(ix, f.copy(mode = "overwrite"))
            else vec :+ f.copy(mode = "overwrite")
        }
    }
  }

  private def execAlterIndex(s: AlterIndexStmt): Unit = {
    indexDefs.get((s.table, s.name)) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(s"The index '${s.name}' does not exist")
      case Some(d0) =>
        var d = d0
        s.comment.foreach(c => d = d.copy(comment = c))
        s.prepareRemove.foreach(p => d = d.copy(prepareRemove = p))
        indexDefs((s.table, s.name)) = d
    }
  }

  private def execAlterUser(s: AlterUserStmt): Unit = {
    val reg = s.level match {
      case "ROOT" => rootUsers; case "NAMESPACE" => nsUsers; case _ => dbUsers
    }
    val missing = s.level match {
      case "DATABASE"  => s"The user '${s.name}' does not exist in the database '$curDb'"
      case "NAMESPACE" => s"The user '${s.name}' does not exist in the namespace '$curNs'"
      case _           => s"The user '${s.name}' does not exist"
    }
    reg.get(s.name) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(missing)
      case Some(d0) =>
        var d = d0
        s.passhash.foreach(p => d = d.copy(passhash = p))
        s.roles.foreach(r => d = d.copy(roles = r))
        s.durToken.foreach(t => d = d.copy(durToken = t.getOrElse("NONE")))
        s.durSession.foreach(x => d = d.copy(durSession = x.getOrElse("NONE")))
        s.comment.foreach(c => d = d.copy(comment = c))
        reg(s.name) = d
    }
  }

  private def execAlterParam(s: AlterParamStmt, env: Env): Unit = {
    paramDefs.get(s.name) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(s"The param '$$${s.name}' does not exist")
      case Some(d0) =>
        var d = d0
        s.value.foreach { case (e, raw) =>
          d = d.copy(valueRaw = raw)
          dbParams(s.name) = Eval.eval(e, env)
        }
        s.comment.foreach(c => d = d.copy(comment = c))
        s.perms.foreach(p => d = d.copy(perms = p))
        paramDefs(s.name) = d
    }
  }

  private def execAlterAnalyzer(s: AlterAnalyzerStmt): Unit = {
    analyzers.get(s.name) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(s"The analyzer '${s.name}' does not exist")
      case Some(d0) =>
        var d = d0
        s.tokenizers.foreach(t => d = d.copy(tokenizers = t))
        s.filters.foreach(f => d = d.copy(filters = f))
        s.comment.foreach(c => d = d.copy(comment = c))
        analyzers(s.name) = d
    }
  }

  private def execAlterAccess(s: AlterAccessStmt): Unit = {
    accesses.get((s.level, s.name)) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(accessMissing(s.level, s.name))
      case Some(d0) =>
        var d = d0
        s.authenticate.foreach(a => d = d.copy(authenticateRaw = a))
        s.durGrant.foreach(g => d = d.copy(durGrant = g))
        s.durToken.foreach(t => d = d.copy(durToken = t))
        s.durSession.foreach(x => d = d.copy(durSession = x))
        s.comment.foreach(c => d = d.copy(comment = c))
        accesses((s.level, s.name)) = d
    }
  }

  private def execAlterBucket(s: AlterBucketStmt): Unit = {
    buckets.get(s.name) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(s"The bucket '${s.name}' does not exist")
      case Some(b0) =>
        val ro = s.readonly.getOrElse(b0.readonly)
        val pm = s.perms.getOrElse(b0.perms)
        val cm = s.comment.getOrElse(b0.comment)
        buckets(s.name) = b0.copyRt(ro, pm, cm)
    }
  }

  private def execAlterApi(s: AlterApiStmt, env: Env): Unit = {
    val pathStr = Eval.eval(s.path, env) match {
      case VStr(p) => p
      case other   => other.renderRaw
    }
    val segs = Api.parsePath(pathStr)
    val sqlPath = Api.pathSql(segs)
    apiDefs.get(sqlPath) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(s"The api '$sqlPath' does not exist")
      case Some(d0) =>
        var d = d0
        s.comment.foreach(c => d = d.copy(comment = c))
        s.clauses.foreach { case (methods, act) =>
          if (methods.contains("any")) {
            act match {
              case Some((e, raw)) =>
                val fb = d.fallback.getOrElse(ApiClause(Seq("any"), Nil, scala.None, scala.None, ""))
                d = d.copy(fallback = Some(fb.copy(action = Some(e), actionRaw = raw)))
              case scala.None =>
                d = d.copy(fallback = d.fallback.map(_.copy(action = scala.None, actionRaw = "")))
            }
          } else {
            val cleaned = d.actions
              .map(c => c.copy(methods = c.methods.filterNot(methods.contains)))
              .filter(_.methods.nonEmpty)
            act match {
              case Some((e, raw)) =>
                d = d.copy(actions = cleaned :+ ApiClause(methods, Nil, scala.None, Some(e), raw))
              case scala.None => d = d.copy(actions = cleaned)
            }
          }
        }
        apiDefs(sqlPath) = d
    }
  }

  private def execAlterConfig(s: AlterConfigStmt): Unit = s.which match {
    case "default" =>
      // upsert at DB level (alter/config.rs Default handling)
      configs("default") = VStr(s.rendered)
    case key =>
      if (!configs.contains(key)) {
        if (!s.ifExists) throw SqlError(s"The config for $key does not exist")
      } else configs(key) = VStr(s.rendered)
  }

  private def execAlterTable(s: AlterTableStmt): Unit = {
    if (s.compact) {
      if (!compactSupported)
        throw SqlError("The storage layer does not support compaction requests.")
      return
    }
    if (s.name.isEmpty) return
    tableDefs.get(s.name) match {
      case scala.None =>
        if (!s.ifExists) throw SqlError(s"The table '${s.name}' does not exist")
      case Some(d0) =>
        var d = d0
        s.drop.foreach(x => d = d.copy(drop = x))
        s.full.foreach(x => d = d.copy(full = x))
        s.ttype.foreach { case (t, rin, rout, enf) =>
          d = d.copy(ttype = t, relIn = rin, relOut = rout, enforced = enf)
        }
        s.perms.foreach(p => d = d.copy(perms = p))
        s.comment.foreach(c => d = d.copy(comment = c))
        s.changefeed.foreach(c => d = d.copy(changefeed = c))
        tableDefs(s.name) = d
    }
  }

  private def emptyObj: V = VObj(TreeMap.empty)

  /** Structured INFO payload for a canonically-rendered GRAPHQL config
    * (catalog/schema/config.rs InfoStructure: AUTO → 'AUTO', NONE → NONE,
    * limits as ints, introspection only when NONE). */
  private def graphqlStructure(r: String): V = {
    val toks = r.split(' ')
    var i = 1 // skip "GRAPHQL"
    var m = TreeMap[String, V]()
    def spec(): V = toks(i) match {
      case "AUTO" => i += 1; VStr("AUTO")
      case "NONE" => i += 1; VNone
      case inc @ ("INCLUDE" | "EXCLUDE") =>
        i += 1
        val items = scala.collection.mutable.ArrayBuffer[V]()
        var go = true
        while (go && i < toks.length) {
          val t = toks(i)
          items += VTable(if (t.endsWith(",")) t.dropRight(1) else t)
          go = t.endsWith(",")
          i += 1
        }
        VObj(TreeMap(inc.toLowerCase -> VArr(items.toVector)))
      case _ => i += 1; VNone
    }
    while (i < toks.length) toks(i) match {
      case "TABLES"        => i += 1; m += "tables" -> spec()
      case "FUNCTIONS"     => i += 1; m += "functions" -> spec()
      case "DEPTH"         => m += "depth_limit" -> VInt(toks(i + 1).toLong); i += 2
      case "COMPLEXITY"    => m += "complexity_limit" -> VInt(toks(i + 1).toLong); i += 2
      case "INTROSPECTION" => m += "introspection" -> VNone; i += 2
      case _               => i += 1
    }
    VObj(m)
  }

  private def strMap(entries: Iterable[(String, String)]): V =
    VObj(TreeMap(entries.map { case (k, v) => k -> (VStr(v): V) }.toSeq: _*))

  private def permStructure(p: String): V = p match {
    case "FULL" => VBool(true)
    case "NONE" => VBool(false)
    case w      => VStr(w.stripPrefix("WHERE "))
  }

  private def fieldStructure(d: Defs.FieldDef): V = {
    var m = TreeMap[String, V](
      "name" -> VStr(d.name), "table" -> VStr(d.table), "readonly" -> VBool(d.readonly),
      "permissions" -> VObj(TreeMap(d.perms.map { case (a, p) => a -> permStructure(p) }: _*)))
    d.kindRaw.foreach { k =>
      m += "kind" -> VStr(k.takeWhile(c => c != '<').trim match {
        case kk if k.contains('<') => k // keep full generic form
        case kk => kk
      })
    }
    d.defaultRaw.foreach { x =>
      m += "default" -> VStr(x)
      m += "default_always" -> VBool(d.defaultAlways)
    }
    d.valueRaw.foreach(x => m += "value" -> VStr(x))
    d.assertRaw.foreach(x => m += "assert" -> VStr(x))
    VObj(m)
  }

  private def indexStructure(d: Defs.IndexDef): V =
    VObj(TreeMap(
      Seq(
        "cols" -> VArr(d.fields.map(f => VStr(f): V).toVector),
        "index" -> (VStr(if (d.tail.isEmpty) "" else d.tail): V),
        "name" -> (VStr(d.name): V),
        "table" -> (VStr(d.table): V)) ++
        d.comment.map(c => "comment" -> (VStr(c): V)).toSeq ++
        (if (d.prepareRemove) Seq("prepare_remove" -> (VBool(true): V)) else Nil): _*))

  private def sequenceStructure(d: Defs.SequenceDef): V =
    VObj(TreeMap(
      "batch" -> VStr(d.batch.toString),
      "name" -> VStr(d.name),
      "start" -> VStr(d.start.toString),
      "timeout" -> d.timeout.map(t =>
        try Parser.parseValue(t) catch { case _: Exception => VStr(t): V }).getOrElse(VNone)))

  /** INFO … STRUCTURE table row (catalog TableDefinition::structure). */
  private def tableStructure(d: Defs.TableDef, id: Int): V = {
    def permV(s: String): V = s.toUpperCase match {
      case "FULL" => VBool(true)
      case "NONE" => VBool(false)
      case _      => VStr(s)
    }
    val pm = d.perms.toMap
    val kindObj: V = d.ttype match {
      case "RELATION" =>
        val b = TreeMap.newBuilder[String, V]
        b += ("kind" -> VStr("RELATION"))
        if (d.relIn.nonEmpty) b += ("in" -> VArr(d.relIn.map(VStr(_): V).toVector))
        if (d.relOut.nonEmpty) b += ("out" -> VArr(d.relOut.map(VStr(_): V).toVector))
        if (d.enforced) b += ("enforced" -> VBool(true))
        VObj(b.result())
      case t => VObj(TreeMap("kind" -> (VStr(t): V)))
    }
    V.obj(
      "drop" -> VBool(d.drop), "id" -> VInt(id), "kind" -> kindObj,
      "name" -> VStr(d.name),
      "permissions" -> VObj(TreeMap(Seq("create", "delete", "select", "update")
        .map(k => k -> permV(pm.getOrElse(k, "NONE"))): _*)),
      "schemafull" -> VBool(d.full))
  }

  def execInfo(s: InfoStmt): V = s.level match {
    case "DB" if s.structure =>
      VObj(TreeMap(
        "accesses" -> VArr(Vector.empty),
        "analyzers" -> VArr(Vector.empty),
        "apis" -> VArr(Vector.empty),
        "buckets" -> VArr(Vector.empty),
        "configs" -> VArr(configs.map { case (n, v) =>
          val sv = (n, v) match {
            case ("graphql", VStr(r)) => graphqlStructure(r)
            case ("api", VStr(r)) =>
              // API config structure: PERMISSIONS FULL/NONE → bool
              V.obj("permissions" -> (
                if (r.contains("PERMISSIONS NONE")) VBool(false) else VBool(true)))
            case (_, other)           => other
          }
          VObj(TreeMap(n -> sv)): V
        }.toVector),
        "functions" -> VArr(Vector.empty),
        "models" -> VArr(Vector.empty),
        "modules" -> VArr(Vector.empty),
        "params" -> VArr(Vector.empty),
        "sequences" -> VArr(sequences.values.map(sequenceStructure).toVector),
        "tables" -> VArr(tableDefs.values.zipWithIndex
          .map { case (d, i) => tableStructure(d, i) }.toVector),
        "users" -> VArr(Vector.empty)))
    case "TABLE" if s.structure =>
      val tb = s.target
      VObj(TreeMap(
        "events" -> VArr(Vector.empty),
        "fields" -> VArr(fieldDefs2.toSeq.collect { case ((t, n), d) if t == tb => (n, d) }
          .sortBy(_._1).map(x => fieldStructure(x._2)).toVector),
        "indexes" -> VArr(indexDefs.collect { case ((t, _), d) if t == tb => indexStructure(d) }.toVector),
        "lives" -> VArr(Vector.empty),
        "tables" -> VArr(Vector.empty)))
    case "ROOT" =>
      VObj(TreeMap(
        "accesses" -> strMap(accesses.collect { case (("ROOT", n), d) => n -> d.render }),
        "config" -> VObj(TreeMap(systemQueryTimeout.toSeq.map(d => "QUERY_TIMEOUT" -> (d: V)): _*)),
        "defaults" -> rootDefaultConfig.map { case (ns, db) =>
          VObj(TreeMap("database" -> (VStr(db): V), "namespace" -> (VStr(ns): V))): V
        }.getOrElse(emptyObj),
        "namespaces" -> strMap(namespaces),
        "nodes" -> emptyObj,
        "system" -> emptyObj,
        "users" -> strMap(rootUsers.map { case (n, u) => n -> u.render })))
    case "NS" =>
      VObj(TreeMap(
        "accesses" -> strMap(accesses.collect { case (("NAMESPACE", n), d) => n -> d.render }),
        "databases" -> strMap(databases),
        "users" -> strMap(nsUsers.map { case (n, u) => n -> u.render })))
    case "DB" =>
      VObj(TreeMap(
        "accesses" -> strMap(accesses.collect { case (("DATABASE", n), d) => n -> d.render }),
        "analyzers" -> strMap(analyzers.map { case (n, d) => n -> d.render }),
        "apis" -> strMap(apiDefs.map { case (p, d) => p -> Api.render(d) }),
        "buckets" -> strMap(buckets.map { case (n, b) => n -> b.render }),
        "configs" -> VObj(TreeMap(configs.toSeq.map { case (n, v) =>
          val display = n match { case "graphql" => "GraphQL"; case "api" => "API"; case "default" => "Default"; case o => o }
          display -> (v match { case s: VStr => s: V; case other => other })
        }: _*)),
        "functions" -> strMap(functionDefs.map { case (n, d) => n.stripPrefix("fn::") -> d.render }),
        "models" -> emptyObj,
        "modules" -> emptyObj,
        "params" -> strMap(paramDefs.map { case (n, d) => n -> d.render }),
        "sequences" -> strMap(sequences.map { case (n, d) => n -> d.render }),
        "tables" -> strMap(tableDefs.map { case (n, d) => n -> d.render }),
        "users" -> strMap(dbUsers.map { case (n, u) => n -> u.render })))
    case "TABLE" =>
      val tb = s.target
      VObj(TreeMap(
        "events" -> strMap(eventDefs.collect { case ((t, n), d) if t == tb => n -> d.render }),
        "fields" -> strMap(fieldDefs2.collect { case ((t, n), d) if t == tb =>
          // empty path segments keep their backticks in the map key
          n.split("\\.", -1).map(s2 => if (s2.isEmpty) "``" else s2)
            .mkString(".") -> d.render }.toSeq.sortBy(_._1)),
        "indexes" -> strMap(indexDefs.collect { case ((t, n), d) if t == tb => n -> d.render }),
        "lives" -> emptyObj,
        // views (foreign tables) that read this table (doc/table.rs)
        "tables" -> strMap(tableDefs.collect {
          case (n, d) if d.viewStmt.exists(_.what.exists {
            case Idiom(Seq(PField(t))) => t == tb
            case _ => false
          }) => n -> d.render
        })))
    case "USER" =>
      val (uname, lvl) = s.target.split('|') match {
        case Array(n, l) => (n, l)
        case _ => (s.target, "")
      }
      val found = lvl match {
        case "ROOT"      => rootUsers.get(uname)
        case "NAMESPACE" => nsUsers.get(uname)
        case "DATABASE"  => dbUsers.get(uname)
        case _ => rootUsers.get(uname).orElse(nsUsers.get(uname)).orElse(dbUsers.get(uname))
      }
      found match {
        case Some(u) => VStr(u.render)
        case scala.None => throw SqlError(lvl match {
          case "NAMESPACE" => s"The user '$uname' does not exist in the namespace '$curNs'"
          case "DATABASE"  => s"The user '$uname' does not exist in the database '$curDb'"
          case _           => s"The root user '$uname' does not exist"
        })
      }
    case "INDEX" =>
      val Array(ix, tb) = s.target.split(":", 2)
      if (!indexDefs.contains((tb, ix)))
        throw SqlError(s"The index '$ix' does not exist")
      indexBuildError.get((tb, ix)) match {
        case Some(msg) =>
          V.obj("building" -> V.obj(
            "error" -> VStr(msg),
            "status" -> VStr("error")))
        case scala.None =>
          V.obj("building" -> V.obj(
            "initial" -> VInt(indexBuildInfo.getOrElse((tb, ix), 0L)),
            "pending" -> VInt(0),
            "status" -> VStr("ready"),
            "updated" -> VInt(0)))
      }
    case _ => VNone
  }

  private def execExprStatementValue(e: Expr, env: Env): V = Eval.eval(e, env)

  /** Loop-body execution: like a block but RETURN/BREAK/CONTINUE signals
    * propagate to the enclosing loop/block. */
  def runLoopBody(stmts: Seq[Statement], env: Env): Unit = {
    var e = env
    stmts.foreach {
      case LetStmt(name, kindAnn, what) =>
        // protected params stay unassignable inside loop bodies too
        // (reproductions/for_let_fallback_validation)
        if (protectedParams.contains(name))
          throw SqlError(s"'$name' is a protected variable and cannot be set")
        val v0 = Eval.eval(what, e)
        e = e.bind(name, letCoerce(name, kindAnn, v0))
      case ReturnStmt(re) => throw ReturnSignal(Eval.eval(re, e))
      case other => execStatement(other, e)
    }
  }

  /** Block semantics: statements run in order; RETURN short-circuits; the
    * block's value is the last statement's value. LET bindings are local. */
  def runBlock(stmts: Seq[Statement], env: Env): V =
    try runBlockOpen(stmts, env)
    catch { case ReturnSignal(v) => v }

  /** Block body WITHOUT the early-return boundary: RETURN propagates to the
    * enclosing block (IF/ELSE branch blocks are transparent to control
    * flow — if/control_flow golden; reference FlowResult::Return bubbles). */
  def runBlockOpen(stmts: Seq[Statement], env: Env): V = {
    var e = env
    var last: V = VNone
    stmts.foreach { stmt =>
      stmt match {
        case LetStmt(name, kindAnn, what) =>
          val v0 = Eval.eval(what, e)
          e = e.bind(name, letCoerce(name, kindAnn, v0))
          last = VNone
        case ReturnStmt(re) => throw ReturnSignal(Eval.eval(re, e))
        // a nested bare block is transparent: its RETURN breaks the whole
        // enclosing body (return/breaks_nested_execution)
        case ExprStmt(BlockExpr(inner)) => last = runBlockOpen(inner, e)
        case other => last = execStatement(other, e)
      }
    }
    last
  }

  // ---- catalog ---------------------------------------------------------

  def table(name: String): Table =
    tables.getOrElse(name, {
      if (!tableDefs.contains(name))
        tableDefs(name) = Defs.TableDef(name) // implicit tables register a definition
      journalAdd(TablesUndo(tables.toVector))
      val t = new Table
      tables(name) = t
      t
    })

  /** Loose record-key lookup: the first stored key of `t`, in iteration
    * order, that [[V.looseEq]] holds equal to `key` (numbers match across
    * int/float/decimal representations). It compares `key` only with its
    * loose-key bucket ([[Interp.Table]]), so it costs O(bucket), not
    * O(table). A probe holding a regex is a pattern, not a key (stored keys
    * hold none, [[Interp.checkIdKey]]): it matches stored strings by scan. */
  private[surql] def findKeyLoose(t: Table, key: V): Option[V] =
    if (Interp.keyHasRegex(key)) firstLoose(t.keysIterator, key)
    else t.keysLike(key).filter(looseCompare(_, key)) match {
      case Seq()  => scala.None
      case Seq(k) => Some(k)
      case ks     => Some(ks.minBy(t.position))
    }
  /** The scan for regex probes and `VERSION` snapshots (no live table). */
  private def firstLoose(keys: Iterator[V], key: V): Option[V] =
    keys.find(looseCompare(_, key))
  private def looseCompare(stored: V, key: V): Boolean = {
    keysComparedCount += 1
    V.looseEq(stored, key)
  }
  private var keysComparedCount = 0L
  /** Stored keys that record-key lookups, graph hops and edge cascades
    * have compared with a probe since this interpreter was created. */
  def keysCompared: Long = keysComparedCount

  /** Records created by RELATE carry edge metadata (catalog RecordType::Edge,
    * doc/alter.rs:93); only THOSE records pin in/out across updates. A normal
    * table storing record links in fields named in/out keeps user edits.
    * Marks are kept per table under the exact stored key, so callers pass
    * the key the record is stored under (see [[findKeyLoose]]). */
  private val edgeMarks = mutable.HashMap[String, mutable.HashSet[V]]()
  def markEdge(tb: String, key: V): Unit =
    if (markEdge0(tb, key)) journalAdd(MarkUndo(tb, key, added = true))
  def unmarkEdge(tb: String, key: V): Unit =
    if (unmarkEdge0(tb, key)) journalAdd(MarkUndo(tb, key, added = false))
  private def markEdge0(tb: String, key: V): Boolean =
    edgeMarks.getOrElseUpdate(tb, mutable.HashSet.empty).add(key)
  private def unmarkEdge0(tb: String, key: V): Boolean =
    edgeMarks.get(tb).exists { ks =>
      val had = ks.remove(key)
      if (ks.isEmpty) edgeMarks.remove(tb)
      had
    }
  def isEdgeRecord(tb: String, key: V): Boolean =
    tableDefs.get(tb).exists(_.ttype == "RELATION") ||
      edgeMarks.get(tb).exists(_.contains(key))
  /** Every edge mark, as (table, stored key). */
  def edgeMarkSet: Set[(String, V)] =
    edgeMarks.iterator.flatMap { case (tb, ks) => ks.iterator.map(tb -> _) }.toSet

  def fetchRecord(rid: VRid): Option[VObj] = {
    val raw = versionAsOf match {
      case Some(ts) =>
        val vt = versionedTable(rid.table, ts)
        firstLoose(vt.keysIterator, rid.key).map(vt(_))
      case scala.None =>
        tables.get(rid.table).flatMap(t => findKeyLoose(t, rid.key).map(t(_)))
    }
    if (computedOrder(rid.table).isEmpty) raw
    else raw.map(withComputed(rid.table, _, readEnv))
  }

  private def nextId(): V = VStr(Interp.randomId())

  /** Field schema from DEFINE FIELD (TYPE/DEFAULT/VALUE/ASSERT minimal). */
  private val fieldDefs = mutable.LinkedHashMap[(String, String), String]()
  private def execDefine(d: DefineStmt): Unit = {
    if (d.what == "TABLE" && d.name.nonEmpty) table(d.name)
    if (d.what == "FIELD") fieldDefs((d.name, "")) = d.raw
    if (d.what == "PARAM") d.clauses.get("value").foreach { e =>
      dbParams(d.name) = Eval.eval(e, Env(params = globals, interp = Some(this)))
    }
  }

  /** Parameters the user cannot LET (reference PROTECTED_PARAM_NAMES). */
  private val protectedParams = Set("auth", "access", "token", "session")

  /** DEFINE FIELD pipeline (doc/field.rs: DEFAULT → VALUE → TYPE coerce →
    * ASSERT → READONLY) applied to a document before it is stored. */
  /** Set while applying REPLACE data: readonly fields error instead of
    * restoring (doc/field.rs). Reset after each pipeline run. */
  private var replaceSemantics = false

  def applyFieldPipeline(tb: String, rid: VRid, doc: VObj, before: Option[VObj],
      isCreate: Boolean, env: Env): VObj = try {
    Interp.stripNoneKeys(applyFieldPipeline0(tb, rid, doc, before, isCreate, env))
  } finally replaceSemantics = false

  private def applyFieldPipeline0(tb: String, rid: VRid, doc: VObj, before: Option[VObj],
      isCreate: Boolean, env: Env): VObj = {
    val defs = fieldPipeline.getOrElse(tb, Vector.empty).filter(_.computed.isEmpty)
    var fields = doc.fields
    defs.foreach { fd =>
      // `arr[0]`-style defs address a specific element: expand bracketed
      // indexes into their own path segments (reproductions/5677)
      val path = fd.field.split("\\.", -1).toList.flatMap { s =>
        val i = s.indexOf('[')
        if (i < 0) List(s)
        else {
          val head = s.substring(0, i)
          val idxs = "\\[([0-9*]+)\\]".r.findAllMatchIn(s.substring(i))
            .map(m => if (m.group(1) == "*") "*" else "[" + m.group(1) + "]").toList
          (if (head.nonEmpty) List(head) else Nil) ++ idxs
        }
      }
      def transform(cur: V, segs: List[String], beforeV: V): V = segs match {
        case Nil =>
          var v = cur
          val input = cur
          // the id field's TYPE constrains the record KEY, not the rid value
          if (fd.field == "id") {
            ((fd.kind, cur): @unchecked) match {
              case (Some(k), r: VRid) =>
                try Coerce.coerce(k, r.key)
                catch {
                  case e: SqlError =>
                    throw SqlError(s"Couldn't coerce value for field `id` of `${Render.sql(rid)}`: ${e.msg}")
                }
              case _ => ()
            }
            return v
          }
          // READONLY on existing records runs BEFORE any other clause
          // (doc/field.rs:254): omitted-under-CONTENT restores the old
          // value, any other modification errors, and an unmodified
          // readonly field skips the rest of the pipeline entirely
          if (fd.readonly && !isCreate && before.isDefined) {
            if (!V.looseEq(v, beforeV)) {
              if ((v == VNone || v == VNull) && !replaceSemantics) return beforeV
              throw SqlError(s"Found changed value for field `${fd.field}`, with record `${Render.sql(rid)}`, but field is readonly")
            }
            return v
          }
          // a provided (non-NONE) input coerces against TYPE before the
          // VALUE clause computes (doc/field.rs order)
          if (v != VNone && fd.value.isDefined) fd.kind.foreach { k =>
            try Coerce.coerce(k, v)
            catch {
              case e: SqlError =>
                throw SqlError(s"Couldn't coerce value for field `${fd.field}` of `${Render.sql(rid)}`: ${e.msg}")
            }
          }
          // DEFAULT fills only ABSENT values; NULL is provided (doc/field.rs)
          if (v == VNone && fd.default.isDefined && (isCreate || fd.defaultAlways))
            v = Eval.eval(fd.default.get, env.copy(doc = Some(VObj(fields))))
          fd.value.foreach { ve =>
            v = Eval.eval(ve, env.copy(doc = Some(VObj(fields)))
              .bind("input", input).bind("value", v).bind("before", beforeV)
              .bind("after", v))
          }
          fd.kind.foreach { k =>
            v = try Coerce.coerce(k, v)
            catch {
              case e: SqlError =>
                throw SqlError(s"Couldn't coerce value for field `${fd.field}` of `${Render.sql(rid)}`: ${e.msg}")
            }
          }
          // an optional TYPE skips ASSERT entirely when the value is NONE
          // (doc/field.rs process_assert_clause: Kind::can_be_none)
          val assertSkipped = v == VNone && fd.kind.exists(kindCanBeNone)
          if (!assertSkipped) fd.assert.foreach { ae =>
            val ok = Eval.eval(ae, env.copy(doc = Some(VObj(fields)))
              .bind("value", v).bind("input", input)).truthy
            if (!ok)
              throw SqlError(s"Found ${v.render} for field `${fd.field}`, with record `${Render.sql(rid)}`, but field must conform to: ${Defs.normRaw(fd.assertRaw)}")
          }
          v
        case "*" :: rest => cur match {
          case VArr(items) =>
            val beforeItems = beforeV match { case VArr(bi) => bi; case _ => Vector.empty }
            VArr(items.zipWithIndex.map { case (el, i) =>
              transform(el, rest, beforeItems.lift(i).getOrElse(VNone)) })
          // `obj.*` constrains every VALUE of the object (define_field_dot_star)
          case VObj(fs) =>
            val beforeFs = beforeV match { case o: VObj => o.fields; case _ => TreeMap.empty[String, V] }
            VObj(fs.map { case (k2, el) =>
              k2 -> transform(el, rest, beforeFs.getOrElse(k2, VNone)) })
          case other => other
        }
        // `[N]` element defs fire only when the element EXISTS — an absent
        // index skips the pipeline (doc/field.rs path walk; 5677)
        case seg :: rest if seg.startsWith("[") && seg.endsWith("]") => cur match {
          case VArr(items) =>
            seg.drop(1).dropRight(1).toIntOption match {
              case Some(idx) if idx >= 0 && idx < items.length =>
                val beforeEl = beforeV match {
                  case VArr(b) => b.lift(idx).getOrElse(VNone); case _ => VNone
                }
                VArr(items.updated(idx, transform(items(idx), rest, beforeEl)))
              case _ => cur
            }
          case other => other
        }
        case seg :: rest => cur match {
          case VObj(fs) =>
            val sub = fs.getOrElse(seg, VNone)
            val beforeSub = beforeV match { case VObj(bf) => bf.getOrElse(seg, VNone); case _ => VNone }
            val newSub = transform(sub, rest, beforeSub)
            if (newSub == VNone && !fs.contains(seg)) VObj(fs)
            else VObj(fs.updated(seg, newSub))
          case VNone if rest.isEmpty => VNone
          case other => other
        }
      }
      val beforeRoot = before.map(identity[V]).getOrElse(VNone)
      val result = transform(VObj(fields), path, beforeRoot) match {
        case VObj(fs) => fs
        case _ => fields
      }
      fields = result
    }
    // SCHEMAFULL enforcement (doc/field.rs): every stored field path must be
    // declared, or sit beneath a FLEXIBLE field; id/in/out are implicit
    if (tableDefs.get(tb).exists(_.full)) {
      val defsAll = fieldPipeline.getOrElse(tb, Vector.empty)
      val declared = defsAll.map(_.field).toSet
      val flex = defsAll.filter(_.flexible).map(_.field).toSet
      def flexCovered(p: String): Boolean = {
        val segs = p.split('.')
        (1 to segs.length).exists(i => flex(segs.take(i).mkString(".")))
      }
      def kindOf(p: String): Option[Kind] = defsAll.find(_.field == p).flatMap(_.kind)
      // kinds that admit arbitrary nested content (any / literal kinds);
      // plain `object` stays strict — its keys must be declared
      def coversAny(k: Kind): Boolean = k match {
        case Kind.KAny | _: Kind.KLiteralObj | _: Kind.KLiteralArr | _: Kind.KLiteral => true
        case Kind.KOption(i) => coversAny(i)
        case Kind.KEither(ks) => ks.exists(coversAny)
        case _ => false
      }
      def elemCovered(k: Kind): Boolean = k match {
        case Kind.KArray(inner, _) => inner.forall(coversAny)
        case Kind.KSet(inner, _)   => inner.forall(coversAny)
        case Kind.KOption(i)       => elemCovered(i)
        case Kind.KEither(ks)      => ks.exists(elemCovered)
        case _ => false
      }
      def check(v: V, path: String): Unit = {
        if (path.nonEmpty && kindOf(path).exists(coversAny)) return
        v match {
          case VObj(fs) => fs.foreach { case (k, sub) =>
            val p = if (path.isEmpty) k else s"$path.$k"
            if (path.isEmpty && (k == "id" || k == "in" || k == "out")) ()
            else if (flexCovered(p)) ()
            // a path is implicitly declared when it prefixes a declared field
            // (`obj_limited.a` declared ⇒ `obj_limited` storable)
            else if (!declared(p) && !declared.exists(d => d.startsWith(p + ".") || d.startsWith(p + "[")))
              throw SqlError(s"Found field '$p', but no such field exists for table '$tb'")
            else check(sub, p)
          }
          case VArr(items) =>
            val p = if (path.isEmpty) "*" else s"$path.*"
            if (!kindOf(path).exists(elemCovered))
              items.foreach {
                case o: VObj => check(o, p)
                case a: VArr => check(a, p)
                case _ => ()
              }
          case _ => ()
        }
      }
      check(VObj(fields), "")
    }
    VObj(fields)
  }

  /** Computed fields are VIRTUAL: evaluated in dependency order against the
    * stored document at READ time (so `<~` reverse references and link
    * derefs always see current data). Depth-guarded for cyclic link
    * structures. */
  private var computeDepth = 0

  /** True while a COMPUTED field body evaluates: the planner runs without
    * plan-time catalog context there, so EXPLAIN renders table sources as
    * DynamicScan (planner/select.rs:2223). */
  var planCatalogless: Boolean = false

  /** Lazy COMPUTED evaluation (issue #7094): while a SELECT materializes its
    * source rows this holds the top-level fields the statement can observe;
    * computed fields outside the set never run (an unselected THROW inside a
    * COMPUTED body is unobservable). None = whole document visible. */
  private var computedNeeded: Option[Set[String]] = scala.None

  /** Fields a SELECT statement can observe, or None when it sees the whole
    * document (`*`, bare `$this`, subqueries, blocks — all opaque). */
  private def selectNeededFields(s: SelectStmt): Option[Set[String]] = {
    var opaque = false
    val out = mutable.HashSet[String]()
    def goParts(ps: Seq[Part]): Unit = {
      ps match {
        case PField(n) +: _ => out += n
        case PStart(Param("this" | "self")) +: rest => rest match {
          case PField(n) +: _            => out += n
          case PIndex(Lit(VStr(n))) +: _ => out += n
          case _                         => opaque = true
        }
        case (PAll | PDoc | PFlatten) +: _ => opaque = true
        case PStart(Param(_)) +: _ => () // other params are env values
        case _ => ()
      }
      ps.foreach {
        case PStart(inner)    => go(inner)
        case PIndex(inner)    => go(inner)
        case PWhere(inner)    => go(inner)
        case PMethod(_, as)   => as.foreach(go)
        case PDestructure(fs) => fs.foreach(_._2.foreach(goParts))
        case g: PGraph        => g.cond.foreach(go)
        case PRecurse(_, _, _, nest, _) => nest.foreach(goParts)
        case _ => ()
      }
    }
    def go(e: Expr): Unit = e match {
      case Idiom(ps)        => goParts(ps)
      case Binary(_, l, r)  => go(l); go(r)
      case Prefix(_, x)     => go(x)
      case Cast(_, x)       => go(x)
      case FnCall(_, as)    => as.foreach(go)
      case ArrLit(xs)       => xs.foreach(go)
      case ObjLit(fs)       => fs.foreach { case (_, v) => go(v) }
      case RidLit(_, k)     => go(k)
      case RangeLit(lo, hi) => lo.foreach(b => go(b._1)); hi.foreach(b => go(b._1))
      case Closure(_, b, _) => go(b)
      case IfExpr(bs, o)    => bs.foreach { case (c, v) => go(c); go(v) }; o.foreach(go)
      case Lit(_) | Param(_) | TableRef(_) => ()
      // subqueries/blocks can reach the current document through $this or
      // $parent — treat as whole-document access
      case _ => opaque = true
    }
    s.fields.foreach { f => if (f.isAll) opaque = true else go(f.expr) }
    s.what.foreach {
      case Idiom(Seq(PField(_))) | TableRef(_) => () // the source itself, not a field
      case e => go(e)
    }
    s.where.foreach(go)
    out ++= s.split
    s.groupBy.foreach(_.foreach(go))
    s.order.foreach(k => go(k.expr))
    s.fetch.foreach {
      case Lit(VStr(path)) => out += path.takeWhile(c => c != '.' && c != '[')
      case e => go(e)
    }
    if (opaque) scala.None else Some(out.toSet)
  }

  def withComputed(tb: String, doc: VObj, env: Env): VObj = {
    val defs0 = computedOrder(tb)
    // prune to the observable computed fields plus their transitive
    // computed-field dependencies (defs0 is topologically ordered)
    val defs = computedNeeded match {
      case Some(need) =>
        val keep = mutable.HashSet[String]() ++= need
        defs0.reverse.foreach { d =>
          if (keep(d.field)) keep ++= exprFieldDeps(d.computed.get)
        }
        defs0.filter(d => keep(d.field))
      case scala.None => defs0
    }
    if (defs.isEmpty || computeDepth > 4) return doc
    computeDepth += 1
    try {
      var fields = doc.fields
      defs.foreach { fd =>
        val rid = doc.fields.get("id") match {
          case Some(r: VRid) => r
          case _ => VRid(tb, VNone)
        }
        val v0 = {
          val savedCtx = planCatalogless
          planCatalogless = true
          try Eval.eval(fd.computed.get, env.copy(doc = Some(VObj(fields))))
          finally planCatalogless = savedCtx
        }
        val v = fd.kind match {
          case Some(k) =>
            try Coerce.coerce(k, v0)
            catch {
              case e: SqlError =>
                throw SqlError(s"Couldn't coerce value for field `${fd.field}` of `${Render.sql(rid)}`: ${e.msg}")
            }
          case scala.None => v0
        }
        fields = fields.updated(fd.field, v)
      }
      VObj(fields)
    } finally computeDepth -= 1
  }

  private def readEnv: Env = Env(params = globals, interp = Some(this))

  /** Unique-index enforcement: error if another record holds the same key
    * values (catalog/schema/index.rs; err "Database index … already
    * contains"). */
  /** An array-valued indexed field contributes one index ENTRY per element
    * (multi-value index, idx/entry fan-out) — uniqueness is per entry.
    * Fields with the flatten marker (`tags…`) keep the whole array as ONE
    * entry value instead. */
  private def indexEntryFan(idxFields: Seq[String], vals: Seq[V]): Seq[Seq[V]] =
    idxFields.zip(vals).foldLeft(Seq(Seq.empty[V])) { case (acc, (f, v)) =>
      v match {
        case VArr(items) if !f.endsWith("…") =>
          for (a <- acc; it <- items.distinct) yield a :+ it
        case other => acc.map(_ :+ other)
      }
    }

  /** Indexed-field value, flatten marker stripped. */
  private def idxFieldValue(doc: VObj, f: String): V = {
    val path = f.stripSuffix("…")
    // method-call and array-index segments (id.id().r, id[1]) need full
    // idiom evaluation
    if (path.contains("()") || path.contains("["))
      try {
        val e = Parser.parse("RETURN " + path).stmts.head match {
          case ReturnStmt(x) => x
          case _ => return VNone
        }
        Eval.eval(e, Env(params = globals, interp = Some(this), doc = Some(doc)))
      } catch { case _: Exception => VNone }
    else docFieldPath(doc, path)
  }

  def checkUniqueIndexes(tb: String, rid: VRid, doc: VObj): Unit = {
    uniqueIndexes.getOrElse(tb, Vector.empty).foreach { case (idxName, idxFields) =>
      val vals = idxFields.map(f => idxFieldValue(doc, f))
      // SQL-standard NULL semantics: a tuple with ANY NONE/NULL column never
      // conflicts (NULLs are not equal to each other; reproductions/3290)
      if (vals.forall(v => v != VNone && v != VNull)) {
        findUniqueConflictEntry(tb, rid, idxFields, vals).foreach { case (other, entry) =>
          val shown = if (entry.length == 1) entry.head.render
            else VArr(entry.toVector).render
          throw SqlError(s"Database index `$idxName` already contains $shown, with record `${Render.sql(other)}`")
        }
      }
    }
  }

  /** Find a DIFFERENT record with the same unique-index values. */
  def findUniqueConflict(tb: String, rid: VRid, idxFields: Seq[String], vals: Seq[V]): Option[VRid] =
    findUniqueConflictEntry(tb, rid, idxFields, vals).map(_._1)

  /** Find a different record sharing any fanned index ENTRY, and the entry. */
  private def findUniqueConflictEntry(tb: String, rid: VRid, idxFields: Seq[String],
      vals: Seq[V]): Option[(VRid, Seq[V])] = {
    val mine = indexEntryFan(idxFields, vals)
    table(tb).view.flatMap { case (k, other) =>
      if (V.looseEq(k, rid.key)) scala.None
      else {
        val theirs = indexEntryFan(idxFields, idxFields.map(f => idxFieldValue(other, f)))
        mine.find(e => theirs.exists(t =>
            t.length == e.length && t.zip(e).forall { case (a, b) => V.looseEq(a, b) }))
          .map { entry =>
            (other.fields.get("id") match {
              case Some(r: VRid) => r
              case _ => VRid(tb, k)
            }, entry)
          }
      }
    }.headOption
  }

  def docFieldPath(doc: VObj, path: String): V = {
    def step(v: V, seg: String): V = v match {
      case VObj(fs) => fs.getOrElse(seg, VNone)
      case VArr(items) if seg == "*" => VArr(items)
      case VArr(items) => VArr(items.map(step(_, seg))) // field maps over arrays
      case _ => VNone
    }
    path.split('.').toList.foldLeft[V](doc)(step)
  }

  // ---- FROM resolution -------------------------------------------------

  /** Resolve a FROM/mutation target expression into (table context, rows).
    * Graph semantics: a table name yields all its records; a record id one;
    * a range record id a range scan; arrays/subqueries their elements. */
  /** Records of a table in key order — the reference scans the KV range in
    * key order (exec/operators/scan/table.rs). View tables ("foreign
    * tables", doc/table.rs) recompute their SELECT on read: batch-exact
    * semantics without incremental state. */
  private var viewDepth = 0
  /** True while recomputing a view's SELECT: aggregate functions switch to
    * their incremental (rolling-sum) formulas. */
  var viewAggMode = false
  private def tableRows(name: String): Vector[VObj] = {
    tableDefs.get(name).flatMap(_.viewStmt) match {
      case Some(sel) =>
        if (viewDepth > 8) throw SqlError("Reached excessive computation depth due to functions, subqueries, or computed values")
        viewDepth += 1
        try viewRows(name, sel)
        finally viewDepth -= 1
      case scala.None =>
        val rows = versionAsOf match {
          case Some(ts) =>
            // a VERSION read before the table existed errors like a missing
            // table (kvs versioned reads; reproductions/6541 epoch query)
            if (!history.exists { case (t, tb, _, _) => tb == name && !t.isAfter(ts) })
              throw SqlError(s"The table '$name' does not exist")
            versionedTable(name, ts).toVector.sortBy(_._1)(V.ordering).map(_._2)
          case scala.None =>
            tables.getOrElse(name, throw SqlError(s"The table '$name' does not exist"))
              .toVector.sortBy(_._1)(V.ordering).map(_._2)
        }
        val visible = permFilter(name, rows)
        if (computedOrder(name).isEmpty) visible
        else visible.map(withComputed(name, _, readEnv))
    }
  }

  /** Reconstruct a table's state as of `ts` by replaying the write log. */
  private def versionedTable(name: String, ts: java.time.Instant): mutable.LinkedHashMap[V, VObj] = {
    val m = mutable.LinkedHashMap[V, VObj]()
    history.foreach { case (t, tb, k, doc) =>
      if (tb == name && !t.isAfter(ts)) {
        doc match {
          case Some(d)    => m(k) = d
          case scala.None => m.remove(k)
        }
      }
    }
    m
  }

  /** Materialize a view's rows: grouped views key records by the array of
    * group values (`view:[]` for GROUP ALL), ungrouped views inherit the
    * source record's key. */
  private def viewRows(name: String, sel: SelectStmt): Vector[VObj] = {
    val env = Env(params = globals, interp = Some(this))
    val saved = suppressEmptyGroupAll
    val savedAgg = viewAggMode
    suppressEmptyGroupAll = true
    viewAggMode = true
    // Ungrouped views derive each record's id from the SOURCE record's key
    // (t:1 → view:1) even when the projection drops or aliases `id`
    // (doc/table.rs view ids; reproductions/7134) — smuggle the source id
    // through the projection and strip it after.
    val SrcIdField = "__view_src_id"
    val selAug =
      if (sel.groupBy.isEmpty && !sel.value)
        sel.copy(fields = sel.fields :+
          Field(Idiom(Seq(PField("id"))), Some(SrcIdField)))
      else sel
    val rows = try selectWithGroupKeys(selAug, env)
      finally { suppressEmptyGroupAll = saved; viewAggMode = savedAgg }
    rows.zipWithIndex.flatMap { case ((row, keyOpt), i) =>
      val srcId: Option[V] = row match {
        case VObj(fs) => fs.get(SrcIdField).collect { case VRid(_, k) => k }
        case _ => scala.None
      }
      val key: V = keyOpt match {
        case Some(ks) => VArr(ks.toVector)
        case scala.None => srcId.getOrElse {
          row match {
            case VObj(fs) => fs.get("id") match {
              case Some(VRid(_, k)) => k
              case _ => VInt(i.toLong)
            }
            case _ => VInt(i.toLong)
          }
        }
      }
      row match {
        case VObj(fs) => Some(VObj((fs - SrcIdField).updated("id", VRid(name, key))))
        case _ => scala.None
      }
    }
  }

  private def resolveTarget(e: Expr, env: Env): Vector[V] = e match {
    case Idiom(Seq(PField(name))) => tableRows(name)
    case RidLit(tb, keyE) =>
      Eval.eval(keyE, env) match {
        case rng: VRng =>
          permFilter(tb, table(tb).collect { case (k, doc) if Ops.contains(rng, k) => doc }.toVector)
        case key =>
          permFilter(tb, fetchRecord(VRid(tb, key)).toVector)
      }
    case other =>
      Eval.eval(other, env) match {
        case rid: VRid  => fetchRecord(rid).map(identity[V]).toVector
        case VTable(tb) =>
          tables.get(tb).map(_ => tableRows(tb))
            .getOrElse(throw SqlError(s"The table '$tb' does not exist"))
        case VArr(items) =>
          // record-id sources iterate the STORE: a missing record yields no
          // row at all (select/whats mock range over absent ids); NESTED
          // arrays (graph traversals in a FROM array) flatten into rows
          // (reproductions/7124)
          def flat(v: V): Vector[V] = v match {
            case rid: VRid => fetchRecord(rid).map(identity[V]).toVector
            case VArr(nested) => nested.flatMap(flat)
            case x if x != VNone && x != VNull => Vector(x) // NONE/NULL sources drop (select/from_none)
            case _ => Vector.empty[V]
          }
          items.flatMap(flat)
        case VNone | VNull => Vector.empty
        case v => Vector(v)
      }
  }

  /** Targets for mutations: (table, Some(key)) for point writes, (table,
    * None) for whole-table writes. */
  /** Is `stored` inside the record-id range `r` (record_id/range.rs)? */
  private def keyInRange(stored: V, r: VRng): Boolean =
    r.lo.forall { case (v, incl) =>
      val c = V.ordering.compare(stored, v); if (incl) c >= 0 else c > 0
    } && r.hi.forall { case (v, incl) =>
      val c = V.ordering.compare(stored, v); if (incl) c <= 0 else c < 0
    }

  private def mutationTargets(what: Seq[Expr], env: Env): Seq[(String, Option[V])] =
    what.flatMap {
      case Idiom(Seq(PField(name))) => Seq((name, scala.None: Option[V]))
      case RidLit(tb, keyE) => Eval.eval(keyE, env) match {
        // a record-id RANGE target expands to every existing key in range
        // (dbs/iterator.rs Range iterable), in key order
        case r: VRng =>
          table(tb).keys.filter(keyInRange(_, r)).toSeq.sorted(V.ordering)
            .map(k => (tb, Some(k): Option[V]))
        case k => Seq((tb, Some(k)))
      }
      case other => Eval.eval(other, env) match {
        case VRid(tb, key) => Seq((tb, Some(key)))
        case VTable(tb)    => Seq((tb, scala.None: Option[V]))
        case VStr(tb)      => Seq((tb, scala.None: Option[V]))
        case VArr(items)   => items.collect {
          case VRid(tb, key) => (tb, Some(key): Option[V])
          case VObj(fs) if fs.get("id").exists(_.isInstanceOf[VRid]) =>
            val VRid(tb, key) = fs("id"); (tb, Some(key): Option[V])
        }
        case VObj(fs) if fs.get("id").exists(_.isInstanceOf[VRid]) =>
          val VRid(tb, key) = fs("id"); Seq((tb, Some(key): Option[V]))
        case v => throw SqlError(s"Can not execute statement using value: ${v.render}")
      }
    }

  // ---- SELECT ----------------------------------------------------------

  /** Evaluation env for a row: objects become the current document; scalar
    * rows expose themselves as $this only. */
  private def rowEnv(env: Env, row: V): Env = row match {
    case o: VObj => env.copy(doc = Some(o))
    case VGeom(kind, coords) =>
      // geometry rows expose their GeoJSON fields (val/geometry.rs)
      val key = if (kind == "GeometryCollection") "geometries" else "coordinates"
      env.copy(doc = Some(VObj(TreeMap("type" -> (VStr(kind): V), key -> coords))),
        params = env.params + ("this" -> row))
    case v       => env.copy(doc = scala.None, params = env.params + ("this" -> v))
  }

  def execSelect(s: SelectStmt, env: Env): V = {
    val resultRows = selectWithGroupKeys(s, env).map(_._1)
    if (s.only) {
      // value sources error on empty; table/record sources yield NONE
      // (unwrap_exactly_one.rs none_on_empty = !is_value_source)
      val valueSource = s.what.exists {
        case _: TableRef | _: RidLit => false
        case Idiom(_) => false
        case _ => true
      }
      if (resultRows.length > 1 || (resultRows.isEmpty && valueSource))
        throw SqlError("Expected a single result output when using the ONLY keyword")
      resultRows.headOption.getOrElse(VNone)
    } else VArr(resultRows)
  }

  /** Full SELECT pipeline; each output row is paired with its GROUP-key
    * values when grouped (views derive record ids from them). VERSION sets
    * a snapshot scope inherited by subqueries; TIMEOUT runs the pipeline
    * under a watchdog (timeout.rs:25). */
  /** When true, GROUP ALL over zero rows yields zero groups (view
    * materialization, doc/table.rs); plain selects emit the zero-count row. */
  private var suppressEmptyGroupAll = false

  def selectWithGroupKeys(s: SelectStmt, env: Env): Vector[(V, Option[Seq[V]])] = {
    s.timeout match {
      case Some(te) =>
        val dur = Eval.eval(te, env) match {
          case d: VDur => d
          case other => throw SqlError(s"Expected a duration but found ${other.render}")
        }
        val ms = dur.secs * 1000L + dur.nanos / 1000000L
        val inner = s.copy(timeout = scala.None)
        val task = new java.util.concurrent.FutureTask[Vector[(V, Option[Seq[V]])]](() =>
          selectWithGroupKeys(inner, env))
        val th = new Thread(task, "select-timeout")
        th.setDaemon(true)
        th.start()
        try return task.get(ms, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            task.cancel(true)
            throw SqlError(s"The query was not executed because it exceeded the timeout: ${Render.sql(dur)}")
          case e: java.util.concurrent.ExecutionException =>
            e.getCause match {
              case s: SqlError => throw s
              case r: ReturnSignal => throw r
              case other => throw SqlError(String.valueOf(other.getMessage))
            }
        }
      case scala.None => ()
    }
    s.version match {
      case Some(ve) =>
        // VERSION applies to concrete table/record sources only — a
        // subquery source must carry its own VERSION (reproductions/6541)
        if (s.what.exists {
          case Subquery(_) => true
          case Idiom(parts) => parts.exists { case PStart(Subquery(_)) => true; case _ => false }
          case _ => false
        }) throw SqlError("Invalid query: VERSION clause cannot be used with a subquery " +
          "source. Place the VERSION clause inside the subquery instead.")
        // a string version coerces to datetime (statement compute: coerce)
        val ts = Eval.eval(ve, env) match {
          case VDt(t) => t
          case VStr(txt) =>
            try new Parser("").parseDatetime(txt) match {
              case VDt(t) => t
              case _ => throw SqlError(s"Expected a datetime but found '$txt'")
            } catch { case _: SqlError | _: ParseError =>
              throw SqlError(s"Expected a datetime but found '$txt'") }
          case other  => throw SqlError(s"Expected a datetime but found ${other.render}")
        }
        val saved = versionAsOf
        versionAsOf = Some(ts)
        try return selectWithGroupKeys(s.copy(version = scala.None), env)
        finally versionAsOf = saved
      case scala.None => ()
    }
    // materialize sources with only the observable computed fields (lazy
    // COMPUTED, issue #7094); restored immediately so projection-time record
    // derefs (links, graph hops) see fully-computed documents
    var rows: Vector[V] = {
      val saved = computedNeeded
      computedNeeded = selectNeededFields(s)
      try s.what.flatMap(resolveTarget(_, env)).toVector
      finally computedNeeded = saved
    }

    // fulltext match refs (`@N@`) bind per-statement so search::score/
    // highlight/offsets can resolve them from projections (Search)
    var env0 = env
    val matchRefs = Search.collectRefs(s)
    if (matchRefs.nonEmpty)
      env0 = env0.bind(Search.RefsParam, Search.encodeRefs(matchRefs, env))

    // WHERE — `<|k|>` KNN nodes are cross-row top-k: precompute over the
    // candidate rows, rewrite to membership, bind distances. The top-k ranks
    // only rows passing the OTHER conjuncts (KnnTopK sits above the
    // predicated scan, exec/planner/select.rs; HNSW pulls candidates until k
    // pass the condition, idx/trees/hnsw HnswConditionChecker).
    s.where.foreach { cond0 =>
      val cond = if (Search.hasKnn(cond0)) {
        def conjs(e: Expr): Seq[Expr] = e match {
          case Binary("&&", l, r) => conjs(l) ++ conjs(r)
          case x => Seq(x)
        }
        val plain = conjs(cond0).filterNot(Search.hasKnn)
        val candidates =
          if (plain.isEmpty) rows
          else rows.filter(r => plain.forall(c => Eval.eval(c, rowEnv(env0, r)).truthy))
        val (c2, e2) = Search.prepareKnn(cond0, candidates, env0, this)
        env0 = e2
        c2
      } else cond0
      rows = rows.filter(r => Eval.eval(cond, rowEnv(env0, r)).truthy)
    }
    // an index-served WHERE returns rows in INDEX KEY order — identical to
    // record order for full-equality probes (ties break by id) but
    // OBSERVABLY different for partial/range accesses over compound keys
    // (composite_index_range: eq prefix + range scans order by the range
    // column, not the record id)
    if (s.order.isEmpty && s.groupBy.isEmpty && !s.orderRand && s.where.isDefined) {
      val tbl = s.what match {
        case Seq(Idiom(Seq(PField(n)))) => Some(n)
        case Seq(TableRef(n))           => Some(n)
        case _                          => scala.None
      }
      // legacy multi-index union outranks a single access (the EXPLAIN
      // branch ordering): rows stream scan by scan (plan order), in each
      // scan's index key order, deduped first-wins — the observable order
      // of an index-served OR (select_with_in_operator_multiple_indexes)
      val unionScans =
        if (legacyPlanner)
          tbl.flatMap(t => Explain.unionVisitScans(this, t, s.where.get, s.withIndex))
        else scala.None
      unionScans match {
        case Some(scans) =>
          val taken = new java.util.IdentityHashMap[V, java.lang.Boolean]()
          val out = Vector.newBuilder[V]
          scans.foreach { case (field, leafPred) =>
            val hits = rows.filter { r =>
              !taken.containsKey(r) &&
                (try Eval.eval(leafPred, rowEnv(env0, r)).truthy
                 catch { case _: SqlError => false })
            }
            def key(r: V): (V, V) = r match {
              case o: VObj => (docFieldPath(o, field), o.fields.getOrElse("id", VNone))
              case _ => (VNone, VNone)
            }
            hits.sortWith { (a, b) =>
              val (ka, kb) = (key(a), key(b))
              val c1 = V.cmp(ka._1, kb._1)
              (if (c1 == 0) V.cmp(ka._2, kb._2) else c1) < 0
            }.foreach { r => taken.put(r, java.lang.Boolean.TRUE); out += r }
          }
          rows.foreach(r => if (!taken.containsKey(r)) out += r)
          rows = out.result()
        case scala.None =>
          tbl.flatMap(t => Explain.accessIndexFields(this, t, s.where.get, s.withIndex))
            .foreach { idxFields =>
              def key(r: V): Vector[V] = r match {
                case o: VObj =>
                  idxFields.map(f => docFieldPath(o, f)).toVector :+
                    o.fields.getOrElse("id", VNone)
                case _ => Vector.empty[V]
              }
              rows = rows.sortWith { (a, b) =>
                val (ka, kb) = (key(a), key(b))
                val n = math.min(ka.length, kb.length)
                var i = 0
                var res = 0
                while (res == 0 && i < n) { res = V.cmp(ka(i), kb(i)); i += 1 }
                res < 0
              }
            }
      }
    }
    val envS = env0

    // SPLIT
    s.split.foreach { field =>
      rows = rows.flatMap {
        case r: VObj =>
          r.fields.get(field) match {
            case Some(VArr(items)) => items.map(it => VObj(r.fields.updated(field, it)))
            // SPLIT fans out sets like arrays (split_set golden)
            case Some(VSet(items)) => items.map(it => VObj(r.fields.updated(field, it)))
            case _ => Vector(r)
          }
        case v => Vector(v)
      }
    }

    // new-executor gap: @@ on a multi-part field path is unsupported
    // (exec/planner: record_link_index_new_executor golden)
    if (!legacyPlanner) s.where.foreach { w =>
      def scanMatches(e: Expr): Unit = e match {
        case Binary(op, Idiom(parts), _) if op.startsWith("MATCHES") &&
            parts.count(_.isInstanceOf[PField]) > 1 =>
          throw SqlError("Invalid query: New executor does not support: MATCHES with multi-part field path not yet supported in streaming executor")
        case Binary(_, l, r) => scanMatches(l); scanMatches(r)
        case Prefix(_, i) => scanMatches(i)
        case _ => ()
      }
      scanMatches(w)
    }

    // GROUP-mode selector validation (exec/planner/aggregate.rs): `*` cannot
    // aggregate, and $parent/$this have no document to refer to
    if (s.groupBy.isDefined) {
      if (s.fields.exists(_.isAll))
        throw SqlError("Invalid query: Incorrect selector for aggregate selection, " +
          "expression `*` within in selector cannot be aggregated in a group.")
      val isGroupBy = s.groupBy.exists(_.nonEmpty)
      s.fields.foreach { f =>
        if (exprUsesParam(f.expr, "parent"))
          throw SqlError("Invalid query: Found a `$parent` parameter refering to the document of a GROUP select statement\n" +
            "Select statements with a GROUP BY or GROUP ALL currently have no defined document to refer to")
        if (isGroupBy && exprUsesParam(f.expr, "this"))
          throw SqlError("Invalid query: Found a `$this` parameter refering to the document of a group by select statement\n" +
            "Select statements with a group by currently have no defined document to refer to")
      }
    }

    // GROUP
    val grouped: Vector[(V, Option[Seq[V]])] = s.groupBy match {
      case Some(Nil) => // GROUP ALL (views drop the empty group, selects keep it)
        val prunedByPerms = recordAuth && rows.isEmpty && s.what.nonEmpty && s.what.forall {
          case Idiom(Seq(PField(n))) => readPermission(n) == Some(scala.None)
          case TableRef(n)           => readPermission(n) == Some(scala.None)
          case RidLit(tb, _)         => readPermission(tb) == Some(scala.None)
          case _ => false
        }
        // the legacy compute pipeline emits NO group when a WHERE filtered
        // every row (5581: Iterate Index Count over zero rows → []); the
        // scan-everything paths still emit the zero row
        val legacyFilteredEmpty = legacyPlanner && s.where.nonEmpty
        if (rows.isEmpty && (suppressEmptyGroupAll || prunedByPerms || legacyFilteredEmpty))
          Vector.empty
        else Vector((projectGroup(rows, s, Nil, envS), Some(Nil)))
      case Some(keys0) =>
        // GROUP BY may reference SELECT aliases (GROUP BY country, year where
        // year = time::year(time) AS year) — resolve aliases to their exprs
        val aliasMap: Map[String, Expr] = s.fields.flatMap { f =>
          f.alias.map(a => a -> f.expr)
        }.toMap
        val keys = keys0.map {
          case Idiom(Seq(PField(n))) if aliasMap.contains(n) => aliasMap(n)
          case k => k
        }
        implicit val seqOrd: Ordering[Seq[V]] = (a: Seq[V], b: Seq[V]) => {
          var i = 0; var c = 0
          while (c == 0 && i < Math.min(a.length, b.length)) { c = V.cmp(a(i), b(i)); i += 1 }
          if (c != 0) c else a.length - b.length
        }
        // numeric keys group by VALUE, not spelling (1 groups with 1.0 —
        // Number equality in dbs/group.rs); the first-seen spelling is the
        // output key
        val groups = mutable.LinkedHashMap[Seq[V], (Seq[V], mutable.ArrayBuffer[V])]()
        rows.foreach { r =>
          val kv = keys.map(k => Eval.eval(k, rowEnv(envS, r)))
          groups.getOrElseUpdate(kv.map(normGroupKey), (kv, mutable.ArrayBuffer[V]()))._2 += r
        }
        groups.values.toVector
          .sortBy(_._1)(seqOrd)
          .map { case (keyVals, group) =>
            (projectGroup(group.toVector, s, keys.zip(keyVals), envS), Some(keyVals): Option[Seq[V]])
          }
      case scala.None =>
        rows.map(r => (projectRow(r, s, envS), scala.None: Option[Seq[V]]))
    }
    var out = grouped

    // ORDER BY
    if (s.orderRand) out = scala.util.Random.shuffle(out)
    else if (s.order.nonEmpty) {
      val keys = s.order
      val fieldAliases: Map[String, Expr] =
        s.fields.flatMap(f => f.alias.map(_ -> f.expr)).toMap
      // a DESC sort SERVED BY AN INDEX is a reverse index scan: equal keys
      // come back id-descending (unique_index_reverse_range). Un-indexed
      // sorts stay stable in record order (order_bool).
      val reverseIdxTies = keys.length == 1 && keys.head.desc && {
        val tbl = s.what match {
          case Seq(Idiom(Seq(PField(n)))) => Some(n)
          case Seq(TableRef(n))           => Some(n)
          case _                          => scala.None
        }
        (keys.head.expr, tbl) match {
          case (Idiom(Seq(PField(f))), Some(t)) => indexDefs.exists {
            case ((tt, _), d) => tt == t && d.fields.headOption.contains(f) &&
              !d.tail.toUpperCase.startsWith("FULLTEXT") &&
              !d.tail.toUpperCase.startsWith("SEARCH")
          }
          case _ => false
        }
      }
      out = out.sortWith { (x, y) =>
        var res = 0
        val it = keys.iterator
        while (res == 0 && it.hasNext) {
          val k = it.next()
          // sort keys do not dereference record links — FETCH runs after
          // ORDER BY (select/fetch/order_by golden), so link paths are NONE
          def keyOf(row: V): V = k.expr match {
            // ORDER BY a projection alias sorts by the aliased expr (7146)
            case Idiom(Seq(PField(n))) if fieldAliases.contains(n) && (s.value || !row.isInstanceOf[VObj] ||
                !row.asInstanceOf[VObj].fields.contains(n)) =>
              Eval.eval(fieldAliases(n), rowEnv(envS, row).copy(interp = scala.None))
            case _ => Eval.eval(k.expr, rowEnv(envS, row).copy(interp = scala.None))
          }
          val kx = keyOf(x._1)
          val ky = keyOf(y._1)
          res = (kx, ky) match {
            case (VStr(a), VStr(b)) if k.collate || k.numeric =>
              Interp.orderedStrCmp(a, b, k.collate, k.numeric)
            case _ => V.cmp(kx, ky)
          }
          if (k.desc) res = -res
        }
        if (res == 0 && reverseIdxTies) {
          def idOf(row: V): V = row match {
            case VObj(fs) => fs.getOrElse("id", VNone)
            case _ => VNone
          }
          res = -V.cmp(idOf(x._1), idOf(y._1))
        }
        res < 0
      }
    }

    // START / LIMIT
    s.start.foreach { st => out = out.drop(Eval.eval(st, envS) match { case n: VNum => n.toDouble.toInt; case _ => 0 }) }
    s.limit.foreach { lm => out = out.take(Eval.eval(lm, envS) match { case n: VNum => n.toDouble.toInt; case _ => out.length }) }

    // FETCH: dereference record links at (possibly nested) paths;
    // `FETCH $param` resolves the path name at execution time
    if (s.fetch.nonEmpty) {
      def badFetch(v: V): Nothing = throw SqlError(
        s"Found ${v.render} on FETCH CLAUSE, but FETCH expects an idiom, a string or fields")
      def resolveFetch(v: V): Seq[String] = v match {
        case VStr(p) => Seq(p)
        case VArr(items) => items.flatMap(resolveFetch)
        case other => badFetch(other)
      }
      val paths = s.fetch.flatMap {
        // type::field(s) in FETCH position name paths rather than evaluate
        // against a document (exec fetch resolution, relate/ported_create_select)
        case FnCall("type::field", args) => resolveFetch(Eval.eval(args.head, envS))
        case FnCall("type::fields", args) => resolveFetch(Eval.eval(args.head, envS))
        case fe => resolveFetch(Eval.eval(fe, envS))
      }
      out = out.map { case (r, k) =>
        (paths.foldLeft(r)((acc, f) => applyFetch(acc, f.split('.').toList)), k)
      }
    }

    // VALUE
    if (s.value) {
      val fe = s.fields.head.expr
      out.map { case (r, k) =>
        // OMIT strips fields from the source document before VALUE
        // projection (select_value_omit)
        val base = r match {
          case obj: VObj if s.omit.nonEmpty =>
            s.omit.foldLeft(obj)((acc, o) => removeDocPath(acc, o.split('.').toList))
          case other => other
        }
        (Eval.eval(fe, rowEnv(envS, base)), k)
      }
    } else out
  }

  /** Unaliased multi-hop graph projections whose shape the nested output
    * tree preserves: consecutive arrow segments, then an optional plain
    * field path or one destructure/`*` tail. */
  private def treeShaped(parts: Seq[Part]): Boolean = {
    val (gs, rest) = parts.span(_.isInstanceOf[PGraph])
    gs.length >= 2 && (rest.isEmpty ||
      rest.forall(_.isInstanceOf[PField]) ||
      (rest.length == 1 && (rest.head == PAll || rest.head.isInstanceOf[PDestructure])))
  }

  private def graphKey(g: PGraph): String = {
    val arrow = g.dir match {
      case "out" => "->"; case "in" => "<-"; case "ref" => "<~"; case _ => "<->"
    }
    g.alias.getOrElse(arrow + g.raw.map(_.replace('"', '\''))
      .getOrElse(if (g.what.isEmpty) "?" else g.what.map(_.table).mkString(", ")))
  }

  /** Structure-preserving projection of unaliased graph idioms (expr/
    * lookup.rs output nesting; language/graph/aliasing assert 3): each
    * arrow segment nests a key, the reached-record array materializes at
    * each projection's LAST arrow, and projections sharing a prefix merge
    * INTO the reached elements — the deeper hops re-evaluate per reached
    * record, not globally. */
  private def graphTree(de: Env, prefix: List[Part], projs: Seq[List[Part]],
      out0: TreeMap[String, V]): TreeMap[String, V] = {
    var out = out0
    val order = mutable.LinkedHashMap[String, mutable.ArrayBuffer[List[Part]]]()
    projs.foreach { p =>
      order.getOrElseUpdate(graphKey(p.head.asInstanceOf[PGraph]), mutable.ArrayBuffer()) += p
    }
    order.foreach { case (k, group) =>
      val g = group.head.head.asInstanceOf[PGraph]
      val rests: Seq[List[Part]] = group.map(_.tail).toSeq
      val continuing = rests.filter(_.headOption.exists(_.isInstanceOf[PGraph]))
      val destTail = rests.find(r => r.headOption.exists(p =>
        p == PAll || p.isInstanceOf[PDestructure]))
      val fieldTails = rests.filter(_.headOption.exists(_.isInstanceOf[PField]))
      val endsHere = rests.exists(_.isEmpty)
      val arrayHere = endsHere || destTail.isDefined
      if (arrayHere) {
        val reached = Eval.eval(Idiom((prefix :+ g).toSeq), de) match {
          case VArr(xs) => xs
          case VNone    => Vector.empty[V]
          case other    => Vector(other)
        }
        val elems = reached.map { rv =>
          val destV = destTail.map(t => Eval.eval(Idiom(PStart(Lit(rv)) +: t), de))
          val deeper: TreeMap[String, V] =
            if (continuing.isEmpty) TreeMap.empty
            else {
              val doc = rv match {
                case rid: VRid => fetchRecord(rid).getOrElse(VObj(TreeMap("id" -> (rid: V))))
                case o: VObj   => o
                case _         => VObj(TreeMap.empty)
              }
              graphTree(de.copy(doc = Some(doc)), Nil, continuing, TreeMap.empty)
            }
          (destV, deeper) match {
            case (Some(VObj(fs)), d) if d.nonEmpty => VObj(fs ++ d): V
            case (Some(v), _)                      => v
            case (scala.None, d) if d.nonEmpty     => VObj(d): V
            case (scala.None, _)                   => rv
          }
        }
        out = out.updated(k, VArr(elems))
      } else if (continuing.nonEmpty || fieldTails.nonEmpty) {
        var inner = out.get(k) match {
          case Some(VObj(fs)) => fs
          case _ => TreeMap.empty[String, V]
        }
        fieldTails.foreach { ft =>
          val names = ft.collect { case PField(n) => n }.toList
          val v = Eval.eval(Idiom(((prefix :+ g) ++ ft).toSeq), de)
          inner = setPath(inner, names, v)
        }
        if (continuing.nonEmpty)
          inner = graphTree(de, prefix :+ g, continuing, inner)
        out = out.updated(k, VObj(inner))
      }
    }
    out
  }

  private def projectRow(r: V, s: SelectStmt, env: Env): V = {
    if (s.value) return r // VALUE handled later on raw rows
    val de = rowEnv(env, r)
    val hasAll = s.fields.exists(_.isAll)
    // scalar rows: `SELECT *` passes the value through untouched
    r match {
      case obj: VObj =>
        var out = if (hasAll) obj.fields else TreeMap.empty[String, V]
        val (treeFields, plainFields) = s.fields.filterNot(_.isAll).partition { f =>
          f.alias.isEmpty && (f.expr match {
            case Idiom(parts) => treeShaped(parts)
            case _ => false
          })
        }
        if (treeFields.nonEmpty)
          out = graphTree(de, Nil,
            treeFields.map(f => f.expr.asInstanceOf[Idiom].parts.toList), out)
        plainFields.foreach { f =>
          f.expr match {
            // dynamic projections: type::field/type::fields project under
            // the RESOLVED field path(s) (fnc/mod.rs:645-646)
            case FnCall("type::field", Seq(fe)) if f.alias.isEmpty =>
              Eval.eval(fe, de) match {
                case VStr(path) =>
                  out = setPath(out, path.split('.').toList, docFieldPath(obj, path))
                case _ => ()
              }
            case FnCall("type::fields", Seq(fe)) if f.alias.isEmpty =>
              Eval.eval(fe, de) match {
                case VArr(paths) => paths.foreach {
                  case VStr(path) =>
                    out = setPath(out, path.split('.').toList, docFieldPath(obj, path))
                  case _ => ()
                }
                case _ => ()
              }
            case _ =>
              val name = f.alias.getOrElse(Eval.fieldName(f.expr))
              val v = Eval.eval(f.expr, de)
              // `link.*` splats under `link` (wildcard segments name the parent)
              val segs0 = name.split('.').toList
              val segs = if (segs0.length > 1 && segs0.last == "*") segs0.dropRight(1) else segs0
              out = setPath(out, segs, v)
          }
        }
        var res = VObj(out)
        s.omit.foreach { o => res = removeDocPath(res, o.split('.').toList) }
        res
      case scalar =>
        if (s.fields.forall(_.isAll)) scalar
        else {
          var out = TreeMap.empty[String, V]
          s.fields.filterNot(_.isAll).foreach { f =>
            val name = f.alias.getOrElse(Eval.fieldName(f.expr))
            out = setPath(out, name.split('.').toList, Eval.eval(f.expr, de))
          }
          VObj(out)
        }
    }
  }

  /** Can this kind hold NONE (reference Kind::can_be_none)? */
  private def kindCanBeNone(k: Kind): Boolean = k match {
    case Kind.KOption(_) | Kind.KNone | Kind.KAny => true
    case Kind.KEither(ks) => ks.exists(kindCanBeNone)
    case _ => false
  }

  /** Canonical group-key form: numerics of equal value collapse to one
    * group regardless of spelling (scala BigDecimal equality is value-based
    * with a consistent hashCode across Int/Float/Decimal sources). */
  private def normGroupKey(v: V): V = v match {
    case VInt(i) => VDec(BigDecimal(i))
    case VFloat(f) if !f.isNaN && !f.isInfinite => VDec(BigDecimal(f))
    case other => other
  }

  /** Does the expression (including nested subqueries) reference `$name`? */
  private def exprUsesParam(e: Expr, name: String): Boolean = {
    def goStmt(st: Statement): Boolean = st match {
      case sel: SelectStmt =>
        sel.fields.exists(f => go(f.expr)) || sel.what.exists(go) ||
          sel.where.exists(go) || sel.groupBy.toSeq.flatten.exists(go)
      case ReturnStmt(inner) => go(inner)
      case ExprStmt(inner)   => go(inner)
      case _ => false
    }
    def go(x: Expr): Boolean = x match {
      case Param(n)        => n == name
      case Binary(_, l, r) => go(l) || go(r)
      case Prefix(_, i)    => go(i)
      case Cast(_, i)      => go(i)
      case FnCall(_, args) => args.exists(go)
      case ArrLit(items)   => items.exists(go)
      case ObjLit(fs)      => fs.exists { case (_, v) => go(v) }
      case IfExpr(bs, o)   => bs.exists { case (c, v) => go(c) || go(v) } || o.exists(go)
      case BlockExpr(sts)  => sts.exists(goStmt)
      case Subquery(st)    => goStmt(st)
      case Idiom(parts)    => parts.exists {
        case PStart(i) => go(i)
        case PIndex(i) => go(i)
        case PWhere(i) => go(i)
        case _ => false
      }
      case _ => false
    }
    go(e)
  }

  private def projectGroup(group: Vector[V], s: SelectStmt, keyVals: Seq[(Expr, V)], env: Env): V = {
    var out = TreeMap.empty[String, V]
    s.fields.filterNot(_.isAll).foreach { f =>
      val name = f.alias.getOrElse(Eval.fieldName(f.expr))
      val v = evalAggregate(f.expr, group, keyVals, env)
      out = setPath(out, name.split('.').toList, v)
    }
    // OMIT applies to the SELECTed output, grouped or not (omit_group_by)
    var res = VObj(out)
    s.omit.foreach { o => res = removeDocPath(res, o.split('.').toList) }
    res
  }

  /** FETCH dereference along a dotted path (exec/operators/fetch.rs:27):
    * record ids at the path's end are replaced by their documents;
    * intermediate links are fetched to descend; arrays fan out. */
  def applyFetch(v: V, path: List[String]): V = path match {
    case Nil => v match {
      case rid: VRid   => fetchRecord(rid).map(identity[V]).getOrElse(rid)
      case VArr(items) => VArr(items.map(applyFetch(_, Nil)))
      case other       => other
    }
    case seg :: rest => v match {
      case VObj(fs) => fs.get(seg) match {
        case Some(sub)  => VObj(fs.updated(seg, applyFetch(sub, rest)))
        case scala.None => v
      }
      case VArr(items) => VArr(items.map(applyFetch(_, path)))
      case rid: VRid => fetchRecord(rid) match {
        case Some(doc)  => applyFetch(doc, path)
        case scala.None => rid
      }
      case other => other
    }
  }

  /** Remove a dotted path from a document (OMIT; `*` fans over arrays). */
  private def removeDocPath(doc: VObj, path: List[String]): VObj = {
    def rm(v: V, segs: List[String]): V = (v, segs) match {
      // a trailing `.*` empties the object at the path (omit.surql 7-8)
      case (VObj(_), "*" :: Nil)   => VObj(TreeMap.empty[String, V])
      case (VObj(fs), last :: Nil) => VObj(fs - last)
      case (VObj(fs), "*" :: rest) => VObj(fs.map { case (k, sub) => k -> rm(sub, rest) })
      case (VObj(fs), seg :: rest) =>
        fs.get(seg) match {
          case Some(sub) => VObj(fs.updated(seg, rm(sub, rest)))
          case scala.None => VObj(fs)
        }
      case (VArr(items), _) => VArr(items.map(el => rm(el, segs)))
      case _ => v
    }
    rm(doc, path) match { case o: VObj => o; case _ => doc }
  }

  private def setPath(m: TreeMap[String, V], path: List[String], v: V): TreeMap[String, V] =
    path match {
      case Nil => m
      case last :: Nil => m.updated(last, v)
      case head :: rest =>
        val inner = m.get(head) match {
          case Some(VObj(fs)) => fs
          case _ => TreeMap.empty[String, V]
        }
        m.updated(head, VObj(setPath(inner, rest, v)))
    }

  /** Aggregate evaluation under GROUP BY (exec/planner/aggregate.rs:146):
    * known aggregate functions consume the group; any other expression is
    * evaluated per-row and implicitly collapsed to the group array (or the
    * group-key value when the expression IS a group key). */
  private def evalAggregate(e: Expr, group: Vector[V], keyVals: Seq[(Expr, V)], env: Env,
      top: Boolean = true): V = {
    keyVals.find { case (ke, _) => ke == e } match {
      case Some((_, kv)) => return kv
      case scala.None =>
    }
    e match {
      case FnCall("count", Nil) => VInt(group.length)
      case FnCall("count", Seq(inner)) =>
        VInt(group.count(r => Eval.eval(inner, rowEnv(env, r)).truthy))
      // array::group as an AGGREGATE is a plain per-row collect preserving
      // duplicates (exec/function/builtin/aggregates/array.rs
      // ArrayGroupAccumulator), unlike the scalar flatten+uniq function
      case FnCall("array::group", Seq(inner)) =>
        VArr(group.map(r => Eval.eval(inner, rowEnv(env, r))).filter(v => v != VNone && v != VNull))
      // array::distinct/len/sort/join WRAPPING an aggregate call
      // post-process the aggregate's result (exec/planner/aggregate.rs:301)
      // and COMPOSE — array::join(array::sort(math::top(x, k))) is the
      // idiom for pinning a deterministic order onto the arbitrary-order
      // family and serializing grouped arrays
      case FnCall("array::distinct", Seq(inner @ FnCall(n, _)))
          if n == "array::group" || aggFns.contains(n) || aggWrapFns.contains(n) =>
        Functions.apply("array::distinct", Seq(evalAggregate(inner, group, keyVals, env)), env)
      case FnCall("array::len", Seq(inner @ FnCall(n, _)))
          if n == "array::group" || aggFns.contains(n) || aggWrapFns.contains(n) =>
        Functions.apply("array::len", Seq(evalAggregate(inner, group, keyVals, env)), env)
      case FnCall("array::sort", Seq(inner @ FnCall(n, _)))
          if n == "array::group" || aggFns.contains(n) || aggWrapFns.contains(n) =>
        Functions.apply("array::sort", Seq(evalAggregate(inner, group, keyVals, env)), env)
      case FnCall("array::join", Seq(inner @ FnCall(n, _), sep))
          if n == "array::group" || aggFns.contains(n) || aggWrapFns.contains(n) =>
        Functions.apply("array::join",
          Seq(evalAggregate(inner, group, keyVals, env), Eval.eval(sep, env)), env)
      case FnCall("math::sum", Seq(inner)) if top =>
        // a DIRECT math::sum projection uses the planner's Sum aggregation,
        // whose accumulator starts from FLOAT zero (catalog/
        // aggregation.rs:99) — group sums are float even over ints. Sums
        // NESTED in expressions go through the generic accumulator
        // (exec/function/builtin/aggregates/math.rs SumAccumulator), which
        // folds from Int(0) — and so does the empty group (stats default).
        val values = group.map(r => Eval.eval(inner, rowEnv(env, r)))
          .filter(v => v != VNone && v != VNull)
        if (values.isEmpty) VInt(0)
        else values.foldLeft(VFloat(0.0): V)((acc, v) => Ops.add(acc, v))
      case FnCall(name, Seq(inner)) if aggFns.contains(name) =>
        val values = group.map(r => Eval.eval(inner, rowEnv(env, r)))
        Functions.apply(name, Seq(VArr(values.filter(v => v != VNone && v != VNull))), env)
      case FnCall(name, inner +: restArgs) if aggFns.contains(name) =>
        val values = group.map(r => Eval.eval(inner, rowEnv(env, r)))
        val extraArgs = restArgs.map(Eval.eval(_, env))
        Functions.apply(name, VArr(values.filter(v => v != VNone && v != VNull)) +: extraArgs, env)
      case Binary(op, l, rr) => // aggregate distributes over binary exprs
        Ops match { case _ =>
          Eval.eval(Binary(op, Lit(evalAggregate(l, group, keyVals, env, top = false)),
            Lit(evalAggregate(rr, group, keyVals, env, top = false))), env)
        }
      case other =>
        // implicit array-collapse of a per-row expression
        val values = group.map(r => Eval.eval(other, rowEnv(env, r)))
        other match {
          case _: Lit => values.headOption.getOrElse(VNone)
          case _ => VArr(values)
        }
    }
  }

  private val aggFns = Set(
    "math::sum", "math::mean", "math::min", "math::max", "math::stddev", "math::variance",
    "math::median", "math::product", "math::spread", "math::top", "math::bottom",
    "time::min", "time::max", "array::group", "array::distinct", "array::flatten",
    "array::join", "array::len", "array::concat")

  /** Post-processors that compose over aggregate results under GROUP. */
  private val aggWrapFns = Set("array::distinct", "array::len", "array::sort", "array::join")

  // ---- mutations -------------------------------------------------------

  /** A mutation statement opens a fresh document scope: the enclosing doc
    * (or pinned $this) becomes $parent, and $this re-pins to the mutated
    * record's statement-start state — NONE when creating
    * (define/event/this_parent, define/param/this,parent). */
  private def mutScope(env: Env, thisDoc: Option[VObj]): Env = {
    val parentV = env.params.get("this").orElse(env.doc.map(identity[V]))
    val base = parentV match {
      case Some(p) => env.copy(params = env.params - "this" + ("parent" -> p))
      case scala.None => env
    }
    base.copy(doc = thisDoc)
  }

  private def applyData(doc: VObj, data: Option[Data], env: Env,
      redactTb: String = ""): VObj = data match {
    case scala.None => doc
    case Some(SetData(sets)) =>
      var fields = doc.fields
      // $this is pinned to the document as of statement start (NONE when
      // creating; define/param/this,parent goldens) — bare idioms keep
      // seeing the evolving document
      val pinnedThis: V = env.doc.map(identity[V]).getOrElse(VNone)
      // under record auth, expression reads of the evolving doc honor
      // field-level SELECT permissions (update/field_permissions)
      def visible(fs: TreeMap[String, V]): VObj =
        if (redactTb.isEmpty) VObj(fs) else redactDoc(redactTb, VObj(fs))
      def setEnv(fs: TreeMap[String, V]) =
        env.copy(doc = Some(visible(fs)), params = env.params + ("this" -> pinnedThis))
      val de = env.copy(doc = Some(visible(fields)))
      sets.foreach { case (idiom, op, valueE) =>
        // resolve dynamic [expr] segments to literal keys (dynamic_keys)
        val path = idiom.parts.toList.flatMap {
          case PField(n) => Seq(n)
          case PIndex(ie) => Eval.eval(ie, setEnv(fields)) match {
            case VStr(k) => Seq(k)
            case VInt(i) => Seq(i.toString)
            case _ => Nil
          }
          case _ => Nil
        }
        val newV = Eval.eval(valueE, setEnv(fields))
        val resolved = op match {
          case "=" => newV
          case "+?=" =>
            getPath(fields, path) match {
              case VArr(items) =>
                if (items.exists(V.looseEq(_, newV))) VArr(items) else VArr(items :+ newV)
              case VNone => VArr(Vector(newV))
              case old => old
            }
          case "+=" =>
            // val/value/increment.rs: NONE += duration/array/set keeps the
            // value as-is (no array wrap); array += array concatenates
            getPath(fields, path) match {
              case VNone => newV match {
                case _: VNum | _: VDur | _: VArr | _: VSet => newV
                case _ => VArr(Vector(newV))
              }
              case VArr(items) => newV match {
                case VArr(xs) => VArr(items ++ xs)
                case VSet(xs) => VArr(items ++ xs)
                case x        => VArr(items :+ x)
              }
              case VSet(items) => newV match {
                case VArr(xs) => V.set(items ++ xs)
                case VSet(xs) => V.set(items ++ xs)
                case x        => V.set(items :+ x)
              }
              case old => Ops.add(old, newV)
            }
          case "-=" =>
            // val/value/decrement.rs: NONE -= non-number is a no-op
            getPath(fields, path) match {
              case VArr(items) => newV match {
                case VArr(xs) => VArr(items.filterNot(e => xs.exists(V.looseEq(_, e))))
                case VSet(xs) => VArr(items.filterNot(e => xs.exists(V.looseEq(_, e))))
                case x        => VArr(items.filterNot(V.looseEq(_, x)))
              }
              case VSet(items) => newV match {
                case VArr(xs) => V.set(items.filterNot(e => xs.exists(V.looseEq(_, e))))
                case VSet(xs) => V.set(items.filterNot(e => xs.exists(V.looseEq(_, e))))
                case x        => V.set(items.filterNot(V.looseEq(_, x)))
              }
              case VNone => newV match {
                case _: VNum => Ops.sub(VInt(0), newV)
                case _       => VNone
              }
              case old => Ops.sub(old, newV)
            }
        }
        // SET field = NONE removes the field (None = absence)
        if (resolved == VNone && path.length == 1) fields = fields - path.head
        else fields = setPath(TreeMap(fields.toSeq: _*), path, resolved)
      }
      VObj(fields)
    case Some(UnsetData(fs)) =>
      var fields = doc.fields
      fs.foreach { idiom =>
        val path = idiom.parts.collect { case PField(n) => n }
        if (path.length == 1) fields = fields - path.head
      }
      VObj(fields)
    case Some(ContentData(e)) =>
      Eval.eval(e, env) match {
        case VObj(fs) =>
          val kept = fs.filter { case (_, v) => v != VNone }
          VObj(doc.fields.get("id").map(id => kept + ("id" -> id)).getOrElse(kept))
        case other => throw SqlError(s"Cannot use ${other.render} in a CONTENT clause")
      }
    case Some(ReplaceData(e)) =>
      replaceSemantics = true
      // if the CONTENT application itself fails (e.g. REPLACE with a
      // non-object), the pipeline's finally never runs — reset here so the
      // NEXT statement's pipeline doesn't inherit REPLACE semantics
      try applyData(doc, Some(ContentData(e)), env)
      catch { case ex: Throwable => replaceSemantics = false; throw ex }
    case Some(MergeData(e)) =>
      Eval.eval(e, env) match {
        case VObj(fs) =>
          val merged = deepMerge(doc.fields, fs)
          VObj(doc.fields.get("id").map(id => merged + ("id" -> id)).getOrElse(merged))
        case other => throw SqlError(s"Cannot use ${other.render} in a MERGE clause")
      }
    case Some(PatchData(e)) =>
      Eval.eval(e, env) match {
        case VArr(patches) => applyJsonPatch(doc, patches)
        case other => throw SqlError(s"Cannot use ${other.render} in a PATCH clause")
      }
  }

  /** JSON-patch apply (val/value/patch.rs:11): numeric/`-` terminal
    * segments address array elements (insert/append), add on an existing
    * array appends, change applies a DMP string patch. */
  def applyJsonPatch(doc: VObj, patches: Vector[V]): VObj =
    JsonPatch.patch(doc, VArr(patches)) match {
      // paths from value_to_jsonpath are never empty, so a root replace is
      // unreachable and an object stays an object — defensive fallback only
      case o: VObj => o
      case _ => doc
    }

  private def getPath(fields: TreeMap[String, V], path: List[String]): V = path match {
    case Nil => VNone
    case last :: Nil => fields.getOrElse(last, VNone)
    case head :: rest => fields.get(head) match {
      case Some(VObj(inner)) => getPath(inner, rest)
      case _ => VNone
    }
  }

  private def deepMerge(base: TreeMap[String, V], patch: TreeMap[String, V]): TreeMap[String, V] =
    patch.foldLeft(base) { case (acc, (k, v)) =>
      (acc.get(k), v) match {
        case (Some(VObj(b)), VObj(p)) => acc.updated(k, VObj(deepMerge(b, p)))
        case (_, VNone) => acc - k
        case _ => acc.updated(k, v)
      }
    }

  private def shapeOutput(before: Option[VObj], after: Option[VObj], output: Option[Output],
      env: Env, tb: String = ""): Option[V] = {
    // Computed fields are lazy (issue #7094): RETURN NONE/NULL discards the
    // document, so its COMPUTED expressions must never run — a THROW inside
    // an unselected computed body is unobservable.
    val discard = output.contains(Output.ONone) || output.contains(Output.ONull)
    def shaped(d: VObj) =
      if (tb.isEmpty) d
      else if (discard) redactDoc(tb, d)
      else redactDoc(tb, withComputed(tb, d, env))
    shapeOutput0(before.map(shaped), after.map(shaped), output, env)
  }

  private def shapeOutput0(before: Option[VObj], after: Option[VObj], output: Option[Output],
      env: Env): Option[V] = output match {
    case scala.None => after.orElse(before).map(identity)
    case Some(Output.ONone) => scala.None
    case Some(Output.ONull) => Some(VNull)
    case Some(Output.OBefore) => Some(before.map(identity[V]).getOrElse(VNone))
    case Some(Output.OAfter) => Some(after.map(identity[V]).getOrElse(VNone))
    case Some(Output.ODiff) =>
      // creation diff: single root replace (val::Value::diff JSON-patch)
      if (before.isEmpty && after.isDefined)
        return Some(VArr(Vector(V.obj("op" -> VStr("replace"), "path" -> VStr(""),
          "value" -> after.get))))
      Some(VArr(Interp.valueDiff(before.map(identity[V]).getOrElse(VNone),
        after.map(identity[V]).getOrElse(VNone))))
    case Some(Output.OFields(fs)) =>
      val doc = after.orElse(before).getOrElse(VObj(TreeMap.empty))
      val de = env.copy(doc = Some(doc))
      Some(VObj(TreeMap(fs.map { f =>
        // dynamic type::field projections name their RESOLVED path
        // (type/field/selection_and_modification_variable_fields)
        val name = f.alias.getOrElse(f.expr match {
          case FnCall("type::field", Seq(fe)) => Eval.eval(fe, de) match {
            case VStr(p) => p
            case _ => Eval.fieldName(f.expr)
          }
          case _ => Eval.fieldName(f.expr)
        })
        name -> Eval.eval(f.expr, de)
      }: _*)))
    case Some(Output.OValue(e)) =>
      // RETURN VALUE evaluates against the post-write doc with
      // $before/$after bound (expr/output.rs)
      val doc = after.orElse(before).getOrElse(VObj(TreeMap.empty))
      val de = env.copy(doc = Some(doc))
        .bind("before", before.map(identity[V]).getOrElse(VNone))
        .bind("after", after.map(identity[V]).getOrElse(VNone))
      Some(Eval.eval(e, de))
  }

  /** Fire DEFINE EVENT triggers after a stored write (doc/event.rs): each
    * event's WHEN evaluates with $event/$before/$after/$value bound; truthy
    * WHEN runs the THEN statements (which may mutate further). */
  private var eventDepth = 0
  def fireEvents(tb: String, before: Option[VObj], after: Option[VObj], env: Env,
      input: Option[VObj] = scala.None): Unit = {
    val ridKey = after.orElse(before).flatMap(_.fields.get("id")) match {
      case Some(VRid(_, k)) =>
        history += ((java.time.Instant.now(), tb, k, after)); writeGen += 1
        Some(k)
      case _ => scala.None
    }
    try maintainViews(tb)
    catch {
      case e: SqlError =>
        // view maintenance failure rolls the triggering write back
        // (doc/table.rs applies deltas transactionally with the write)
        ridKey.foreach { k =>
          before match {
            case Some(b)    => putRecord(table(tb), k, b)
            case scala.None => removeRecord(table(tb), k)
          }
          history += ((java.time.Instant.now(), tb, k, before)); writeGen += 1
        }
        throw e
    }
    val evs = eventDefs.collect { case ((t, _), d) if t == tb => d }
    if (evs.isEmpty) return
    if (eventDepth > 20)
      throw SqlError("Reached excessive computation depth due to functions, subqueries, or computed values")
    eventDepth += 1
    try {
      val action = (before, after) match {
        case (scala.None, Some(_)) => "CREATE"
        case (Some(_), scala.None) => "DELETE"
        case _                     => "UPDATE"
      }
      evs.foreach { ev =>
        // bare field refs and $this see the mutated record (cursor doc);
        // nested mutations inherit it as $parent via mutScope; $input is
        // the pre-pipeline doc (doc/event.rs:111-115)
        val e2 = env.copy(doc = after.orElse(before), params = env.params - "this" - "parent")
          .bind("event", VStr(action))
          .bind("before", before.map(identity[V]).getOrElse(VNone))
          .bind("after", after.map(identity[V]).getOrElse(VNone))
          .bind("value", after.orElse(before).map(identity[V]).getOrElse(VNone))
          .bind("input", input.map(identity[V]).getOrElse(VNone))
        if (ev.whenE.forall(w => Eval.eval(w, e2).truthy)) {
          try ev.thenE.foreach(te => Eval.eval(te, e2))
          catch {
            case e: SqlError =>
              throw SqlError(s"Error while processing event ${ev.name}: ${e.msg}")
          }
        }
      }
    } finally eventDepth -= 1
  }

  /** Last materialized row-set per view, keyed by record id — diffed after
    * every source write to fire view-table events (doc/table.rs applies
    * view deltas per write and triggers events on the view). */
  private val viewLast = mutable.HashMap[String, Map[V, VObj]]()

  /** Recompute views that read `tb`: surface maintenance errors at write
    * time and fire CREATE/UPDATE/DELETE events on the view for changed
    * groups (doc/table.rs). */
  private def maintainViews(tb: String): Unit =
    tableDefs.values.toSeq.foreach { d =>
      val readsTb = d.viewStmt.exists(_.what.exists {
        case Idiom(Seq(PField(n))) => n == tb
        case _ => false
      })
      if (readsTb) {
        val rows = tableRows(d.name)
        val cur: Map[V, VObj] = rows.flatMap(r => r.fields.get("id").map(_ -> r)).toMap
        val prev = viewLast.getOrElse(d.name, Map.empty[V, VObj])
        viewLast(d.name) = cur
        if (eventDefs.keys.exists(_._1 == d.name)) {
          val env = Env(params = globals, interp = Some(this))
          def stripId(o: VObj): VObj = VObj(o.fields - "id")
          (prev.keySet ++ cur.keySet).toSeq.sortBy(_.toString).foreach { k =>
            (prev.get(k), cur.get(k)) match {
              case (scala.None, Some(n)) => fireEvents(d.name, scala.None, Some(stripId(n)), env)
              case (Some(o), Some(n)) if o != n => fireEvents(d.name, Some(stripId(o)), Some(stripId(n)), env)
              case (Some(o), scala.None) => fireEvents(d.name, Some(stripId(o)), scala.None, env)
              case _ => ()
            }
          }
        }
      }
    }

  /** `type::field($p)` / `type::fields($p)` DEFINE INDEX items (parsed to
    * " field:<raw>" / " fields:<raw>" markers) evaluate at define time
    * (parameterized/schema/index; reference computes them in the planner). */
  private def expandIdxFields(fs: Seq[String], env: Env): Seq[String] = fs.flatMap { f =>
    if (f.startsWith(" ") && f.contains(":")) {
      val i = f.indexOf(':')
      val which = f.substring(1, i)
      val raw = f.substring(i + 1)
      val e = Parser.parse("RETURN " + raw + ";").stmts.head match {
        case ReturnStmt(x) => x
        case _ => Lit(VNone)
      }
      Eval.eval(e, env) match {
        case VStr(s) => Seq(s)
        case VArr(items) if which == "fields" =>
          items.map { case VStr(s) => s; case o => o.renderRaw }
        case other => throw SqlError(s"Expected a string but found ${other.render}")
      }
    } else Seq(f)
  }

  /** Mutation TIMEOUT guard: a zero budget means the deadline fires before
    * the first operation — nothing executes (dbs executor deadline check).
    * Nonzero budgets are ample for the in-process engine and run untimed
    * (the cross-thread watchdog would race interpreter state on writes). */
  private def checkStmtTimeout(tmo: Option[Expr], env: Env): Unit = tmo.foreach { te =>
    val dur = Eval.eval(te, env) match {
      case d: VDur => d
      case other => throw SqlError(s"Expected a duration but found ${other.render}")
    }
    if (dur.secs == 0 && dur.nanos == 0)
      throw SqlError(s"The query was not executed because it exceeded the timeout: ${Render.sql(dur)}")
  }

  /** The id a stored document carries, or `tb:key` if it carries none. */
  private def recordId(tb: String, key: V, doc: VObj): VRid = doc.fields.get("id") match {
    case Some(r: VRid) => r
    case _ => VRid(tb, key)
  }

  /** One document write, the lifecycle every stored create and update runs
    * (doc/mod.rs:12-36). `before` is the stored document, `None` for a new
    * one (the reference's `is_new`); `doc0` is the document the statement
    * built. Steps: for an update (UPDATE, UPSERT, each ON DUPLICATE
    * application) the id rule — a record id other than the stored one
    * fails (doc/alter.rs) — and the edge identity — an edge keeps its
    * id, `in` and `out` (doc/relate.rs); the field pipeline; for a new
    * document the create permission (a denied create is skipped silently
    * and fires nothing, doc/allow.rs; reproductions/7208); the unique
    * indexes; the store under the stored key `key`; the edge mark when
    * `edge` (RecordType::Edge, doc/alter.rs:93); the events, which see the
    * document the first two steps leave as `$input`. Returns the RETURN
    * value, `None` if nothing was written or RETURN NONE. */
  private def writeDoc(tb: String, key: V, before: Option[VObj], doc0: VObj,
      output: Option[Output], env: Env, edge: Boolean = false): Option[V] = {
    val rid = before.fold(VRid(tb, key))(recordId(tb, key, _))
    val input = before.fold(doc0) { stored =>
      Interp.checkIdUnchanged(doc0, rid)
      if (isEdgeRecord(tb, key)) Interp.keepEdgeIdentity(doc0, stored, rid) else doc0
    }
    val doc = applyFieldPipeline(tb, rid, input, before, isCreate = before.isEmpty, env)
    if (before.isEmpty && !permAllows(tb, "create", doc)) scala.None
    else {
      checkUniqueIndexes(tb, rid, doc)
      putRecord(table(tb), key, doc)
      if (edge) markEdge(tb, key)
      fireEvents(tb, before, Some(doc), env, Some(input))
      shapeOutput(before, Some(doc), output, env, tb)
    }
  }

  def execCreate(s: CreateStmt, env: Env): V = {
    val created = mutationTargets(s.what, env).map { case (tb, keyOpt) =>
      // STRICT databases refuse writes to undefined tables (strict mode) —
      // this is a DB property, not a closure one: function bodies may write
      if (strictDbs.contains(curDb) && !tables.contains(tb) && !tableDefs.contains(tb))
        throw SqlError(s"The table '$tb' does not exist")
      val t = table(tb)
      // a SET/CONTENT id overrides the generated key (string/int values
      // become the record key — `CREATE person SET id = "x"` → person:x)
      val base0 = VObj(TreeMap.empty[String, V])
      val withData = applyData(base0, s.data, mutScope(env, scala.None))
      val key = withData.fields.get("id") match {
        case Some(VRid(_, k)) =>
          keyOpt.filterNot(V.looseEq(_, k)).foreach { _ =>
            throw SqlError(s"Found '${k.renderRaw}' for the `id` field, but a specific record has been specified") }
          k
        case Some(VNone) | scala.None => keyOpt.getOrElse(nextId())
        case Some(other) =>
          keyOpt.filterNot(V.looseEq(_, other)).foreach { _ =>
            throw SqlError(s"Found '${other.renderRaw}' for the `id` field, but a specific record has been specified") }
          other
      }
      key match {
        // an explicit ``:`` target is a legal empty ident key; only an
        // empty id VALUE from the data clause is invalid (parsing/idents)
        case VStr("") if keyOpt.isEmpty =>
          throw SqlError("Found '' for the Record ID but this is not a valid id")
        // a range is a scan bound, never a creatable id (create.rs)
        case r: VRng => throw SqlError(
          s"Found ${Render.sql(VRid(tb, r))} for the Record ID but this is not a valid id")
        case _ => ()
      }
      Interp.checkIdKey(tb, key)
      if (findKeyLoose(t, key).isDefined)
        throw SqlError(s"Database record `${Render.sql(VRid(tb, key))}` already exists")
      val rid = VRid(tb, key)
      // a RELATION table only stores edges (in/out record links)
      if (tableDefs.get(tb).exists(_.ttype == "RELATION") &&
          !(withData.fields.get("in").exists(_.isInstanceOf[VRid]) &&
            withData.fields.get("out").exists(_.isInstanceOf[VRid])))
        throw SqlError({
          val spec = tableDefs.get(tb).map { d =>
            (if (d.relIn.nonEmpty) " IN " + d.relIn.mkString(" | ") else "") +
              (if (d.relOut.nonEmpty) " OUT " + d.relOut.mkString(" | ") else "")
          }.getOrElse("")
          s"Found record: `${Render.sql(rid)}` which is not a relation, but expected a RELATION$spec"
        })
      writeDoc(tb, key, scala.None, VObj(withData.fields.updated("id", rid)), s.output, env)
    }
    val vs = created.flatten
    if (s.only) vs.headOption.getOrElse(VNone)
    else if (s.output.contains(Output.ONone)) VArr(Vector.empty)
    else VArr(vs.toVector)
  }

  def execUpdate(only: Boolean, what: Seq[Expr], data: Option[Data], where: Option[Expr],
      output: Option[Output], env: Env, upsert: Boolean): V = {
    val results = mutable.ArrayBuffer[V]()
    mutationTargets(what, env).foreach { case (tb, keyOpt0) =>
      val t = table(tb)
      // UPSERT on a bare table adopts an id carried by the data clause
      // (doc/alter.rs:28 generate_record_id — data.rid() beats random),
      // so `UPSERT tb CONTENT {id: tb:x, …}` targets tb:x
      val keyOpt = keyOpt0.orElse {
        if (upsert && data.nonEmpty)
          try applyData(VObj(TreeMap.empty[String, V]), data, env).fields.get("id") match {
            case Some(VRid(t2, k)) if t2 == tb => Some(k)
            case Some(VNone) | Some(_: VRid) | scala.None => scala.None
            case Some(other) => Some(other)
          }
          catch { case _: SqlError => scala.None }
        else scala.None
      }
      // the update arm, for a stored record that passed WHERE and the
      // UPDATE permission
      def update(key: V, doc: VObj): Unit =
        writeDoc(tb, key, Some(doc), applyData(doc, data,
          mutScope(env, Some(redactDoc(tb, doc))), redactTb = tb), output, env).foreach(results += _)
      // UPSERT's create arm
      def create(key: V): Unit = {
        val doc0 = applyData(VObj(TreeMap("id" -> (VRid(tb, key): V))), data, mutScope(env, scala.None))
        writeDoc(tb, key, scala.None, doc0, output, env).foreach(results += _)
      }
      keyOpt match {
        case Some(key) =>
          Interp.checkIdKey(tb, key)
          findKeyLoose(t, key) match {
            case Some(stored) =>
              val doc = t(stored)
              // record users need the UPDATE clause truthy for the before-
              // doc (doc/allow.rs — same silent skip as create/delete)
              if (where.forall(c => Eval.eval(c, env.copy(doc = Some(doc))).truthy) &&
                  permAllows(tb, "update", doc)) update(stored, doc)
            case scala.None => if (upsert) create(key)
          }
        case scala.None =>
          var touched = 0
          // an event fired for one record may have deleted a later one
          t.toSeq.iterator.filter { case (key, _) => t.contains(key) }.foreach { case (key, doc) =>
            // a WHERE match counts as touched even when the UPDATE
            // permission denies it — a denied row must not flip an UPSERT
            // into its create arm
            if (where.forall(c => Eval.eval(c, env.copy(doc = Some(doc))).truthy) &&
                { touched += 1; permAllows(tb, "update", doc) }) update(key, doc)
          }
          // UPSERT on a table with no matching rows creates one record
          if (upsert && touched == 0) create(nextId())
      }
    }
    if (only) results.headOption.getOrElse(VNone) else VArr(results.toVector)
  }

  def execDelete(s: DeleteStmt, env: Env): V = {
    val results = mutable.ArrayBuffer[V]()
    mutationTargets(s.what, env).foreach { case (tb, keyOpt) =>
      val t = table(tb)
      val keys = keyOpt match {
        // ≤1 loose match can exist (keys are pairwise loose-distinct at
        // insert), so find ≡ the old filter; a regex key is no valid id and
        // would otherwise loose-match stored strings
        case Some(key) =>
          Interp.checkIdKey(tb, key)
          findKeyLoose(t, key).toSeq
        case scala.None => t.keys.toSeq
      }
      // an event fired for one victim may have deleted a later one
      keys.iterator.filter(t.contains).foreach { key =>
        val doc = t(key)
        val de = env.copy(doc = Some(doc))
        if (s.where.forall(c => Eval.eval(c, de).truthy) &&
            permAllows(tb, "delete", doc)) {
          removeDoc(tb, key, doc, env)
          // RETURN output rides the SELECT permission: a deletable-but-not-
          // readable row deletes silently (doc/allow.rs + doc/pluck.rs)
          if (permAllows(tb, "select", doc))
            shapeOutput(Some(doc), scala.None, s.output, env, tb).foreach(results += _)
        }
      }
    }
    if (s.output.isEmpty) VArr(Vector.empty)
    else if (s.only) results.headOption.getOrElse(VNone)
    else VArr(results.toVector)
  }

  /** The (table, stored key) of every record whose [[removeDoc]] is in
    * progress: a CASCADE or an edge purge that comes back to one of them
    * skips it, so a reference cycle ends and no record is removed twice. */
  private val removing = mutable.Set.empty[(String, V)]

  /** One document removal, the lifecycle every deleted record runs — a
    * named DELETE, a purged edge and a CASCADE victim alike (doc/purge.rs):
    * the ON DELETE actions of the records that reference it, the removal
    * and its edge mark, the events, then the purge of its edges. */
  private def removeDoc(tb: String, key: V, doc: VObj, env: Env): Unit = {
    val rid = recordId(tb, key, doc)
    removing += ((tb, key))
    try {
      applyReferentialActions(rid, env)
      tables.get(tb).foreach(removeRecord(_, key))
      unmarkEdge(tb, key)
      fireEvents(tb, Some(doc), scala.None, env)
      cascadeEdgeDeletes(rid, env)
    } finally removing -= ((tb, key))
  }

  /** Deleting a record purges the graph edges pointing in or out of it
    * (doc/purge.rs), running each edge's own delete lifecycle so DEFINE
    * EVENT on the edge table fires (event/with_relations golden). Each edge
    * table yields its candidates from the endpoint index ([[Interp.Table]]):
    * the union of the `in` and `out` buckets of `rid`, filtered by a loose
    * key match and removed in iteration order. */
  private def cascadeEdgeDeletes(rid: VRid, env: Env): Unit = {
    def endpoint(doc: VObj): Boolean = Seq("in", "out").exists(side =>
      doc.fields.get(side).exists {
        case r: VRid => r.table == rid.table && V.looseEq(r.key, rid.key)
        case _ => false
      })
    tables.toSeq.foreach { case (etb, t) =>
      // only RELATION tables and tables holding edge marks store edges
      val relation = tableDefs.get(etb).exists(_.ttype == "RELATION")
      val marked = edgeMarks.get(etb)
      if (relation || marked.nonEmpty) {
        val victims = (t.keysAt("in", rid) ++ t.keysAt("out", rid)).distinct.filter { k =>
          keysComparedCount += 1
          (relation || marked.exists(_.contains(k))) && endpoint(t(k))
        }.sortBy(t.position).map(k => k -> t(k))
        // a nested cascade may have removed a victim already, or be
        // removing it (an edge whose CASCADE victim is its endpoint)
        victims.foreach { case (k, doc) =>
          if (t.contains(k) && !removing((etb, k))) removeDoc(etb, k, doc, env) }
      }
    }
  }

  /** ON DELETE referential actions (expr/reference.rs): before a record is
    * deleted, every REFERENCE field pointing at it applies its action —
    * REJECT errors, CASCADE deletes the referencing record, UNSET removes
    * the link, IGNORE (the default) leaves it dangling. */
  private def applyReferentialActions(target: VRid, env: Env): Unit = {
    fieldPipeline.toSeq.foreach { case (tbl, defs) =>
      defs.filter(_.meta.exists(_.referenceRaw.isDefined)).foreach { fd =>
        val rawOrig = fd.meta.flatMap(_.referenceRaw).getOrElse("")
        val raw = rawOrig.toUpperCase
        val action =
          if (raw.contains("REJECT")) "REJECT"
          else if (raw.contains("CASCADE")) "CASCADE"
          else if (raw.contains("UNSET")) "UNSET"
          else if (raw.contains("THEN")) "THEN"
          else "IGNORE"
        if (action != "IGNORE") {
          val path = fd.field.replace(".*", "")
          val hits = tables.getOrElse(tbl, mutable.LinkedHashMap.empty).toSeq.filter {
            case (_, r) => docFieldPath(r, path) match {
              case VArr(items) => items.exists(V.looseEq(_, target))
              case v           => V.looseEq(v, target)
            }
          }
          hits.foreach { case (k, r) =>
            action match {
              case "REJECT" =>
                throw SqlError(s"Cannot delete `${Render.sql(target)}` as it is referenced by " +
                  s"`${Render.sql(recordId(tbl, k, r))}` with an ON DELETE REJECT clause")
              // an earlier victim's cascade may have removed it already,
              // and a record this statement is removing ends a cycle
              case "CASCADE" =>
                if (tables.get(tbl).exists(_.contains(k)) && !removing((tbl, k)))
                  removeDoc(tbl, k, r, env)
              case "UNSET" =>
                val updated = docFieldPath(r, path) match {
                  case VArr(items) =>
                    VObj(r.fields.updated(path, VArr(items.filterNot(V.looseEq(_, target)))))
                  case _ => VObj(r.fields - path)
                }
                putRecord(tables(tbl), k, updated)
                fireEvents(tbl, Some(r), Some(updated), env)
              case "THEN" =>
                // custom referential action: run the THEN expression with
                // $this = referencing record, $reference = deleted id
                // (expr/reference.rs ReferenceDeleteStrategy::Custom)
                val thenRaw = "(?is)THEN\\s+(.*)$".r.findFirstMatchIn(rawOrig)
                  .map(_.group(1).trim).getOrElse("")
                if (thenRaw.nonEmpty) {
                  val e = Parser.parse("RETURN " + thenRaw + ";").stmts.head match {
                    case ReturnStmt(x) => x
                    case _ => Lit(VNone)
                  }
                  val env2 = env.copy(doc = Some(r)).bind("reference", target)
                  try Eval.eval(e, env2)
                  catch { case ReturnSignal(_) => () }
                }
              case _ => ()
            }
          }
        }
      }
    }
  }

  def execInsert(s: InsertStmt, env: Env): V = {
    val intoTable = s.into.map {
      case Idiom(Seq(PField(n))) => n
      case e => Eval.eval(e, env) match {
        case VTable(n) => n
        case VStr(n) => n
        case other => throw SqlError(s"Can not INSERT INTO ${other.render}")
      }
    }
    val rows = Eval.eval(s.values, env) match {
      case VArr(items) => items.collect { case o: VObj => o }
      case o: VObj => Vector(o)
      case other => throw SqlError(s"Can not INSERT ${other.render}")
    }
    val results = mutable.ArrayBuffer[V]()
    rows.foreach { row =>
      val (tb, key) = row.fields.get("id") match {
        case Some(VRid(t, k)) => (intoTable.getOrElse(t), k)
        // id: NONE means "no id" — generate (insert.rs
        // extract_table_and_rid_key: Value::None => None)
        case Some(VNone) | scala.None => (intoTable.getOrElse(throw SqlError(
          "Cannot execute INSERT statement where property 'id' is: NONE")), nextId())
        // a float id rounds toward zero (insert.rs: id.as_int())
        case Some(VFloat(f)) => (intoTable.getOrElse(throw SqlError(
          s"Cannot execute INSERT statement where property 'id' is: ${VFloat(f).render}")),
          VInt(f.toLong))
        // kinds the reference cannot convert to a record-id key bail with
        // InsertStatementId (insert.rs extract_table_and_rid_key catch-all;
        // note NONE generates but NULL errors, and '' is not a valid key)
        case Some(VNull) => throw SqlError(
          "Cannot execute INSERT statement where property 'id' is: NULL")
        case Some(VStr("")) => throw SqlError(
          "Cannot execute INSERT statement where property 'id' is: ''")
        case Some(k @ (_: VBool | _: VDt | _: VDur)) => throw SqlError(
          s"Cannot execute INSERT statement where property 'id' is: ${k.render}")
        case Some(k) => (intoTable.getOrElse(throw SqlError(
          s"Cannot execute INSERT statement where property 'id' is: ${k.render}")), k)
      }
      // INSERT RELATION rows are edges: in/out must be record links
      // (insert/invalid_relation)
      if (s.relation) {
        Seq("in", "out").foreach { side =>
          row.fields.get(side) match {
            case Some(_: VRid) => ()
            case other => throw SqlError(
              s"Cannot execute INSERT statement where property '$side' is: ${other.map(_.render).getOrElse("NONE")}")
          }
        }
      }
      val t = table(tb)
      // duplicate = same record id OR a unique-index collision
      val rid = VRid(tb, key)
      val idxConflict = uniqueIndexes.getOrElse(tb, Vector.empty).view.flatMap {
        case (_, idxFields) =>
          val vals = idxFields.map(f => idxFieldValue(VObj(row.fields), f))
          if (vals.forall(v => v == VNone || v == VNull)) scala.None
          else findUniqueConflict(tb, rid, idxFields, vals).map(r => r.key)
      }.headOption
      // an id duplicate is "record already exists"; a unique-index collision
      // reroutes IGNORE always (insert_ignore_no_duplicate_key golden) but
      // ON DUPLICATE only for GENERATED ids — a row naming a specific fresh
      // id is a plain create whose index collision errors below
      // (core/tests/insert.rs insert_with_savepoint: "this will fail,
      // because we are specifying a specific id even though we also have
      // an ON DUPLICATE KEY UPDATE clause")
      val explicitId = row.fields.contains("id")
      Interp.checkIdKey(tb, key)
      val idDup = findKeyLoose(t, key)
      val existingKey =
        if (s.ignore) idDup.orElse(idxConflict)
        else if (s.onDuplicate.isDefined)
          idDup.orElse(if (explicitId) scala.None else idxConflict)
        else idDup
      val written = existingKey match {
        case Some(k0) =>
          if (s.ignore) scala.None
          else s.onDuplicate match {
            case Some(sets) =>
              val stored = findKeyLoose(t, k0).get
              val doc = t(stored)
              // the update arm binds $input to the incoming row
              // (core/tests/insert.rs insert_statement_duplicate_key_update);
              // it is a full document update, id rule and edge identity
              // included, with a real initial document for RETURN
              // DIFF/BEFORE (doc/pluck.rs diffs initial→current).
              // A record the UPDATE permission denies is skipped silently,
              // as in UPDATE (doc/allow.rs)
              if (!permAllows(tb, "update", doc)) scala.None
              else writeDoc(tb, stored, Some(doc), applyData(doc, Some(SetData(sets)),
                env.copy(doc = Some(doc)).bind("input", VObj(row.fields.updated("id", rid)))),
                s.output, env, edge = s.relation)
            case scala.None =>
              throw SqlError(s"Database record `${Render.sql(VRid(tb, key))}` already exists")
          }
        case scala.None =>
          writeDoc(tb, key, scala.None, VObj(row.fields.updated("id", rid)), s.output, env,
            edge = s.relation)
      }
      written.foreach(results += _)
    }
    VArr(results.toVector)
  }

  def execRelate(s: RelateStmt, env: Env): V = {
    def rids(e: Expr): Seq[VRid] = Eval.eval(e, env) match {
      case r: VRid => Seq(r)
      case VArr(items) => items.collect {
        case r: VRid => r
        case VObj(fs) if fs.get("id").exists(_.isInstanceOf[VRid]) =>
          fs("id").asInstanceOf[VRid]
      }
      case VObj(fs) => fs.get("id").collect { case r: VRid => r }.toSeq
      case other =>
        // invalid FROM reports 'in'; invalid TO reports 'id'
        // (relate.rs:75 RelateStatementIn vs :117 RelateStatementId)
        val prop = if (e eq s.from) "in" else "id"
        throw SqlError(s"Cannot execute RELATE statement where property '$prop' is: ${other.renderRaw}")
    }
    var edgeKeyFromValue: Option[V] = scala.None
    val edgeTable = s.edge match {
      case Idiom(Seq(PField(n))) => n
      case RidLit(tb, _) => tb
      case e => Eval.eval(e, env) match {
        case VTable(n) => n
        case VStr(n) => n
        case VRid(tb, k) => edgeKeyFromValue = Some(k); tb
        case other => throw SqlError(s"Can not RELATE through ${other.render}")
      }
    }
    val results = mutable.ArrayBuffer[V]()
    for (from <- rids(s.from); to <- rids(s.to)) {
      // a CONTENT/SET id overrides the generated key (doc/relate.rs)
      val dataId: Option[V] = s.data match {
        case Some(ContentData(ce)) => Eval.eval(ce, env) match {
          case VObj(fs) => fs.get("id").map {
            case VRid(_, k) => k
            case v => v
          }
          case _ => scala.None
        }
        case Some(SetData(sets)) =>
          sets.collectFirst {
            case (Idiom(Seq(PField("id"))), "=", ve) => Eval.eval(ve, env) match {
              case VRid(_, k) => k
              case v => v
            }
          }
        case _ => scala.None
      }
      val key = s.edge match {
        case RidLit(_, keyE) => Eval.eval(keyE, env)
        case _ => edgeKeyFromValue.orElse(dataId).getOrElse(nextId())
      }
      Interp.checkIdKey(edgeTable, key)
      // a key loosely equal to a stored one writes over that record under
      // its stored id, as UPDATE does, so stored keys stay loosely distinct
      val stored = tables.get(edgeTable).flatMap(findKeyLoose(_, key)).getOrElse(key)
      val rid = VRid(edgeTable, stored)
      // RELATE may only target relation-capable tables (TYPE ANY or
      // RELATION); the error names the RECORD being written (doc/relate.rs
      // — define/table/type_normal)
      if (tableDefs.get(edgeTable).exists(_.ttype == "NORMAL"))
        throw SqlError(s"Found record: `${rid.renderRaw}` which is a relation, but expected a NORMAL")
      // ENFORCED relations require both endpoints to exist (doc/relate.rs)
      tableDefs.get(edgeTable).filter(d => d.ttype == "RELATION" && d.enforced).foreach { _ =>
        Seq(from, to).foreach { r =>
          if (fetchRecord(r).isEmpty)
            throw SqlError(s"The record '${Render.sql(r)}' does not exist")
        }
      }
      // typed relations coerce in/out to their IN/OUT record kinds
      tableDefs.get(edgeTable).filter(_.ttype == "RELATION").foreach { d =>
        if (d.relIn.nonEmpty && !d.relIn.contains(from.table))
          throw SqlError(s"Couldn't coerce value for field `in` of `${Render.sql(rid)}`: " +
            s"Expected `record<${d.relIn.mkString("|")}>` but found `${Render.sql(from)}`")
        if (d.relOut.nonEmpty && !d.relOut.contains(to.table))
          throw SqlError(s"Couldn't coerce value for field `out` of `${Render.sql(rid)}`: " +
            s"Expected `record<${d.relOut.mkString("|")}>` but found `${Render.sql(to)}`")
      }
      val base = VObj(TreeMap(
        "id" -> (rid: V), "in" -> from, "out" -> to))
      // CONTENT/REPLACE never displace the edge identity fields
      val doc0 = {
        val d = applyData(base, s.data, env)
        VObj(d.fields.updated("id", rid: V).updated("in", from: V).updated("out", to: V))
      }
      writeDoc(edgeTable, stored, scala.None, doc0, s.output, env, edge = true)
        .foreach(results += _)
    }
    if (s.only) results.headOption.getOrElse(VNone) else VArr(results.toVector)
  }

  // ---- graph traversal -------------------------------------------------

  /** One lookup hop (exec/operators/scan/graph.rs, key layout
    * key/graph/mod.rs + doc/edges.rs:60-69). The KV stores per-record
    * adjacency entries (record, dir, foreign-table, foreign-key), which
    * here are the endpoint index of each table ([[Interp.Table]]):
    *  - a node has (node, OUT, edgeTb, edgeId) per outgoing edge and
    *    (node, IN, edgeTb, edgeId) per incoming edge — so `->knows` from a
    *    node yields knows-EDGE ids;
    *  - an edge record has (edge, OUT, out.table, out) and (edge, IN,
    *    in.table, in) — so `->person` from a knows-edge yields its target.
    * Scan order mirrors the KV key order: dir (In before Out), then
    * foreign table, then insertion (ULID-time) order. Rich lookups
    * (SELECT-projection / WHERE / ORDER / GROUP / LIMIT) evaluate as a
    * synthesized SELECT over the matched candidates. */
  def graphHop(v: V, g: PGraph, env: Env): V = {
    val sources: Vector[VRid] = (v match {
      case rid: VRid   => Vector[V](rid)
      case VArr(items) => items
      case o: VObj     => Vector[V](o)
      case _           => Vector.empty[V]
    }).flatMap {
      case r: VRid  => Vector(r)
      case VObj(fs) => fs.get("id").collect { case r: VRid => r }.toVector
      case _        => Vector.empty
    }
    val dirs = if (g.dir == "both") Seq("in", "out") else Seq(g.dir)
    def keyMatch(k: V, filt: Option[Expr]): Boolean = filt match {
      case scala.None => true
      case Some(fe) => Eval.eval(fe, env) match {
        case rng: VRng => Ops.contains(rng, k)
        case x         => V.looseEq(x, k)
      }
    }
    val candidates = mutable.ArrayBuffer[V]()
    // `<~table` reference scan (exec/operators/scan/reference.rs:48):
    // records whose REFERENCE-marked fields point at the source
    if (g.dir == "ref") {
      sources.foreach { src =>
        val subjects: Seq[LookupSubject] =
          if (g.what.nonEmpty) g.what
          else tables.keys.toVector.sorted.map(t => LookupSubject(t, scala.None))
        subjects.foreach { sub =>
          val t = sub.table
          // an id-range restriction needs a referencing FIELD to index by
          // (reference scan/reference.rs range guard)
          if (sub.key.exists(_.isInstanceOf[RangeLit]) && g.refFields.isEmpty)
            throw SqlError("Cannot scan a specific range of record references without a referencing field")
          val refFields = fieldPipeline.getOrElse(t, Vector.empty)
            .filter(_.meta.exists(_.referenceRaw.isDefined))
            .filter(fd => g.refFields.isEmpty ||
              g.refFields.contains(fd.field.replace(".*", "")))
          if (refFields.nonEmpty) {
            tables.get(t).foreach(_.values.foreach { r =>
              // each referencing FIELD contributes its own entry — a record
              // referencing via two fields appears twice (via_referencing_field)
              refFields.foreach { fd =>
                val hit = docFieldPath(r, fd.field.replace(".*", "")) match {
                  case VArr(items) => items.exists(V.looseEq(_, src))
                  case v           => V.looseEq(v, src)
                }
                if (hit) r.fields.get("id").foreach {
                  case id: VRid if keyMatch(id.key, sub.key) => candidates += id
                  case id if sub.key.isEmpty => candidates += id
                  case _ => ()
                }
              }
            })
          }
        }
      }
      val plainRef = g.cond.isEmpty && g.fields.isEmpty && g.order.isEmpty &&
        g.groupBy.isEmpty && g.limit.isEmpty && g.start.isEmpty && g.split.isEmpty && !g.only
      if (plainRef) return VArr(candidates.toVector)
    } else
    sources.foreach { src =>
      val rec = fetchRecord(src)
      val isEdge = rec.exists(r => r.fields.get("in").exists(_.isInstanceOf[VRid]) &&
        r.fields.get("out").exists(_.isInstanceOf[VRid]))
      dirs.foreach { d =>
        val subjects: Seq[LookupSubject] =
          if (g.what.nonEmpty) g.what
          else tables.keys.toVector.sorted.map(t => LookupSubject(t, scala.None))
        subjects.foreach { sub =>
          // edge-record pointer entry (edge, dir, target.table, target)
          if (isEdge) {
            rec.get.fields.getOrElse(if (d == "out") "out" else "in", VNone) match {
              case t: VRid if t.table == sub.table && keyMatch(t.key, sub.key) =>
                candidates += t
              case _ => ()
            }
          }
          // node adjacency: edges in sub.table anchored at src, in KV key
          // order (sorted by edge id key, scan/graph.rs range scan), read
          // from the endpoint index of the anchor side
          val (anchorSide, farSide) = if (d == "out") ("in", "out") else ("out", "in")
          val matched = mutable.ArrayBuffer[VRid]()
          tables.get(sub.table).foreach { t =>
            t.keysAt(anchorSide, src).foreach { k =>
              keysComparedCount += 1
              val edge = t(k)
              // an edge has record ids on both sides; the anchor is src
              // itself (looseEq on two record ids is structural)
              if (edge.fields.get(farSide).exists(_.isInstanceOf[VRid]) &&
                  edge.fields.get(anchorSide).contains(src)) {
                edge.fields.get("id") match {
                  case Some(e: VRid) if keyMatch(e.key, sub.key) => matched += e
                  case _ => ()
                }
              }
            }
          }
          candidates ++= matched.sortBy(_.key)(V.ordering)
        }
      }
    }
    val plain = g.cond.isEmpty && g.fields.isEmpty && g.order.isEmpty &&
      g.groupBy.isEmpty && g.limit.isEmpty && g.start.isEmpty && g.split.isEmpty && !g.only
    if (plain) return VArr(candidates.toVector)
    // rich lookup: SELECT over the candidates; the outer doc becomes $parent
    val subEnv = env.doc.map(identity[V]).orElse(env.params.get("this")) match {
      case Some(d)    => env.bind("parent", d)
      case scala.None => env
    }
    val sel = SelectStmt(
      fields = g.fields.getOrElse(Seq(Field(Idiom(Seq(PField("id"))), scala.None))),
      value = g.value || g.fields.isEmpty,
      omit = Nil, only = g.only,
      what = Seq(Lit(VArr(candidates.toVector))),
      where = g.cond, split = g.split, groupBy = g.groupBy, order = g.order,
      orderRand = false, limit = g.limit, start = g.start, fetch = Nil,
      version = scala.None, timeout = scala.None, explain = false)
    execSelect(sel, subEnv)
  }
}
