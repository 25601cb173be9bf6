package graft.surql

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{Exact, Kernels}
import graft.surql.ast._

/** SurrealQL → Spark planner: lowers a parsed SELECT (or RETURN) onto
  * DataFrame plans over the parquet catalog — the Spark twin of the
  * reference's `plan_select_statement` pipeline assembly (surrealdb:
  * exec/planner/select.rs:1213, pipeline select.rs:195: source → Filter →
  * Split → Aggregate → Sort → Limit → Project → Fetch).
  *
  * Catalyst owns what the reference hand-implements: predicate pushdown into
  * the scan (`scan_predicate`), column pruning (`needed_fields`), TopK
  * (`SortTopK` → TakeOrderedAndProject), limit pushdown. Subquery `INSIDE`
  * membership lowers to semi/anti joins (decorrelated, one shuffle — the
  * reference re-executes per row, exec/physical_expr/subquery.rs).
  *
  * Record links (SurrealQL's join surface, SURVEY §2.6): the catalog below
  * declares which columns are record links (`DEFINE FIELD … TYPE record<t>`
  * analog) and link-dereference idioms (`o_custkey.c_mktsegment`) lower to
  * equi-joins — broadcast for dimension tables, shuffle otherwise. Record-id
  * FROM targets (`orders:1`, `orders:100..200`) lower to key predicates the
  * parquet scan consumes (RecordIdScan, exec/operators/scan/record_id.rs:45).
  *
  * Numeric semantics in this path are ANSI-mode Spark (the table engine),
  * not the scalar interpreter's checked SurrealQL arithmetic; float
  * aggregates route through [[Exact]] decimal so distributed order never
  * changes a hash-compared result. */
object SparkPlanner {

  /** Record-link topology of the testdata catalog — the Spark rendering of
    * `DEFINE FIELD <col> ON <table> TYPE record<target>` (catalog/schema/
    * field.rs). (table, column) → (targetTable, targetKey). */
  val linksBase: Map[(String, String), (String, String)] = Map(
    ("orders", "o_custkey")    -> ("customer", "c_custkey"),
    ("lineitem", "l_orderkey") -> ("orders", "o_orderkey"),
    ("lineitem", "l_partkey")  -> ("part", "p_partkey"),
    ("lineitem", "l_suppkey")  -> ("supplier", "s_suppkey"),
    ("customer", "c_nationkey") -> ("nation", "n_nationkey"),
    ("supplier", "s_nationkey") -> ("nation", "n_nationkey"),
    ("nation", "n_regionkey")  -> ("region", "r_regionkey"))

  /** Extra link edges registered at runtime (tests / user DEFINE FIELD
    * record<> declarations) — consulted after [[linksBase]]. */
  val extraLinks =
    scala.collection.concurrent.TrieMap[(String, String), (String, String)]()

  /** The effective link catalog (base + runtime registrations). */
  object links {
    def apply(k: (String, String)): (String, String) = get(k).getOrElse(
      throw SqlError(s"SparkPlanner: no link ${k._1}.${k._2}"))
    def get(k: (String, String)): Option[(String, String)] =
      linksBase.get(k).orElse(extraLinks.get(k))
    def contains(k: (String, String)): Boolean = get(k).isDefined
  }

  /** Extra record keys registered at runtime (tests / user tables beyond
    * the built-in testdata catalog) — consulted after [[recordKeyBase]]. */
  val extraRecordKeys = scala.collection.concurrent.TrieMap[String, String]()

  /** Record-id key column per table (`table:key` scans). */
  val recordKeyBase: Map[String, String] = Map(
    "customer" -> "c_custkey", "orders" -> "o_orderkey", "part" -> "p_partkey",
    "supplier" -> "s_suppkey", "nation" -> "n_nationkey", "region" -> "r_regionkey",
    "events" -> "event_id", "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** The effective record-key catalog (base + runtime registrations). */
  object recordKey {
    def apply(t: String): String = get(t).getOrElse(
      throw SqlError(s"SparkPlanner: no record key for table $t"))
    def get(t: String): Option[String] =
      recordKeyBase.get(t).orElse(extraRecordKeys.get(t))
    def getOrElse(t: String, default: => String): String =
      get(t).getOrElse(default)
  }

  /** Record-auth session for the Spark path. When active, every concrete
    * table scan resolves the table's SELECT permission clause ONCE at plan
    * time and pushes it as an extra filter ahead of the user predicates —
    * the reference resolves permissions per scan the same way
    * (exec/operators/scan/resolved.rs:29) and Catalyst then pushes the
    * conjunction down to the parquet reader, so multi-tenant row security
    * costs nothing beyond the predicate itself at 100 TB.
    *
    * `perms`: table → "FULL" | "NONE" | "WHERE <surql>"; `auth` binds
    * `$auth` inside permission clauses (doc/compute.rs record-user check). */
  /** `perms`: SELECT permission per table; `actionPerms`: create/update/
    * delete clauses keyed (table, action) — rows failing a mutation clause
    * are silently untouched, like the reference (doc/allow.rs; a denied
    * CREATE is skipped, reproductions/7208); `fieldDeny`: fields whose
    * SELECT permission is NONE — they read as ABSENT (dropped from the
    * scan schema), the doc/pluck.rs behavior. */
  final case class AuthSession(auth: V, perms: Map[String, String],
      fieldDeny: Map[String, Set[String]] = Map.empty,
      actionPerms: Map[(String, String), String] = Map.empty)

  private val authTL = new ThreadLocal[Option[AuthSession]] {
    override def initialValue: Option[AuthSession] = scala.None
  }

  /** Run `f` as the given record-auth session (system sessions — the
    * default — plan with no permission filters, like the reference's
    * check_perms short-circuit for non-record users). */
  def withAuth[T](sess: AuthSession)(f: => T): T = {
    val prev = authTL.get()
    authTL.set(Some(sess))
    try f finally authTL.set(prev)
  }

  private val permCache =
    scala.collection.concurrent.TrieMap[String, Expr]()

  /** Lower one permission clause string to an optional row predicate. */
  private def permCond(spark: SparkSession, dir: String, table: String,
      schema: StructType, sess: AuthSession, clause: String): Option[Column] =
    clause match {
      case "FULL" => scala.None
      case "NONE" => Some(lit(false))
      case w if w.toUpperCase.startsWith("WHERE ") =>
        val cond = permCache.getOrElseUpdate(w,
          Parser.parse("RETURN " + w.drop(6) + ";").stmts.collectFirst {
            case ReturnStmt(e) => e
          }.getOrElse(throw SqlError(s"SparkPlanner: unparsable permission $w")))
        val bound = Subst.expr(cond, Map("auth" -> sess.auth))
        Some(toCol(bound, Ctx(spark, dir, table, schema, Map.empty)))
      case other =>
        throw SqlError(s"SparkPlanner: unsupported permission clause $other")
    }

  /** The mutation permission predicate for (table, action) under the active
    * session, if any — rows failing it are silently untouched. */
  private def actionPermCond(spark: SparkSession, dir: String, table: String,
      action: String, schema: StructType): Option[Column] =
    authTL.get().flatMap { sess =>
      sess.actionPerms.get((table, action))
        .flatMap(permCond(spark, dir, table, schema, sess, _))
    }

  /** Apply `table`'s SELECT permission to a freshly planned scan: the row
    * clause filters, then SELECT-NONE fields drop from the schema. */
  private def permFilter(spark: SparkSession, dir: String, df: DataFrame,
      table: String): DataFrame = authTL.get() match {
    case scala.None => df
    case Some(sess) =>
      val rowFiltered = sess.perms.get(table)
        .flatMap(permCond(spark, dir, table, df.schema, sess, _))
        .map(df.filter).getOrElse(df)
      sess.fieldDeny.get(table) match {
        case Some(denied) if denied.nonEmpty =>
          rowFiltered.drop(denied.toSeq.filter(rowFiltered.columns.contains): _*)
        case _ => rowFiltered
      }
  }

  /** Tables small enough to broadcast in link joins at any scale factor —
    * dimensions in the TPC-H sense. Fact-side links fall back to shuffle
    * joins that AQE may still convert. */
  private val broadcastDims = Set("region", "nation", "supplier", "customer", "part")

  /** Tables with a declared COUNT index (`DEFINE INDEX … COUNT` analog) —
    * only these get the IndexCountScan fast path; the rest keep CountScan. */
  private val countIndexed = Set("orders")

  /** Planning context: source table (for link resolution), its schema, and
    * derived columns produced by link-deref joins, graph-hop aggregations,
    * and the MATCHES / KNN sub-plans. */
  final case class Ctx(spark: SparkSession, dir: String, table: String,
      schema: StructType, linkCols: Map[List[String], String],
      graphCols: Map[Seq[Part], String] = Map.empty,
      scoreCol: Option[String] = scala.None,
      knnDistCol: Option[String] = scala.None,
      lambdaParams: Map[String, Column] = Map.empty,
      destrCols: Map[(String, Seq[String]), String] = Map.empty,
      subqCols: Map[Expr, String] = Map.empty,
      // match-ref registry for search::highlight: ref -> (field, chain
      // render, analyzed query terms)
      matchRefs: Map[Int, (String, String, Seq[String])] = Map.empty)

  /** Script-scope FTS catalog threaded to the `@@` lowering: analyzers from
    * DEFINE/ALTER ANALYZER plus search-index field coverage from DEFINE
    * INDEX … SEARCH ANALYZER (expr/statements/define/analyzer.rs,
    * alter/analyzer.rs). Ambient like the write overlay — planSelect runs
    * deep inside statement handling, so the script executor publishes the
    * catalog here around every plan build. */
  final case class FtsScope(
      analyzers: Map[String, graft.surql.Defs.AnalyzerDef],
      // (table, field) -> (analyzer name, k1, b)
      fields: Map[(String, String), (String, Double, Double)])
  private val ftsScope =
    new scala.util.DynamicVariable[FtsScope](FtsScope(Map.empty, Map.empty))

  /** Script-scope DEFINE FUNCTION catalog (define/function.rs). A user
    * fn:: with an EXPRESSION body (single RETURN) inlines at plan time —
    * parameters substitute for the argument expressions and the body
    * lowers like any other expression, so the call is a zero-cost macro
    * inside whole-stage codegen. blockToExpr extends this to LET
    * prefixes, all-RETURN IFs, THROW (terminal or guarded), and
    * constant-iterable FOR validation loops; genuinely effectful bodies
    * (mutations, row-dependent FOR sources) stay interpreter-only. */
  private val fnScope =
    new scala.util.DynamicVariable[Map[String, DefineFunctionStmt]](Map.empty)
  /** fn:: inline depth — the reference errors at the 16th nested frame
    * (err/mod.rs ComputationDepthExceeded). */
  private val fnDepth = new scala.util.DynamicVariable[Int](0)

  /** Generic AST walk: no row-dependent leaf anywhere under `e` — i.e. the
    * expression is a genuine plan-time constant (Eval.evalConst would
    * otherwise silently treat unknown fields as NONE). */
  private def rowFree(e: Any): Boolean = e match {
    case _: Idiom | _: Param | _: ColExpr | _: Subquery | _: TableRef
        | _: NativeExpr => false
    case s: Seq[_]    => s.forall(rowFree)
    case o: Option[_] => o.forall(rowFree)
    case p: Product   => p.productIterator.forall(rowFree)
    case _            => true
  }

  /** Generic AST walk: does any FnCall under `e` satisfy `pred`? */
  private def exprHasFn(e: Any, pred: String => Boolean): Boolean = e match {
    case FnCall(name, as) => pred(name) || as.exists(exprHasFn(_, pred))
    case s: Seq[_]        => s.exists(exprHasFn(_, pred))
    case o: Option[_]     => o.exists(exprHasFn(_, pred))
    case p: Product       => p.productIterator.exists(exprHasFn(_, pred))
    case _                => false
  }

  /** Plan-time constant chunk/window size, with the reference's >= 1 guard
    * (val/array.rs clump/windows). */
  private def constSize(fn: String, e: Expr): Int = {
    val k = (if (rowFree(e)) try Some(Eval.evalConst(e)) catch {
      case _: Exception => scala.None
    } else scala.None) match {
      case Some(VInt(i)) => i
      case _ => throw SqlError(s"SparkPlanner: $fn needs a constant size")
    }
    if (k < 1) throw SqlError(s"Incorrect arguments for function $fn(). " +
      "The second argument must be an integer greater than 0")
    // sizes past Int.MaxValue clamp rather than truncate (r19): the
    // reference takes a usize, and any size >= the array length yields one
    // (short) chunk / no window — which the clamped Int preserves, while
    // k.toInt would wrap 4294967298 to 2 and chunk wrong.
    if (k > Int.MaxValue) Int.MaxValue else k.toInt
  }

  /** AST node count — the size guard for symbolic substitution. */
  private def nodeCount(e: Any): Int = e match {
    case s: Seq[_]    => s.iterator.map(nodeCount).sum
    case o: Option[_] => o.iterator.map(nodeCount).sum
    case p: Product   => 1 + p.productIterator.map(nodeCount).sum
    case _            => 0
  }

  /** Symbolic LET substitution doubles the tree whenever a binding
    * references an earlier one more than once (LET $b = $a + $a; LET $c =
    * $b + $b; …): 2^n growth in n bindings, which the depth-16 recursion
    * cap cannot see (it is all ONE call frame). Bound the substituted tree
    * size and decline to inline past it — the interpreter evaluates LETs
    * by VALUE (once per binding, like the reference's block executor), so
    * these bodies stay correct there instead of compiling for minutes. */
  private val MaxInlineNodes = 10000

  /** Statement block → single expression, when every control path RETURNs,
    * THROWs, or falls off the end:
    *  - LET prefixes substitute symbolically (the query path's LET
    *    handling, per row);
    *  - a TERMINAL IF whose arms all return lowers to IfExpr (a missing
    *    branch with no ELSE falls off the block → NONE);
    *  - a terminal THROW lowers to the internal `graft::throw` call —
    *    `raise_error` on the Spark path, SqlError in Eval — with the
    *    reference's "An error occurred: …" text (statements/throw.rs);
    *  - a NON-terminal IF whose arms only THROW or fall off (no RETURN —
    *    RETURN is whole-function control flow) chains: the continuation
    *    substitutes into every falling-off leaf (r19);
    *  - FOR over a plan-time-constant array/range unrolls the same way,
    *    each iteration's guard nesting the next (validation-loop shape:
    *    `FOR $x IN […] { IF … { THROW … } }; RETURN …`). Bodies with
    *    RETURN/BREAK/CONTINUE or non-literal falling-off values decline.
    * Declines (None → interpreter) for anything else — mutations,
    * row-dependent FOR sources. A NON-DETERMINISTIC LET (rand::*) must
    * evaluate once per row, not once per reference — substitution would
    * re-roll it, so those decline by name too (r17/r18). The node-count
    * guard bounds every substitution product, unrolled FORs included. */
  private def blockToExpr(stmts0: Seq[Statement], n: String): Option[Expr] = {
    def guard(v: Expr): Expr = {
      if (exprHasFn(v, f => f == "rand" || f.startsWith("rand::")))
        throw SqlError(
          s"SparkPlanner: non-deterministic LET in body of '$n' is interpreter-only")
      if (nodeCount(v) > MaxInlineNodes)
        throw SqlError(s"SparkPlanner: LET substitution in body of '$n' " +
          s"exceeds $MaxInlineNodes nodes — interpreter-only")
      v
    }
    def armToExpr(arm: Expr, env: Map[String, Expr]): Option[Expr] = arm match {
      case BlockExpr(ss) => convert(ss, env)
      case e             => Some(guard(Subst.exprE(e, env)))
    }
    // whole-function control flow hiding inside a statement subtree —
    // chaining a continuation past it would change what the fn returns
    def containsReturn(x: Any): Boolean = x match {
      case _: ReturnStmt          => true
      case BreakStmt | ContinueStmt => true
      case s: Seq[_]              => s.exists(containsReturn)
      case o: Option[_]           => o.exists(containsReturn)
      case p: Product             => p.productIterator.exists(containsReturn)
      case _                      => false
    }
    // substitute `cont` into every falling-off leaf of a converted block
    // expression; THROW leaves keep throwing, literal leaves (the value a
    // fell-off block or armless IF yields) are discardable — anything
    // else could error when evaluated, so declining keeps the
    // interpreter's eager-evaluation semantics
    def chain(e: Expr, cont: Expr): Option[Expr] = e match {
      case IfExpr(arms, els) =>
        val newArms = arms.map { case (c2, v) => chain(v, cont).map(c2 -> _) }
        val newEls = els.fold(Option(cont))(chain(_, cont))
        if (newArms.forall(_.isDefined) && newEls.isDefined)
          Some(IfExpr(newArms.map(_.get), newEls))
        else scala.None
      case t @ FnCall("graft::throw", _) => Some(t)
      case Lit(_)                        => Some(cont)
      case _                             => scala.None
    }
    def convert(stmts: Seq[Statement], env0: Map[String, Expr]): Option[Expr] = {
      val (lets, rest) = stmts.span(_.isInstanceOf[LetStmt])
      val env = lets.foldLeft(env0) {
        case (env, LetStmt(name, _, what)) =>
          env + (name -> guard(Subst.exprE(what, env)))
        case (env, _) => env
      }
      rest match {
        case Seq() => Some(Lit(VNone)) // fell off the block
        case Seq(ReturnStmt(e)) => Some(guard(Subst.exprE(e, env)))
        case Seq(ThrowStmt(e)) =>
          Some(FnCall("graft::throw", Seq(guard(Subst.exprE(e, env)))))
        case Seq(IfStmt(branches, otherwise)) =>
          val arms = branches.map { case (c, v) =>
            armToExpr(v, env).map(guard(Subst.exprE(c, env)) -> _)
          }
          val els = otherwise.map(o => armToExpr(o, env))
            .getOrElse(Some(Lit(VNone)))
          if (arms.forall(_.isDefined) && els.isDefined)
            Some(IfExpr(arms.map(_.get), Some(els.get)))
          else scala.None
        case (i: IfStmt) +: more if !containsReturn(i) =>
          for {
            head <- convert(Seq(i), env)
            cont <- convert(more, env)
            out  <- chain(head, cont)
          } yield guard(out)
        case (f: ForStmt) +: more if !containsReturn(f.block) =>
          val src = Subst.exprE(f.iterable, env)
          val items: Option[Vector[V]] =
            if (!rowFree(src)) scala.None
            else (try Some(Eval.evalConst(src)) catch {
              case _: Exception => scala.None
            }) match {
              case Some(VArr(its)) => Some(its)
              case Some(r: VRng) =>
                Coerce.rangeToArray(r).map(_.items)
              case _ => scala.None
            }
          for {
            its  <- items
            cont <- convert(more, env)
            out <- its.foldRight(Option(cont)) { (item, accO) =>
              for {
                acc  <- accO
                body <- convert(f.block.stmts, env + (f.param -> Lit(item)))
                next <- chain(body, acc)
              } yield next
            }
          } yield guard(out)
        case _ => scala.None
      }
    }
    convert(stmts0, Map.empty)
  }

  private def inlineUserFn(n: String, args: Seq[Expr]): Expr = {
    val d = fnScope.value(n)
    if (args.length != d.params.length)
      throw SqlError(s"Expected ${d.params.length} arguments for function '$n'")
    if (fnDepth.value >= 16)
      throw SqlError("Reached excessive computation depth due to functions, subqueries, or computed values")
    val body = d.body match {
      case BlockExpr(stmts) =>
        blockToExpr(stmts, n).getOrElse(throw SqlError(
          s"SparkPlanner: effectful body of '$n' is interpreter-only"))
      case e => e
    }
    Subst.exprE(body, d.params.map(_._1).zip(args).toMap)
  }

  /** FUNCTION analyzer pre-transform (idx/ft/analyzer/mod.rs:97-104): the
    * whole input string runs through a user fn:: BEFORE tokenization. With
    * fn:: plan-time inlining, the transform composes into the Spark-side
    * postings build as a per-row column expression over the indexed field —
    * and because the returned cache-key fragment is the INLINED body, an
    * ALTER FUNCTION re-keys the persisted postings exactly like ALTER
    * ANALYZER does (no stale index). Effectful fn bodies keep
    * inlineUserFn's interpreter-only error. */
  private def fnXform(spark: SparkSession, dir: String, table: String,
      field: String, parsed: graft.surql.Search.AnalyzerDef)
      : Option[(String, DataFrame => DataFrame)] =
    parsed.function.map { fnName =>
      val fq = if (fnName.startsWith("fn::")) fnName else "fn::" + fnName
      if (!fnScope.value.contains(fq))
        throw SqlError(s"The function '$fq' does not exist")
      val inlined = inlineUserFn(fq, Seq(Idiom(Seq(PField(field)))))
      (inlined.toString, (src: DataFrame) => {
        val ctx = Ctx(spark, dir, table, src.schema, Map.empty)
        // array-valued fields apply the fn PER VALUE (the reference's
        // analyze_value walks the value tree and runs the analyzer — fn
        // included — per string; mod.rs:75-80): bind the fn's param to the
        // HOF lambda variable via the ColExpr leaf
        val c = src.schema(field).dataType match {
          case org.apache.spark.sql.types.ArrayType(_, _) =>
            transform(col(field),
              x => toCol(inlineUserFn(fq, Seq(ColExpr(x))), ctx))
          case _ => toCol(inlined, ctx)
        }
        // the reference requires a STRING return (analyzer/mod.rs:104)
        val ok = src.select(c).schema.head.dataType match {
          case org.apache.spark.sql.types.StringType => true
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, _) => true
          case _ => false
        }
        if (!ok)
          throw SqlError(s"There was a problem running the ${fq.stripPrefix("fn::")}() function. The function should return a string.")
        src.withColumn(field, c)
      })
    }

  /** For a FUNCTION analyzer chain: the fn-transformed FIELD as a column
    * (for the span kernels — spans must come from the same text the
    * indexing side analyzed). None when the chain has no fn. Array-valued
    * fields apply the fn per value (ColExpr-bound HOF lambda), mirroring
    * the indexing side. */
  private def fnAnalyzerCol(field: String, chain: String, who: String,
      ctx: Ctx): Option[Column] =
    graft.functions.Analyze.chain(chain).function.map { fnName =>
      val fq = if (fnName.startsWith("fn::")) fnName else "fn::" + fnName
      if (!fnScope.value.contains(fq))
        throw SqlError(s"The function '$fq' does not exist")
      if (ctx.schema.fields.find(_.name == field)
          .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
        transform(col(field),
          x => toCol(inlineUserFn(fq, Seq(ColExpr(x))), ctx).cast("string"))
      else
        toCol(inlineUserFn(fq, Seq(Idiom(Seq(PField(field))))), ctx).cast("string")
    }

  /** Query-stage input for a FUNCTION analyzer: the rhs text runs through
    * the same fn:: driver-side (it is a plan-time constant). */
  private def fnQueryInput(parsed: graft.surql.Search.AnalyzerDef,
      qtext: String): String =
    parsed.function match {
      case Some(fnName) =>
        val fq = if (fnName.startsWith("fn::")) fnName else "fn::" + fnName
        if (!fnScope.value.contains(fq))
          throw SqlError(s"The function '$fq' does not exist")
        Eval.evalConst(inlineUserFn(fq, Seq(Lit(VStr(qtext))))) match {
          case VStr(x) => x
          case _ => throw SqlError(s"There was a problem running the ${fq.stripPrefix("fn::")}() function. The function should return a string.")
        }
      case scala.None => qtext
    }

  def query(spark: SparkSession, dir: String, surql: String): DataFrame =
    Parser.parse(surql).stmts match {
      case Seq(s: SelectStmt) => planSelect(spark, dir, s)
      // `LET $t = …; SELECT … FROM $t` — DynamicScan (scan/dynamic.rs:53):
      // the source resolves at PLAN time (the param value is a plan-time
      // constant), then dispatches to the ordinary table scan, so Catalyst
      // still sees a static parquet relation with full pushdown.
      case stmts if stmts.length >= 2 && stmts.init.forall(_.isInstanceOf[LetStmt]) &&
          stmts.last.isInstanceOf[SelectStmt] =>
        // bind sequentially (a later LET may reference an earlier one),
        // then SUBSTITUTE into the select body — LET-bound k/p/args reach
        // every constant-wanting lowering as plan-time literals, exactly
        // like the script path's Subst.stmt at exec()
        var bound = Map.empty[String, V]
        stmts.init.foreach { case LetStmt(name, _, what) =>
          bound += (name -> Eval.evalConst(Subst.expr(what, bound)))
        }
        val s0 = stmts.last.asInstanceOf[SelectStmt]
        // FROM stays UNsubstituted: `FROM $t` is the DynamicScan shape
        // planSource resolves against the param map (a bare string literal
        // in FROM is not a source in the reference)
        val s = Subst.stmt(s0, bound).asInstanceOf[SelectStmt].copy(what = s0.what)
        planSelect(spark, dir, s, bound)
      // EXPLAIN <select> (exec/operators/explain.rs): on the Spark path the
      // authoritative plan IS Catalyst's — one row per optimized-plan line,
      // so a user sees the pushdowns/joins their SurrealQL lowered to
      // (EXPLAIN ANALYZE executes first and reports the final AQE plan)
      case Seq(ExplainStmt(analyze, _, inner: SelectStmt)) =>
        val df = planSelect(spark, dir, inner)
        val plan =
          if (analyze) { df.collect(); df.queryExecution.executedPlan.toString }
          else df.queryExecution.optimizedPlan.toString
        val rows = plan.linesIterator.zipWithIndex
          .map { case (l, i) => (i.toLong, l) }.toSeq
        spark.createDataFrame(rows).toDF("line_no", "operator")
      // INFO FOR DB / TABLE (expr/statements/info.rs): the catalog rendered
      // as rows — a driver-side listing, no cluster work
      case Seq(InfoStmt("DB", _, _, _)) =>
        val rows = Tables.all.sorted.map(t => (t, "TABLE"))
        spark.createDataFrame(rows).toDF("name", "kind")
      case Seq(InfoStmt("TABLE", t, _, _)) =>
        val fields = Tables(spark, dir, t).schema.fields
          .map(f => (f.name, surqlKind(f.dataType))).toSeq
        spark.createDataFrame(fields).toDF("name", "kind")
      // anything else — a lone mutation or RETURN, multi-statement text
      // without BEGIN, DDL-led sequences — runs through the script executor,
      // which owns statement sequencing, the uncommitted-write overlay and
      // the schema (DEFINE FIELD/INDEX/EVENT) every mutation enforces;
      // query() is total over whatever script() accepts
      case stmts => runScript(spark, dir, stmts)
    }

  /** Unique-index build probes over pristine base tables, cached per
    * (corpus, table, fields) — the one-time index-build scan. */
  private val uniqueBuildCache =
    scala.collection.concurrent.TrieMap[(String, String, Seq[String]), Boolean]()

  /** Multi-statement SurrealQL script — the transaction surface
    * (`BEGIN; …; COMMIT`, expr/statements/begin.rs + the kvs transaction
    * in the reference). Statements run in order against an uncommitted-
    * write OVERLAY: each mutation rewrites its table's DataFrame plan, and
    * later statements (SELECTs or further mutations) read through it. The
    * overlay is lazy — nothing materializes per statement, so the whole
    * transaction collapses into ONE Catalyst plan over the base parquet,
    * which is also the atomicity story: either the final plan executes or
    * nothing did. `CANCEL` discards writes made since `BEGIN`
    * (expr/statements/cancel.rs). Returns the last result-producing
    * statement's DataFrame. */
  def script(spark: SparkSession, dir: String, surql: String): DataFrame =
    runScript(spark, dir, Parser.parse(surql).stmts)

  /** The script executor's transactional state: everything a statement
    * can register or bind, so that CANCEL restores ALL of it from one
    * BEGIN snapshot (the reference discards the whole transaction context).
    * Fields are vars so the executor updates them in place; `copy()` is
    * the snapshot. */
  private final case class ScriptState(
      // table states: base parquet plans rewritten by each mutation
      var overlay: Map[String, DataFrame],
      // LET / DEFINE PARAM bindings
      var params: Map[String, V] = Map.empty,
      // DEFINE PARAM catalog membership — ALTER PARAM requires it (a LET
      // binding is not alterable, matching Interp's paramDefs keying)
      var paramDefd: Set[String] = Set.empty,
      var eventDefs: Seq[graft.surql.Defs.EventDef] = Seq.empty,
      // script-scope schema: DEFINE FIELD pipelines and UNIQUE indexes
      // apply to every subsequent mutation (doc/field.rs, idx/index.rs)
      var fldDefs: Map[String, Vector[DefineFieldStmt]] = Map.empty,
      var uniqDefs: Map[String, Vector[(String, Seq[String])]] = Map.empty,
      // COMPUTED fields are read-time projections (Interp withComputed); the
      // overlay re-applies them after every write so reads always see
      // values consistent with the latest row state
      var computedDefs: Map[String, Vector[(String, Expr)]] = Map.empty,
      // analyzer + search-index catalog (DEFINE/ALTER ANALYZER, DEFINE
      // INDEX … SEARCH) — published to the `@@` lowering via ftsScope
      var anaDefs: Map[String, graft.surql.Defs.AnalyzerDef] = Map.empty,
      var ftsFields: Map[(String, String), (String, Double, Double)] = Map.empty,
      var ftsByName: Map[(String, String), Seq[String]] = Map.empty, // (table, idx) -> fields
      // DEFINE FUNCTION catalog (expression bodies inline at plan time —
      // see fnScope/inlineUserFn)
      var userFns: Map[String, DefineFunctionStmt] = Map.empty)

  private def runScript(spark: SparkSession, dir: String,
      stmts: Seq[Statement]): DataFrame = {
    // seed from the ambient overlay so externally-injected tables (and
    // nested script invocations) stay visible inside this script
    var st = ScriptState(Tables.currentOverlay)
    var txn = st.copy() // snapshot at BEGIN
    // RELATE catalog registrations made since BEGIN — CANCEL must
    // unregister them (the reference discards the whole transaction
    // context; a leaked registration would let a later DELETE's edge purge
    // match a table the cancelled transaction never created)
    var txnAddedKeys = Set.empty[String]
    var txnAddedEdges = Set.empty[String]
    var last: Option[DataFrame] = scala.None
    def planWith[T](f: => T): T =
      ftsScope.withValue(FtsScope(st.anaDefs, st.ftsFields)) {
        fnScope.withValue(st.userFns) {
          Tables.withOverlay(st.overlay)(f)
        }
      }
    def applyComputed(t: String, df: DataFrame): DataFrame =
      st.computedDefs.getOrElse(t, Vector.empty).foldLeft(df) { (d, fe) =>
        val ctx = Ctx(spark, dir, t, d.schema, Map.empty)
        d.withColumn(fe._1, toCol(fe._2, ctx))
      }
    // a write commits its table's new `state` to the overlay, then fires the
    // table's DEFINE EVENT triggers over the change from `before` to `after`
    // — the whole table, or the rows of it a step reached (doc/event.rs:
    // events run as part of the same transaction; cascades do not re-fire
    // here); COMPUTED projections re-apply so reads stay consistent with
    // the freshly written dependency columns ([[eventsLast]] defers events)
    var queued: Option[Vector[(String, DataFrame, DataFrame)]] = scala.None
    def commit(t: String, state: DataFrame, before: DataFrame, after: DataFrame): Unit = {
      st.overlay += (t -> applyComputed(t, state))
      queued match {
        case Some(q) => queued = Some(q :+ ((t, before, after)))
        case scala.None => fireScriptEvents(t, before, after)
      }
    }
    // A statement that writes its table in several steps (INSERT's create
    // arm and ON DUPLICATE levels, UPSERT's two arms) builds each step's
    // state from the frames of the one before, so the events of every step
    // fire, in order, after its last write: an event's THEN CREATE into the
    // written table lands on the final state instead of under a later step
    def eventsLast[T](f: => T): T = {
      val (out, q) = try { queued = Some(Vector.empty); (f, queued.get) } finally queued = scala.None
      q.foreach { case (t, b, a) => fireScriptEvents(t, b, a) }
      out
    }
    // the rows a mutation touches: key ∧ WHERE ∧ the table's `action`
    // permission (doc/allow.rs)
    def mutCond(t: String, ctx: Ctx, keyPred: Option[Column],
        where: Option[Expr], action: String): Column =
      (keyPred.toSeq ++ where.map(toCol(_, ctx)).toSeq ++
        actionPermCond(spark, dir, t, action, ctx.schema).toSeq)
        .reduceOption(_ && _).getOrElse(lit(true))
    // One update of stored records, the lifecycle UPDATE, both UPSERT
    // update arms and each level of INSERT's ON DUPLICATE arm run
    // (doc/mod.rs; Interp writeDoc with a stored document): the id rule and
    // the edge identity ([[keepIdentity]]), the field pipeline over the
    // SETs of `data`, the write of the `base` rows `cond` selects (key ∧
    // WHERE ∧ UPDATE permission, or a level's occurrences), the re-check of
    // the unique indexes whose root column a SET writes, then the overlay
    // write of the table — the updated `base` and the rows `rest` holds
    // outside it — and the events of the change ([[commit]]). `allowNew`
    // lets a SET add a missing column (UPDATE); `input`, a (key, `__input`)
    // frame left-joined onto `base`, binds `$input` per row. Returns (`base`
    // updated, written rows before, written rows after), the last two the
    // RETURN clause's frames.
    def updateStep(t: String, base: DataFrame, cond: Column, data: Option[Data],
        allowNew: Boolean = false, input: Option[DataFrame] = scala.None,
        rest: Option[DataFrame] = scala.None): (DataFrame, DataFrame, DataFrame) = {
      val key = recordKey(t)
      val ctx0 = Ctx(spark, dir, t, base.schema, Map.empty)
      val ctx = if (input.isEmpty) ctx0 else ctx0.copy(lambdaParams = Map("input" -> col("__input")))
      val sets = enforceSets(
        keepIdentity(t, key, data, setMap(data, ctx, requireExisting = true, allowNew = allowNew)),
        st.fldDefs.getOrElse(t, Vector.empty), ctx, t, key)
      def rows(df: DataFrame): DataFrame = if (input.isEmpty) df else df.drop("__input")
      def write(df: DataFrame, c: Column): DataFrame =
        rows(graft.operators.Mutations.update(df, c, sets))
      val src = input.fold(base)(base.join(_, Seq(key), "left"))
      val written = src.filter(cond)
      val after = write(src, cond)
      val before = rows(written)
      val changed = write(written, lit(true))
      val state = rest.fold(after)(after.unionByName(_))
      val touchedIdx = st.uniqDefs.getOrElse(t, Vector.empty)
        .filter(_._2.exists(f => sets.keySet.contains(fieldRoot(f))))
      if (touchedIdx.nonEmpty) checkUniqueIndexes(t, state, changed, touchedIdx, key)
      commit(t, state, base, after)
      (after, before, changed)
    }
    // the create arm every new record passes (doc/mod.rs lifecycle) — a
    // CREATE, UPSERT's create arm, INSERT's new rows, a RELATE edge and an
    // event's THEN CREATE row: over rows conformed by [[conformRows]], the
    // create permission (a denied create is silently skipped,
    // doc/allow.rs), the field pipeline, the union onto the rows `onto`
    // keeps of the table — RELATE's drop the edges it replaces — then the
    // unique check over the created rows. Returns (table after-state,
    // created).
    def createArm(t: String, ctx: Ctx, rows: DataFrame)(
        onto: DataFrame => DataFrame): (DataFrame, DataFrame) = {
      val created = applyFieldDefs(
        actionPermCond(spark, dir, t, "create", rows.schema).map(rows.filter).getOrElse(rows),
        st.fldDefs.getOrElse(t, Vector.empty), ctx, t, recordKey(t))
      val after = onto(created).unionByName(created)
      checkUniqueIndexes(t, after, created, st.uniqDefs.getOrElse(t, Vector.empty), recordKey(t))
      (after, created)
    }
    // the constant row of a CREATE or UPSERT target id `k`
    def synthRow(schema: StructType, key: String, sets: Map[String, Column])(k: V): DataFrame =
      conformRows(spark.range(1), schema, sets + (key -> ridKeyLit(k)))
    // DEFINE EVENT triggers for one committed mutation (doc/event.rs: per
    // changed document, `$event`/`$before`/`$after` bind and the WHEN
    // condition gates the THEN body). Set-at-a-time: the change rows are
    // the change-feed diff of the table's before/after states
    // (graft.streaming.Live.changes — the rows SHOW CHANGES and LIVE SELECT
    // read), WHEN is a distributed filter over them, and a `THEN (CREATE
    // target SET …)` body creates one record per fired change through the
    // create arm; a SET that gives no id keys it by the changed record's,
    // and a SET-given id that is already taken fails the statement.
    // Events do not re-fire on event-generated writes (no cascades),
    // matching one transaction level.
    def fireScriptEvents(table: String, before: DataFrame, after: DataFrame): Unit = {
      val applicable = st.eventDefs.filter(_.table == table)
      if (applicable.nonEmpty) {
        val feed = graft.streaming.Live.changes(before, after, recordKey(table), 0L)
        applicable.foreach { d =>
          val binds = Map(
            "event"  -> col("action"),
            "after"  -> col("rec_after"),
            "before" -> col("rec_before"),
            "value"  -> col("rec_after"),
            "this"   -> col("rec_after"))
          val whenCtx = Ctx(spark, dir, table, before.schema, Map.empty,
            lambdaParams = binds)
          val fired = d.whenE.map(w => feed.filter(toCol(w, whenCtx))).getOrElse(feed)
          d.thenE.foreach {
            case Subquery(cs: CreateStmt) =>
              val tb = cs.what match {
                case Seq(Idiom(Seq(PField(t)))) => t
                case Seq(TableRef(t))           => t
                case other => throw SqlError(
                  s"SparkPlanner: event THEN CREATE needs a plain table target, got $other")
              }
              val tgtBase = st.overlay.getOrElse(tb, Tables(spark, dir, tb))
              val key = recordKey(tb)
              val ctx = Ctx(spark, dir, tb, tgtBase.schema, Map.empty)
              val sets = setMap(cs.data, ctx.copy(lambdaParams = binds), requireExisting = true)
              val given =
                if (sets.contains(key)) sets
                else sets + (key -> genKeyCol(tgtBase.schema(key).dataType, col("id")))
              val rows = conformRows(fired, tgtBase.schema, given)
              // a SET-given id may be stored already, or given by two fired
              // changes (as in CREATE); a generated one is never either
              if (sets.contains(key))
                dupIdProbe(tb, rows.select(key).unionByName(tgtBase.select(key))
                  .groupBy(key).count().filter(col("count") > 1).select(key))
              st.overlay += (tb -> createArm(tb, ctx, rows)(_ => tgtBase)._1)
            case other => throw SqlError(
              s"SparkPlanner: unsupported event THEN body $other (expected (CREATE …))")
          }
        }
      }
    }
    // One removal, the lifecycle every deleted record runs (doc/purge.rs;
    // Interp removeDoc) — a named DELETE, a CASCADE victim and a purged
    // edge alike: the referrers' ON DELETE actions for the removed keys
    // `gone` (None for a table with no record key, which nothing can
    // reference or link), the overlay write `drop` makes of the table's
    // state and its events, then the purge of `gone`'s edges. That state is
    // the caller's `base0` unless the actions wrote the table. `chain`
    // holds, per table, the keys the enclosing steps remove, so a reference
    // cycle ends where it comes back to one of them. Each CASCADE level and
    // purged edge table nests one step deeper; past the cap the statement
    // fails (a silent stop would leave referencing rows in place).
    def removeStep(t: String, base0: DataFrame, gone: Option[DataFrame],
        chain: Map[String, DataFrame], depth: Int)(drop: DataFrame => DataFrame): DataFrame = {
      if (depth <= 0) throw SqlError(
        "SparkPlanner: a DELETE's CASCADE and edge-purge chain exceeded depth 32")
      val chainT = gone.fold(chain)(g => chain + (t -> chain.get(t).fold(g)(_.union(g))))
      gone.foreach(applyRefActions(t, _, chainT, depth))
      val base = st.overlay.getOrElse(t, base0)
      val after = drop(base)
      commit(t, after, base, after)
      gone.foreach(purgeEdges(t, _, chainT, depth))
      base
    }
    // ON DELETE referential actions (expr/reference.rs; Interp
    // applyReferentialActions) for every DEFINE FIELD ... REFERENCE whose
    // rows can point at `t`'s records. A link projects to (referrer key,
    // linked key) pairs — the column itself, or the elements of a link
    // array — and REJECT and CASCADE are one equi-join of those pairs with
    // the deleted keys: REJECT errors on the first hit, CASCADE removes the
    // hit referrers the chain is not already removing through the remove
    // step. UNSET null-outs a link column (left join) or rebuilds a link
    // array from its surviving elements in order. Custom THEN actions stay
    // interpreter-scope.
    def applyRefActions(t: String, gone: DataFrame, chain: Map[String, DataFrame],
        depth: Int): Unit = {
      lazy val goneE = gone.select(col(gone.columns.head).as("__e")).distinct()
      st.fldDefs.toSeq.foreach { case (tbl, defs) =>
        defs.filter(_.meta.exists(_.referenceRaw.isDefined)).foreach { fd =>
          val raw = fd.meta.flatMap(_.referenceRaw).getOrElse("").toUpperCase
          val action =
            if (raw.contains("REJECT")) "REJECT"
            else if (raw.contains("CASCADE")) "CASCADE"
            else if (raw.contains("UNSET")) "UNSET"
            else "IGNORE"
          val path = fd.field.replace(".*", "")
          // the reference only fires when the field points AT the deleted
          // table — a rid carries its table (Interp looseEq on VRid), but
          // the column model stores bare keys, so the target table must
          // come from the declared record<T> kind or the link catalog;
          // a reference known to target another table never joins
          def kindTables(k: Kind): Seq[String] = k match {
            case Kind.KRecord(ts) => ts
            case Kind.KOption(i) => kindTables(i)
            case Kind.KArray(Some(i), _) => kindTables(i)
            case Kind.KSet(Some(i), _) => kindTables(i)
            case Kind.KEither(ks) => ks.flatMap(kindTables)
            case _ => Nil
          }
          val refTargets: Seq[String] = fd.kind.map(kindTables).getOrElse(Nil) match {
            case Nil => links.get((tbl, path)).map(_._1).toSeq
            case ts => ts
          }
          if (action != "IGNORE" && (refTargets.isEmpty || refTargets.contains(t))) {
            planWith(storedTable(spark, dir, tbl)).filter(_.columns.contains(path)).foreach { rbase =>
              val rkey = recordKey.getOrElse(tbl, "id")
              val adt = rbase.schema(path).dataType
              val isArray = adt.isInstanceOf[ArrayType]
              val pairs = rbase.select(col(rkey),
                (if (isArray) explode(col(path)) else col(path)).as("__e"))
              val goneAs = gone.select(col(gone.columns.head).as(path)).distinct()
              action match {
                case "REJECT" =>
                  pairs.join(goneE, Seq("__e")).select(col(rkey), col("__e")).limit(1)
                    .collect().headOption.foreach(r => throw SqlError(
                      s"Cannot delete `${Render.sql(VRid(t, asV(r.get(1))))}` as it is " +
                        s"referenced by `${Render.sql(VRid(tbl, asV(r.get(0))))}` " +
                        "with an ON DELETE REJECT clause"))
                case "CASCADE" =>
                  val hit = pairs.join(goneE, Seq("__e"), "left_semi").select(col(rkey))
                  val victims = chain.get(tbl).fold(hit)(c =>
                    hit.join(c.toDF(rkey), Seq(rkey), "left_anti"))
                  // one limit(1) probe per chain level: an empty victim
                  // set ends the recursion without growing the overlay
                  if (victims.limit(1).collect().nonEmpty)
                    removeStep(tbl, rbase, Some(victims), chain, depth - 1)(
                      // a link column drops its referrers by itself, unless
                      // some of them are the chain's to remove
                      if (isArray || chain.contains(tbl)) _.join(victims, Seq(rkey), "left_anti")
                      else _.join(goneAs, Seq(path), "left_anti"))
                case _ =>
                  val updated = if (isArray) {
                    // the reference REMOVES the deleted keys but keeps the
                    // duplicates and order of the surviving elements
                    // (Interp filterNot): hit rows' arrays rebuild from the
                    // non-deleted elements through the explode ordinal
                    val ex = rbase.select(col(rkey).as("__rk"),
                      posexplode(col(path)).as(Seq("__p", "__e")))
                    val hit = ex.join(goneE, Seq("__e"), "left_semi")
                      .select(col("__rk")).distinct()
                      .withColumn("__hit", lit(true))
                    val rebuilt = ex.join(goneE, Seq("__e"), "left_anti")
                      .groupBy(col("__rk"))
                      .agg(transform(
                        array_sort(collect_list(struct(col("__p"), col("__e")))),
                        s => s.getField("__e")).as("__new"))
                    rbase
                      .join(hit, col(rkey) === hit("__rk"), "left")
                      .drop("__rk")
                      .join(rebuilt, col(rkey) === rebuilt("__rk"), "left")
                      .drop("__rk")
                      .withColumn(path,
                        when(col("__hit").isNull || col(path).isNull, col(path))
                          .otherwise(coalesce(col("__new"), array().cast(adt))))
                      .drop("__hit", "__new")
                  } else rbase.join(goneAs.withColumn("__hit", lit(true)), Seq(path), "left")
                    .withColumn(path,
                      when(col("__hit") === true, lit(null).cast(adt)).otherwise(col(path)))
                    .drop("__hit")
                  st.overlay += (tbl -> updated)
                  fireScriptEvents(tbl, rbase, updated)
              }
            }
          }
        }
      }
    }
    // deleting records purges the graph edges pointing in or out of them
    // (doc/purge.rs; Interp cascadeEdgeDeletes): every STORED relation
    // table with `table` as an endpoint removes those edges through the
    // remove step, dropping them with one anti-join per endpoint side.
    // Derived built-ins (supplies/next_order) and registrations leaked from
    // other fixtures have no storage to purge.
    def purgeEdges(table: String, gone: DataFrame, chain: Map[String, DataFrame],
        depth: Int): Unit = {
      def at(side: String) = gone.withColumnRenamed(gone.columns.head, side)
      graft.operators.GraphOps.edgeDefs.all.foreach { case (et, (fromT, toT)) =>
        if (et != table && (fromT == table || toT == table))
          planWith(storedTable(spark, dir, et)).foreach { ebase =>
            val sides = Seq("in" -> fromT, "out" -> toT).collect {
              case (side, end) if end == table && ebase.columns.contains(side) => side
            }
            val ekey = recordKey.getOrElse(et, "id")
            if (sides.nonEmpty)
              removeStep(et, ebase, Option.when(ebase.columns.contains(ekey))(sides.map(side =>
                  ebase.join(at(side), Seq(side), "left_semi").select(col(ekey))).reduce(_ union _)),
                chain, depth - 1)(
                b => sides.foldLeft(b)((kept, side) => kept.join(at(side), Seq(side), "left_anti")))
          }
      }
    }
    // INSERT's arms with the reference's sequential row semantics
    // (expr/statements/insert.rs processes rows in order, mirrored by Interp
    // execInsert). Before the arms split, a unique index's stored holder of
    // a row's value tuple is looked up once: IGNORE skips such a row, and ON
    // DUPLICATE sends a row whose key [[insertRows]] generated to the
    // holder's key (so it looks holders up only when some key may be
    // generated, `anyGen`). A record id repeated WITHIN the batch is already a
    // duplicate when its second row lands, so the bare form errors on the
    // first clashing row (against the table OR an earlier batch row), and
    // IGNORE keeps only each key's first occurrence. Each key's first new
    // row takes the create arm and is written; ON DUPLICATE then runs one
    // update step per occurrence level: level i applies every key's i-th
    // update occurrence, observing level i-1, with `$input` bound to that
    // batch row. Each write's events fire after the last ([[eventsLast]]),
    // one per created record and per application. A duplicate-free batch is
    // the one-level case. Returns the RETURN frame, shaped per level: the
    // created documents (BEFORE is NONE) and each level's (before, after)
    // documents, one per occurrence as in the reference's output.
    //
    // Scale shape: one left join against the stored keys, a key-partitioned
    // window ONLY when the batch can contain duplicates, and `maxMult`
    // levels — driver-known for literal batches, one tiny aggregate probe
    // for sub-select sources. A one-level batch updates the stored table
    // through one left join; a deeper one first splits off the records a
    // later occurrence reaches.
    def insertArms(s: InsertStmt, t: String, base: DataFrame, batch: DataFrame,
        maxMultHint0: Option[Int], anyGen: Boolean): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val ctx = Ctx(spark, dir, t, base.schema, Map.empty)
      val key = recordKey(t)
      val uniq = st.uniqDefs.getOrElse(t, Vector.empty).map(_._2)
        .filter(fields => (s.ignore || (s.onDuplicate.isDefined && anyGen)) &&
          fields.forall(batch.columns.contains))
      // NULL-component tuples are exempt, as in the write check
      val held = uniq.zipWithIndex.foldLeft(batch) { case (df, (fields, i)) =>
        val nonNull = fields.map(col(_).isNotNull).reduce(_ && _)
        df.join(base.filter(nonNull).select(fields.map(col) :+ col(key).as(s"__h$i"): _*),
          fields, "left")
      }
      def holder = coalesce(uniq.indices.map(i => col(s"__h$i")): _*)
      val rows = (
        if (uniq.isEmpty) held
        else if (s.ignore) held.filter(holder.isNull)
        else held.withColumn(key, when(col(GenC) && holder.isNotNull, holder).otherwise(col(key)))
      ).drop(GenC +: uniq.indices.map(i => s"__h$i"): _*)
      // a row sent to its holder may repeat a key the batch names
      val maxMultHint = if (uniq.nonEmpty && s.onDuplicate.isDefined) scala.None else maxMultHint0
      val marked0 = rows.join(
        base.select(col(key), lit(true).as("__inb")), Seq(key), "left")
      val marked =
        if (maxMultHint.contains(1)) marked0.withColumn("__rn", lit(1))
        else marked0.withColumn("__rn",
          when(col(key).isNull, lit(1)) // defensive: insertRows generates ids for keyless rows
            .otherwise(row_number().over(
              Window.partitionBy(col(key)).orderBy(col(SeqC)))))
      val bare = !s.ignore && s.onDuplicate.isEmpty
      if (bare)
        dupIdProbe(t, marked.filter(col("__inb") === true || col("__rn") > 1)
          .orderBy(SeqC).select(key))
      // bare form: the probe just proved key uniqueness, so the final plan
      // keeps the plain anti-join (no window); IGNORE/ON DUPLICATE keep the
      // first occurrence per key
      val firsts =
        if (bare) rows.drop(SeqC).join(base.select(key), Seq(key), "left_anti")
        else marked.filter(col("__rn") === 1 && col("__inb").isNull)
          .drop("__inb", "__rn", SeqC)
      val (created, fresh) = createArm(t, ctx, firsts)(_ => base)
      commit(t, created, base, created)
      val levels = s.onDuplicate.fold(Seq.empty[(DataFrame, DataFrame)]) { sets =>
        val maxMult = maxMultHint.getOrElse {
          // key multiplicity WITHIN the batch, counted on the materialized
          // batch alone (joining `marked` would re-scan the stored table)
          rows.filter(col(key).isNotNull).groupBy(col(key))
            .agg(count(lit(1)).as("__m")).agg(max(col("__m")).as("__mm"))
            .collect().headOption
            .collect { case r if !r.isNullAt(0) => r.getLong(0).toInt }
            .getOrElse(1)
        }
        // each batch row's update occurrence number: a stored key's i-th row
        // is its i-th application, a created key's first row was its create.
        // The records a level can reach: the stored table, and for a deeper
        // batch the created records a later occurrence updates
        val (occ, reach0, rest) =
          if (maxMult == 1) (rows.withColumn("__app", lit(1)), base, fresh)
          else {
            val again = marked.filter(col("__rn") ===
              when(col("__inb") === true, lit(1)).otherwise(lit(2))).select(key)
            (marked.withColumn("__app",
                when(col("__inb") === true, col("__rn")).otherwise(col("__rn") - 1)),
              created.join(again, Seq(key), "left_semi"), created.join(again, Seq(key), "left_anti"))
          }
        // a stored record the UPDATE permission denies is skipped silently
        // and stays as stored, as in UPDATE (doc/allow.rs)
        val perm = actionPermCond(spark, dir, t, "update", base.schema)
        val inputStruct = struct(base.columns.map(col).toIndexedSeq: _*)
        var reach = reach0
        (1 to maxMult).map { i =>
          val (after, before, changed) = updateStep(t, reach,
            perm.fold(col("__input").isNotNull)(col("__input").isNotNull && _),
            Some(SetData(sets)),
            input = Some(occ.filter(col("__app") === i).select(col(key), inputStruct.as("__input"))),
            rest = Some(rest))
          // past 8 levels each one is checkpointed: the analyzer never sees
          // a deep plan, and the per-level RETURN branches read blocks
          // instead of re-running the chain prefix (quadratic otherwise)
          reach = if (maxMult > 8 && i < maxMult) after.localCheckpoint(true) else after
          (before, changed)
        }
      }
      ((noneRows(fresh), fresh) +: levels).map { case (b, a) => shapeOutput(b, a, s.output, ctx) }
        .reduce(_ unionByName _)
    }
    def exec(st0: Statement): Unit = Subst.stmt(st0, st.params) match {
      case BeginStmt  =>
        txn = st.copy()
        txnAddedKeys = Set.empty; txnAddedEdges = Set.empty
      case CommitStmt => // registrations become permanent catalog entries
        txnAddedKeys = Set.empty; txnAddedEdges = Set.empty
      case CancelStmt =>
        st = txn.copy()
        txnAddedKeys.foreach(extraRecordKeys.remove)
        txnAddedEdges.foreach(graft.operators.GraphOps.extraEdgeDefs.remove)
        txnAddedKeys = Set.empty; txnAddedEdges = Set.empty
        last = scala.None
      case UseStmt(_, _) => () // single-catalog engine: ns/db switch is a no-op
      case LetStmt(name, _, what) => st.params += (name -> Eval.evalConst(what))
      case s: DefineEventStmt => st.eventDefs :+= s.d
      case s: DefineFieldStmt if s.computed.isDefined =>
        // COMPUTED restriction set (catalog/schema/field.rs + define/field.rs)
        if (s.field == "id")
          throw SqlError("Cannot use the `COMPUTED` keyword on the `id` field.")
        if (s.value.isDefined)
          throw SqlError("Cannot use the `VALUE` keyword with `COMPUTED`.")
        if (s.assert.isDefined)
          throw SqlError("Cannot use the `ASSERT` keyword with `COMPUTED`.")
        if (s.default.isDefined)
          throw SqlError("Cannot use the `DEFAULT` keyword with `COMPUTED`.")
        if (s.readonly)
          throw SqlError("Cannot use the `READONLY` keyword with `COMPUTED`.")
        if (s.field.contains(".") || s.field.contains("["))
          throw SqlError(
            s"Cannot define field `${s.field}` as `COMPUTED` fields must be top-level.")
        st.computedDefs += s.table -> (st.computedDefs.getOrElse(s.table, Vector.empty)
          .filterNot(_._1 == s.field) :+ ((s.field, s.computed.get)))
        st.overlay += s.table -> applyComputed(s.table,
          planWith(Tables(spark, dir, s.table)))
      case s0: DefineFieldStmt =>
        // dotted struct paths enforce through withField rebuilds; array
        // element paths normalize to dot segments ([*] → .*, [N] → .N)
        // and fan through pipeAtPath's transform arms (r18)
        val s = s0.copy(field = s0.field.replace("[*]", ".*")
          .replaceAll("""\[(\d+)\]""", ".$1"))
        st.fldDefs += s.table -> (st.fldDefs.getOrElse(s.table, Vector.empty)
          .filterNot(_.field == s.field) :+ s)
      case s: DefineIndexStmt =>
        if (s.unique) {
          // index build scans existing rows — a pre-existing duplicate fails
          // the DDL and leaves the index unregistered (idx building). The
          // scan result is cached per corpus for pristine base tables (an
          // index build is a one-time job); any overlay-modified table
          // probes fresh, since its rows differ from the stored corpus.
          def probe(): Unit = planWith {
            val base = Tables(spark, dir, s.table)
            // nested struct paths resolve too (DEFINE INDEX … FIELDS
            // address.city — r18); only a path that resolves to nothing
            // in the schema declines
            if (!s.fields.forall(f =>
                nestedType(base.schema, f.split('.').toIndexedSeq).isDefined))
              throw SqlError(s"SparkPlanner: DEFINE INDEX on non-column path " +
                s"${s.fields.mkString(",")} is interpreter-only")
            checkUniqueIndexes(s.table, base, base,
              Seq((s.name, s.fields)), recordKey(s.table))
          }
          if (st.overlay.contains(s.table)) probe()
          else uniqueBuildCache.getOrElseUpdate((dir, s.table, s.fields),
            { probe(); true })
          st.uniqDefs += s.table -> (st.uniqDefs.getOrElse(s.table, Vector.empty)
            .filterNot(_._1 == s.name) :+ ((s.name, s.fields)))
        } else {
          // DEFINE INDEX … SEARCH/FULLTEXT ANALYZER <a> [BM25(k1,b)]:
          // register the field coverage so `@@` against it resolves the
          // chain; the postings build stays lazy (first `@@` pays it —
          // REBUILD INDEX below forces it eagerly). Other non-unique
          // indexes are advisory on this path (Catalyst pushdown).
          val tail = s.meta.map(_.tail).getOrElse("")
          val up = tail.toUpperCase
          if (up.startsWith("SEARCH") || up.startsWith("FULLTEXT")) {
            val ana = "(?i)ANALYZER\\s+(\\S+)".r.findFirstMatchIn(tail)
              .map(_.group(1))
              .getOrElse(throw SqlError(
                s"SparkPlanner: SEARCH index '${s.name}' needs an ANALYZER"))
            val (k1, b) = "(?i)BM25\\s*\\(\\s*([0-9.]+)\\s*,\\s*([0-9.]+)\\s*\\)".r
              .findFirstMatchIn(tail)
              .map(m => (m.group(1).toDouble, m.group(2).toDouble))
              .getOrElse((1.2, 0.75))
            s.fields.foreach(f => st.ftsFields += (s.table, f) -> (ana, k1, b))
            st.ftsByName += (s.table, s.name) -> s.fields
          }
        }
      case _: DefineTableStmt => () // schema authority is the parquet catalog
      // REBUILD INDEX (expr/statements/rebuild.rs): for a script-defined
      // SEARCH index, drop the persisted chain postings and build them NOW;
      // other index kinds rebuild lazily here
      case s: RebuildIndexStmt =>
        st.ftsByName.get((s.table, s.name)) match {
          case Some(fields) =>
            fields.foreach { f =>
              st.ftsFields.get((s.table, f)).foreach { case (ana, _, _) =>
                val chain = st.anaDefs.get(ana).map(_.render).getOrElse(
                  throw SqlError(s"The analyzer '$ana' does not exist"))
                if (st.overlay.contains(s.table)) () // on-the-fly plan, nothing persisted
                else planWith {
                  val parsed = graft.functions.Analyze.chain(chain)
                  graft.operators.FullText.rebuildChainIndex(
                    spark, dir, s.table, recordKey(s.table), f, chain,
                    fnXform(spark, dir, s.table, f, parsed))
                }
              }
            }
          case scala.None =>
            // matches Interp: rebuilding an index the script never defined
            // errors unless IF EXISTS (unique indexes have nothing derived
            // to rebuild — accepted as a no-op)
            if (!s.ifExists &&
                !st.uniqDefs.getOrElse(s.table, Vector.empty).exists(_._1 == s.name))
              throw SqlError(s"The index '${s.name}' does not exist")
        }
      // ALTER FIELD (expr/statements/alter.rs; Interp execAlterField):
      // apply the SET/DROP deltas to the script-scope definition so every
      // LATER mutation in the script enforces the altered pipeline —
      // None = clause untouched, Some(None) = DROP, Some(Some(v)) = SET
      case s: AlterFieldStmt =>
        val defs = st.fldDefs.getOrElse(s.table, Vector.empty)
        val ix = defs.indexWhere(_.field == s.field)
        if (ix < 0) {
          if (!s.ifExists)
            throw SqlError(s"The field '${s.field}' does not exist")
        } else {
          var d = defs(ix)
          s.kind.foreach(k => d = d.copy(kind = k.map(_._1)))
          s.flexible.foreach(f => d = d.copy(flexible = f))
          s.value.foreach(v => d = d.copy(value = v.map(_._1)))
          s.default.foreach {
            case Some((e, _, always)) =>
              d = d.copy(default = Some(e), defaultAlways = always)
            case scala.None =>
              d = d.copy(default = scala.None, defaultAlways = false)
          }
          s.assertC.foreach {
            case Some((e, raw)) => d = d.copy(assert = Some(e), assertRaw = raw)
            case scala.None     => d = d.copy(assert = scala.None, assertRaw = "")
          }
          s.readonly.foreach(r => d = d.copy(readonly = r))
          s.reference.foreach(r => d = d.copy(meta = d.meta.map(_.copy(
            referenceRaw = r.map(raw =>
              if (raw.isEmpty) "ON DELETE IGNORE" else raw)))))
          st.fldDefs += s.table -> defs.updated(ix, d)
        }
      // ALTER TABLE: DROP/SCHEMAFULL/PERMISSIONS/CHANGEFEED govern catalog
      // metadata the Spark path derives from parquet — accepted, no plan
      // consequence (the interpreter path owns the metadata surface)
      case _: AlterTableStmt => ()
      // ALTER PARAM rebinds a DEFINE PARAM binding (not a LET — the
      // interpreter keys existence off the param catalog the same way)
      case s: AlterParamStmt =>
        if (!st.paramDefd.contains(s.name) && !s.ifExists)
          throw SqlError(s"The param '$$${s.name}' does not exist")
        s.value.foreach { case (e, _) =>
          if (st.paramDefd.contains(s.name))
            st.params += (s.name -> Eval.evalConst(Subst.expr(e, st.params)))
        }
      // ALTER INDEX carries only COMMENT / PREPARE REMOVE — no plan
      // consequence on this path (non-unique indexes are advisory)
      case _: AlterIndexStmt => ()
      // DEFINE FUNCTION (define/function.rs): script-scope catalog;
      // expression bodies inline at plan time (fnScope)
      case s: DefineFunctionStmt =>
        val full = if (s.name.startsWith("fn::")) s.name else "fn::" + s.name
        val exists = st.userFns.contains(full)
        val proceed = s.mode match {
          case "ifnotexists" => !exists
          case "overwrite"   => true
          case _ =>
            if (exists)
              throw SqlError(s"The function '$full' already exists")
            true
        }
        if (proceed) st.userFns += full -> s
      // ALTER FUNCTION (alter/function.rs): rebind the body in place
      case s: AlterFunctionStmt =>
        val full = if (s.name.startsWith("fn::")) s.name else "fn::" + s.name
        st.userFns.get(full) match {
          case scala.None =>
            if (!s.ifExists)
              throw SqlError(s"The function '$full' does not exist")
          case Some(_) =>
            s.redefine.foreach(r => st.userFns += full -> r)
        }
      case s: RemoveStmt if s.what == "FUNCTION" =>
        val full = if (s.name.startsWith("fn::")) s.name else "fn::" + s.name
        if (!st.userFns.contains(full) && !s.ifExists)
          throw SqlError(s"The function '$full' does not exist")
        st.userFns -= full
      case s: RemoveStmt if s.what == "ANALYZER" =>
        if (!st.anaDefs.contains(s.name) && !s.ifExists)
          throw SqlError(s"The analyzer '${s.name}' does not exist")
        st.anaDefs -= s.name
      // DEFINE ANALYZER (define/analyzer.rs): script-scope chain catalog;
      // FUNCTION analyzers compose via plan-time fn:: inlining (r17)
      case s: DefineAnalyzerStmt =>
        val exists = st.anaDefs.contains(s.d.name)
        val proceed = s.mode match {
          case "ifnotexists" => !exists
          case "overwrite"   => true
          case _ =>
            if (exists)
              throw SqlError(s"The analyzer '${s.d.name}' already exists")
            true
        }
        if (proceed) st.anaDefs += s.d.name -> s.d
      // ALTER ANALYZER (alter/analyzer.rs): rewrite the chain in place. The
      // chain index cache keys on the RENDER, so the next `@@` (or REBUILD
      // INDEX) builds fresh postings under the new chain — the same
      // config-keyed invalidation the Interp search cache applies.
      case s: AlterAnalyzerStmt =>
        st.anaDefs.get(s.name) match {
          case scala.None =>
            if (!s.ifExists)
              throw SqlError(s"The analyzer '${s.name}' does not exist")
          case Some(d0) =>
            var d = d0
            s.tokenizers.foreach(t => d = d.copy(tokenizers = t))
            s.filters.foreach(f => d = d.copy(filters = f))
            s.comment.foreach(c => d = d.copy(comment = c))
            st.anaDefs += s.name -> d
        }
      // ALTER EVENT rewrites the script-scope trigger in place
      case s: AlterEventStmt =>
        val ix = st.eventDefs.indexWhere(e => e.name == s.name && e.table == s.table)
        if (ix < 0) {
          if (!s.ifExists)
            throw SqlError(s"The event '${s.name}' does not exist")
        } else {
          var d = st.eventDefs(ix)
          s.when.foreach { case (e, raw) => d = d.copy(whenE = Some(e), whenRaw = raw) }
          s.thenE.foreach { case (es, raw) => d = d.copy(thenE = es, thenRaw = raw) }
          st.eventDefs = st.eventDefs.updated(ix, d)
        }
      // DEFINE PARAM binds like LET for the rest of the script
      // (expr/statements/define/param.rs: a catalog-stored binding)
      case s: DefineParamStmt =>
        st.paramDefd += s.d.name
        s.value.foreach(e => st.params += (s.d.name -> Eval.evalConst(Subst.expr(e, st.params))))
      case s: RemoveStmt if s.what == "PARAM" =>
        if (!st.params.contains(s.name) && !s.ifExists)
          throw SqlError(s"The param '$$${s.name}' does not exist")
        st.params -= s.name
        st.paramDefd -= s.name
      // REMOVE drops the script-scope registration (remove/field.rs etc.);
      // unknown names error unless IF EXISTS
      case s: RemoveStmt if s.what == "FIELD" =>
        val t = s.onTable.getOrElse("")
        val had = st.fldDefs.getOrElse(t, Vector.empty).exists(_.field == s.name)
        if (!had && !s.ifExists)
          throw SqlError(s"The field '${s.name}' does not exist")
        st.fldDefs += t -> st.fldDefs.getOrElse(t, Vector.empty).filterNot(_.field == s.name)
      case s: RemoveStmt if s.what == "INDEX" =>
        val t = s.onTable.getOrElse("")
        val had = st.uniqDefs.getOrElse(t, Vector.empty).exists(_._1 == s.name)
        if (!had && !s.ifExists)
          throw SqlError(s"The index '${s.name}' does not exist")
        st.uniqDefs += t -> st.uniqDefs.getOrElse(t, Vector.empty).filterNot(_._1 == s.name)
      // SHOW CHANGES FOR TABLE t — the script-scope change feed: the diff
      // between the table's state at BEGIN and now (cf/reader.rs reads the
      // versionstamped log; here the lazy overlay IS the uncommitted log,
      // so the diff recovers exactly the entries it would hold). Flat
      // (id, action) rows projected from the change rows that events and
      // LIVE queries read (graft.streaming.Live.changes).
      case s: ShowChangesStmt =>
        val t = s.table.getOrElse(
          throw SqlError("SparkPlanner: SHOW CHANGES needs FOR TABLE"))
        val atBegin = Tables.withOverlay(txn.overlay)(Tables(spark, dir, t))
        val cur = planWith(Tables(spark, dir, t))
        val log = graft.streaming.Live.changes(atBegin, cur, recordKey(t), 0L)
          .select(col("id"), lower(col("action")).as("action")).orderBy("id")
        last = Some(s.limit.map(e => Eval.evalConst(e) match {
          case n: VNum => log.limit(n.toDouble.toInt)
          case other => throw SqlError(
            s"Expected an integer but found ${other.render}")
        }).getOrElse(log))
      case s: RemoveStmt if s.what == "EVENT" =>
        val had = st.eventDefs.exists(_.name == s.name)
        if (!had && !s.ifExists)
          throw SqlError(s"The event '${s.name}' does not exist")
        st.eventDefs = st.eventDefs.filterNot(_.name == s.name)
      // RETURN — a one-row plan (SourceExpr/ExprPlan analog)
      case ReturnStmt(ObjLit(fields)) =>
        val ctx = Ctx(spark, dir, "", new StructType(), Map.empty)
        last = Some(planWith(spark.range(1)
          .select(fields.map { case (n, e) => toCol(e, ctx).as(n) }: _*)))
      case ReturnStmt(e) =>
        val ctx = Ctx(spark, dir, "", new StructType(), Map.empty)
        last = Some(planWith(spark.range(1).select(toCol(e, ctx).as("value"))))
      // IF — the condition is a plan-time constant; the taken branch's
      // block executes, untaken branches plan nothing
      case IfStmt(branches, otherwise) =>
        branches.find { case (c, _) => Eval.evalConst(c).truthy } match {
          case Some((_, BlockExpr(ss))) => ss.foreach(exec)
          case Some((_, e))             => exec(ReturnStmt(e))
          case scala.None => otherwise match {
            case Some(BlockExpr(ss)) => ss.foreach(exec)
            case Some(e)             => exec(ReturnStmt(e))
            case scala.None          => ()
          }
        }
      // FOR — a plan-time-constant iterable; each element binds the loop
      // param and runs the block (statements compose into the overlay like
      // any other script statements)
      case ForStmt(param, iterable, block) =>
        val items = Eval.evalConst(iterable) match {
          case VArr(xs) => xs
          case VRng(lo, hi) =>
            val from = lo.map { case (v, i) => v.asInstanceOf[VInt].i + (if (i) 0 else 1) }.getOrElse(0L)
            val until = hi.map { case (v, i) => v.asInstanceOf[VInt].i + (if (i) 1 else 0) }.getOrElse(from)
            (from until until).map(VInt(_))
          case other => throw SqlError(
            s"SparkPlanner: FOR iterable must be an array/range, got ${other.render}")
        }
        val saved = st.params
        items.foreach { v =>
          st.params = saved + (param -> v)
          block.stmts.foreach(exec)
        }
        st.params = saved
      case s: SelectStmt =>
        last = Some(planWith(planSelect(spark, dir, s, st.params)))
      case s: UpdateStmt =>
        last = Some(planWith {
          val Seq(what) = s.what
          val (t, base, keyPred) = mutTarget(spark, dir, what)
          val ctx = Ctx(spark, dir, t, base.schema, Map.empty)
          val (_, before, changed) = updateStep(t, base,
            mutCond(t, ctx, keyPred, s.where, "update"), s.data, allowNew = true)
          shapeOutput(before, changed, s.output, ctx)
        })
      case s: DeleteStmt =>
        val (t, base0, cond) = planWith {
          val Seq(what) = s.what
          val (t, base, keyPred) = mutTarget(spark, dir, what)
          (t, base, mutCond(t, Ctx(spark, dir, t, base.schema, Map.empty),
            keyPred, s.where, "delete"))
        }
        // the delete filter (and the RETURN over the deleted rows) applies
        // to the state the referrers' actions leave: a REJECT hit aborts
        // the statement with the table state untouched, and a same-table
        // CASCADE/UNSET is not clobbered by the delete's own overlay write
        val base = removeStep(t, base0,
          recordKey.get(t).map(k => base0.filter(cond).select(col(k))), Map.empty, 32)(
          _.filter(!cond))
        last = Some(planWith(deleteOutput(base.filter(cond), s.output,
          Ctx(spark, dir, t, base.schema, Map.empty))))
      case s: RelateStmt =>
        last = Some(planWith {
          val rb = relateEdges(spark, dir, s, st.params)
          // register the relation so traversal and DELETE purges see it —
          // tracked per transaction so CANCEL unregisters
          if (recordKey.get(rb.table).isEmpty) {
            extraRecordKeys.put(rb.table, rb.key)
            txnAddedKeys += rb.table
          }
          if (!graft.operators.GraphOps.edgeDefs.contains(rb.table)) {
            graft.operators.GraphOps.extraEdgeDefs.put(rb.table, (rb.fromT, rb.toT))
            txnAddedEdges += rb.table
          }
          // a brand-new relation table starts from zero stored rows
          val base = rb.base.getOrElse(rb.edges.limit(0))
          val ctx = Ctx(spark, dir, rb.table, base.schema, Map.empty)
          // RELATE replaces an existing edge id (Interp: t(key) = doc)
          val (after, created) = createArm(rb.table, ctx, rb.edges)(
            c => base.join(c.select(rb.key), Seq(rb.key), "left_anti"))
          commit(rb.table, after, base, after)
          shapeOutput(noneRows(created), created, s.output, ctx)
        })
      case s: CreateStmt =>
        last = Some(planWith {
          val rawTargets: Seq[(String, Option[V])] = s.what.map {
            case RidLit(t, keyE) => (t, Some(Eval.evalConst(keyE)))
            // bare-table target: the reference generates a record id
            // (dbs/iterator.rs GenerateRecordId; Interp nextId())
            case TableRef(t) => (t, scala.None)
            case Idiom(Seq(PField(t))) => (t, scala.None)
            case fc @ FnCall("type::record" | "type::thing", _) => Eval.evalConst(fc) match {
              case VRid(t, k) => (t, Some(k))
              case other => throw SqlError(
                s"SparkPlanner: type::record resolved to ${other.render}, not a record id")
            }
            case other => throw SqlError(
              s"SparkPlanner: CREATE target must be a record id, got $other")
          }
          val t = rawTargets.head._1
          // one table per statement (Interp creates into each table; here
          // every target would need its own overlay arm)
          if (!rawTargets.forall(_._1 == t))
            throw SqlError("SparkPlanner: CREATE across tables is unsupported")
          val base = Tables(spark, dir, t)
          val key = recordKey(t)
          // a constant data-clause id overrides the generated key
          // (execCreate: withData.fields.get("id") before keyOpt/nextId)
          val dataId = createDataId(s.data, st.params)
          val targets = rawTargets.map { case (_, kOpt) =>
            kOpt.orElse(dataId).getOrElse(genKeyV(base.schema(key).dataType))
          }
          // CREATE t:1, t:1 — the reference processes targets sequentially,
          // so a repeated id is already a duplicate when its second target
          // lands (same error as creating an existing id)
          targets.zipWithIndex.foreach { case (k, i) =>
            if (targets.take(i).exists(V.looseEq(_, k)))
              throw SqlError(
                s"Database record `${Render.sql(VRid(t, k))}` already exists")
          }
          val ctx = Ctx(spark, dir, t, base.schema, Map.empty)
          val sets = setMap(s.data, ctx, requireExisting = true)
          // an existing target id is an error, so no row needs the anti-join
          dupIdProbe(t, base.select(col(key))
            .filter(col(key).isin(targets.map(ridKeyLit): _*)),
            stored => targets.find(V.looseEq(_, stored)).getOrElse(stored))
          val (after, created) = createArm(t, ctx,
            targets.map(synthRow(base.schema, key, sets)).reduce(_ unionByName _))(_ => base)
          commit(t, after, base, after)
          shapeOutput(noneRows(created), created, s.output, ctx)
        })
      case s: InsertStmt =>
        last = Some(planWith {
          val t = s.into match {
            case Some(TableRef(name)) => name
            case Some(Idiom(Seq(PField(name)))) => name
            case other => throw SqlError(s"SparkPlanner: unsupported INSERT target $other")
          }
          val base = Tables(spark, dir, t)
          val (rows, maxMult, anyGen) = insertRows(spark, dir, s.values, t, base, st.params, s.relation)
          eventsLast(insertArms(s, t, base, rows, maxMult, anyGen))
        })
      case s: UpsertStmt =>
        last = Some(planWith(eventsLast {
          val Seq(what) = s.what
          val (t, base, keyPred) = mutTarget(spark, dir, what)
          val ctx = Ctx(spark, dir, t, base.schema, Map.empty)
          val cond = mutCond(t, ctx, keyPred, s.where, "update")
          // the create arm's one row, unless the table holds its id, written
          // onto the table state `onto`
          val key = recordKey(t)
          def createOne(keyV: V, onto: DataFrame): DataFrame = {
            val (after, rows) = createArm(t, ctx,
              synthRow(base.schema, key, setMap(s.data, ctx, requireExisting = true))(keyV)
                .join(base.select(key), Seq(key), "left_anti"))(_ => onto)
            commit(t, after, onto, after)
            rows
          }
          what match {
            case TableRef(_) | Idiom(Seq(PField(_))) =>
              // UPSERT over a whole table: update the WHERE-matching rows;
              // when NONE match, create one generated-id record (Interp
              // execUpsert's touched==0 arm; dbs/iterator.rs
              // GenerateRecordId). The match probe is one limit(1) job —
              // UPSERT's arm choice is inherently data-dependent. A WHERE
              // match counts as touched even when the update permission
              // denies the write (doc/allow.rs: a denied row must not flip
              // the statement into its create arm).
              val whereOnly = s.where.map(toCol(_, ctx)).getOrElse(lit(true))
              if (base.filter(whereOnly).limit(1).collect().nonEmpty) {
                val (_, before, changed) = updateStep(t, base, cond, s.data)
                shapeOutput(before, changed, s.output, ctx)
              } else {
                val rows = createOne(createDataId(s.data, st.params)
                  .getOrElse(genKeyV(base.schema(key).dataType)), base)
                shapeOutput(noneRows(rows), rows, s.output, ctx)
              }
            case RidLit(_, keyE) =>
              // UPSERT t:id: the update step if the id exists, the create
              // arm otherwise — both lazy, at most one non-empty
              val keyV = Eval.evalConst(keyE) match {
                case _: VRng => throw SqlError("SparkPlanner: UPSERT needs a point record id")
                case v => v
              }
              val (updated, before, changed) = updateStep(t, base, cond, s.data)
              val rows = createOne(keyV, updated)
              // RETURN BEFORE: the existing doc on the update arm, NONE on
              // the create arm
              shapeOutput(before.unionByName(noneRows(rows)),
                changed.unionByName(rows), s.output, ctx)
            case _ => throw SqlError("SparkPlanner: UPSERT needs a record-id target")
          }
        }))
      case other => throw SqlError(s"SparkPlanner: unsupported script statement $other")
    }
    stmts.foreach(exec)
    last.getOrElse(throw SqlError("SparkPlanner: script produced no result"))
  }

  /** Spark type → declared SurrealQL kind (types/src/kind/mod.rs) for the
    * INFO FOR TABLE rendering. */
  private def surqlKind(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType => "int"
    case DoubleType | FloatType             => "float"
    case StringType                         => "string"
    case BooleanType                        => "bool"
    case BinaryType                         => "bytes"
    case _: org.apache.spark.sql.types.DecimalType => "decimal"
    case TimestampType | TimestampNTZType | DateType => "datetime"
    case ArrayType(inner, _)                => s"array<${surqlKind(inner)}>"
    case _: StructType                      => "object"
    case other                              => other.simpleString
  }

  /** A scanned table: its script state or parquet file, or for a built-in
    * relation table (`supplies`, `next_order`) the stored edge rows that
    * graph hops read. */
  private def scanTable(spark: SparkSession, dir: String, name: String): DataFrame =
    if (!Tables.overridden(name) && graft.operators.GraphOps.edgeDefsBase.contains(name))
      graft.operators.GraphOps.edgeTable(spark, dir, name)
    else Tables(spark, dir, name)

  /** One FROM source → (DataFrame, source table name if concrete). */
  private def planSource(spark: SparkSession, dir: String, e: Expr,
      params: Map[String, V] = Map.empty): (DataFrame, String) = e match {
    case Idiom(Seq(PField(name))) =>
      (permFilter(spark, dir, scanTable(spark, dir, name), name), name)
    case TableRef(name) =>
      (permFilter(spark, dir, scanTable(spark, dir, name), name), name)
    // DynamicScan: `FROM $param` resolves the bound value to a concrete
    // source at plan time and dispatches (scan/dynamic.rs:53)
    case Param(name) =>
      params.get(name) match {
        case Some(VStr(t))    => (Tables(spark, dir, t), t)
        case Some(VTable(t))  => (Tables(spark, dir, t), t)
        case Some(r: VRid)    => planSource(spark, dir, RidLit(r.table, Lit(r.key)), params)
        case Some(other) => throw SqlError(
          s"SparkPlanner: FROM $$$name resolves to ${other.render}, not a source")
        case scala.None => throw SqlError(s"SparkPlanner: unbound FROM param $$$name")
      }
    case Idiom(Seq(PStart(p: Param))) => planSource(spark, dir, p, params)
    // mock source `|t:n|` / `|t:lo..hi|`: generated record ids (expr/mock.rs)
    case FnCall("__mock__", Seq(Lit(VStr(tb)), Lit(VInt(n)), _)) =>
      (spark.range(1, n + 1)
        .select(concat(lit(tb + ":"), col("id")).as("id")), "")
    case FnCall("__mock_range__", Seq(Lit(VStr(tb)), Lit(VRng(lo, hi)))) =>
      def asLong(v: V): Long = v match {
        case VInt(i) => i
        case other   => throw SqlError(s"SparkPlanner: non-integer mock bound ${other.render}")
      }
      val from = lo.map { case (v, incl) => asLong(v) + (if (incl) 0 else 1) }.getOrElse(0L)
      val until = hi.map { case (v, incl) => asLong(v) + (if (incl) 1 else 0) }.getOrElse(from)
      (spark.range(from, until)
        .select(concat(lit(tb + ":"), col("id")).as("id")), "")
    case RidLit(table, keyE) =>
      // RecordIdScan: point lookup / id-range — a key predicate the parquet
      // scan consumes (partition/row-group pruning at scale)
      val key = recordKey.getOrElse(table,
        throw SqlError(s"SparkPlanner: no record key for table $table"))
      val df = permFilter(spark, dir, Tables(spark, dir, table), table)
      Eval.evalConst(keyE) match {
        case VRng(lo, hi) =>
          var out = df
          lo.foreach { case (v, incl) =>
            val c = ridKeyLit(v)
            out = out.filter(if (incl) col(key) >= c else col(key) > c)
          }
          hi.foreach { case (v, incl) =>
            val c = ridKeyLit(v)
            out = out.filter(if (incl) col(key) <= c else col(key) < c)
          }
          (out, table)
        case v => (df.filter(col(key) === ridKeyLit(v)), table)
      }
    case Subquery(sub: SelectStmt) => (planSelect(spark, dir, sub), "")
    // SourceExpr: FROM [{…}, {…}] / FROM {…} — literal object rows (the
    // reference's expression source). Constant one-row frames unioned;
    // fields absent from a row become NULL columns.
    case arr @ (_: ArrLit | _: ObjLit) =>
      var scalarRows = false
      val objs = Eval.evalConst(arr) match {
        case VArr(items) if items.nonEmpty && items.forall(_.isInstanceOf[VObj]) =>
          items.map(_.asInstanceOf[VObj])
        case o: VObj => Vector(o)
        // scalar rows surface as the single `value` column — the column
        // model's RENDERING of the reference's bare-value rows. The name is
        // NOT referenceable: a user-written `value` idiom over these rows
        // resolves to NONE like the reference (bare values have no fields —
        // Interp rowEnv scalar branch), enforced via column metadata in toCol
        case VArr(items) if items.nonEmpty =>
          scalarRows = true
          items.map(v => VObj(scala.collection.immutable.TreeMap("value" -> v)))
        case other => throw SqlError(
          s"SparkPlanner: unsupported literal FROM ${other.render}")
      }
      val colsU = objs.flatMap(_.fields.keys).distinct
      val ctx = Ctx(spark, dir, "", new StructType(), Map.empty)
      val df0 = objs.map { o =>
        spark.range(1).select(colsU.map(c =>
          o.fields.get(c).map(v => toCol(Lit(v), ctx))
            .getOrElse(lit(null)).as(c)).toIndexedSeq: _*)
      }.reduce(_ unionByName _)
      val df =
        if (!scalarRows) df0
        else df0.select(col("value").as("value",
          new MetadataBuilder().putBoolean(ScalarSourceMeta, true).build()))
      (df, "")
    case other => throw SqlError(s"SparkPlanner: unsupported FROM $other")
  }

  /** Column-metadata key marking the `value` column of a scalar-row literal
    * source (`FROM [1, 2, 3]`) — the NAME is only the column model's
    * rendering of bare-value rows; user idioms must not resolve it. */
  private val ScalarSourceMeta = "graft.scalarSource"

  private def ridKeyLit(v: V): Column = v match {
    case VInt(i)   => lit(i)
    case VStr(s)   => lit(s)
    case VFloat(d) => lit(d)
    case other     => lit(other.renderRaw)
  }

  def planSelect(spark: SparkSession, dir: String, s: SelectStmt,
      params: Map[String, V] = Map.empty): DataFrame = {
    // ---- VERSION: scope table scans to a point-in-time snapshot ----------
    // (exec/operators/version_scope.rs:25) — resolution happens at PLAN
    // time via the snapshot-suffixed parquet convention (VersionStore), so
    // the chosen snapshot is still a static relation with full pushdown.
    val asOf: Option[java.time.Instant] = s.version.map { ve =>
      Eval.evalConst(ve) match {
        case VDt(t) => t
        case other  => throw SqlError(
          s"SparkPlanner: VERSION expects a datetime, got ${other.render}")
      }
    }
    // ---- IndexCountScan (exec/operators/scan/index_count.rs:55) ----------
    // an unpredicated `SELECT count() FROM t GROUP ALL` over a table with a
    // declared COUNT index is served by the warmed index, not a scan (tables
    // without one keep the ordinary CountScan plan, as in the reference)
    (s.what, s.fields, s.groupBy) match {
      case (Seq(Idiom(Seq(PField(t)))), Seq(f), Some(Nil))
          if f.expr == FnCall("count", Nil) && s.where.isEmpty &&
            s.split.isEmpty && s.fetch.isEmpty && asOf.isEmpty &&
            s.timeout.isEmpty && countIndexed.contains(t) &&
            !Tables.overridden(t) =>
        val cnt = graft.operators.CountIndex.of(spark, dir, t)
        return spark.range(1).select(lit(cnt).as(fieldAlias(f)))
      case _ => ()
    }
    // ---- source(s): multi-source FROM is a bag concat (Union op) ---------
    val sources = s.what.map {
      case Idiom(Seq(PField(name))) if asOf.isDefined =>
        (graft.operators.VersionStore.tableAt(spark, dir, name, asOf.get), name)
      case TableRef(name) if asOf.isDefined =>
        (graft.operators.VersionStore.tableAt(spark, dir, name, asOf.get), name)
      case e => planSource(spark, dir, e, params)
    }
    val (src0, table) =
      if (sources.length == 1) sources.head
      else (sources.map(_._1).reduce((a, b) => a.unionByName(b, allowMissingColumns = true)),
        "")
    val schema = src0.schema

    // ---- link dereference pre-pass --------------------------------------
    // Collect `fk.field`/`fk.fk2.field` idioms anywhere in the statement and
    // plan one equi-join per distinct path (Fetch/GraphEdgeScan lowering).
    val pathExprs: Seq[Expr] = s.fields.map(_.expr) ++ s.where.toSeq ++
      s.order.map(_.expr) ++ s.groupBy.toSeq.flatten
    val paths: Seq[List[String]] =
      if (table.isEmpty) Nil
      else pathExprs.flatMap(collectLinkPaths(_, table)).distinct
    var df = src0
    var linkCols = Map.empty[List[String], String]
    paths.foreach { path =>
      val derived = "__" + path.mkString("_")
      val (lookup, keyName, targetTable) = linkLookup(spark, dir, table, path, derived)
      val side = if (broadcastDims(targetTable)) broadcast(lookup) else lookup
      df = df.join(side, col(path.head) === col(keyName), "left").drop(keyName)
      linkCols += (path -> derived)
    }

    // ---- destructure-on-link pre-pass ------------------------------------
    // `fk.{a, b}` derefs the record link then keeps a projection of it as
    // ONE struct (expr/part.rs Destructure) — an implicit Fetch of only the
    // selected subfields: one equi-join against the target projecting a
    // struct of exactly those columns (this is also how GraphQL nested
    // selections run distributed).
    var destrCols = Map.empty[(String, Seq[String]), String]
    if (table.nonEmpty) pathExprs.flatMap(collectDestructures(_, table)).distinct
      .zipWithIndex.foreach { case ((fk, subs), i) =>
        val (tt, tk) = links((table, fk))
        val derived = s"__d$i"
        val lookup = Tables(spark, dir, tt)
          .select(col(tk).as(derived + "_k"),
            struct(subs.map(col): _*).as(derived))
        val side = if (broadcastDims(tt)) broadcast(lookup) else lookup
        df = df.join(side, col(fk) === col(derived + "_k"), "left")
          .drop(derived + "_k")
        destrCols += ((fk, subs) -> derived)
      }

    // ---- graph-arrow pre-pass --------------------------------------------
    // `->edge->target[.field]` idioms lower to one aggregated equi-join per
    // distinct path against the relation table (GraphEdgeScan,
    // exec/operators/scan/graph.rs:64): group the oriented edges by their
    // anchor id, collect the reached ids/fields in key order, left-join onto
    // the source by its record key. Two key-partitioned shuffles, output
    // bounded at one row per source record — the 100 TB-safe hop shape.
    var graphCols = Map.empty[Seq[Part], String]
    pathExprs.flatMap(collectGraphPaths).distinct.zipWithIndex.foreach {
      case (parts, i) =>
        if (table.isEmpty) throw SqlError("SparkPlanner: graph hop needs a concrete source table")
        val derived = s"__g$i"
        val kName = derived + "_k"
        val lookup = graphLookup(spark, dir, table, parts, derived, kName)
        val srcKey = recordKey.getOrElse(table,
          throw SqlError(s"SparkPlanner: no record key for table $table"))
        df = df.join(lookup, col(srcKey) === col(kName), "left").drop(kName)
          // no edges → empty array, not NULL (GraphScanOutput yields [])
          .withColumn(derived, coalesce(col(derived), array()))
        graphCols += (parts -> derived)
    }

    // ---- recursion pre-pass ----------------------------------------------
    // `@{n..m}(->edge->target)` idioms (Recursion, exec/operators/
    // recursion.rs:81) lower onto a driver-side frontier-join loop: each hop
    // is ONE distributed shuffle join; the loop only controls depth. The
    // per-start result joins back onto the source by its record key — one
    // row per source record, the same 100 TB-safe shape as a graph hop.
    pathExprs.flatMap(collectRecursePaths).distinct.zipWithIndex.foreach {
      case (parts, i) =>
        if (table.isEmpty)
          throw SqlError("SparkPlanner: recursion needs a concrete source table")
        val derived = s"__r$i"
        val kName = derived + "_k"
        val rec = parts(1).asInstanceOf[PRecurse]
        val srcKey = recordKey.getOrElse(table,
          throw SqlError(s"SparkPlanner: no record key for table $table"))
        // starts = the SELECTED records (the reference's Recursion operator
        // runs per selected record) — a point/range source recurses from a
        // handful of starts, not the whole table
        val lookup = recursionLookup(spark, dir, table, rec,
          df.select(col(srcKey)).distinct(), srcKey, derived, kName)
        df = df.join(lookup, col(srcKey) === col(kName), "left").drop(kName)
          .withColumn(derived, coalesce(col(derived), array()))
        graphCols += (parts -> derived)
    }

    // ---- correlated-subquery pre-pass (CurrentValueSource) ---------------
    // A projection subquery correlated on `$parent.<col>` re-executes per
    // outer record in the reference: LookupPart binds the outer document as
    // the context's current_value and runs the sub-plan rooted at
    // CurrentValueSource (exec/operators/current_value_source.rs:19,
    // planner/source.rs). Per-row re-execution is the one shape that cannot
    // survive 100 TB, so this path DECORRELATES it: group the inner table by
    // its correlation key collecting the `SELECT VALUE` expression, then
    // left-join on the parent column — one shuffled aggregate + one key join
    // regardless of outer cardinality, and identical per-row arrays. The
    // collected array is canonicalized by sort (distributed scan order is
    // nondeterministic anyway; the reference's "storage order" has no
    // distributed analog).
    var subqCols = Map.empty[Expr, String]
    pathExprs.flatMap(collectParentSubqueries).distinct.zipWithIndex.foreach {
      case (sq, i) =>
        val (innerTable, innerCol, outerCol, residual) =
          parentCorrelation(sq.stmt.asInstanceOf[SelectStmt]).get
        val derived = s"__sq$i"
        val kName = derived + "_k"
        var inner = Tables(spark, dir, innerTable)
        val ictx = Ctx(spark, dir, innerTable, inner.schema, Map.empty)
        residual.foreach(p => inner = inner.filter(toCol(p, ictx)))
        val valueExpr = sq.stmt.asInstanceOf[SelectStmt].fields.head.expr
        val grouped = inner.groupBy(col(innerCol).as(kName))
          .agg(sort_array(collect_list(toCol(valueExpr, ictx))).as(derived))
        df = df.join(grouped, col(outerCol) === col(kName), "left").drop(kName)
          // no matching inner rows → empty result set, not NULL
          .withColumn(derived, coalesce(col(derived), array()))
        subqCols += (sq -> derived)
    }

    // ---- WHERE: strip MATCHES / KNN conjuncts into sub-plans --------------
    // The reference removes `@@` and `<|k|>` from the condition and plans
    // FTS / KNN operators for them (exec/planner/util.rs:377,394); the rest
    // of the conjunction stays a row predicate.
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case Binary("&&", l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val allConjs = s.where.toSeq.flatMap(conjuncts)
    val (matchConjs, rest0) = allConjs.partition {
      case Binary(op, _, _) => op == "MATCHES" || op.startsWith("MATCHES:")
      case _ => false
    }
    val (knnConjs, plainConjs) = rest0.partition {
      case Binary(op, _, _) => op.startsWith("KNN:")
      case _ => false
    }

    var scoreCol: Option[String] = scala.None
    var matchRefs = Map.empty[Int, (String, String, Seq[String])]
    matchConjs.foreach {
      case Binary(mop, Idiom(Seq(PField(f))), rhs) =>
        // FullTextScan lowering against the persisted postings index: a
        // script-defined SEARCH index (DEFINE INDEX … SEARCH ANALYZER a)
        // resolves its analyzer chain from the ambient FtsScope; the
        // built-in documents.text index keeps the default blank+lowercase
        // chain. ALTER ANALYZER changes the chain render, which changes the
        // chain-index cache key — the next `@@` builds fresh postings, the
        // same config-keyed invalidation the Interp search cache applies.
        val scope = ftsScope.value
        val scoped = scope.fields.get((table, f))
        if (scoped.isEmpty && (table != "documents" || f != "text"))
          throw SqlError(s"SparkPlanner: @@ requires a search-indexed field; $table.$f is not")
        val qtext = Eval.evalConst(rhs) match {
          case VStr(q) => q
          case other => throw SqlError(s"SparkPlanner: @@ rhs must be a string, got ${other.render}")
        }
        val wantScore = pathExprs.exists(containsScoreFn)
        // boolean operator: the reference DEFAULTS to AND — every analyzed
        // query term must match (sql/operator.rs From<MatchesOperator>:
        // unwrap_or(BooleanOperator::And)); @OR@ / @N,OR@ opt into OR
        val orMode = mop.split(":", -1).lift(2).exists(_ == "OR")
        // AND-gate: the key set of docs carrying ALL the query terms
        def andHits(post: DataFrame, key: String, terms: Seq[String]): DataFrame =
          post.filter(col("term").isin(terms: _*))
            .groupBy(key).agg(countDistinct(col("term")).as("__fts_nt"))
            .filter(col("__fts_nt") === terms.distinct.size).select(key)
        scoped match {
          case Some((anaName, k1, b)) =>
            val anaDef = scope.analyzers.getOrElse(anaName,
              throw SqlError(s"The analyzer '$anaName' does not exist"))
            val parsed = graft.functions.Analyze.chain(anaDef.render)
            // FUNCTION analyzer: the fn:: pre-transform inlines into the
            // postings build and the (driver-side) rhs analysis
            val xform = fnXform(spark, dir, table, f, parsed)
            val key = recordKey(table)
            // querying-stage analysis of the rhs through the SAME chain
            val terms = graft.functions.Analyze
              .analyzeQuery(anaDef.render, fnQueryInput(parsed, qtext)).distinct
            mop.split(":", -1).lift(1).filter(_.nonEmpty)
              .foreach(r => matchRefs += r.toInt -> (f, anaDef.render, terms))
            val idx = graft.operators.FullText.chainIndex(spark, dir, table,
              key, f, anaDef.render,
              if (Tables.overridden(table)) Some(Tables(spark, dir, table))
              else scala.None, xform)
            if (wantScore) {
              val sc0 = graft.operators.FullText
                .chainScores(spark, idx, key, terms, k1, b)
                .withColumnRenamed("score", "__fts_score")
              val sc = if (orMode) sc0
                else sc0.join(andHits(idx._1, key, terms), Seq(key), "left_semi")
              df = df.join(sc, Seq(key), "inner")
              scoreCol = Some("__fts_score")
            } else {
              val hits =
                if (orMode) idx._1.filter(col("term").isin(terms: _*))
                  .select(key).distinct()
                else andHits(idx._1, key, terms)
              df = df.join(hits, Seq(key), "left_semi")
            }
          case scala.None =>
            val terms = qtext.trim.toLowerCase.split("\\s+").toSeq
            mop.split(":", -1).lift(1).filter(_.nonEmpty)
              .foreach(r => matchRefs += r.toInt ->
                (f, "DEFINE ANALYZER d TOKENIZERS blank FILTERS lowercase",
                  terms))
            val post = graft.operators.FullText.index(spark, dir)._1
            if (wantScore) {
              // score requested → inner-join per-doc BM25 (match + score)
              val sc0 = graft.operators.FullText.scores(spark, dir, terms)
                .withColumnRenamed("score", "__fts_score")
              val sc = if (orMode) sc0
                else sc0.join(andHits(post, "doc_id", terms), Seq("doc_id"), "left_semi")
              df = df.join(sc, Seq("doc_id"), "inner")
              scoreCol = Some("__fts_score")
            } else {
              // pure match predicate → postings semi-join
              val hits =
                if (orMode) post.filter(col("term").isin(terms: _*))
                  .select("doc_id").distinct()
                else andHits(post, "doc_id", terms)
              df = df.join(hits, Seq("doc_id"), "left_semi")
            }
        }
      case other => throw SqlError(s"SparkPlanner: unsupported MATCHES shape $other")
    }

    val ctx = Ctx(spark, dir, table, schema, linkCols, graphCols, scoreCol,
      knnDistCol = if (knnConjs.nonEmpty) Some("__knn_dist") else scala.None,
      destrCols = destrCols, subqCols = subqCols, matchRefs = matchRefs)
    def c(e: Expr): Column = toCol(e, ctx)

    // ---- filter: plain conjuncts, decorrelate INSIDE-subqueries ----------
    plainConjs.foreach {
      case Binary(op @ ("INSIDE" | "NOTINSIDE"), l, Subquery(sub: SelectStmt)) =>
        // membership against a subquery → semi/anti join (decorrelated);
        // the key is renamed to a fresh name so a self-table subquery
        // cannot create an ambiguous column reference in the join condition
        val subDf0 = planSelect(spark, dir, sub)
        val subDf = subDf0.select(col(subDf0.columns.head).as("__inside_key"))
        val joinType = if (op == "INSIDE") "left_semi" else "left_anti"
        df = df.join(subDf, c(l) === subDf("__inside_key"), joinType)
      case cond => df = df.filter(c(cond))
    }

    // ---- KNN after row predicates: top-k among surviving candidates -------
    knnConjs.foreach { case Binary(op, lhs, rhs) =>
      val Array(_, kStr, metric) = op.split(":", -1)
      val k = kStr.toInt
      val f = lhs match {
        case Idiom(Seq(PField(n))) => n
        case other => throw SqlError(s"SparkPlanner: KNN lhs must be a field, got $other")
      }
      val qvec: Seq[Double] = Eval.evalConst(rhs) match {
        case VArr(items) => items.map {
          case n: VNum => n.toDouble
          case other => throw SqlError(s"SparkPlanner: KNN vector must be numeric, got ${other.render}")
        }
        case other => throw SqlError(s"SparkPlanner: KNN rhs must be an array, got ${other.render}")
      }
      val srcKey = recordKey.getOrElse(table,
        throw SqlError(s"SparkPlanner: no record key for table $table"))
      metric match {
        case "COSINE" | "EUCLIDEAN" | "MANHATTAN" =>
          // KnnTopK brute force (exec/operators/knn_topk.rs:81): score every
          // candidate, TakeOrderedAndProject — right at any scale
          val qe = array(qvec.map(lit): _*)
          val Sim = graft.operators.Similarity
          val dist = metric match {
            case "COSINE"    => lit(1.0) - Sim.cosine(col(f), qe)
            case "EUCLIDEAN" => Sim.l2(col(f), qe)
            case _           => Sim.l1(col(f), qe)
          }
          df = df.withColumn("__knn_dist", dist)
            .orderBy(col("__knn_dist").asc, col(srcKey).asc)
            .limit(k)
        case _ if s.withIndex.contains(Nil) =>
          // WITH NOINDEX (exec/planner/util.rs index hints): the `<|k|>`
          // probe must NOT touch the persisted ANN index — exact brute
          // cosine top-k instead, same as the reference falling back to a
          // full KnnTopK scan
          val qe = array(qvec.map(lit): _*)
          val Sim = graft.operators.Similarity
          df = df.withColumn("__knn_dist", lit(1.0) - Sim.cosine(col(f), qe))
            .orderBy(col("__knn_dist").asc, col(srcKey).asc)
            .limit(k)
        case _ =>
          // `<|k|>` / `<|k,ef|>`: index-backed ANN (KnnScan,
          // exec/operators/scan/knn.rs:37). The ef form is specifically the
          // reference's HNSW search (idx/trees/hnsw — ef is the level-0 beam
          // width), so an explicit ef routes to the sharded HNSW graph probe
          // with that beam; the bare `<|k|>` probes the LSH signature index.
          if (table != "embeddings" || f != "embedding")
            throw SqlError(s"SparkPlanner: <|k|> requires a vector-indexed field; $table.$f is not")
          // over-fetch: the reference pulls index candidates until k pass
          // the row condition (idx/trees/hnsw HnswConditionChecker). A
          // predicate-free query needs no slack beyond a small constant;
          // under row predicates the fetch DOUBLES until k candidates
          // survive or the fetch covers the whole index — the set-at-a-time
          // analog of the checker's pull-until-k loop (each round is one
          // bounded probe + count, only paid when a WHERE is present).
          def probeAt(fetch: Int): DataFrame = metric.toIntOption match {
            case Some(ef) if ef > 0 =>
              graft.operators.Hnsw.probe(spark, dir, qvec, fetch, math.max(ef, fetch))
            case _ =>
              graft.operators.Similarity.annProbe(spark, dir, qvec, fetch)
                .select(col("vec_id"), (lit(1.0) - col("cos_sim")).as("__knn_dist"))
          }
          var fetch = k + 16
          var joined = df.join(probeAt(fetch), Seq("vec_id"), "inner")
          if (plainConjs.nonEmpty) {
            val n = graft.operators.CountIndex.of(spark, dir, table)
            var got = joined.limit(k).count()
            while (got < k && fetch < n) {
              fetch =
                if (fetch.toLong * 2 >= n) math.min(n, Int.MaxValue.toLong).toInt
                else fetch * 2
              joined = df.join(probeAt(fetch), Seq("vec_id"), "inner")
              got = joined.limit(k).count()
            }
          }
          df = joined
            .orderBy(col("__knn_dist").asc, col(srcKey).asc)
            .limit(k)
      }
    }

    // ---- split -----------------------------------------------------------
    // SPLIT ON an array-valued projected field: project first, then explode

    // ---- split (exec/operators/split.rs): runs BEFORE aggregation and
    // projection in the reference pipeline (planner/select.rs:29 filter →
    // split → aggregate → … → project), so it explodes DOCUMENT fields —
    // one chained generator per field, the cartesian product. A split name
    // that is not an array-valued document field passes through unchanged
    // (projection aliases do not exist yet at this stage).
    s.split.foreach { f =>
      if (df.columns.contains(f) &&
          df.schema(f).dataType.isInstanceOf[ArrayType])
        df = df.withColumn(f, explode(col(f)))
    }

    // ---- aggregate / project ---------------------------------------------
    // math::median (Percentile, a TypedImperativeAggregate) mixed into an
    // agg list forces the whole aggregation into ObjectHashAggregate. r16
    // split the medians into their own aggregation joined back on the keys
    // to keep codegen on the declarative side; r18 measured the split as a
    // net LOSS and removed it (AggShape harness, sf0.1, local[32]): the
    // single ObjectHashAggregate pass is ~0.3 s/rep faster fresh-plan (one
    // scan, one shuffle, no join — fewer stages) and the steady-state data
    // path ties (0.06 s both). At 100 TB the split's second scan of the
    // fact table dwarfs any interpreted-vs-codegen per-row delta, and
    // TypedImperativeAggregate still does map-side partials.
    // r19 clean-run close-out of the r16 watch item: fn_agg_stats solo
    // (fresh JVM, local[32], sf0.1, 7 reps) median 1.10 s, steady reps
    // 1.03-1.38 s — under the 1.5 s line; the remaining floor is plan
    // compile + two ObjectHashAggregate stages, not data volume.
    val out: DataFrame = s.groupBy match {
      case Some(Nil) =>
        df.agg(aggCol(s.fields.head, ctx, groupAll = true),
          s.fields.tail.map(aggCol(_, ctx, groupAll = true)): _*)
      case Some(keys) =>
        // a GROUP BY key may name an output alias (`GROUP BY h` where
        // `crypto::md5(text) AS h` is a projection) — resolve to the
        // aliased expression, named so the agg output carries the alias
        val keyCols = keys.map {
          case k @ Idiom(Seq(PField(n))) if !schema.fieldNames.contains(n) =>
            s.fields.find(f => !f.isAll && fieldAlias(f) == n)
              .map(f => c(f.expr).as(n)).getOrElse(c(k))
          case k => c(k)
        }
        val (aggFields, keyFields) = s.fields.partition(f => isAggregate(f.expr))
        if (aggFields.isEmpty) {
          // keys-only GROUP BY = DISTINCT over the keys
          df.select(keyFields.map(f => c(f.expr).as(fieldAlias(f))): _*).distinct()
        } else {
          df.groupBy(keyCols: _*)
            .agg(aggCol(aggFields.head, ctx), aggFields.tail.map(aggCol(_, ctx)): _*)
        }
      case scala.None =>
        val cols = s.fields.map { f =>
          if (f.isAll) col("*")
          else c(f.expr).as(fieldAlias(f))
        }
        df.select(cols: _*)
    }
    df = out
    // ---- OMIT: column-set subtraction from the projected output ----------
    // (expr/statements/select.rs omit clause; pairs with `SELECT *`). Also
    // drops any internal derived columns a pre-pass joined in, which `*`
    // would otherwise leak.
    if (s.omit.nonEmpty)
      df = df.drop(s.omit: _*)
    if (s.fields.exists(_.isAll))
      df = df.drop(df.columns.filter(_.startsWith("__")).toIndexedSeq: _*)

    // ---- fetch: embed the linked record as a struct (Fetch op) -----------
    s.fetch.collect { case Lit(VStr(f)) => f }.foreach { f =>
      if (table.nonEmpty && links.contains((table, f)) && df.columns.contains(f)) {
        val (tt, tk) = links((table, f))
        val target = Tables(spark, dir, tt)
        val fetched = target.select(col(tk).as("__fetch_key"),
          struct(target.columns.map(col): _*).as("__fetch_doc"))
        val side = if (broadcastDims(tt)) broadcast(fetched) else fetched
        df = df.join(side, col(f) === col("__fetch_key"), "left")
          .withColumn(f, col("__fetch_doc"))
          .drop("__fetch_key", "__fetch_doc")
      }
    }

    // ---- order / start / limit ------------------------------------------
    if (s.order.nonEmpty) {
      val keys = s.order.flatMap { k =>
        // the rendering-only `value` column of a scalar-row source resolves
        // to NONE in the reference — a constant key orders nothing, so it
        // contributes NO sort key (a Spark sort on a constant would shuffle
        // and lose the preserved literal order)
        val scalarValue = k.expr match {
          case Idiom(Seq(PField("value"))) =>
            ctx.schema.fieldNames.contains("value") &&
              ctx.schema("value").metadata.contains(ScalarSourceMeta)
          case _ => false
        }
        if (scalarValue) Nil
        else {
        val kc = k.expr match {
          // order keys may reference output aliases
          case Idiom(Seq(PField(n))) if df.columns.contains(n) => col(n)
          case e => toCol(e, ctx)
        }
        // COLLATE = lexical_cmp (case-insensitive, binary tie-break keeps
        // upper first); NUMERIC = natural_cmp (digit-run aware); both =
        // natural_lexical_cmp (val/value/compare.rs:15-19). Each is a plain
        // sort-key expression, so the distributed range-partitioned sort is
        // unchanged.
        val cols: Seq[Column] =
          if (k.collate && k.numeric) Seq(naturalKey(lower(kc)), kc)
          else if (k.collate) Seq(lower(kc), kc)
          else if (k.numeric) Seq(naturalKey(kc))
          else Seq(kc)
        cols.map(c => if (k.desc) c.desc else c.asc)
        }
      }
      if (keys.nonEmpty) df = df.orderBy(keys: _*)
    }
    // ORDER BY RAND(): a distributed shuffle-sort on a per-row random key
    // (exec/operators/sort/shuffle.rs:32) — no driver-side materialization
    if (s.orderRand) df = df.orderBy(rand())
    s.start.foreach { e => df = df.offset(Eval.evalConst(e) match { case n: VNum => n.toDouble.toInt; case _ => 0 }) }
    s.limit.foreach { e => df = df.limit(Eval.evalConst(e) match { case n: VNum => n.toDouble.toInt; case _ => Int.MaxValue }) }

    if (s.only) {
      // UnwrapExactlyOne (exec/operators/unwrap_exactly_one.rs:30): guard on
      // an already-pruned point lookup. Materialize ONCE (eager local
      // checkpoint) so the guard's job and the downstream consumer share the
      // computed rows — checkpoint blocks are reclaimed by the
      // ContextCleaner when unreferenced, unlike a CacheManager persist,
      // which pins the plan until an explicit unpersist (a leak in
      // long-lived sessions).
      df = df.localCheckpoint(true)
      val n = df.take(2).length
      require(n == 1, s"FROM ONLY expects exactly 1 row, got $n")
    }
    // ---- TIMEOUT: watchdogged execution (exec/operators/timeout.rs:25) ---
    // The plan executes eagerly under a dedicated job group; a watchdog
    // cancels every job in the group at the deadline — Spark's cooperative
    // cancellation reaches all executors, the distributed analog of the
    // reference's per-operator deadline checks. The materialized (cached)
    // result is returned so downstream consumers don't re-run the work.
    s.timeout.foreach { te =>
      val ms = Eval.evalConst(te) match {
        case d: VDur => d.secs * 1000L + d.nanos / 1000000L
        case other => throw SqlError(s"Expected a duration but found ${other.render}")
      }
      val sc = spark.sparkContext
      val group = s"graft-timeout-${java.util.UUID.randomUUID()}"
      val frozen = df
      val task = new java.util.concurrent.FutureTask[DataFrame](() => {
        sc.setJobGroup(group, "SurrealQL TIMEOUT scope", interruptOnCancel = true)
        try { val out = frozen.localCheckpoint(true); out }
        finally sc.clearJobGroup()
      })
      val th = new Thread(task, group)
      th.setDaemon(true)
      th.start()
      try df = task.get(ms, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          sc.cancelJobGroup(group)
          throw SqlError("The query was not executed because it exceeded the timeout")
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }
    df
  }

  // ---- link resolution ---------------------------------------------------

  /** `fk.{a, b}` destructures rooted at link columns of `table` — plain
    * subfield names only (nested destructure paths stay on the Interp
    * path). */
  private def collectDestructures(e: Expr, table: String): Seq[(String, Seq[String])] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Seq[String])]()
    def go(x: Expr): Unit = x match {
      case Idiom(Seq(PField(fk), PDestructure(fs)))
          if links.contains((table, fk)) && fs.forall(_._2.isEmpty) =>
        out += (fk -> fs.map(_._1))
      case Idiom(parts) => parts.foreach {
        case PStart(inner) => go(inner)
        case PIndex(inner) => go(inner)
        case PWhere(inner) => go(inner)
        case _ => ()
      }
      case Binary(_, l, r)  => go(l); go(r)
      case Prefix(_, inner) => go(inner)
      case Cast(_, inner)   => go(inner)
      case FnCall(_, args)  => args.foreach(go)
      case ArrLit(items)    => items.foreach(go)
      case ObjLit(fs)       => fs.foreach { case (_, v) => go(v) }
      case IfExpr(bs, o)    => bs.foreach { case (cc, v) => go(cc); go(v) }; o.foreach(go)
      case _ => ()
    }
    go(e)
    out.toSeq
  }

  /** `fk.field` chains rooted at link columns of `table`. */
  private def collectLinkPaths(e: Expr, table: String): Seq[List[String]] = {
    val out = scala.collection.mutable.ArrayBuffer[List[String]]()
    def validChain(tbl: String, names: List[String]): Boolean = names match {
      case fk :: _ :: Nil => links.contains((tbl, fk))
      case fk :: rest     => links.get((tbl, fk)).exists { case (t, _) => validChain(t, rest) }
      case _              => false
    }
    def go(x: Expr): Unit = x match {
      case Idiom(parts) if parts.forall(_.isInstanceOf[PField]) =>
        val names = parts.collect { case PField(n) => n }.toList
        if (names.length >= 2 && validChain(table, names)) out += names
      case Idiom(parts) => parts.foreach {
        case PStart(inner) => go(inner)
        case PIndex(inner) => go(inner)
        case PWhere(inner) => go(inner)
        case _ => ()
      }
      case Binary(_, l, r)  => go(l); go(r)
      case Prefix(_, inner) => go(inner)
      case Cast(_, inner)   => go(inner)
      case FnCall(_, args)  => args.foreach(go)
      case ArrLit(items)    => items.foreach(go)
      case ObjLit(fs)       => fs.foreach { case (_, v) => go(v) }
      case IfExpr(bs, o)    => bs.foreach { case (cc, v) => go(cc); go(v) }; o.foreach(go)
      case _ => ()
    }
    go(e)
    out.toSeq
  }

  /** Build the lookup side for one link path: a DataFrame with (joinKey,
    * derived) columns, joined on the parent's fk column. Multi-segment paths
    * chain joins through intermediate link tables. */
  private def linkLookup(spark: SparkSession, dir: String, tbl: String,
      path: List[String], derived: String): (DataFrame, String, String) = path match {
    case fk :: f :: Nil =>
      val (tt, tk) = links((tbl, fk))
      val keyName = derived + "_k"
      (Tables(spark, dir, tt).select(col(tk).as(keyName), col(f).as(derived)), keyName, tt)
    case fk :: rest =>
      val (tt, tk) = links((tbl, fk))
      val (inner, innerKey, innerTbl) = linkLookup(spark, dir, tt, rest, derived)
      val keyName = derived + "_k" + rest.length
      val innerSide = if (broadcastDims(innerTbl)) broadcast(inner) else inner
      val mid = Tables(spark, dir, tt)
        .select(col(tk).as(keyName), col(rest.head))
        .join(innerSide, col(rest.head) === col(innerKey), "left")
        .select(col(keyName), col(derived))
      (mid, keyName, tt)
    case _ => throw SqlError(s"SparkPlanner: invalid link path $path")
  }

  // ---- recursion resolution ----------------------------------------------

  /** Idioms of shape `@{n..m}(->edge->target)` — a doc-rooted recursion with
    * a pure graph-hop body. Anything fancier (trailing parts, `.@` repeat
    * nests, destructures) stays Interp-only and throws here. */
  private def collectRecursePaths(e: Expr): Seq[Seq[Part]] = {
    val out = scala.collection.mutable.ArrayBuffer[Seq[Part]]()
    def go(x: Expr): Unit = x match {
      case Idiom(Seq(PDoc, _: PRecurse)) => out += x.asInstanceOf[Idiom].parts
      case Idiom(parts) => parts.foreach {
        case PStart(inner) => go(inner)
        case PIndex(inner) => go(inner)
        case PWhere(inner) => go(inner)
        case _ => ()
      }
      case Binary(_, l, r)  => go(l); go(r)
      case Prefix(_, inner) => go(inner)
      case Cast(_, inner)   => go(inner)
      case FnCall(_, args)  => args.foreach(go)
      case ArrLit(items)    => items.foreach(go)
      case ObjLit(fs)       => fs.foreach { case (_, v) => go(v) }
      case _ => ()
    }
    go(e)
    out.toSeq
  }

  /** Lower one `@{n..m}` recursion over a self-referencing relation table
    * onto the frontier kernel [[graft.operators.GraphOps.frontiers]]. Each
    * strategy (recursion.rs) supplies only its hop and what it keeps from
    * the per-depth frames:
    *   default  → the frontier at the FINAL depth reached (last non-empty
    *              depth D ≤ max, included iff D ≥ min — recursion/default.rs)
    *   collect  → every node first visited at a depth ≥ min
    *   path     → every complete path: a dead end, or a survivor of max hops
    *   shortest → BFS path to the target id at its first contact per start
    * Output: (kName, derived array column), one row per start record. */
  private def recursionLookup(spark: SparkSession, dir: String, table: String,
      rec: PRecurse, startRows: DataFrame, srcKey: String,
      derived: String, kName: String): DataFrame = {
    import graft.operators.GraphOps
    def unsupported(why: String) =
      throw SqlError(s"SparkPlanner: unsupported recursion ($why)")
    val minD = rec.min.getOrElse(1L)
    if (minD < 1) throw SqlError(s"Found $minD for bound but expected at least 1.")
    val maxD = rec.max.getOrElse(
      unsupported("unbounded depth — give an explicit {n..m} ceiling")).toInt
    val body = rec.nest.getOrElse(unsupported("recursion without a (…) body"))
    val (g1, g2) = body match {
      case Seq(a: PGraph, b: PGraph) => (a, b)
      case other => unsupported(s"non-graph recursion body $other")
    }
    if (g1.dir != "out" || g2.dir != "out") unsupported("non-forward hop")
    if (g1.what.length != 1 || g1.cond.nonEmpty || g1.what.head.key.nonEmpty)
      unsupported("restricted edge hop")
    val edgeName = g1.what.head.table
    val (inT, outT) = GraphOps.edgeDefs.getOrElse(edgeName,
      unsupported(s"unknown relation table $edgeName"))
    if (inT != table || outT != table)
      unsupported(s"$edgeName is not a self-relation of $table")
    if (g2.what.headOption.map(_.table) != Some(table))
      unsupported("recursion target must be the source table")
    val e = GraphOps.edgeTable(spark, dir, edgeName)
      .select(col("in").as("src"), col("out").as("dst"))
    val starts = startRows
      .select(col(srcKey).as("start"), col(srcKey).as("node"))
    def belowMin() = unsupported(s"max depth $maxD below min $minD")
    // +path and +shortest frontiers carry the id path walked so far
    def withPath(inclusive: Boolean) = starts.withColumn("path",
      if (inclusive) array(col("node")) else array().cast("array<long>"))
    rec.instr match {
      case RDefault =>
        // (start, node, depth) for all depths 1..max, then keep each start's
        // final frontier: depth = max non-empty depth, if it reaches min
        val all = GraphOps.recurse(starts, e, maxD)
        val dstar = all.groupBy("start").agg(max(col("depth")).as("__dstar"))
        all.join(dstar, "start")
          .filter(col("depth") === col("__dstar") && col("__dstar") >= minD)
          .groupBy(col("start").as(kName))
          .agg(sort_array(collect_list(col("node"))).as(derived))
      case RCollect(inclusive) =>
        // +collect (recursion/collect.rs): every node whose FIRST visit is
        // at depth ≥ min (a node seen earlier is never re-collected), plus
        // the start itself when +inclusive
        val all = GraphOps.recurse(starts, e, maxD)
        val kept = all.groupBy("start", "node").agg(min(col("depth")).as("__d"))
          .filter(col("__d") >= minD).select("start", "node")
        val visited = if (inclusive) kept.unionByName(starts).distinct() else kept
        visited
          .groupBy(col("start").as(kName))
          .agg(sort_array(collect_list(col("node"))).as(derived))
      case RPath(inclusive) =>
        // +path (recursion/path.rs): every complete traversal path, one
        // array per path. Each hop is a left join, so a row whose `node` is
        // null hit a dead end: it completes the path of d - 1 hops it
        // carries, kept iff d - 1 ≥ min, and does not carry on. A row that
        // survives hop max completes a path of max hops.
        if (maxD < minD) belowMin()
        GraphOps.frontiers(withPath(inclusive), maxD, col("node").isNotNull) { (a, _) =>
          a.alias("a").join(e.alias("e"), col("a.node") === col("e.src"), "left")
            .select(col("a.start").as("start"), col("e.dst").as("node"),
              when(col("e.dst").isNull, col("a.path"))
                .otherwise(concat(col("a.path"), array(col("e.dst")))).as("path"))
        }.zip(1 to maxD).map { case (f, d) =>
          f.filter(size(col("path")) > 0 &&
            when(col("node").isNull, lit(d > minD)).otherwise(lit(d == maxD)))
        }.reduce(_ unionByName _)
          .groupBy(col("start").as(kName))
          .agg(sort_array(collect_list(col("path"))).as(derived))
      case RShortest(targetE, inclusive) =>
        val targetId: Column = Eval.evalConst(targetE) match {
          case r: VRid => ridKeyLit(r.key)
          case other   => unsupported(s"shortest target ${other.render}")
        }
        if (maxD < minD) belowMin()
        // BFS (recursion/shortest.rs): one path per (start, node) and depth.
        // A start that reaches the target at a depth ≥ min has its shortest
        // path there: its rows are flagged `__hit`, its target row is kept,
        // and none of them carries on to a deeper hop.
        val byStart = org.apache.spark.sql.expressions.Window.partitionBy("start")
        GraphOps.frontiers(withPath(inclusive), maxD, !col("__hit")) { (f, d) =>
          f.alias("f").join(e.alias("e"), col("f.node") === col("e.src"))
            .select(col("f.start").as("start"), col("e.dst").as("node"),
              concat(col("f.path"), array(col("e.dst"))).as("path"))
            .dropDuplicates("start", "node")
            .withColumn("__hit",
              if (d >= minD) max(col("node") === targetId).over(byStart) else lit(false))
        }.map(_.filter(col("__hit") && col("node") === targetId))
          .reduce(_ unionByName _)
          .select(col("start").as(kName), col("path").as(derived))
    }
  }

  // ---- graph-arrow resolution --------------------------------------------

  /** Idioms that start with a graph hop (`->edge->…`). Idioms containing a
    * PGraph anywhere ELSE are rejected later by toCol (no silent lowering). */
  private def collectGraphPaths(e: Expr): Seq[Seq[Part]] = {
    val out = scala.collection.mutable.ArrayBuffer[Seq[Part]]()
    def go(x: Expr): Unit = x match {
      case Idiom(parts) if parts.headOption.exists(_.isInstanceOf[PGraph]) =>
        out += parts
      case Idiom(parts) => parts.foreach {
        case PStart(inner) => go(inner)
        case PIndex(inner) => go(inner)
        case PWhere(inner) => go(inner)
        case _ => ()
      }
      case Binary(_, l, r)  => go(l); go(r)
      case Prefix(_, inner) => go(inner)
      case Cast(_, inner)   => go(inner)
      case FnCall(_, args)  => args.foreach(go)
      case ArrLit(items)    => items.foreach(go)
      case ObjLit(fs)       => fs.foreach { case (_, v) => go(v) }
      case IfExpr(bs, o)    => bs.foreach { case (cc, v) => go(cc); go(v) }; o.foreach(go)
      case _ => ()
    }
    go(e)
    out.toSeq
  }

  /** Subqueries correlated on `$parent.<col>` anywhere inside `e` — the
    * shapes [[parentCorrelation]] can decorrelate. */
  private def collectParentSubqueries(e: Expr): Seq[Subquery] = {
    val out = scala.collection.mutable.ArrayBuffer[Subquery]()
    def go(x: Expr): Unit = x match {
      case sq @ Subquery(sel: SelectStmt) if parentCorrelation(sel).isDefined =>
        out += sq
      case Idiom(parts) => parts.foreach {
        case PStart(inner) => go(inner)
        case PIndex(inner) => go(inner)
        case PWhere(inner) => go(inner)
        case _ => ()
      }
      case Binary(_, l, r)  => go(l); go(r)
      case Prefix(_, inner) => go(inner)
      case Cast(_, inner)   => go(inner)
      case FnCall(_, args)  => args.foreach(go)
      case ArrLit(items)    => items.foreach(go)
      case ObjLit(fs)       => fs.foreach { case (_, v) => go(v) }
      case IfExpr(bs, o)    => bs.foreach { case (cc, v) => go(cc); go(v) }; o.foreach(go)
      case _ => ()
    }
    go(e)
    out.toSeq
  }

  /** Decorrelatable shape of a `$parent`-correlated subquery:
    * `SELECT VALUE <expr> FROM <table> WHERE <inner> = $parent.<outer>
    * [AND <uncorrelated residual>…]` → (table, innerCol, outerCol,
    * residual conjuncts). Anything else (ORDER/LIMIT/GROUP, multi-source,
    * residuals that still mention `$parent`) is rejected and falls back to
    * the interpreter path. */
  private def parentCorrelation(sel: SelectStmt)
      : Option[(String, String, String, Seq[Expr])] = {
    if (!sel.value || sel.fields.length != 1) return scala.None
    if (sel.groupBy.nonEmpty || sel.order.nonEmpty || sel.orderRand ||
        sel.limit.nonEmpty || sel.start.nonEmpty || sel.split.nonEmpty ||
        sel.fetch.nonEmpty || sel.version.nonEmpty) return scala.None
    val table = sel.what match {
      case Seq(Idiom(Seq(PField(t)))) => t
      case Seq(TableRef(t))           => t
      case _ => return scala.None
    }
    def parentRef(e: Expr): Option[String] = e match {
      case Idiom(Seq(PStart(Param("parent")), PField(c))) => Some(c)
      case _ => scala.None
    }
    def mentionsParent(x: Expr): Boolean = x match {
      case Param("parent") => true
      case Idiom(parts) => parts.exists {
        case PStart(inner) => mentionsParent(inner)
        case PIndex(inner) => mentionsParent(inner)
        case PWhere(inner) => mentionsParent(inner)
        case _ => false
      }
      case Binary(_, l, r)  => mentionsParent(l) || mentionsParent(r)
      case Prefix(_, inner) => mentionsParent(inner)
      case Cast(_, inner)   => mentionsParent(inner)
      case FnCall(_, args)  => args.exists(mentionsParent)
      case ArrLit(items)    => items.exists(mentionsParent)
      case ObjLit(fs)       => fs.exists { case (_, v) => mentionsParent(v) }
      case Subquery(_)      => true // nested correlation — don't decorrelate
      case _ => false
    }
    def conjs(e: Expr): Seq[Expr] = e match {
      case Binary("&&", l, r) => conjs(l) ++ conjs(r)
      case x => Seq(x)
    }
    val cs = sel.where.toSeq.flatMap(conjs)
    val (corr, residual) = cs.partition {
      case Binary("=", l, r) => parentRef(l).isDefined || parentRef(r).isDefined
      case _ => false
    }
    if (residual.exists(mentionsParent) || mentionsParent(sel.fields.head.expr))
      return scala.None
    corr match {
      case Seq(Binary("=", Idiom(Seq(PField(ic))), r)) if parentRef(r).isDefined =>
        Some((table, ic, parentRef(r).get, residual))
      case Seq(Binary("=", l, Idiom(Seq(PField(ic))))) if parentRef(l).isDefined =>
        Some((table, ic, parentRef(l).get, residual))
      case _ => scala.None
    }
  }

  private def containsScoreFn(e: Expr): Boolean = e match {
    case FnCall("search::score", _) => true
    case Binary(_, l, r)  => containsScoreFn(l) || containsScoreFn(r)
    case Prefix(_, inner) => containsScoreFn(inner)
    case Cast(_, inner)   => containsScoreFn(inner)
    case FnCall(_, args)  => args.exists(containsScoreFn)
    case ArrLit(items)    => items.exists(containsScoreFn)
    case _ => false
  }

  /** Lower one graph path to an aggregated lookup keyed by the source id.
    * Supported shapes (the reference's Lookup with its SELECT-features runs
    * in the Interp; anything not lowered throws rather than approximating):
    *   `->edge`                 → array of edge record ids (KV key order)
    *   `->edge->target`         → array of reached target ids
    *   `->edge->target.field`   → array of target field values (id order)
    * with an optional `WHERE` on the edge (`->(edge WHERE cond)->…`), and
    * `<-`/`<->` orientations. Output modes mirror GraphScanOutput
    * (scan/graph.rs:30-36). */
  private def graphLookup(spark: SparkSession, dir: String, table: String,
      parts: Seq[Part], derived: String, kName: String): DataFrame = {
    import graft.operators.GraphOps
    val g1 = parts.head.asInstanceOf[PGraph]
    def unsupported(why: String) =
      throw SqlError(s"SparkPlanner: unsupported graph lookup ($why)")
    if (g1.what.length != 1) unsupported("multi-subject hop")
    if (g1.what.head.key.nonEmpty) unsupported("id-restricted hop")
    if (g1.fields.nonEmpty || g1.groupBy.nonEmpty || g1.order.nonEmpty ||
        g1.limit.nonEmpty || g1.start.nonEmpty || g1.split.nonEmpty || g1.only)
      unsupported("SELECT-featured lookup")
    val edgeName = g1.what.head.table
    val (inT, outT) = GraphOps.edgeDefs.getOrElse(edgeName,
      unsupported(s"unknown relation table $edgeName"))
    val e0 = GraphOps.edgeTable(spark, dir, edgeName)
    val e = g1.cond match {
      case Some(cnd) =>
        e0.filter(toCol(cnd, Ctx(spark, dir, edgeName, e0.schema, Map.empty)))
      case scala.None => e0
    }
    // orientation: `->` anchors the source at `in`, `<-` at `out`, `<->` both
    def orient(anchor: String, far: String): DataFrame =
      e.select(col(anchor).as(kName), col(far).as("__dst"), col("id").as("__eid"))
    val oriented = g1.dir match {
      case "out"  => if (table != inT) unsupported(s"$table is not the in-side of $edgeName") else orient("in", "out")
      case "in"   => if (table != outT) unsupported(s"$table is not the out-side of $edgeName") else orient("out", "in")
      case "both" =>
        // `<->` target expansion yields BOTH endpoints of every incident
        // edge — INCLUDING the anchor itself (traversal_bidirectional.surql:
        // person:alice<->knows<->person = [bob, alice, charlie, alice, …]) —
        // while the bare `<->edge` form (parts.tail == Nil) collects each
        // incident edge record once.
        val expand = parts.tail.nonEmpty
        val sides = Seq(
          if (table == inT)
            Some(if (expand) orient("in", "out").unionByName(orient("in", "in"))
                 else orient("in", "out"))
          else scala.None,
          if (table == outT)
            Some(if (expand) orient("out", "in").unionByName(orient("out", "out"))
                 else orient("out", "in"))
          else scala.None).flatten
        if (sides.isEmpty) unsupported(s"$table touches neither side of $edgeName")
        else sides.reduce(_ unionByName _)
      case other  => unsupported(s"direction $other")
    }
    parts.tail match {
      case Nil =>
        // edge-record ids, sorted (KV scan order is key order)
        oriented.groupBy(kName)
          .agg(sort_array(collect_list(col("__eid"))).as(derived))
      case (g2: PGraph) +: rest0 =>
        // Chained traversal `->e1->t1->e2->t2…[.field]`: each further hop
        // pair is ONE more equi-join on the reached id — the walk flatMaps
        // and KEEPS duplicates (a target reached twice appears twice),
        // matching the per-record traversal semantics (scan/graph.rs; each
        // multiplicity survives the join). Output order is canonical
        // (sorted) since the reference's edge-key order is id-random.
        var curT = if (g1.dir == "out") outT else inT
        checkTargetHop(g1, g2, curT)
        var cur = oriented.select(col(kName), col("__dst"))
        var remaining: Seq[Part] = rest0
        var hop = 0
        while (remaining.headOption.exists(_.isInstanceOf[PGraph])) {
          val ge = remaining.head.asInstanceOf[PGraph]
          val gt = remaining.tail.headOption match {
            case Some(g: PGraph) => g
            case _ => unsupported("edge hop without a target hop")
          }
          if (ge.what.length != 1 || ge.what.head.key.nonEmpty)
            unsupported("restricted chained edge hop")
          val eName = ge.what.head.table
          val (eIn, eOut) = GraphOps.edgeDefs.getOrElse(eName,
            unsupported(s"unknown relation table $eName"))
          val et0 = GraphOps.edgeTable(spark, dir, eName)
          val et = ge.cond match {
            case Some(cnd) =>
              et0.filter(toCol(cnd, Ctx(spark, dir, eName, et0.schema, Map.empty)))
            case scala.None => et0
          }
          val (anchor, far, nextT) = ge.dir match {
            case "out" =>
              if (curT != eIn) unsupported(s"$curT is not the in-side of $eName")
              ("in", "out", eOut)
            case "in" =>
              if (curT != eOut) unsupported(s"$curT is not the out-side of $eName")
              ("out", "in", eIn)
            case other => unsupported(s"direction $other in a chained hop")
          }
          checkTargetHop(ge, gt, nextT)
          hop += 1
          val src = s"__h${hop}_src"
          val dst = s"__h${hop}_dst"
          cur = cur.join(et.select(col(anchor).as(src), col(far).as(dst)),
              col("__dst") === col(src))
            .select(col(kName), col(dst).as("__dst"))
          curT = nextT
          remaining = remaining.drop(2)
        }
        remaining match {
          case Nil =>
            cur.groupBy(kName)
              .agg(sort_array(collect_list(col("__dst"))).as(derived))
          case Seq(PField(f)) =>
            val tk = recordKey.getOrElse(curT, unsupported(s"no record key for $curT"))
            val target = Tables(spark, dir, curT).select(col(tk), col(f))
            // collect (targetId, field) structs, sort by id (KV order),
            // project the field — array_sort on structs orders by the
            // leading field
            cur.join(target, col("__dst") === col(tk))
              .groupBy(kName)
              .agg(transform(
                array_sort(collect_list(struct(col("__dst").as("k"), col(f).as("v")))),
                x => x.getField("v")).as(derived))
          case other => unsupported(s"trailing parts $other")
        }
      case other => unsupported(s"trailing parts $other")
    }
  }

  private def checkTargetHop(g1: PGraph, g2: PGraph, expected: String): Unit = {
    def unsupported(why: String) =
      throw SqlError(s"SparkPlanner: unsupported graph lookup ($why)")
    if (g2.dir != g1.dir && g1.dir != "both") unsupported("mixed hop directions")
    if (g2.what.length != 1 || g2.what.head.key.nonEmpty || g2.cond.nonEmpty)
      unsupported("restricted target hop")
    if (g2.what.head.table != expected)
      unsupported(s"target ${g2.what.head.table} does not match relation endpoint $expected")
  }

  // ---- mutations -----------------------------------------------------------
  // SurrealQL mutation statements lower in runScript's arms (the one
  // lowering, for a lone statement and a script alike) onto the pure table
  // transforms in graft.operators.Mutations (Delta-MERGE-shaped joins — the reference's
  // per-document lifecycle dbs/iterator.rs:34-64 + doc/process.rs:16 becomes
  // column exprs + anti/semi/outer joins; nothing collects to the driver).
  // The returned DataFrame is the RETURN-clause shape: the statement's
  // affected rows, not the post-mutation table (which a storage layer would
  // MERGE INTO).

  /** Resolve a mutation target to (table, scan, key predicate). */
  private def mutTarget(spark: SparkSession, dir: String, e: Expr): (String, DataFrame, Option[Column]) = e match {
    case Idiom(Seq(PField(name))) => (name, Tables(spark, dir, name), scala.None)
    // dynamic record-id construction: `type::thing('t', k)` with constant
    // args resolves at plan time (fnc/type.rs Thing)
    case fc @ FnCall("type::record" | "type::thing", _) => Eval.evalConst(fc) match {
      case VRid(t, k) => mutTarget(spark, dir, RidLit(t, Lit(k)))
      case other => throw SqlError(
        s"SparkPlanner: type::record resolved to ${other.render}, not a record id")
    }
    case TableRef(name)           => (name, Tables(spark, dir, name), scala.None)
    case RidLit(table, keyE) =>
      val key = recordKey.getOrElse(table,
        throw SqlError(s"SparkPlanner: no record key for table $table"))
      Eval.evalConst(keyE) match {
        case VRng(lo, hi) =>
          val preds =
            lo.map { case (v, incl) => if (incl) col(key) >= ridKeyLit(v) else col(key) > ridKeyLit(v) }.toSeq ++
            hi.map { case (v, incl) => if (incl) col(key) <= ridKeyLit(v) else col(key) < ridKeyLit(v) }.toSeq
          (table, Tables(spark, dir, table), preds.reduceOption(_ && _))
        case v => (table, Tables(spark, dir, table), Some(col(key) === ridKeyLit(v)))
      }
    case other => throw SqlError(s"SparkPlanner: unsupported mutation target $other")
  }

  /** SET clause → column assignments evaluated against the pre-image row
    * (simultaneous assignment, doc/alter.rs process_set_data).
    * `allowNew`: UPDATE/UPSERT on a schemaless table CREATES a missing
    * top-level field (doc/alter.rs set path walk — the reference's default
    * table is schemaless); only plain `=` on a single-segment path
    * qualifies — nested paths and +=/-= still require the column. */
  private def setMap(data: Option[Data], ctx: Ctx, requireExisting: Boolean,
      allowNew: Boolean = false): Map[String, Column] =
    data match {
      case Some(SetData(sets)) =>
        // each assignment is (field path, new value); nested paths
        // (`SET meta.a = …`, doc/alter.rs path walk) write back through the
        // parent struct with `withField`, and multiple assignments under
        // one parent fold into a single rebuilt column
        val assigns = sets.map {
          case (Idiom(parts), op, e)
              if parts.nonEmpty && parts.forall(_.isInstanceOf[PField]) =>
            val path = parts.collect { case PField(n) => n }
            if (requireExisting && !ctx.schema.fieldNames.contains(path.head)
                && !(allowNew && path.length == 1 && op == "="))
              throw SqlError(s"SparkPlanner: SET on unknown column ${path.head}")
            val v = toCol(e, ctx)
            val cur = col(path.mkString("."))
            (path, op match {
              case "="  => v
              case "+=" => cur + v
              case "-=" => cur - v
              case other => throw SqlError(s"SparkPlanner: unsupported SET op $other")
            })
          case (idiom, _, _) => throw SqlError(s"SparkPlanner: unsupported SET path $idiom")
        }
        assigns.groupBy(_._1.head).map { case (root, as) =>
          root -> as.foldLeft(col(root)) { case (acc, (path, v)) =>
            if (path.length == 1) v
            else acc.withField(path.tail.mkString("."), v)
          }
        }
      case Some(ContentData(ObjLit(fs))) =>
        fs.map { case (n, e) => n -> toCol(e, ctx) }.toMap
      // MERGE is a DEEP partial merge (doc/alter.rs merge arm): a nested
      // object value merges into the struct slot field-by-field — the
      // untouched siblings survive — while scalar values assign directly
      case Some(MergeData(ObjLit(fs))) =>
        def mergeInto(cur: Column, path: Seq[String],
            o: Seq[(String, Expr)]): Column =
          o.foldLeft(cur) { case (acc, (k, v)) =>
            val slotT = nestedType(ctx.schema, path :+ k)
            v match {
              case ObjLit(inner) if slotT.exists(_.isInstanceOf[StructType]) =>
                acc.withField(k, mergeInto(acc.getField(k), path :+ k, inner))
              case e =>
                val c = toCol(e, ctx)
                acc.withField(k, slotT.map(c.cast).getOrElse(c))
            }
          }
        fs.map {
          case (n, ObjLit(inner))
              if nestedType(ctx.schema, Seq(n)).exists(_.isInstanceOf[StructType]) =>
            n -> mergeInto(col(n), Seq(n), inner)
          case (n, e) => n -> toCol(e, ctx)
        }.toMap
      // UNSET removes the field (doc/alter.rs unset arm) — the Spark column
      // model renders an absent field as NULL
      case Some(UnsetData(fields)) =>
        fields.map {
          case Idiom(Seq(PField(n))) => n -> lit(null)
          case other => throw SqlError(s"SparkPlanner: unsupported UNSET path $other")
        }.toMap
      // REPLACE swaps the whole document body: named fields take their new
      // values, every OTHER non-key column becomes absent (doc/alter.rs
      // replace arm keeps only the record id)
      case Some(ReplaceData(ObjLit(fs))) =>
        val given = fs.map { case (n, e) => n -> toCol(e, ctx) }.toMap
        val key = recordKey.getOrElse(ctx.table, "id")
        ctx.schema.fieldNames.filterNot(_ == key)
          .map(n => n -> given.getOrElse(n, lit(null): Column)).toMap
      // PATCH applies a JSON-Patch op list (expr/operation.rs) — the op
      // array is a plan-time constant; add/replace assign, remove unsets.
      // Nested paths rebuild the struct column through withField/dropFields
      // (null structs pass through null — the fixed column model has no
      // row-local object creation).
      case Some(PatchData(arr)) =>
        val ops = Eval.evalConst(arr) match {
          case VArr(xs) => xs
          case other => throw SqlError(
            s"SparkPlanner: PATCH expects an op array, got ${other.render}")
        }
        // sequential ops over the same column compose: later ops see the
        // column the earlier ops built
        def rebuild(base: Column, segs: List[String],
            valueC: Option[Column]): Column = segs match {
          case last :: Nil => valueC match {
            case Some(v) => base.withField(last, v)
            case scala.None => base.dropFields(last)
          }
          case head :: rest =>
            base.withField(head, rebuild(base.getField(head), rest, valueC))
          case Nil => throw SqlError("SparkPlanner: empty PATCH path")
        }
        ops.foldLeft(Map.empty[String, Column]) { (m, opV) =>
          val o = opV match {
            case obj: VObj => obj
            case other => throw SqlError(
              s"SparkPlanner: PATCH op must be an object, got ${other.render}")
          }
          val path = o.fields.get("path") match {
            case Some(VStr(p)) => p.stripPrefix("/")
            case _ => throw SqlError("SparkPlanner: PATCH op needs a string path")
          }
          val segs = path.split("/").toList
          val valueC: Option[Column] = o.fields.get("op") match {
            case Some(VStr("add" | "replace")) =>
              Some(toCol(Lit(o.fields.getOrElse("value", VNone)), ctx))
            case Some(VStr("remove")) => scala.None
            case Some(VStr(op)) => throw SqlError(
              s"SparkPlanner: unsupported PATCH op $op")
            case _ => throw SqlError("SparkPlanner: PATCH op needs an `op` field")
          }
          segs match {
            case top :: Nil =>
              m + (top -> valueC.getOrElse(lit(null)))
            case top :: rest =>
              m + (top -> rebuild(m.getOrElse(top, col(top)), rest, valueC))
            case Nil => throw SqlError("SparkPlanner: empty PATCH path")
          }
        }
      case scala.None => Map.empty
      case other => throw SqlError(s"SparkPlanner: unsupported data clause $other")
    }

  /** RETURN-clause shaping over (before, after) row sets. */
  private def shapeOutput(before: DataFrame, after: DataFrame,
      output: Option[Output], ctx: Ctx): DataFrame = output match {
    case scala.None | Some(Output.OAfter) => after
    case Some(Output.OBefore) => before
    case Some(Output.ONone)   => after.limit(0)
    case Some(Output.ONull)   => after.select(lit(null).as("value"))
    case Some(Output.OFields(fields)) =>
      after.select(fields.map(f => toCol(f.expr, ctx).as(fieldAlias(f))): _*)
    case Some(Output.ODiff) =>
      // JSON-patch between the before/after documents (val/value/diff.rs);
      // a same-frame pair is a pure creation → root replace, no join.
      val key = recordKey.get(ctx.table).getOrElse(throw SqlError(
        "SparkPlanner: RETURN DIFF needs a keyed table target"))
      val linkMap = ctx.schema.fieldNames.toIndexedSeq
        .flatMap(c => links.get((ctx.table, c)).map(t => c -> t._1)).toMap
      if (before eq after)
        graft.operators.Mutations.createDiff(after, ctx.table, key, linkMap)
      else
        graft.operators.Mutations.returnDiff(before, after, ctx.table, key, linkMap)
    case Some(Output.OValue(e)) =>
      // RETURN VALUE evaluates against the post-write doc with
      // $before/$after bound (expr/output.rs); the before doc arrives by a
      // key-aligned join — a creation arm's all-NULL before row matches
      // nothing, so its $before is NULL (the column-model NONE)
      val key = recordKey.get(ctx.table).getOrElse(throw SqlError(
        "SparkPlanner: RETURN VALUE needs a keyed table target"))
      val aCols = after.columns
      val joined =
        if (before eq after) after.withColumn("__before",
          struct(aCols.map(col).toIndexedSeq: _*))
        else after.join(
          before.select(col(key).as("__bk"),
            struct(before.columns.map(col).toIndexedSeq: _*).as("__before")),
          col(key) === col("__bk"), "left")
      val ctx2 = ctx.copy(lambdaParams = ctx.lambdaParams ++ Map(
        "before" -> col("__before"),
        "after" -> struct(aCols.map(col).toIndexedSeq: _*)))
      joined.select(toCol(e, ctx2).as("value"))
    case Some(other) => throw SqlError(s"SparkPlanner: unsupported RETURN $other")
  }

  /** Rows conformed to a table schema, the shape every created record takes
    * (CREATE, UPSERT, INSERT, RELATE, an event's THEN CREATE): each column
    * of `schema` from `given` — the key among them — or NULL, cast to its
    * slot type. */
  private def conformRows(src: Dataset[_], schema: StructType,
      given: Map[String, Column]): DataFrame =
    src.select(schema.fields.map(sf =>
      given.getOrElse(sf.name, lit(null)).cast(sf.dataType).as(sf.name)).toIndexedSeq: _*)

  // ---- DEFINE FIELD / DEFINE INDEX UNIQUE enforcement (script path) ------
  //
  // The reference applies field definitions per written document
  // (doc/field.rs: READONLY → DEFAULT → VALUE → TYPE coerce → ASSERT) and
  // unique indexes per index entry (idx/index.rs index_unique). On the
  // Spark path the same pipeline becomes one column expression per defined
  // field — DEFAULT is a null-coalesce, VALUE a recompute, TYPE an ANSI
  // cast, ASSERT/READONLY a per-row `raise_error` guard — so enforcement
  // runs DISTRIBUTED inside the mutation's projection, never as a
  // driver-side row loop. Flat top-level fields only (nested-path defs are
  // the interpreter's domain).

  /** Spark column type for a scalar TYPE kind, where one exists; compound
    * kinds (records, geometries, unions) skip the cast stage. */
  private def kindSparkType(k: Kind): Option[DataType] = k match {
    case Kind.KInt      => Some(LongType)
    case Kind.KFloat    => Some(DoubleType)
    case Kind.KString   => Some(StringType)
    case Kind.KBool     => Some(BooleanType)
    case Kind.KDatetime => Some(TimestampType)
    case Kind.KDecimal  => Some(DecimalType(38, 10))
    case Kind.KBytes    => Some(BinaryType)
    case Kind.KOption(inner) => kindSparkType(inner)
    case _ => scala.None
  }

  /** `option<...>` (and none/null-admitting unions): a NONE value skips the
    * ASSERT clause entirely (doc/field.rs process_assert_clause). */
  private def kindIsOptional(k: Kind): Boolean = k match {
    case Kind.KOption(_) | Kind.KNone | Kind.KNull | Kind.KAny => true
    case Kind.KEither(ks) => ks.exists(kindIsOptional)
    case _ => false
  }

  /** One field's write pipeline as a single column expression. `v0` is the
    * incoming value (the SET expression on update, the synthesized column on
    * create); `$value`/`$input` in VALUE/ASSERT clauses bind to it via
    * lambdaParams. The returned column only ever evaluates for rows the
    * mutation actually writes, so the `raise_error` guards fire exactly when
    * the reference would error.
    *
    * NOTE one deliberate divergence: the Spark column model cannot
    * distinguish an absent field (NONE) from an explicit NULL, so DEFAULT
    * fills both (the reference fills only NONE). */
  private def fieldPipelineCol(d: DefineFieldStmt, v0: Column, ctx: Ctx,
      t: String, key: String, isCreate: Boolean): Column = {
    val f = d.field
    if (d.readonly && !isCreate)
      // READONLY short-circuits the rest of the pipeline (doc/field.rs:254):
      // an unchanged value passes through, any modification errors
      return when(v0 <=> col(f), col(f)).otherwise(raise_error(concat(
        lit(s"Found changed value for field `$f`, with record `$t:"),
        col(key).cast("string"), lit("`, but field is readonly"))))
    var v = v0
    if (isCreate || d.defaultAlways)
      d.default.foreach(de => v = when(v.isNull, toCol(de, ctx)).otherwise(v))
    d.value.foreach { ve =>
      v = toCol(ve, ctx.copy(lambdaParams =
        ctx.lambdaParams ++ Map("value" -> v, "input" -> v0)))
    }
    d.kind.flatMap(kindSparkType).foreach(dt => v = v.cast(dt))
    d.assert.foreach { ae =>
      val ok = toCol(ae, ctx.copy(lambdaParams =
        ctx.lambdaParams ++ Map("value" -> v, "input" -> v0)))
      val violated =
        if (d.kind.exists(kindIsOptional)) v.isNotNull && !coalesce(ok, lit(false))
        else !coalesce(ok, lit(false))
      v = when(violated, raise_error(concat(
        lit("Found "), coalesce(v.cast("string"), lit("NONE")),
        lit(s" for field `$f`, with record `$t:"), col(key).cast("string"),
        lit(s"`, but field must conform to: ${Defs.normRaw(d.assertRaw)}")))
      ).otherwise(v)
    }
    v
  }

  /** Root column of a (possibly nested) field path. */
  private def fieldRoot(f: String): String = f.takeWhile(_ != '.')

  /** The declared Spark type at a nested field path, if resolvable. */
  private def nestedType(schema: StructType, path: Seq[String]): Option[DataType] =
    path.foldLeft(Option(schema: DataType)) {
      case (Some(st: StructType), seg) =>
        st.fields.find(_.name == seg).map(_.dataType)
      case _ => scala.None
    }

  /** Apply the table's field pipeline to freshly created rows (the CREATE /
    * INSERT / UPSERT-insert arms): one projection, all fields at once.
    * Nested-path defs (`DEFINE FIELD meta.a …`) rebuild through the parent
    * struct with `withField`; each value casts back to its declared slot
    * type so the written schema never drifts from the base table's. */
  /** Field pipeline at a (possibly nested) path: plain segments walk the
    * struct, a `*` segment fans over every array element via `transform`
    * (Catalyst higher-order function — stays in codegen, no per-row UDF)
    * or over every value of a struct (`obj.*`, define_field_dot_star).
    * Unresolvable segments leave the column untouched, matching the
    * interpreter's path walk (an absent slot skips the pipeline). */
  private def pipeAtPath(d: DefineFieldStmt, cur: Column, segs: List[String],
      curType: Option[DataType], ctx: Ctx, t: String, key: String,
      isCreate: Boolean): Column = segs match {
    case Nil =>
      val piped = fieldPipelineCol(d, cur, ctx, t, key, isCreate)
      curType.map(piped.cast).getOrElse(piped)
    case "*" :: rest => curType match {
      case Some(ArrayType(et, _)) =>
        transform(cur, x =>
          pipeAtPath(d, x, rest, Some(et), ctx, t, key, isCreate))
      case Some(st: StructType) =>
        st.fields.foldLeft(cur)((acc, f) => acc.withField(f.name,
          pipeAtPath(d, acc.getField(f.name), rest, Some(f.dataType),
            ctx, t, key, isCreate)))
      case _ => cur
    }
    // a numeric segment over an array pipes ONE element in place
    // (DEFINE FIELD vals[0] …), leaving the others untouched (r18)
    case seg :: rest if seg.nonEmpty && seg.forall(_.isDigit) =>
      curType match {
        case Some(ArrayType(et, _)) =>
          val n = seg.toInt
          val f: (Column, Column) => Column = (x, i) =>
            when(i === n, pipeAtPath(d, x, rest, Some(et), ctx, t, key, isCreate))
              .otherwise(x)
          transform(cur, f)
        case _ => cur
      }
    case seg :: rest => curType match {
      case Some(st: StructType) if st.fieldNames.contains(seg) =>
        cur.withField(seg, pipeAtPath(d, cur.getField(seg), rest,
          st.fields.find(_.name == seg).map(_.dataType), ctx, t, key, isCreate))
      case _ => cur
    }
  }

  private def applyFieldDefs(rows: DataFrame, defs: Seq[DefineFieldStmt],
      ctx0: Ctx, t: String, key: String): DataFrame = {
    val applicable = defs.filter(d => rows.columns.contains(fieldRoot(d.field)))
    if (applicable.isEmpty) return rows
    val ctx = ctx0.copy(schema = rows.schema)
    applicable.foldLeft(rows) { (df, d) =>
      val root = fieldRoot(d.field)
      val segs = d.field.split('.').toList.tail
      df.withColumn(root, pipeAtPath(d, col(root), segs,
        Some(df.schema(root).dataType), ctx, t, key, isCreate = true))
    }
  }

  /** The update step's id rule and edge identity over its SETs (Interp
    * writeDoc and applyData). A SET or a PATCH of `/id` that gives the
    * record a constant record id keeps the key when it names the record
    * itself and otherwise fails, as ASSERT does, through `raise_error` on
    * the rows the update writes (doc/alter.rs; a plain value is no record
    * id and is written as the key, see docs/USAGE.md). CONTENT, REPLACE and
    * MERGE keep the stored id whatever theirs says. On a relation table
    * `in` and `out` keep their stored values (doc/relate.rs). */
  private def keepIdentity(t: String, key: String, data: Option[Data],
      sets: Map[String, Column]): Map[String, Column] = {
    def const(e: Expr) = scala.util.Try(Eval.evalConst(e)).toOption
    val given = data match {
      case Some(SetData(as)) =>
        as.collectFirst { case (Idiom(Seq(PField("id"))), "=", e) => e }.flatMap(const)
      case Some(PatchData(ops)) => const(ops).toSeq.flatMap {
        case VArr(xs) => xs.collect { case o: VObj if o.fields.get("path").contains(VStr("/id")) =>
          o.fields.get("value") }.flatten
        case _ => Nil
      }.lastOption
      case _ => scala.None
    }
    val keyed = data match {
      case Some(ContentData(_) | ReplaceData(_) | MergeData(_)) => sets - "id"
      case _ => given.collect { case r: VRid => r }.fold(sets) { r =>
        val err = raise_error(lit(Interp.idChanged(r)))
        sets - "id" + (key ->
          (if (r.table == t) when(col(key) <=> ridKeyLit(r.key), col(key)).otherwise(err) else err))
      }
    }
    if (graft.operators.GraphOps.edgeDefs.contains(t)) keyed -- Seq("in", "out") else keyed
  }

  /** Fold the field pipeline into an UPDATE's SET map: each assigned value
    * is wrapped, and VALUE-clause fields recompute even when not SET (the
    * reference recomputes them on every write). */
  private def enforceSets(sets: Map[String, Column], defs: Seq[DefineFieldStmt],
      ctx: Ctx, t: String, key: String): Map[String, Column] = {
    val defsIn = defs.filter(d => ctx.schema.fieldNames.contains(fieldRoot(d.field)))
    if (defsIn.isEmpty) return sets
    val withValueFields = defsIn
      .filter(d => d.value.isDefined || (d.defaultAlways && d.default.isDefined))
      .foldLeft(sets)((m, d) =>
        if (m.contains(fieldRoot(d.field))) m
        else m + (fieldRoot(d.field) -> col(fieldRoot(d.field))))
    withValueFields.map { case (f, v0) =>
      val applicable = defsIn.filter(d => fieldRoot(d.field) == f)
      f -> applicable.foldLeft(v0) { (acc, d) =>
        // run the pipeline on the post-write slot value (walking structs and
        // fanning `*` over array elements) and fold it back into the
        // (possibly already rebuilt) parent column
        pipeAtPath(d, acc, d.field.split('.').toList.tail,
          nestedType(ctx.schema, Seq(f)), ctx, t, key, isCreate = false)
      }
    }
  }

  /** Unique-index write check, index-lookup-shaped for scale: only the
    * field-value tuples the mutation touched are probed against the
    * after-state (idx/index.rs index_unique putc conflict). Tuples with any
    * NULL component are exempt — the reference stores those under the
    * non-unique key format, "NULL != NULL per SQL convention". */
  private def checkUniqueIndexes(t: String, after: DataFrame,
      changed: DataFrame, uniq: Seq[(String, Seq[String])], key: String): Unit =
    uniq.foreach { case (name, fields) =>
      // NESTED paths index too (r18): each field projects through its
      // dotted path to a flat alias, so the semi-join and groupBy work
      // the same for `address.city` as for a top-level column
      if (fields.forall(f => changed.columns.contains(fieldRoot(f)))) {
        val aliases = fields.indices.map(i => s"__ix$i")
        def proj(df: DataFrame, extra: Seq[Column]): DataFrame =
          df.select(fields.zip(aliases).map { case (f, a) =>
            col(f).as(a)
          } ++ extra: _*)
        val nonNull = aliases.map(col(_).isNotNull).reduce(_ && _)
        val touched = proj(changed, Nil).filter(nonNull).distinct()
        // the error names a stored member of the clashing group, the one
        // the written record meets; the smallest key when all are new
        val fresh = changed.select(col(key).as("__ridk")).distinct()
          .withColumn("__new", lit(true))
        val dup = proj(after, Seq(col(key).as("__ridk"))).filter(nonNull)
          .join(touched, aliases, "left_semi")
          .join(fresh, Seq("__ridk"), "left")
          .groupBy(aliases.map(col).toIndexedSeq: _*)
          .agg(count(lit(1)).as("__n"), coalesce(
            min(when(col("__new").isNull, col("__ridk"))), min(col("__ridk"))).as("__rid"))
          .filter(col("__n") > 1).limit(1).collect()
        dup.headOption.foreach { r =>
          val vals = fields.indices.map(i => r.get(i) match {
            case s: String => s"'$s'"
            case other     => String.valueOf(other)
          })
          val shown = if (vals.length == 1) vals.head else vals.mkString("[", ", ", "]")
          throw SqlError(s"Database index `$name` already contains $shown, " +
            s"with record `$t:${r.get(fields.length + 1)}`")
        }
      }
    }

  /** INSERT values → incoming rows conformed to the table schema: a
    * sub-select plans directly; object-literal rows — single or array,
    * the VALUES arm of expr/statements/insert.rs — synthesize constant
    * rows. Unknown fields error like unknown SET columns.
    *
    * Rows carry a [[SeqC]] ordinal (the batch row order — the reference
    * processes INSERT rows sequentially, so duplicate handling is
    * order-sensitive) and a [[GenC]] flag on a row whose key was
    * generated. Returns the max record-key multiplicity within the
    * batch when it is driver-known (literal rows; matched with the same
    * loose key equality Interp uses) — `Some(1)` lets the planner skip all
    * duplicate machinery; `None` (sub-select source) means unknown — and
    * whether any row's key may be generated (always, for a sub-select). */
  /** Driver-side generated record key for a keyless CREATE/INSERT row — the
    * reference generates a random record id when none is supplied
    * (dbs/iterator.rs:34-64 GenerateRecordId; types/src/value/record_id),
    * mirrored by Interp's nextId(). String key columns take the same
    * 20-char [0-9a-z] shape; a numeric key column (a fixed parquet schema
    * cannot hold a string id the way the reference's dynamic rows can)
    * takes a random 63-bit value — the observable invariants (non-NULL,
    * unique, clash-free w.h.p.) match either way. */
  private def genKeyV(dt: DataType): V = dt match {
    case StringType => VStr(Interp.randomId())
    case _: NumericType =>
      VInt(java.util.concurrent.ThreadLocalRandom.current().nextLong() >>> 1)
    case other =>
      throw SqlError(s"SparkPlanner: cannot generate a record id of type $other")
  }

  /** Distributed generated record key for rows whose data clause sets
    * none: a salted hash of the columns that tell the caller's rows apart —
    * the batch ordinal of an `INSERT … SELECT`, RELATE's (in, out) pair, the
    * changed record's key for an event's THEN CREATE. Unique within the
    * statement, salted per call, and DETERMINISTIC for a fixed plan, so
    * re-executions of the lazy script overlay observe the SAME ids (a
    * uuid()/rand() here would mint different ids on every action over the
    * composed plan — the stored id would disagree with the returned one). */
  private def genKeyCol(dt: DataType, cols: Column*): Column = {
    val h = xxhash64(lit(java.util.concurrent.ThreadLocalRandom.current().nextLong()) +: cols: _*)
    (dt match {
      case StringType => lower(hex(h))
      case _: NumericType => shiftrightunsigned(h, 1)
      case other =>
        throw SqlError(s"SparkPlanner: cannot generate a record id of type $other")
    }).cast(dt)
  }

  /** Constant `id` supplied through the data clause of a keyless CREATE
    * (`CREATE person SET id = 'x'`, `CONTENT { id: person:x }`) — the
    * reference lets it override the generated key (Interp execCreate:
    * the withData id is consulted before keyOpt/nextId). Non-constant ids
    * fall back to generation. */
  private def createDataId(data: Option[Data], params: Map[String, V]): Option[V] =
    data.flatMap {
      case SetData(sets) => sets.collectFirst {
        case (Idiom(Seq(PField("id"))), "=", e) => e
      }.flatMap(e =>
        scala.util.Try(Eval.evalConst(Subst.expr(e, params))).toOption)
      case ContentData(e) =>
        scala.util.Try(Eval.evalConst(Subst.expr(e, params))).toOption
          .collect { case VObj(fs) => fs.get("id") }.flatten
      case _ => scala.None
    }.flatMap {
      case VRid(_, k) => Some(k)
      case VNone => scala.None
      case v => Some(v)
    }

  private def insertRows(spark: SparkSession, dir: String, values: Expr,
      table: String, base: DataFrame, params: Map[String, V],
      relation: Boolean = false): (DataFrame, Option[Int], Boolean) =
    values match {
      case Subquery(sel: SelectStmt) =>
        val rows0 = planSelect(spark, dir, sel, params)
        val extra = rows0.columns.filterNot(base.columns.contains)
        if (extra.nonEmpty)
          throw SqlError(s"SparkPlanner: INSERT columns ${extra.mkString(",")} not in $table")
        val keyName = recordKey(table)
        val keyDt = base.schema(keyName).dataType
        // The generated-key ordinal is monotonically_increasing_id — a
        // PARTITION-LAYOUT function (ordinal order ≠ SELECT order for
        // unsorted sources), and Spark-nondeterministic across plan
        // re-executions: AQE can re-split the source and hand a row a
        // different ordinal, so the id stored by one action could disagree
        // with the id another action returns. Materialize the keyed batch
        // ONCE (eager local checkpoint, ContextCleaner-reclaimed) so every
        // read of the lazy overlay sees the SAME generated ids — an INSERT
        // batch is bounded by the inserted data, which the reference also
        // materializes (it writes the rows).
        (conformRows(rows0, base.schema, rows0.columns.map(c => c -> col(c)).toMap)
          .withColumn(SeqC, monotonically_increasing_id())
          .withColumn(GenC, col(keyName).isNull)
          .withColumn(keyName, coalesce(col(keyName), genKeyCol(keyDt, col(SeqC))))
          .localCheckpoint(true),
          scala.None, true)
      case v @ (_: ArrLit | _: ObjLit) =>
        val objs = Eval.evalConst(Subst.expr(v, params)) match {
          case VArr(items) => items.collect { case o: VObj => o }
          case o: VObj => Vector(o)
          case other => throw SqlError(s"Can not INSERT ${other.render}")
        }
        if (objs.isEmpty)
          throw SqlError("SparkPlanner: INSERT needs at least one object row")
        // INSERT RELATION rows are edges: in/out must be record links
        // (Interp execInsert; insert/invalid_relation)
        if (relation) objs.foreach { o =>
          Seq("in", "out").foreach { side =>
            o.fields.get(side) match {
              case Some(_: VRid) => ()
              case other => throw SqlError(
                s"Cannot execute INSERT statement where property '$side' is: " +
                  other.map(_.render).getOrElse("NONE"))
            }
          }
        }
        val ctx = Ctx(spark, dir, table, base.schema, Map.empty)
        val keyName = recordKey.get(table)
        // kinds the reference cannot convert to a record-id key
        // (insert.rs extract_table_and_rid_key catch-all: NULL, the empty
        // string, bool/datetime/duration — while NONE generates)
        objs.flatMap(o => keyName.flatMap(o.fields.get)).foreach {
          case VNull => throw SqlError(
            "Cannot execute INSERT statement where property 'id' is: NULL")
          case VStr("") => throw SqlError(
            "Cannot execute INSERT statement where property 'id' is: ''")
          case k @ (_: VBool | _: VDt | _: VDur) => throw SqlError(
            s"Cannot execute INSERT statement where property 'id' is: ${k.render}")
          case _ => ()
        }
        val rows = objs.zipWithIndex.map { case (o, i) =>
          val extra = o.fields.keys.filterNot(base.columns.contains)
          if (extra.nonEmpty)
            throw SqlError(s"SparkPlanner: INSERT columns ${extra.mkString(",")} not in $table")
          // id: NONE means "no id" (insert.rs extract_table_and_rid_key:
          // Value::None => None) — a keyless row takes a record id generated
          // driver-side (a literal, so every re-execution of the lazy
          // overlay sees the same id), like the reference's
          // GenerateRecordId / Interp's nextId()
          val given = o.fields.filterNot { case (n, v) => keyName.contains(n) && v == VNone }
          val keyed = keyName.filterNot(given.contains).fold(given)(k =>
            given + (k -> genKeyV(base.schema(k).dataType)))
          conformRows(spark.range(1), base.schema,
            keyed.map { case (n, v) => n -> toCol(Lit(v), ctx) }.toMap)
            .withColumn(SeqC, lit(i.toLong))
            .withColumn(GenC, lit(keyName.exists(!given.contains(_))))
        }.reduce(_ unionByName _)
        // literal batches expose their keys to the driver: max multiplicity
        // under the same loose equality Interp matches record keys with
        // (NONE keys generate — never part of a duplicate class)
        val keys = objs.flatMap(o => keyName.flatMap(o.fields.get))
          .filterNot(_ == VNone).map {
          case VRid(_, k) => k
          case v => v
        }
        val classes = scala.collection.mutable.ArrayBuffer[(V, Int)]()
        keys.foreach { k =>
          classes.indexWhere(c => V.looseEq(c._1, k)) match {
            case -1 => classes += ((k, 1))
            case i  => classes(i) = (classes(i)._1, classes(i)._2 + 1)
          }
        }
        (rows, Some(classes.map(_._2).maxOption.getOrElse(1)),
          keyName.exists(k => objs.exists(o => o.fields.getOrElse(k, VNone) == VNone)))
      case other => throw SqlError(
        s"SparkPlanner: unsupported INSERT values $other")
    }

  /** A record-key cell collected from a Spark row, as the key value. */
  private def asV(x: Any): V = x match {
    case null => VNull
    case l: Long => VInt(l)
    case i: Int => VInt(i.toLong)
    case d: Double => VFloat(d)
    case s: String => VStr(s)
    case d: java.math.BigDecimal => VInt(d.longValue)
    case other => VStr(other.toString)
  }

  /** The duplicate-id probe of CREATE, a bare INSERT and an event CREATE
    * whose SET gives the id: the first key of `clashes` is already stored
    * or written twice, an error as in the reference (err/mod.rs
    * "Database record `…` already exists"). `written` maps the stored key
    * back to the key the statement wrote, which the message names. */
  private def dupIdProbe(t: String, clashes: DataFrame,
      written: V => V = identity): Unit =
    clashes.limit(1).collect().headOption.foreach { r =>
      throw SqlError(
        s"Database record `${Render.sql(VRid(t, written(asV(r.get(0)))))}` already exists")
    }

  /** RETURN BEFORE sees NONE for creations (doc/pluck.rs initial = NONE)
    * — rendered in the column model as all-NULL rows, count-aligned. */
  private def noneRows(df: DataFrame): DataFrame =
    df.select(df.columns.map(c =>
      lit(null).cast(df.schema(c).dataType).as(c)).toIndexedSeq: _*)

  /** Batch-row ordinal column threaded by [[insertRows]] through the INSERT
    * arms — carries the reference's sequential row order. */
  private val SeqC = "__seq"

  /** Column [[insertRows]] sets on a row whose record key it generated. */
  private val GenC = "__gen"

  /** DELETE's RETURN over the rows it deleted: no clause means BEFORE
    * (the deleted documents), and a deletion's `$after` is NONE. */
  private def deleteOutput(deleted: DataFrame, output: Option[Output],
      ctx: Ctx): DataFrame = output match {
    case Some(Output.ODiff) =>
      // deletion diff = object→none, a constant root replace-with-null
      // (Interp.valueDiff on (doc, NONE)); no render pass needed.
      val key = recordKey(ctx.table)
      deleted.select(col(key).cast("string").as(key),
        lit("""[{"op":"replace","path":"","value":null}]""").as("diff"))
    case Some(Output.OValue(e)) =>
      // the expression evaluates against the deleted row
      val ctx2 = ctx.copy(lambdaParams = ctx.lambdaParams ++ Map(
        "before" -> struct(deleted.columns.map(col).toIndexedSeq: _*),
        "after" -> lit(null)))
      deleted.select(toCol(e, ctx2).as("value"))
    // no RETURN clause returns nothing (Interp execDelete, as the reference)
    case other =>
      shapeOutput(deleted, deleted, other.orElse(Some(Output.ONone)), ctx)
  }

  /** The table's current stored state — overlay entry or parquet — or None
    * when no storage exists (e.g. a brand-new relation table). Probes the
    * path up front: `spark.read.parquet` resolves lazily, so a missing path
    * otherwise surfaces only when the caller first touches the schema, past
    * any Try (and Spark logs the analyzer failure loudly first). */
  private def storedTable(spark: SparkSession, dir: String,
      t: String): Option[DataFrame] =
    Tables.currentOverlay.get(t).orElse {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p))
        scala.util.Try { val df = Tables(spark, dir, t); df.schema; df }.toOption
      else scala.None
    }

  /** One RELATE statement's edge build: the edge table, its stored state
    * (if any), its record key, the new edge rows, and the endpoint tables
    * the relation registers for traversal and DELETE purges. */
  private final case class RelateBuild(table: String, base: Option[DataFrame],
      key: String, edges: DataFrame, fromT: String, toT: String)

  /** RELATE from->edge->to SET … (expr/statements/relate.rs:17-31 +
    * doc/edges.rs): the cartesian pairing of the two id sets (from/to are
    * explicit record sets — small by construction; the reference iterates
    * the product), conformed by [[conformRows]] with EVERY edge document
    * carrying a record id — explicit `edge:key` > constant data-clause id >
    * [[genKeyCol]] over the (in, out) pair. When the edge table already
    * exists (overlay or parquet) the rows take its schema; a brand-new
    * relation table gets (id, in, out, props…) with a string id, the
    * reference's generated-id shape. The edges are not yet created: the
    * script executor runs them through its create arm. */
  private def relateEdges(spark: SparkSession, dir: String, s: RelateStmt,
      params: Map[String, V]): RelateBuild = {
    def ids(e: Expr, side: String): (DataFrame, String) = {
      val (df, tbl) = planSource(spark, dir, e, params)
      val k = recordKey.getOrElse(tbl,
        throw SqlError(s"SparkPlanner: no record key for table $tbl"))
      (df.select(col(k).as(side)), tbl)
    }
    val (from, fromT) = ids(s.from, "__in")
    val (to, toT) = ids(s.to, "__out")
    var edgeKeyLit: Option[V] = scala.None
    val t = s.edge match {
      case Idiom(Seq(PField(n))) => n
      case TableRef(n) => n
      case RidLit(tb, keyE) =>
        edgeKeyLit = Some(Eval.evalConst(Subst.expr(keyE, params))); tb
      case other =>
        throw SqlError(s"SparkPlanner: unsupported RELATE edge $other")
    }
    val baseOpt = storedTable(spark, dir, t)
    val key = recordKey.getOrElse(t,
      if (baseOpt.forall(_.columns.contains("id"))) "id"
      else throw SqlError(s"SparkPlanner: no record key for table $t"))
    val constCtx = Ctx(spark, dir, "", new StructType(), Map.empty)
    val props = setMap(s.data, constCtx, requireExisting = false)
    val pairs = from.crossJoin(to)
    val constId = edgeKeyLit.orElse(createDataId(s.data, params))
    val keyDt: DataType = baseOpt.map(_.schema(key).dataType).getOrElse(
      constId match {
        case Some(_: VInt) => LongType
        case _             => StringType // reference generates string ids
      })
    // explicit edge id, else a constant data-clause id, else one generated
    // per (in, out) pair; the edge identity fields override the data clause
    val given = props ++ Map(
      key -> constId.map(v => ridKeyLit(v).cast(keyDt))
        .getOrElse(genKeyCol(keyDt, col("__in"), col("__out"))),
      "in" -> col("__in"), "out" -> col("__out"))
    // a brand-new relation table is shaped (id, in, out, props…)
    val schema = baseOpt.map(_.schema).getOrElse(pairs.select(
      (Seq(key, "in", "out") ++ props.keySet.diff(Set(key, "in", "out")).toSeq.sorted)
        .map(n => given(n).as(n)): _*).schema)
    val edges = conformRows(pairs, schema, given)
    // an explicit edge id across several pairs keeps ONE edge (the
    // interpreter's map assignment — last wins; single-pair in use)
    RelateBuild(t, baseOpt, key,
      if (constId.isDefined) edges.dropDuplicates(key) else edges, fromT, toT)
  }

  /** math::top/bottom second argument (fnc/math.rs top/bottom: any
    * expression, ensure!(c > 0) with the reference's error text). A
    * plan-time constant validates eagerly; a runtime k lowers to a column
    * with the same k>0 guard enforced per evaluation via raise_error. */
  private def topBottomKCol(name: String, e: Expr, ctx: Ctx): Column = {
    val errMsg = s"Incorrect arguments for function $name(). " +
      "The second argument must be an integer greater than 0."
    scala.util.Try(Eval.evalConst(e)).toOption match {
      case Some(VInt(i)) if i > 0 => lit(i.toInt)
      case Some(_) => throw SqlError(errMsg)
      case scala.None =>
        val kc = toCol(e, ctx).cast("int")
        when(kc > 0, kc).otherwise(raise_error(lit(errMsg)).cast("int"))
    }
  }

  private def fieldAlias(f: Field): String =
    f.alias.getOrElse(Eval.fieldName(f.expr))

  private def isAggregate(e: Expr): Boolean = e match {
    case FnCall(name, args) =>
      name == "count" || aggFns.contains(name) || args.exists(isAggregate)
    case Binary(_, l, r) => isAggregate(l) || isAggregate(r)
    case _ => false
  }

  private val aggFns = Set("math::sum", "math::mean", "math::min", "math::max",
    "math::stddev", "math::variance", "math::median", "time::min", "time::max", "count",
    "math::percentile", "math::mode", "math::spread", "math::interquartile",
    "math::midhinge", "math::trimean", "math::top", "math::bottom",
    // implicit array-collapse family: a non-grouped field under GROUP BY
    // becomes an array, and these consume it (aggregates/array.rs)
    "array::group", "array::distinct", "array::join")

  /** Aggregate output column (map-side partial + exact decimal routing for
    * float sums/means — see [[Exact]]). */
  private def aggCol(f: Field, ctx: Ctx, groupAll: Boolean = false): Column = {
    val name = fieldAlias(f)
    aggExpr(f.expr, ctx, groupAll).as(name)
  }

  private def aggExpr(e: Expr, ctx: Ctx, groupAll: Boolean = false): Column = e match {
    case FnCall("count", Nil) => count(lit(1))
    case FnCall("count", Seq(inner)) =>
      coalesce(sum(when(toCol(inner, ctx), 1L).otherwise(0L)), lit(0L)).cast("bigint")
    // A GROUP ALL aggregation over ZERO input rows still emits one row, and
    // the reference fills it with the fold identities (fnc/math.rs: sum 0,
    // mean NaN via 0/0, max -inf, min +inf — max/min lines 124-151, pinned
    // by group_empty_table.surql for count/sum) where SQL gives NULL. A
    // keyed GROUP BY is never empty per group, so the defaults only wrap
    // the GROUP ALL plan — keyed aggregates keep their exact column types.
    case FnCall("math::sum", Seq(inner)) =>
      val ic = toCol(inner, ctx)
      val base = if (isDoubleTyped(inner, ctx.schema)) Exact.dsum(ic) else sum(ic)
      if (groupAll) coalesce(base, lit(0L).cast(if (isDoubleTyped(inner, ctx.schema)) "double" else "bigint"))
      else base
    case FnCall("math::mean", Seq(inner)) =>
      val ic = toCol(inner, ctx)
      val base = if (isDoubleTyped(inner, ctx.schema)) Exact.davg(ic) else avg(ic)
      if (groupAll) coalesce(base, lit(Double.NaN)) else base
    case FnCall("math::stddev", Seq(inner)) =>
      val ic = toCol(inner, ctx)
      val base = if (isDoubleTyped(inner, ctx.schema)) Exact.dstddev(ic) else stddev_samp(ic)
      if (groupAll) coalesce(base, lit(Double.NaN)) else base
    case FnCall("math::variance", Seq(inner)) =>
      val ic = toCol(inner, ctx)
      val base = if (isDoubleTyped(inner, ctx.schema)) Exact.dvarSamp(ic) else var_samp(ic)
      if (groupAll) coalesce(base, lit(Double.NaN)) else base
    case FnCall("math::median", Seq(inner)) => median(toCol(inner, ctx))
    // percentile family (fnc/math.rs: p in 0..100, linear interpolation —
    // Spark's percentile/DuckDB's quantile_cont share the definition)
    case FnCall("math::percentile", Seq(inner, p)) =>
      // p is any expression in the reference; a non-constant p lowers to a
      // column (Spark's percentile accepts any FOLDABLE percentage, so
      // LET-bound / computed-constant p works; a genuinely per-row p is
      // rejected by Spark's analyzer, matching the "foldable" contract)
      val pc = scala.util.Try(Eval.evalConst(p)).toOption match {
        case Some(n: VNum) => lit(n.toDouble / 100.0)
        case Some(other) => throw SqlError(
          s"SparkPlanner: percentile p must be numeric, got ${other.render}")
        case scala.None => toCol(p, ctx).cast("double") / 100.0
      }
      percentile(toCol(inner, ctx), pc)
    case FnCall("math::mode", Seq(inner)) => mode(toCol(inner, ctx))
    case FnCall("math::spread", Seq(inner)) =>
      max(toCol(inner, ctx)) - min(toCol(inner, ctx))
    case FnCall("math::interquartile", Seq(inner)) =>
      val c = toCol(inner, ctx)
      percentile(c, lit(0.75)) - percentile(c, lit(0.25))
    case FnCall("math::midhinge", Seq(inner)) =>
      val c = toCol(inner, ctx)
      (percentile(c, lit(0.25)) + percentile(c, lit(0.75))) / 2.0
    case FnCall("math::trimean", Seq(inner)) =>
      val c = toCol(inner, ctx)
      (percentile(c, lit(0.25)) + percentile(c, lit(0.5)) * 2.0 +
        percentile(c, lit(0.75))) / 4.0
    // math::top/bottom under GROUP (fnc/util/math/top.rs, bottom.rs): the
    // k greatest/smallest of the group. The reference returns them in
    // ARBITRARY (heap) order — this path emits sorted order (desc for top,
    // asc for bottom), an allowed ordering of the same multiset; compare
    // through array::sort.
    case FnCall("math::top", Seq(inner, kE)) =>
      slice(reverse(array_sort(collect_list(toCol(inner, ctx)))), lit(1),
        topBottomKCol("math::top", kE, ctx))
    case FnCall("math::bottom", Seq(inner, kE)) =>
      slice(array_sort(collect_list(toCol(inner, ctx))), lit(1),
        topBottomKCol("math::bottom", kE, ctx))
    // rounding over an aggregate: fixed(agg, n) → round(agg, n)
    case FnCall("math::fixed", Seq(inner, d)) if isAggregate(inner) =>
      val n = Eval.evalConst(d) match {
        case VInt(i) => i.toInt
        case other => throw SqlError(s"SparkPlanner: fixed digits must be int, got ${other.render}")
      }
      if (n <= 0)
        throw SqlError("Incorrect arguments for function math::fixed(). " +
          "The second argument must be an integer greater than 0.")
      Kernels.call("graft_fixed", aggExpr(inner, ctx, groupAll), lit(n))
    case FnCall("math::min", Seq(inner)) =>
      if (groupAll) coalesce(min(toCol(inner, ctx)), lit(Double.PositiveInfinity))
      else min(toCol(inner, ctx))
    case FnCall("math::max", Seq(inner)) =>
      if (groupAll) coalesce(max(toCol(inner, ctx)), lit(Double.NegativeInfinity))
      else max(toCol(inner, ctx))
    case FnCall("time::min", Seq(inner)) => min(toCol(inner, ctx)).cast("date")
    case FnCall("time::max", Seq(inner)) => max(toCol(inner, ctx)).cast("date")
    case FnCall("array::group", Seq(inner)) =>
      array_sort(array_distinct(flatten(collect_list(toCol(inner, ctx)))))
    case FnCall("array::distinct", Seq(inner)) =>
      array_sort(array_distinct(collect_list(toCol(inner, ctx))))
    // array::sort / array::join COMPOSING over an aggregate arg — lets a
    // query pin a deterministic order onto the arbitrary-order family
    // (math::top/bottom) and serialize grouped arrays for comparison
    case FnCall("array::sort", Seq(inner)) if isAggregate(inner) =>
      array_sort(aggExpr(inner, ctx, groupAll))
    case FnCall("array::join", Seq(inner, sep)) if isAggregate(inner) =>
      concat_ws(sep match { case Lit(VStr(x)) => x; case _ => "," },
        transform(aggExpr(inner, ctx, groupAll), x => rawStrCol(x)))
    case FnCall("array::join", Seq(inner, sep)) =>
      concat_ws(sep match { case Lit(VStr(x)) => x; case _ => "," },
        transform(array_sort(collect_list(toCol(inner, ctx))),
          x => rawStrCol(x)))
    case Binary(op, l, r) if isAggregate(e) =>
      val lc = if (isAggregate(l)) aggExpr(l, ctx, groupAll) else toCol(l, ctx)
      val rc = if (isAggregate(r)) aggExpr(r, ctx, groupAll) else toCol(r, ctx)
      op match {
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
        case other => throw SqlError(s"SparkPlanner: unsupported aggregate op $other")
      }
    case other => toCol(other, ctx)
  }

  /** Static type sniffing against the scan schema — enough to decide float
    * vs integer arithmetic and concat-vs-add. */
  private def typeOf(e: Expr, schema: StructType): Option[DataType] = e match {
    case Idiom(Seq(PField(n))) => schema.fields.find(_.name == n).map(_.dataType)
    case Lit(VStr(_))   => Some(StringType)
    case Lit(VInt(_))   => Some(LongType)
    case Lit(VFloat(_)) => Some(DoubleType)
    case Lit(VBool(_))  => Some(BooleanType)
    case Binary(("+" | "-" | "*" | "/" | "%"), l, r) =>
      (typeOf(l, schema), typeOf(r, schema)) match {
        case (Some(StringType), _) | (_, Some(StringType)) => Some(StringType)
        case (Some(DoubleType), _) | (_, Some(DoubleType)) => Some(DoubleType)
        case (a, _) => a
      }
    case Prefix(("-" | "+"), inner) => typeOf(inner, schema)
    // int-preserving math (number.rs: abs/round/floor/ceil/clamp keep the
    // operand's Int/Float kind) — losing this turns Int/Int division float
    case FnCall("math::abs" | "math::round" | "math::floor" | "math::ceil",
        Seq(a)) => typeOf(a, schema)
    case FnCall("math::min" | "math::max", Seq(ArrLit(items))) =>
      val ts = items.map(typeOf(_, schema))
      if (ts.exists(_.contains(DoubleType))) Some(DoubleType)
      else if (ts.nonEmpty && ts.forall(_.exists {
        case LongType | IntegerType | ShortType => true; case _ => false
      })) Some(LongType)
      else scala.None
    case FnCall("math::clamp", args) =>
      val ts = args.map(typeOf(_, schema))
      if (ts.exists(_.contains(DoubleType))) Some(DoubleType)
      else if (ts.nonEmpty && ts.forall(_.exists {
        case LongType | IntegerType | ShortType => true; case _ => false
      })) Some(LongType)
      else scala.None
    case FnCall("math::sqrt" | "math::pow" | "math::ln" | "math::log" |
        "math::log2" | "math::log10" | "math::lerp" | "math::deg2rad" |
        "math::rad2deg" | "math::mean", _) => Some(DoubleType)
    case FnCall("count" | "array::len" | "time::year" | "time::month" |
        "time::day" | "time::hour" | "time::minute" | "time::second", _) =>
      Some(LongType)
    case Cast(k, _) => k match {
      case graft.surql.ast.Kind.KInt    => Some(LongType)
      case graft.surql.ast.Kind.KFloat  => Some(DoubleType)
      case graft.surql.ast.Kind.KString => Some(StringType)
      case graft.surql.ast.Kind.KBool   => Some(BooleanType)
      case _                       => scala.None
    }
    // string::* returns strings EXCEPT the numeric/boolean members — getting
    // this wrong flips `+` between concat and addition
    case FnCall("string::len" | "string::similarity" | "string::distance", _) =>
      Some(LongType)
    case FnCall(n, _) if n.startsWith("string::contains") ||
        n.startsWith("string::starts_with") || n.startsWith("string::ends_with") ||
        n.startsWith("string::is") => Some(BooleanType)
    case FnCall(n, _) if n.startsWith("string::") => Some(StringType)
    case _ => scala.None
  }

  private def isDoubleTyped(e: Expr, schema: StructType): Boolean =
    typeOf(e, schema).contains(DoubleType)

  /** Natural-sort key (reference natural_cmp, lexicmp crate): split into
    * digit / non-digit runs; each digit run encodes as a fixed-width RUN
    * LENGTH (of the zero-stripped digits) followed by the digits — binary
    * order of the key equals numeric order of the run for ARBITRARY run
    * length. (The previous lpad-to-20 key TRUNCATED runs past 20 digits,
    * misordering them vs the interpreter's BigInt compare — caught by the
    * r17 collate sweep: 'x234y' must sort before 'x…0001234y'.) All
    * codegen'd builtins (split/transform/regexp/lpad), no UDF. */
  private def naturalKey(c: Column): Column =
    array_join(
      transform(split(c, "(?<=\\d)(?=\\D)|(?<=\\D)(?=\\d)"),
        x => when(x.rlike("^[0-9]+$"), {
          val stripped = regexp_replace(x, "^0+", "")
          concat(lpad(length(stripped).cast("string"), 4, "0"), stripped)
        }).otherwise(x)),
      "")

  /** Coarse type family for the loose-`=` guard. */
  private def typeFamily(t: DataType): String = t match {
    case LongType | DoubleType | IntegerType | FloatType | _: DecimalType => "num"
    case StringType  => "str"
    case BooleanType => "bool"
    case other       => other.typeName
  }

  /** Is this expression the bare `id` idiom — the RECORD ID field? */
  private def isRidField(x: Expr): Boolean = x match {
    case Idiom(Seq(PField("id"))) => true
    case _ => false
  }

  /** Operations involving the bare `id` field, which is a RECORD ID value
    * in the reference's model (expr/part.rs Field "id"), not a number —
    * record ids sort ABOVE numbers/strings/durations/datetimes/arrays/
    * objects in the total value order (val/value/value.rs ord; pinned by
    * the `.sort()` golden), so `id > 5` is TRUE for every row and
    * `id = 5` FALSE, while `id <op> table:key` compares keys. Arithmetic
    * on a record id errors, as the reference's checked ops do. Returns
    * None when neither side is the id field (generic lowering applies). */
  private def ridLower(op: String, l: Expr, r: Expr, ctx: Ctx): Option[Column] = {
    val lRid = isRidField(l); val rRid = isRidField(r)
    if (!lRid && !rRid) return scala.None
    val cmpOps = Set("=", "!=", "<", "<=", ">", ">=")
    if (!cmpOps.contains(op) && op != "INSIDE" &&
        !Set("+", "-", "*", "/", "%", "**").contains(op)) return scala.None
    val key = recordKey.getOrElse(ctx.table, return scala.None)
    if (Set("+", "-", "*", "/", "%", "**").contains(op))
      throw SqlError(
        s"Cannot perform arithmetic with a record id (`id` is `${ctx.table}:<key>`, not a number)")
    if (lRid && rRid) // id <op> id: equal on every row
      return Some(lit(Set("=", "<=", ">=").contains(op)))
    // normalize the id field to the LEFT (flip the comparison direction)
    val (other, opn) =
      if (lRid) (r, op)
      else (l, op match {
        case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
        case x => x
      })
    def keyLit(k: V): Column = k match {
      case VInt(i) => lit(i)
      case VStr(s) => lit(s)
      case other   => throw SqlError(s"SparkPlanner: unsupported record key ${other.render}")
    }
    def belowRecord(v: V): Boolean = v match {
      // everything the fixture surface can produce sorts BELOW records
      case VNone | VNull | _: VBool | _: VInt | _: VFloat | _: VDec |
           _: VStr | _: VDur | _: VDt | _: VArr | _: VObj => true
      case _ => false
    }
    // a record-id literal may arrive as Lit(VRid) or the RidLit AST node
    val otherN = other match {
      case RidLit(t, keyE) => Lit(VRid(t, Eval.evalConst(keyE)))
      case x => x
    }
    otherN match {
      case Lit(VRid(t, k)) if t == ctx.table =>
        val kc = col(key)
        Some(opn match {
          case "="  => kc === keyLit(k)
          case "!=" => kc =!= keyLit(k)
          case "<"  => kc < keyLit(k)
          case "<=" => kc <= keyLit(k)
          case ">"  => kc > keyLit(k)
          case ">=" => kc >= keyLit(k)
          case _    => throw SqlError(s"SparkPlanner: unsupported id op $opn")
        })
      case Lit(VRid(t, _)) => // cross-table: records order by table name first
        Some(opn match {
          case "="  => lit(false)
          case "!=" => lit(true)
          case "<"  => lit(ctx.table < t)
          case "<=" => lit(ctx.table < t)
          case ">"  => lit(ctx.table > t)
          case ">=" => lit(ctx.table > t)
          case _    => throw SqlError(s"SparkPlanner: unsupported id op $opn")
        })
      case ArrLit(items) if opn == "INSIDE" =>
        // membership: only same-table record elements can match
        val keys = items.map(Eval.evalConst).collect {
          case VRid(t, k) if t == ctx.table => k match {
            case VInt(i) => i: Any
            case VStr(s) => s: Any
            case o => throw SqlError(s"SparkPlanner: unsupported record key ${o.render}")
          }
        }
        Some(if (keys.isEmpty) lit(false) else col(key).isin(keys: _*))
      case Lit(v) if belowRecord(v) && cmpOps.contains(opn) =>
        // record vs lower-family constant: plan-time constant per type order
        Some(opn match {
          case "="          => lit(false)
          case "!="         => lit(true)
          case ">" | ">="   => lit(true)
          case _            => lit(false)
        })
      case o if cmpOps.contains(opn) =>
        // non-literal other side: if its STATIC type is a lower family
        // (number/string/bool), the comparison is still constant
        typeOf(o, ctx.schema) match {
          case Some(LongType | IntegerType | ShortType | DoubleType |
                    FloatType | StringType | BooleanType) =>
            Some(opn match {
              case "="        => lit(false)
              case "!="       => lit(true)
              case ">" | ">=" => lit(true)
              case _          => lit(false)
            })
          case _ => throw SqlError(s"SparkPlanner: cannot compare `id` with $o")
        }
      case _ => scala.None
    }
  }

  def toCol(e: Expr, ctx: Ctx): Column = {
    def c(x: Expr): Column = toCol(x, ctx)
    val schema = ctx.schema
    e match {
      // user fn:: from the script catalog: macro-inline (see fnScope)
      case FnCall(n, args) if n.startsWith("fn::") && fnScope.value.contains(n) =>
        fnDepth.withValue(fnDepth.value + 1) { c(inlineUserFn(n, args)) }
      // already-lowered Column leaf (HOF lambda binding — see Ast.ColExpr)
      case ColExpr(cc) => cc
      case Lit(VInt(i))    => lit(i)
      case Lit(VFloat(d))  => lit(d)
      case Lit(VStr(s))    => lit(s)
      case Lit(VBool(b))   => lit(b)
      case Lit(VDec(d))    => lit(d.toDouble)
      case Lit(VNone) | Lit(VNull) => lit(null)
      // a record-id value carries its KEY in the column model (links are
      // key-typed columns throughout this path)
      case Lit(r: VRid) => ridKeyLit(r.key)
      case RidLit(_, keyE) => ridKeyLit(Eval.evalConst(keyE))
      case Lit(VDt(t))  => lit(java.sql.Timestamp.from(t))
      // durations are total-seconds longs on this path (see duration::*)
      case Lit(d: VDur) => lit(d.secs)
      case Lit(VBytes(bs)) => lit(bs.toArray)
      // composite literal VALUES (constant-fold results): arrays lower
      // element-wise, sets as their ordered arrays, objects as structs,
      // uuids as their canonical string rendering
      case Lit(VArr(items)) => array(items.map(v => c(Lit(v))).toIndexedSeq: _*)
      case Lit(VSet(items)) => array(items.map(v => c(Lit(v))).toIndexedSeq: _*)
      case Lit(VObj(fs)) =>
        struct(fs.toSeq.map { case (n, v) => c(Lit(v)).as(n) }: _*)
      case Lit(VUuid(u)) => lit(u.toString)
      // $parent-correlated subquery → its pre-joined (decorrelated) array
      case sq: Subquery if ctx.subqCols.contains(sq) =>
        col(ctx.subqCols(sq))
      case Idiom(Seq(PStart(sq: Subquery))) if ctx.subqCols.contains(sq) =>
        col(ctx.subqCols(sq))
      // closure parameters bound by an enclosing HOF lowering
      case Param(name) if ctx.lambdaParams.contains(name) =>
        ctx.lambdaParams(name)
      case Idiom(Seq(PStart(Param(name)))) if ctx.lambdaParams.contains(name) =>
        ctx.lambdaParams(name)
      // `$after.field` / `$before.a.b` — field paths rooted at a bound
      // struct param (event firing, closure params over objects)
      case Idiom(PStart(Param(name)) +: rest)
          if ctx.lambdaParams.contains(name) && rest.nonEmpty &&
            rest.forall(_.isInstanceOf[PField]) =>
        rest.foldLeft(ctx.lambdaParams(name)) {
          case (acc, PField(f)) => acc.getField(f)
          case (acc, _) => acc
        }
      // `({ … }).f` / general parenthesized-start field paths: an ObjLit
      // start inlines the named entry's expression (CollapseProject shape —
      // no struct ever materializes); any other start computes the struct
      // and extracts
      case Idiom(PStart(o: ObjLit) +: rest)
          if rest.nonEmpty && rest.forall(_.isInstanceOf[PField]) =>
        rest.foldLeft(toCol(o, ctx)) {
          case (acc, PField(f)) => acc.getField(f)
          case (acc, _) => acc
        }
      case Idiom(parts) if ctx.graphCols.contains(parts) =>
        col(ctx.graphCols(parts))
      case Idiom(parts) if parts.exists(_.isInstanceOf[PGraph]) =>
        throw SqlError(s"SparkPlanner: unsupported graph idiom $parts")
      case Idiom(parts) if parts.forall(_.isInstanceOf[PField]) &&
          ctx.linkCols.contains(parts.collect { case PField(n) => n }.toList) =>
        col(ctx.linkCols(parts.collect { case PField(n) => n }.toList))
      // inside a `[WHERE …]` lambda, bare fields resolve against the
      // ELEMENT (the element document is the condition's scope —
      // expr/part.rs Where part)
      case Idiom(Seq(PField(n))) if ctx.lambdaParams.contains("__elem") =>
        ctx.lambdaParams("__elem").getField(n)
      // a bare `value` over a scalar-row literal source resolves to NONE —
      // the reference resolves idioms against the bare value itself, which
      // has no fields; the `value` column NAME is only the column model's
      // rendering of such rows
      case Idiom(Seq(PField("value")))
          if schema.fieldNames.contains("value") &&
            schema("value").metadata.contains(ScalarSourceMeta) =>
        lit(null)
      // method-call idioms: `field.lowercase()`, `arr.len()` — the
      // reference resolves the method against the receiver's runtime type
      // (expr/part.rs Method); here the schema gives the type statically,
      // so the method lowers to the matching namespace function
      case Idiom(init :+ PMethod(m, margs)) if init.nonEmpty =>
        val recvExpr = Idiom(init)
        val ns = init match {
          case Seq(PField(n)) if ctx.schema.fieldNames.contains(n) =>
            ctx.schema(n).dataType match {
              case _: ArrayType => "array"
              case StringType   => "string"
              case LongType | IntegerType | DoubleType | FloatType => "math"
              case TimestampType | TimestampNTZType | DateType => "time"
              case _ => "string"
            }
          case _ if ctx.graphCols.contains(init) => "array"
          case _ => "string"
        }
        // duration/type methods share names across namespaces; try the
        // inferred namespace, then the universal type:: casts
        val cand = Seq(s"$ns::$m", s"type::$m")
        val resolved = cand.find(KnownFns.names.contains).getOrElse(cand.head)
        fnCol(resolved, recvExpr +: margs, ctx)
      // parenthesized-expression start with no trailing parts — e.g. the
      // receiver `('1.' + x)` a method-call idiom peels off above
      case Idiom(Seq(PStart(e))) => toCol(e, ctx)
      case Idiom(Seq(PField(n))) => col(n)
      // `fk.{a, b}` — the pre-joined destructure struct
      case Idiom(Seq(PField(fk), PDestructure(fs)))
          if fs.forall(_._2.isEmpty) &&
            ctx.destrCols.contains((fk, fs.map(_._1))) =>
        col(ctx.destrCols((fk, fs.map(_._1))))
      // `field[WHERE cond]` — codegen'd array filter; the condition sees
      // the element as $this (scalars) and its fields directly (objects)
      case Idiom(Seq(PField(a), PWhere(cond))) =>
        filter(col(a), x => toCol(cond, ctx.copy(lambdaParams =
          ctx.lambdaParams + ("this" -> x) + ("__elem" -> x))))
      case Idiom(Seq(PField(a), PWhere(cond), PField(sub))) =>
        transform(
          filter(col(a), x => toCol(cond, ctx.copy(lambdaParams =
            ctx.lambdaParams + ("this" -> x) + ("__elem" -> x)))),
          x => x.getField(sub))
      // `field[*]` — the whole array; `field[*].sub` maps a field over it
      case Idiom(Seq(PField(a), PAll)) => col(a)
      case Idiom(Seq(PField(a), PAll, PField(sub))) =>
        transform(col(a), x => x.getField(sub))
      // `field[$]` — last element (expr/part.rs Last)
      case Idiom(Seq(PField(a), PLast)) => element_at(col(a), -1)
      case Idiom(Seq(PField(a), PField(b))) => col(s"$a.$b")
      case Idiom(Seq(PField(a), PIndex(ie))) =>
        element_at(col(a), (Eval.evalConst(ie) match {
          case VInt(i) => i.toInt; case _ => 0
        }) + 1)
      // `arr[i].field…` — index into an array of structs, then walk fields
      case Idiom(PField(a) +: PIndex(ie) +: rest)
          if rest.nonEmpty && rest.forall(_.isInstanceOf[PField]) =>
        val el = element_at(col(a), (Eval.evalConst(ie) match {
          case VInt(i) => i.toInt; case _ => 0
        }) + 1)
        rest.foldLeft(el) {
          case (acc, PField(f)) => acc.getField(f)
          case (acc, _) => acc
        }
      // deeper field paths navigate struct columns (`doc.address.segment`);
      // a trailing [i] indexes the array at the path
      case Idiom(parts) if parts.nonEmpty && parts.forall(_.isInstanceOf[PField]) =>
        col(parts.collect { case PField(n) => n }.mkString("."))
      case Idiom(parts) if parts.length >= 2 &&
          parts.init.forall(_.isInstanceOf[PField]) &&
          parts.last.isInstanceOf[PIndex] =>
        val path = parts.init.collect { case PField(n) => n }.mkString(".")
        element_at(col(path), (Eval.evalConst(parts.last.asInstanceOf[PIndex].e) match {
          case VInt(i) => i.toInt; case _ => 0
        }) + 1)
      case ObjLit(fields) =>
        struct(fields.map { case (n, v) => c(v).as(n) }: _*)
      case ArrLit(items) => array(items.map(c): _*)
      case Prefix("-", inner) => -c(inner)
      case Prefix("!", inner) => !c(inner)
      case Binary(op, l, r) if ridLower(op, l, r, ctx).isDefined =>
        ridLower(op, l, r, ctx).get
      case Binary(op, l, r) => op match {
        // datetime ± duration literal → day-time interval arithmetic;
        // duration ± duration between CONSTANTS const-folds through the
        // interpreter's CHECKED ops instead (val/duration.rs TryAdd/TrySub
        // via fnc/operate.rs:20-24) so overflow/below-zero carry the
        // reference's exact errors — the r17 duration sweep caught
        // `duration::max + 1ns` mistyping as bigint+interval here
        case "+" | "-" if (try Eval.evalConst(r).isInstanceOf[VDur]
            catch { case _: Exception => false }) =>
          val d = Eval.evalConst(r).asInstanceOf[VDur]
          val lConst = try Some(Eval.evalConst(l)) catch { case _: Exception => scala.None }
          lConst match {
            // constant duration/datetime ± duration: the interpreter's
            // checked ops (errors propagate with the reference text; also
            // nanosecond-exact where the interval path's double secs drift)
            case Some(_: VDur) | Some(_: VDt) => c(Lit(Eval.evalConst(e)))
            case _ =>
              // datetime COLUMN ± duration → day-time interval arithmetic
              val iv = make_dt_interval(lit(0), lit(0), lit(0),
                lit(d.secs.toDouble + d.nanos / 1e9))
              if (op == "+") c(l) + iv else c(l) - iv
          }
        case "+" =>
          if (typeOf(l, schema).contains(StringType) || typeOf(r, schema).contains(StringType))
            concat(c(l), c(r))
          else c(l) + c(r)
        case "-"  => c(l) - c(r)
        case "*"  => c(l) * c(r)
        case "/" =>
          // Int / Int stays Int in the reference's checked arithmetic
          // (number.rs div) — truncating division; mixed or float operands
          // use float division. Spark's `/` is always double, so the
          // integral case truncates the quotient back.
          val bothInt = Seq(l, r).forall(e => typeOf(e, schema).exists {
            case LongType | IntegerType | ShortType => true
            case _ => false
          })
          if (bothInt) (c(l) / c(r)).cast("bigint") else c(l) / c(r)
        case "%"  => c(l) % c(r)
        case "**" =>
          // Int ** Int stays Int only when the exponent is a KNOWN
          // non-negative constant (number.rs pow: exponent is `u32
          // try_into`, so a negative exponent errors in the reference —
          // a blanket bigint cast would silently truncate 2 ** -1 to 0).
          // Unknown or negative exponents fall through to float pow.
          val bothInt = Seq(l, r).forall(e => typeOf(e, schema).exists {
            case LongType | IntegerType | ShortType => true
            case _ => false
          })
          r match {
            case Lit(VInt(i)) if i < 0 =>
              if (bothInt)
                throw SqlError("Cannot raise the value to the power of a negative integer")
              else pow(c(l), c(r))
            case Lit(VInt(_)) if bothInt => pow(c(l), c(r)).cast("bigint")
            case _ if bothInt =>
              // non-constant exponent: Int result, but a negative exponent
              // raises at runtime like the reference's u32 try_into
              when(c(r) < 0, raise_error(
                lit("Cannot raise the value to the power of a negative integer")))
                .otherwise(pow(c(l), c(r)).cast("bigint"))
            case _ => pow(c(l), c(r))
          }
        case "=" => r match {
          case Lit(VNone) | Lit(VNull) => c(l).isNull
          case _ =>
            // SurrealQL `=` coerces across types (expr/operator.rs:59-62);
            // Spark === does not. Numeric-vs-numeric agrees, anything else
            // cross-family must NOT silently lower to a wrong answer.
            (typeOf(l, schema), typeOf(r, schema)) match {
              case (Some(lt), Some(rt)) if typeFamily(lt) != typeFamily(rt) =>
                throw SqlError(s"SparkPlanner: loose = between $lt and $rt needs coercion; use the Interp path")
              // null-safe: NONE = NONE is true in the reference (NONE is a
              // VALUE in the total order, not SQL null), so a NULL cell must
              // compare, not propagate
              case _ => c(l) <=> c(r)
            }
        }
        case "==" => c(l) <=> c(r)
        // any-eq / all-eq: an array operand matched element-wise
        case "?=" => exists(c(l), x => x === c(r))
        case "*=" => forall(c(l), x => x === c(r))
        case "!=" => r match {
          case Lit(VNone) | Lit(VNull) => c(l).isNotNull
          case _ => !(c(l) <=> c(r))
        }
        // Ordered comparisons under the reference's TOTAL value order, where
        // NONE/NULL sort below every value (val/value/value.rs ord; pinned by
        // the `.sort()` golden): a NULL cell is the MINIMUM, not a poison
        // value — `v < 10` is TRUE for a row missing v, and `v > 0` FALSE.
        // Spelled with boolean connectives (no CASE WHEN), so Catalyst still
        // pushes Or(IsNull, Lt) to the parquet scan and strips the IsNull
        // for non-nullable columns.
        case "<" =>
          val (lc, rc) = (c(l), c(r)); rc.isNotNull && (lc.isNull || lc < rc)
        case "<=" =>
          val (lc, rc) = (c(l), c(r)); lc.isNull || (rc.isNotNull && lc <= rc)
        case ">" =>
          val (lc, rc) = (c(l), c(r)); lc.isNotNull && (rc.isNull || lc > rc)
        case ">=" =>
          val (lc, rc) = (c(l), c(r)); rc.isNull || (lc.isNotNull && lc >= rc)
        case "&&" => c(l) && c(r)
        case "||" => c(l) || c(r)
        case "INSIDE" => r match {
          // primitive literals only: a datetime/record-id/duration IN-list
          // would need value-domain coercion — throw, never compare against
          // a rendered string
          case ArrLit(items) => c(l).isin(items.map(i => Eval.evalConst(i) match {
            case VStr(s) => s; case VInt(n) => n; case VFloat(d) => d
            case VBool(b) => b
            case v => throw SqlError(s"SparkPlanner: non-primitive INSIDE element ${v.render}")
          }): _*)
          case _ => throw SqlError(s"SparkPlanner: unsupported INSIDE rhs $r")
        }
        case "CONTAINS" => array_contains(c(l), c(r))
        // set-containment family (expr/operator.rs): ⊇ / ⊃ / ⊅ and the
        // INSIDE variants — all codegen'd array predicates
        case "CONTAINSALL"  => forall(c(r), x => array_contains(c(l), x))
        case "CONTAINSANY"  => exists(c(r), x => array_contains(c(l), x))
        case "CONTAINSNONE" => !exists(c(r), x => array_contains(c(l), x))
        case "ALLINSIDE"    => forall(c(l), x => array_contains(c(r), x))
        case "ANYINSIDE"    => exists(c(l), x => array_contains(c(r), x))
        case "NONEINSIDE"   => !exists(c(l), x => array_contains(c(r), x))
        // NONE-coalescing (expr/operator.rs Nco): NONE/NULL fall through
        case "??" => coalesce(c(l), c(r))
        case other => throw SqlError(s"SparkPlanner: unsupported operator $other")
      }
      case FnCall("count", Seq(inner)) => perRowCount(inner, ctx)
      case FnCall(name, args) => fnCol(name, args, ctx)
      case cst @ Cast(k, inner) =>
        // a fully-CONSTANT cast folds through the interpreter's cast table
        // (expr/cast.rs): reference semantics AND reference error text
        // ("Could not cast into …"), and kinds with no column form
        // (duration, record, geometry, …) work when constant. Non-constant
        // inner values fall to the Catalyst cast below. A cast that the
        // interpreter REJECTS must not silently succeed via Catalyst, so
        // SqlErrors from the fold propagate.
        val folded =
          if (!rowFree(inner)) scala.None
          else try Some(Lit(Eval.evalConst(cst)))
          catch {
            case e: SqlError if e.getMessage.startsWith("Could not cast") => throw e
            case _: Exception => scala.None
          }
        folded.map(c).getOrElse(k match {
          // strict Cast-for-i64/f64 semantics (r20): fractional floats
          // ERROR instead of truncating, strings parse with the Rust
          // grammars — RuntimeReplaceable, integer inputs collapse to the
          // built-in cast
          case Kind.KInt =>
            Kernels.call("graft_cast_int", c(inner))
          case Kind.KFloat =>
            Kernels.call("graft_cast_float", c(inner))
          case Kind.KString  => castStrCol(c(inner))
          case Kind.KBool    => c(inner).cast("boolean")
          case Kind.KDecimal => c(inner).cast("decimal(38,10)")
          case Kind.KDatetime => c(inner).cast("timestamp")
          case Kind.KBytes   => c(inner).cast("binary")
          case other => throw SqlError(s"SparkPlanner: unsupported cast $other")
        })
      case IfExpr(branches, Some(elseE)) if branches.nonEmpty =>
        branches.foldRight(c(elseE)) { case ((cond, v), acc) =>
          when(c(cond), c(v)).otherwise(acc)
        }
      // `{ expr }` block value (IF/ELSE bodies) — single pure expression only
      case BlockExpr(Seq(ExprStmt(inner))) => c(inner)
      // named constants (expr/constant.rs: math::PI, time::EPOCH, …) —
      // plan-time literals through the interpreter's constant table
      case k: Constant => c(Lit(Eval.evalConst(k)))
      case other =>
        // a path over a CONSTANT start (`value::patch({…}, […]).a.b`)
        // folds whole through the interpreter — the accessors are static
        // and the start is plan-time (r19)
        val constPath = other match {
          case Idiom(PStart(e0) +: rest) => isConstExpr(e0) && rowFree(rest)
          case _ => false
        }
        if (constPath)
          (try Some(Eval.evalConst(other)) catch { case _: Exception => scala.None })
            .map(v => c(Lit(v)))
            .getOrElse(throw SqlError(s"SparkPlanner: unsupported expression $other"))
        else throw SqlError(s"SparkPlanner: unsupported expression $other")
    }
  }

  /** `to_raw_string` rendering of a column — finite floats `2f`, decimals
    * `1.5dec` (val/mod.rs:225 falls to to_sql; val/number.rs ToSql). Used by
    * array::join / string::concat / string::join / THROW, which the
    * reference renders raw. Non-float types collapse back to the built-in
    * cast (graft.functions.RawStr is RuntimeReplaceable). */
  private def rawStrCol(c: Column): Column = Kernels.call("graft_rawstr", c)

  /** `<string>`-cast rendering — like [[rawStrCol]] but decimals render
    * PLAIN (convert/cast.rs:360 special-cases Decimal; floats keep `f`). */
  private def castStrCol(c: Column): Column = Kernels.call("graft_caststr", c)

  /** Bounds-checked element_at (ANSI mode errors out-of-range; the
    * reference's array accessors yield NONE): `adj` is the 1-based (or
    * negative-from-end) index. */
  private def safeElementAt(arr: Column, adj: Column): Column =
    when(adj >= 1 && adj <= size(arr), element_at(arr, adj))
      .when(adj <= -1 && -adj <= size(arr), element_at(arr, adj))
      .otherwise(lit(null))

  /** Scalar function name → Column mapping — builtins only, codegen-friendly
    * (SURVEY §2.4: functions, not UDFs). */
  /** Linear-interpolated percentile over a PRE-SORTED double array column
    * (fnc/util/math percentile: rank between closest ranks). NaN on empty. */
  private def pctCol(s: Column, n: Column, p: Column): Column = {
    val rank = p / 100.0 * (n - 1).cast("double")
    val lo = floor(rank).cast("int")
    val hi = ceil(rank).cast("int")
    when(n === 0, lit(Double.NaN))
      .when(lo === hi, element_at(s, lo + 1))
      .otherwise(element_at(s, lo + 1) + (rank - lo.cast("double")) *
        (element_at(s, hi + 1) - element_at(s, lo + 1)))
  }

  /** True when the expression statically resolves to an ARRAY column —
    * a graph/recursion hop result, a schema-typed array field, or an
    * array literal. */
  /** Function names that ALWAYS return an array — used to recognize
    * computed-array arguments (set::add/remove accept value-or-array;
    * fnc/set.rs:15-55). Conservative: names absent here are treated as
    * scalar, which only risks single-element wrapping, never a type error
    * on a genuine scalar. */
  private val arrayReturningFns: Set[String] = Set(
    "add", "append", "prepend", "push", "combine", "complement", "concat",
    "difference", "distinct", "fill", "filter", "filter_index", "flatten",
    "group", "insert", "intersect", "map", "matches", "range", "remove",
    "repeat", "reverse", "slice", "sort", "sort::asc", "sort::desc",
    "sort_by", "swap", "transpose", "union", "windows", "clump",
    "boolean_and", "boolean_or", "boolean_xor", "boolean_not",
    "logical_and", "logical_or", "logical_xor", "shuffle"
  ).flatMap(op => Seq(s"array::$op", s"set::$op")) ++ Set(
    "string::split", "string::words", "string::chars", "object::keys",
    "object::values", "object::entries", "search::highlight_all",
    "array::union", "set::union")

  private def exprIsArray(e: Expr, ctx: Ctx): Boolean = e match {
    case Idiom(parts) if ctx.graphCols.contains(parts) => true
    case Idiom(Seq(PField(n))) => ctx.schema.fieldNames.contains(n) &&
      ctx.schema(n).dataType.isInstanceOf[ArrayType]
    case _: ArrLit => true
    case FnCall(n, _) => arrayReturningFns.contains(Functions.normalize(n))
    case _ => false
  }

  /** Per-row `count(x)` (fnc/count.rs; Interp "count"): an ARRAY value
    * counts its truthy elements — graph hops and recursion results are
    * record-key arrays (never falsy, so a plain size()); a scalar counts 1
    * when truthy. The AGGREGATE count()/count(cond) forms never reach here
    * (aggExpr owns them) — without this split a projection count would
    * lower onto Spark's aggregate `count` and collapse the frame to one
    * row. */
  private def perRowCount(inner: Expr, ctx: Ctx): Column = {
    def truthyElems(ic: Column, et: DataType): Column = et match {
      case BooleanType => size(filter(ic, x => coalesce(x, lit(false))))
      case t: NumericType =>
        size(filter(ic, x => x.isNotNull && x =!= lit(0).cast(t)))
      case StringType => size(filter(ic, x => x.isNotNull && length(x) > 0))
      case _ => size(filter(ic, _.isNotNull))
    }
    inner match {
      // graph/recursion hop results: arrays of record keys
      case Idiom(parts) if ctx.graphCols.contains(parts) =>
        size(toCol(inner, ctx)).cast("bigint")
      case Idiom(Seq(PField(n))) if ctx.schema.fieldNames.contains(n) &&
          ctx.schema(n).dataType.isInstanceOf[ArrayType] =>
        truthyElems(col(n),
          ctx.schema(n).dataType.asInstanceOf[ArrayType].elementType)
          .cast("bigint")
      // an array LITERAL counts each element expression's truthiness —
      // the per-element scalar counts sum (elements may reference fields,
      // so a plan-time size() would miscount falsy values)
      case ArrLit(items) =>
        items.map(scalarCount(_, ctx)).reduceOption(_ + _)
          .getOrElse(lit(0L): Column)
      case _ => scalarCount(inner, ctx)
    }
  }

  /** Scalar truthiness count: 1 when truthy, 0 otherwise (0 / NONE / '' /
    * false are falsy). */
  private def scalarCount(inner: Expr, ctx: Ctx): Column = {
    // comparison / logical expressions lower to BOOLEAN columns —
    // syntactic check, since typeOf doesn't model predicates
    def boolShaped(e: Expr): Boolean = e match {
      case Binary(op, _, _) => Set("=", "==", "!=", "<", "<=", ">", ">=",
        "&&", "||", "AND", "OR", "INSIDE", "NOTINSIDE", "CONTAINS",
        "CONTAINSNOT", "CONTAINSALL", "CONTAINSANY", "CONTAINSNONE",
        "IS", "ISNOT", "IN", "NOT IN")(op)
      case Prefix("!", _) => true
      case Lit(_: VBool) => true
      case _ => false
    }
    val ic = toCol(inner, ctx)
    val truthy: Column = typeOf(inner, ctx.schema) match {
      case Some(BooleanType) => ic
      case Some(t: NumericType) => ic =!= lit(0).cast(t)
      case Some(StringType) => length(ic) > 0
      case _ if boolShaped(inner) => ic
      case _ => ic.isNotNull
    }
    when(coalesce(truthy, lit(false)), 1L).otherwise(0L)
  }

  /** Namespaces that must NOT constant-fold: per-row randomness would
    * freeze to one value, and session/http/file/api/sequence are stateful
    * or capability-gated surfaces. */
  private def unfoldableFn(name: String): Boolean =
    name.startsWith("rand::") || name.startsWith("http::") ||
      name.startsWith("file::") || name.startsWith("api::") ||
      name.startsWith("session::") || name.startsWith("sequence::") ||
      name == "sleep" || name.endsWith("::generate") ||
      name == "graft::throw" || // only throws when its branch executes
      name == "array::shuffle" || name == "set::shuffle" // per-evaluation randomness

  /** Structurally-constant expression — safe to evaluate at plan time.
    * Closures are excluded: a field reference inside a closure body would
    * silently evaluate to NONE under an empty environment. */
  private def isConstExpr(e: Expr): Boolean = e match {
    case _: Lit | _: Constant => true
    case ArrLit(items)  => items.forall(isConstExpr)
    case ObjLit(fs)     => fs.forall(f => isConstExpr(f._2))
    case RidLit(_, k)   => isConstExpr(k)
    case RangeLit(lo, hi) =>
      lo.forall(x => isConstExpr(x._1)) && hi.forall(x => isConstExpr(x._1))
    case Binary(_, l, r) => isConstExpr(l) && isConstExpr(r)
    case Prefix(_, i)    => isConstExpr(i)
    case Cast(_, i)      => isConstExpr(i)
    case FnCall(n, args) => !unfoldableFn(n) && args.forall(isConstExpr)
    case _ => false
  }

  private def fnCol(name0: String, raw: Seq[Expr], ctx: Ctx): Column = {
    // flat-alias canonicalization shared with the interpreter (fnc/mod.rs
    // flat-name table) — string::semver_inc_major etc. route to the same
    // column lowering as their canonical names instead of falling through
    // to the const-fold fallback
    val name = Functions.normalize(name0)
    lazy val cs: IndexedSeq[Column] = raw.map(toCol(_, ctx)).toIndexedSeq
    name match {
    // the value-keeping logical trio (and a join over its output) can
    // yield HETEROGENEOUS arrays — no Spark element type exists — and the
    // typed math folds (mode/spread/nearestrank/clamp/lerp) carry their
    // element's NUMBER TYPE, which the columnar double-projected
    // lowerings below can't: constant arguments fold whole through the
    // interpreter first (r19); column arguments keep the columnar forms
    case "array::logical_and" | "array::logical_or" | "array::logical_xor" |
         "math::mode" | "math::spread" |
         "math::nearestrank" | "math::clamp" | "math::lerp"
        if raw.nonEmpty && raw.forall(isConstExpr) =>
      toCol(Lit(Eval.evalConst(FnCall(name, raw))), ctx)
    // a fully-constant join folds through the interpreter: mixed-type
    // arrays (the logical trio's output, [1.5dec, 1], …) have no Spark
    // element type — Catalyst would unify them to double and lose the
    // per-type raw rendering (decimal `dec` suffix, val/mod.rs:225)
    case "array::join" if raw.forall(isConstExpr) =>
      toCol(Lit(Eval.evalConst(FnCall(name, raw))), ctx)
    case "string::lowercase" => lower(cs(0))
    case "string::uppercase" => upper(cs(0))
    case "string::len"       => length(cs(0)).cast("bigint")
    case "string::concat"    => concat(cs.map(rawStrCol): _*)
    case "string::replace" => raw(1) match {
      // regex search (fnc/string.rs replace Regex arm): all matches
      // splice the replacement LITERALLY (no capture expansion), with
      // the crate's Unicode classes
      case Lit(r: VRegex) =>
        val repl = raw(2) match {
          case Lit(VStr(s)) => java.util.regex.Matcher.quoteReplacement(s)
          case _ => throw SqlError(
            "SparkPlanner: string::replace with a regex needs a constant replacement")
        }
        // lower ONLY arg 0 — the strict cs map would lower the regex too
        regexp_replace(toCol(raw(0), ctx), "(?U)" + r.pattern, repl)
      // plain-string search — LITERAL replace for constant AND runtime
      // arguments (the old lowering silently replaced spaces for any
      // non-constant search; r17 sweep catch)
      case _ => org.apache.spark.sql.functions.replace(cs(0), cs(1), cs(2))
    }
    case "string::trim"      => trim(cs(0))
    case "string::reverse"   => reverse(cs(0))
    case "string::slice"     =>
      // [start, END) index semantics with negative wrap on both bounds
      // (fnc/string.rs:171 TypedRange — the r17 sweep replaced the old
      // constant-only LENGTH form), runtime-capable
      val s = cs(0)
      val len = length(s).cast("bigint")
      val fromRaw = (if (raw.length > 1) cs(1) else lit(0L)).cast("bigint")
      val untilRaw = (if (raw.length > 2) cs(2) else len).cast("bigint")
      val from = greatest(lit(0L), least(len,
        when(fromRaw < 0, fromRaw + len).otherwise(fromRaw)))
      val until = greatest(lit(0L), least(len,
        when(untilRaw < 0, untilRaw + len).otherwise(untilRaw)))
      s.substr((from + 1).cast("int"),
        greatest(lit(0L), until - from).cast("int"))
    case "string::starts_with" => cs(0).startsWith(cs(1))
    case "string::contains"    => cs(0).contains(cs(1))
    case "string::ends_with"   => cs(0).endsWith(cs(1))
    case "string::split"       => split(cs(0), raw(1) match { case Lit(VStr(s)) => java.util.regex.Pattern.quote(s); case _ => " " })
    // our kernel, not Spark's builtin levenshtein: the reference applies
    // the STRING_SIMILARITY_LIMIT DoS guard (fnc/string.rs:28) that the
    // builtin lacks, and counts Unicode scalar values
    case "string::distance::levenshtein" =>
      Kernels.call("graft_levenshtein", cs(0), cs(1))
    case "string::distance::damerau_levenshtein" =>
      Kernels.call("graft_damerau", cs(0), cs(1))
    case "string::distance::osa" | "string::distance::osa_distance" =>
      Kernels.call("graft_osa", cs(0), cs(1))
    // validator family over COLUMN arguments: the codegen'd StrCheck
    // kernel — the SAME static the interpreter calls, so the engines are
    // definitionally identical (fnc/string.rs is::*)
    case n if (n.startsWith("string::is_") || n.startsWith("string::is::")) &&
        graft.functions.StrCheck.kinds.contains(
          n.stripPrefix("string::").stripPrefix("is::").stripPrefix("is_")) =>
      Kernels.call("graft_is_" +
        n.stripPrefix("string::").stripPrefix("is::").stripPrefix("is_"), cs(0))
    case "string::capitalize" =>
      Kernels.call("graft_capitalize", cs(0))
    case "string::distance::hamming" =>
      Kernels.call("graft_hamming", cs(0), cs(1))
    // normalized distances: whole-kernel lowerings (1 - d/max(chars),
    // both-empty = 1.0, plus the reference's limit check under the
    // normalized function's OWN name — fnc/string.rs:314,361)
    case "string::distance::normalized_levenshtein" =>
      Kernels.call("graft_norm_levenshtein", cs(0), cs(1))
    case "string::distance::normalized_damerau_levenshtein" =>
      Kernels.call("graft_norm_damerau", cs(0), cs(1))
    case "math::abs"   => abs(cs(0))
    // ceil/floor/round preserve the operand's numeric KIND in the reference
    // (number.rs: Int passes through; Float stays Float — math::ceil(2.5)
    // is 3f, not 3): an Int operand is identity, a Float operand keeps
    // double type so downstream Int/Int division rules see the right kinds
    // float ceil/floor go through the sign-preserving kernels: Spark's
    // long-typed ceil() turns ceil(-0.4) = -0.0 (Rust f64::ceil) into +0
    case "math::ceil" => typeOf(raw(0), ctx.schema) match {
      case Some(LongType | IntegerType | ShortType) => cs(0)
      case Some(DoubleType | FloatType) =>
        Kernels.call("graft_ceil", cs(0))
      case _ => ceil(cs(0)).cast("bigint")
    }
    case "math::floor" => typeOf(raw(0), ctx.schema) match {
      case Some(LongType | IntegerType | ShortType) => cs(0)
      case Some(DoubleType | FloatType) =>
        Kernels.call("graft_floor", cs(0))
      case _ => floor(cs(0)).cast("bigint")
    }
    // Reference round is Rust f64::round (val/number.rs:578): half away from
    // zero AND sign-of-zero preserving — Spark's BigDecimal-backed round()
    // returns +0.0 for tiny negative inputs, a bit-level infidelity.
    case "math::round" => typeOf(raw(0), ctx.schema) match {
      case Some(LongType | IntegerType | ShortType) => cs(0)
      // DECIMAL rounds with rust_decimal semantics: banker's (round_dp),
      // not the float half-away kernel — 2.5dec → 2 (r18 sweep). Constant
      // decimals fold through the interpreter; decimal columns → bround.
      case _ if rowFree(raw(0)) &&
          (try Eval.evalConst(raw(0)).isInstanceOf[VDec]
           catch { case _: Exception => false }) =>
        toCol(Lit(Eval.evalConst(FnCall("math::round", Seq(raw(0))))), ctx)
      case Some(_: org.apache.spark.sql.types.DecimalType) => bround(cs(0), 0)
      case _ =>
        Kernels.call("graft_round", cs(0))
    }
    // math::fixed: the reference's format-then-parse shape (val/number.rs
    // :583 — exact-binary-value rounding, ties-to-even, result is FLOAT
    // even for int input; p must be > 0). Spark's round() is HALF_UP over
    // the canonical-string BigDecimal — both wrong vs Rust (2.675 at p=2).
    case "math::fixed" =>
      val p = raw(1) match {
        case Lit(VInt(i)) => i.toInt
        case other => throw SqlError(
          s"SparkPlanner: math::fixed precision must be a constant int, got $other")
      }
      if (p <= 0)
        throw SqlError("Incorrect arguments for function math::fixed(). " +
          "The second argument must be an integer greater than 0.")
      typeOf(raw(0), ctx.schema) match {
        // decimal stays decimal: rust_decimal round_dp = banker's; constant
        // decimals fold through the interpreter (scale semantics included)
        case _ if rowFree(raw(0)) &&
            (try Eval.evalConst(raw(0)).isInstanceOf[VDec]
             catch { case _: Exception => false }) =>
          toCol(Lit(Eval.evalConst(FnCall("math::fixed", Seq(raw(0), raw(1))))), ctx)
        case Some(_: org.apache.spark.sql.types.DecimalType) => bround(cs(0), p)
        case _ =>
          Kernels.call("graft_fixed", cs(0), lit(p))
      }
    case "math::sqrt"  => sqrt(cs(0))
    // Rust f64::signum (val/number.rs:596): ±1.0 for ±0.0, NaN passthrough,
    // and Int input keeps Int type — Spark's signum() is Java semantics
    case "math::sign"  =>
      Kernels.call("graft_sign", cs(0))
    case "math::pow"   => pow(cs(0), cs(1))
    // math::sum over an in-row array value (fnc/math.rs Sum) — a codegen'd
    // fold; result is double (SurrealQL numeric promotion on mixed arrays)
    case "math::sum" => aggregate(cs(0), lit(0.0), (a, x) => a + x.cast("double"))
    // ---- per-row statistical folds over in-row ARRAY values ---------------
    // (fnc/math.rs — projections without GROUP BY treat these as scalar
    // functions of an array; the GROUPed forms lower through aggExpr)
    case "math::product" =>
      aggregate(cs(0), lit(1.0), (a, x) => a * x.cast("double"))
    case "math::spread" =>
      val xs = transform(cs(0), x => x.cast("double"))
      when(size(xs) === 0, lit(Double.NaN))
        .otherwise(array_max(xs) - array_min(xs))
    case "math::median" =>
      val s = array_sort(transform(cs(0), x => x.cast("double")))
      val n = size(s)
      val half = (n.cast("double") / 2).cast("int")
      when(n === 0, lit(null).cast("double"))
        .when(pmod(n, lit(2)) === 1, element_at(s, half + 1))
        .otherwise((element_at(s, half) + element_at(s, half + 1)) / 2.0)
    case "math::stddev" | "math::variance" =>
      // the two-pass (x − mean)² fold in array order, like the reference's
      // non-rolling form; the captured mean re-evaluates per element —
      // fine for in-row arrays (GROUPed columns never take this path)
      val xs = transform(cs(0), x => x.cast("double"))
      val n = size(xs)
      val m = aggregate(xs, lit(0.0), (a, x) => a + x) / n.cast("double")
      val ss = aggregate(xs, lit(0.0), (a, x) => a + (x - m) * (x - m))
      val v = when(n === 0, lit(Double.NaN)).when(n === 1, lit(0.0))
        .otherwise(ss / (n - 1).cast("double"))
      if (name == "math::stddev") when(v === 0.0, lit(0.0)).otherwise(sqrt(v))
      else v
    case "math::percentile" =>
      val s = array_sort(transform(cs(0), x => x.cast("double")))
      val n = size(s)
      val p = cs(1).cast("double")
      when(p < 0.0 || p > 100.0, lit(Double.NaN)).otherwise(pctCol(s, n, p))
    case "math::interquartile" =>
      val s = array_sort(transform(cs(0), x => x.cast("double")))
      val n = size(s)
      pctCol(s, n, lit(75.0)) - pctCol(s, n, lit(25.0))
    case "math::midhinge" =>
      val s = array_sort(transform(cs(0), x => x.cast("double")))
      val n = size(s)
      (pctCol(s, n, lit(25.0)) + pctCol(s, n, lit(75.0))) / 2.0
    case "math::trimean" =>
      val s = array_sort(transform(cs(0), x => x.cast("double")))
      val n = size(s)
      (pctCol(s, n, lit(25.0)) + lit(2.0) * pctCol(s, n, lit(50.0)) +
        pctCol(s, n, lit(75.0))) / 4.0
    case "math::nearestrank" =>
      // util/math/nearestrank.rs (r19): idx = TRUNC(n · p/100) clamped to
      // n-1, 0-based (+1 for element_at); p outside 0..=100 → NaN
      val s = array_sort(transform(cs(0), x => x.cast("double")))
      val n = size(s)
      val p = cs(1).cast("double")
      when(n === 0 || p < 0.0 || p > 100.0, lit(Double.NaN))
        .otherwise(element_at(s,
          least(n, (p / 100.0 * n.cast("double")).cast("int") + 1)))
    case "math::mode" =>
      // highest frequency, value breaking ties upward (Interp maxBy
      // (freq, value)) — struct max orders field-wise
      val xs = transform(cs(0), x => x.cast("double"))
      when(size(xs) === 0, lit(Double.NaN)).otherwise(
        array_max(transform(array_distinct(xs), v =>
          struct(size(filter(xs, x => x === v)).as("f"), v.as("v"))))
          .getField("v"))
    // math::top/bottom over an in-row array (fnc/util/math/top.rs,
    // bottom.rs): k greatest/smallest elements in sorted-slice order (the
    // reference's heap order is documented "arbitrary"); element type
    // passes through untouched so int arrays stay int
    case "math::top"    =>
      slice(reverse(array_sort(cs(0))), lit(1), topBottomKCol(name, raw(1), ctx))
    case "math::bottom" =>
      slice(array_sort(cs(0)), lit(1), topBottomKCol(name, raw(1), ctx))
    // per-row datetime folds over in-row arrays (fnc/time.rs Min/Max)
    case "time::min" => array_min(cs(0))
    case "time::max" => array_max(cs(0))
    case "math::clamp"   =>
      // constant bounds check at plan time (fnc/math.rs clamp ensure);
      // row-dependent bounds keep the columnar least/greatest form
      (raw.lift(1), raw.lift(2)) match {
        case (Some(l), Some(h)) if rowFree(l) && rowFree(h) =>
          val (lv, hv) = (Eval.evalConst(l), Eval.evalConst(h))
          (lv, hv) match {
            case (ln: VNum, hn: VNum) if V.cmpNum(ln, hn) > 0 =>
              throw SqlError("Incorrect arguments for function math::clamp(). " +
                "Lowerbound for clamp must be smaller than the upperbound")
            case _ => ()
          }
        case _ => ()
      }
      least(greatest(cs(0), cs(1)), cs(2))
    case "math::ln"      => log(cs(0))
    case "math::log"     => log(cs(0)) / log(cs(1)) // log base raw(1)
    case "math::log2"    => log2(cs(0))
    case "math::log10"   => log10(cs(0))
    case "math::lerp"    => cs(0) + (cs(1) - cs(0)) * cs(2)
    case "math::deg2rad" => radians(cs(0))
    case "math::rad2deg" => degrees(cs(0))
    case "math::max"   => raw(0) match {
      case ArrLit(items) => greatest(items.map(toCol(_, ctx)): _*)
      // an in-row ARRAY value folds to its max (fnc/math.rs Max)
      case e if exprIsArray(e, ctx) => array_max(cs(0))
      case _ => cs(0)
    }
    case "math::min"   => raw(0) match {
      case ArrLit(items) => least(items.map(toCol(_, ctx)): _*)
      case e if exprIsArray(e, ctx) => array_min(cs(0))
      case _ => cs(0)
    }
    // math::mean over an in-row array value (fnc/math.rs Mean)
    case "math::mean" =>
      aggregate(cs(0), lit(0.0), (a, x) => a + x.cast("double")) /
        size(cs(0)).cast("double")
    case "time::year"   => year(cs(0)).cast("bigint")
    case "time::month"  => month(cs(0)).cast("bigint")
    case "time::day"    => dayofmonth(cs(0)).cast("bigint")
    case "time::hour"   => hour(cs(0)).cast("bigint")
    case "time::minute" => minute(cs(0)).cast("bigint")
    case "time::second" => second(cs(0)).cast("bigint")
    case "time::unix"   => unix_timestamp(cs(0)).cast("bigint")
    case "time::wday"   => (weekday(cs(0)) + 1).cast("bigint") // ISO Mon=1…Sun=7
    case "time::week"   => weekofyear(cs(0)).cast("bigint")
    case "time::yday"   => dayofyear(cs(0)).cast("bigint")
    case "time::now"    => current_timestamp()
    // strftime formatting with chrono's FULL specifier table (fnc/time.rs
    // format derefs to DateTime<Utc>::format) — the codegen'd kernel calls
    // the SAME Strftime engine the interpreter runs, so every specifier,
    // pad flag, and fractional form agrees definitionally. An invalid
    // format errors at PLAN time with the reference's text (constant
    // formats are the only supported shape; chrono would raise the same
    // error per row).
    case "time::format" => raw(1) match {
      case Lit(VStr(fmt)) =>
        // validate once at plan time: render an arbitrary probe instant —
        // bad specifiers throw the reference's InvalidMethodArguments here
        graft.surql.Strftime.format(
          java.time.Instant.EPOCH.atZone(java.time.ZoneOffset.UTC), fmt)
        Kernels.call("graft_strftime", cs(0).cast("timestamp"), lit(fmt))
      case _ => throw SqlError("SparkPlanner: time::format needs a constant format")
    }
    case "time::timezone" => lit("UTC") // session TZ is pinned UTC
    case "time::is_leap_year" =>
      val y = year(cs(0))
      (y % 4 === 0 && y % 100 =!= 0) || y % 400 === 0
    case "time::micros" => unix_micros(cs(0).cast("timestamp"))
    case "time::millis" => unix_millis(cs(0).cast("timestamp"))
    // timestamps are microsecond-precision on this path
    case "time::nano" | "time::nanos" => unix_micros(cs(0).cast("timestamp")) * 1000L
    case "time::from_secs" | "time::from_unix" |
         "time::from::secs" | "time::from::unix" => timestamp_seconds(cs(0))
    case "time::from_millis" | "time::from::millis" => timestamp_millis(cs(0))
    case "time::from_micros" | "time::from::micros" => timestamp_micros(cs(0))
    case "time::from_nanos" | "time::from::nanos" =>
      timestamp_micros((cs(0) / 1000L).cast("bigint"))
    // time::set_* replace ONE datetime component (fnc/time.rs set_*):
    // rebuild through make_timestamp over the extracted parts. Whitelisted
    // — an unknown component (time::set_millis) must raise the interpreter's
    // unknown-function error, not silently return the input unchanged.
    case n if n.startsWith("time::set_") && Set("year", "month", "day",
        "hour", "minute", "second", "nanosecond")(n.stripPrefix("time::set_")) =>
      val t = cs(0).cast("timestamp")
      val v = cs(1)
      val part = n.stripPrefix("time::set_")
      def pick(unit: String, cur: Column): Column =
        if (part == unit) v else cur
      // sub-second fraction via floor-mod: Java % keeps the dividend's sign,
      // so pre-epoch timestamps would otherwise lose/negate their fraction
      // (interpreter ZonedDateTime.withX preserves nanos exactly)
      val frac = ((unix_micros(t) % 1000000L + 1000000L) % 1000000L)
      val secs = pick("second", second(t).cast("double")) +
        (if (part == "nanosecond") v.cast("double") / 1e9
         else frac.cast("double") / 1e6)
      make_timestamp(
        pick("year", year(t)).cast("int"),
        pick("month", month(t)).cast("int"),
        pick("day", dayofmonth(t)).cast("int"),
        pick("hour", hour(t)).cast("int"),
        pick("minute", minute(t)).cast("int"),
        secs.cast("decimal(16,6)"))
    // durations are total-seconds longs on this path (see duration::* below)
    case "duration::weeks" => floor(cs(0) / 604800).cast("bigint")
    case "duration::years" => floor(cs(0) / 31536000).cast("bigint")
    case "duration::millis" => (cs(0) * 1000L).cast("bigint")
    case "duration::micros" => (cs(0) * 1000000L).cast("bigint")
    case "duration::nanos"  => (cs(0) * 1000000000L).cast("bigint")
    case "duration::from_weeks" | "duration::from::weeks" =>
      (cs(0) * 604800L).cast("bigint")
    case "duration::from_millis" | "duration::from::millis" =>
      floor(cs(0) / 1000).cast("bigint")
    case "duration::from_micros" | "duration::from::micros" =>
      floor(cs(0) / 1000000).cast("bigint")
    // ---- duration::* — durations are total-seconds longs on this path ----
    // (fnc durations: days/hours/mins/secs return the TOTAL in that unit)
    case "duration::from::secs" | "duration::from_secs" => cs(0).cast("bigint")
    case "duration::from::mins" | "duration::from_mins" => (cs(0) * 60).cast("bigint")
    case "duration::from::hours" | "duration::from_hours" => (cs(0) * 3600).cast("bigint")
    case "duration::from::days" | "duration::from_days" => (cs(0) * 86400).cast("bigint")
    case "duration::days"  => floor(cs(0) / 86400).cast("bigint")
    case "duration::hours" => floor(cs(0) / 3600).cast("bigint")
    case "duration::mins"  => floor(cs(0) / 60).cast("bigint")
    case "duration::secs"  => cs(0).cast("bigint")
    // time::floor/ceil/round to a duration multiple since epoch, with
    // chrono's exact semantics (fnc/time.rs → duration_trunc/round: floor
    // toward -inf, ties round UP, zero duration = identity, i64-nanos
    // range errors) via the shared TimeRound kernel — the r17 time sweep
    // replaced the old seconds-only floor(e/secs) arithmetic
    case "time::floor" | "time::ceil" | "time::round" =>
      val mode = name.stripPrefix("time::")
      val durNanos = (try Eval.evalConst(raw(1)) catch {
        case _: Exception =>
          throw SqlError(s"SparkPlanner: $name needs a constant duration, got ${raw(1)}")
      }) match {
        case d: VDur =>
          val tn = d.totalNanos
          if (tn > Long.MaxValue) graft.functions.TimeRound.refError(mode)
          tn.toLong
        case VInt(i) => Math.multiplyExact(i, 1000000000L) // bare secs
        case other => throw SqlError(s"SparkPlanner: $name needs a duration, got ${other.render}")
      }
      Kernels.register(ctx.spark)
      call_function("graft_time_round",
        toCol(raw(0), ctx).cast("timestamp"), lit(durNanos), lit(mode))
    case "string::words" =>
      // Unicode split_whitespace, no empty parts (r20 sweep)
      Kernels.call("graft_words", cs(0))
    case "string::repeat" => raw(1) match {
      case Lit(VInt(n)) => repeat(cs(0), n.toInt)
      case _ => throw SqlError("SparkPlanner: string::repeat needs a constant count")
    }
    case "string::matches" =>
      // (?U) = UNICODE_CHARACTER_CLASS: the Rust regex crate's \d \w \s
      // are Unicode by default (fnc/string.rs matches → Regex::is_match)
      regexp_like(cs(0), concat(lit("(?U)"), cs(1)))
    case "string::similarity::jaro" =>
      Kernels.call("graft_jaro", cs(0), cs(1))
    case "string::similarity::jaro_winkler" =>
      Kernels.call("graft_jaro_winkler", cs(0), cs(1))
    case "string::similarity::fuzzy" | "string::similarity::smithwaterman" =>
      Kernels.call("graft_fuzzy", cs(0), cs(1))
    case "string::similarity::sorensen_dice" =>
      Kernels.call("graft_sorensen_dice", cs(0), cs(1))
    // lexicmp-family array sorts over COLUMN string arrays — the kernel
    // shares the interpreter's comparators (fnc/array.rs sort_natural &c.)
    case "array::sort_natural" | "array::sort_lexical"
        | "array::sort_natural_lexical" =>
      val sorted = Kernels.call("graft_sort_arr", cs(0),
        lit(name.stripPrefix("array::sort_")))
      val desc = raw.lift(1).exists(a =>
        try Eval.evalConst(a) match {
          case VStr(s)  => s.equalsIgnoreCase("desc")
          case VBool(b) => !b
          case _        => false
        } catch { case _: Exception => false })
      if (desc) reverse(sorted) else sorted
    // semver via the shared Semver engine (fnc/string.rs semver::* → the
    // semver crate): strict parse with reference errors, §11 precedence
    // incl. pre-release ordering — the r17 sweep caught the old 3-part
    // numeric compare ignoring pre-releases on BOTH engines
    case "string::semver::compare" =>
      Kernels.call("graft_semver_cmp", cs(0), cs(1))
    // join(sep, parts…) — parts render raw (fnc/string.rs Join)
    case "string::join" => raw(0) match {
      case Lit(VStr(sep)) => concat_ws(sep, cs.tail.map(rawStrCol): _*)
      case _ => throw SqlError("SparkPlanner: string::join needs a constant separator")
    }
    // unicode character-class predicates (fnc/string.rs is::*)
    case "string::is_alpha"       => regexp_like(cs(0), lit("^\\p{L}+$"))
    case "string::is_alphanum"    => regexp_like(cs(0), lit("^[\\p{L}\\p{N}]+$"))
    case "string::is_numeric"     => regexp_like(cs(0), lit("^\\p{N}+$"))
    case "string::is_ascii"       => regexp_like(cs(0), lit("^[\\x00-\\x7F]*$"))
    case "string::is_hexadecimal" => regexp_like(cs(0), lit("^[0-9a-fA-F]+$"))
    // semver components — strict shared parse (reference error texts)
    case "string::semver::major" | "string::semver::minor"
        | "string::semver::patch" =>
      Kernels.call("graft_semver_get", cs(0), lit(name.split("::").last))
    // inc bumps a component and zeroes the lower ones; set replaces one —
    // BOTH keep the pre-release/build tail (the crate mutates the field
    // and renders the whole Version back)
    case n if n.startsWith("string::semver::inc::") ||
        n.startsWith("string::semver::set::") =>
      val op = (if (n.contains("::inc::")) "inc_" else "set_") + n.split("::").last
      val value = if (n.contains("::set::")) cs(1).cast("bigint") else lit(0L)
      Kernels.call("graft_semver_upd", cs(0), lit(op), value)
    case "string::slug" =>
      // deunicode + underscore-keeping (r20 sweep) — shared kernel
      Kernels.call("graft_slug", cs(0))
    case "time::group"  =>
      val unit = raw(1) match { case Lit(VStr(s)) => s; case _ => "day" }
      date_trunc(unit, cs(0)).cast("date")
    // ---- closure HOFs (expr/closure.rs → Catalyst LambdaFunction) --------
    // `|$x| body` closures lower to codegen'd lambda expressions; the
    // closure parameter binds as a Ctx lambda param, so the body reuses the
    // full scalar lowering
    case "array::map" => raw match {
      case Seq(arr, Closure(Seq((p, _)), body, _)) =>
        transform(toCol(arr, ctx), x =>
          toCol(body, ctx.copy(lambdaParams = ctx.lambdaParams + (p -> x))))
      case _ => throw SqlError("SparkPlanner: array::map expects (array, |$x| …)")
    }
    case "array::filter" => raw match {
      case Seq(arr, Closure(Seq((p, _)), body, _)) =>
        filter(toCol(arr, ctx), x =>
          toCol(body, ctx.copy(lambdaParams = ctx.lambdaParams + (p -> x))))
      case _ => throw SqlError("SparkPlanner: array::filter expects (array, |$x| …)")
    }
    case "array::any" | "array::some" => raw match {
      case Seq(arr, Closure(Seq((p, _)), body, _)) =>
        exists(toCol(arr, ctx), x =>
          toCol(body, ctx.copy(lambdaParams = ctx.lambdaParams + (p -> x))))
      case _ => throw SqlError("SparkPlanner: array::any expects (array, |$x| …)")
    }
    case "array::all" | "array::every" => raw match {
      case Seq(arr, Closure(Seq((p, _)), body, _)) =>
        forall(toCol(arr, ctx), x =>
          toCol(body, ctx.copy(lambdaParams = ctx.lambdaParams + (p -> x))))
      case _ => throw SqlError("SparkPlanner: array::all expects (array, |$x| …)")
    }
    case "array::find" => raw match {
      case Seq(arr, Closure(Seq((p, _)), body, _)) =>
        element_at(filter(toCol(arr, ctx), x =>
          toCol(body, ctx.copy(lambdaParams = ctx.lambdaParams + (p -> x)))), 1)
      case _ => throw SqlError("SparkPlanner: array::find expects (array, |$x| ...)")
    }
    case "array::find_index" => raw match {
      // first matching 0-based index, NONE when no element matches
      case Seq(arr, Closure(Seq((p, _)), body, _)) =>
        val a = toCol(arr, ctx)
        element_at(filter(sequence(lit(1), greatest(size(a), lit(1))), i =>
          i <= size(a) && toCol(body, ctx.copy(lambdaParams =
            ctx.lambdaParams + (p -> element_at(a, i))))), 1) - 1
      case _ => throw SqlError("SparkPlanner: array::find_index expects (array, |$x| ...)")
    }
    case "array::fold" => raw match {
      case Seq(arr, init, Closure(Seq((pa, _), (px, _)), body, _)) =>
        aggregate(toCol(arr, ctx), toCol(init, ctx), (acc, x) =>
          toCol(body, ctx.copy(lambdaParams =
            ctx.lambdaParams + (pa -> acc) + (px -> x))))
      case _ => throw SqlError("SparkPlanner: array::fold expects (array, init, |$acc, $x| …)")
    }
    // fold with the FIRST element as the accumulator; NONE on empty
    // (fnc/array.rs reduce; Interp array::reduce)
    case "array::reduce" => raw match {
      case Seq(arr, Closure(Seq((pa, _), (px, _)), body, _)) =>
        val a = toCol(arr, ctx)
        when(size(a) === 0, lit(null)).otherwise(
          aggregate(slice(a, lit(2), greatest(size(a) - 1, lit(0))),
            element_at(a, 1), (acc, x) =>
              toCol(body, ctx.copy(lambdaParams =
                ctx.lambdaParams + (pa -> acc) + (px -> x)))))
      case _ => throw SqlError("SparkPlanner: array::reduce expects (array, |$acc, $x| …)")
    }
    // ---- array::* over in-row arrays (codegen'd array expressions) -------
    case "array::len"      => size(cs(0)).cast("bigint")
    case "array::sort" => raw.lift(1) match {
      case Some(Lit(VBool(asc))) => sort_array(cs(0), asc)
      case Some(Lit(VStr(d)))    => sort_array(cs(0), d.toLowerCase != "desc")
      case _                     => sort_array(cs(0))
    }
    case "array::sort::asc"  => sort_array(cs(0))
    case "array::sort::desc" => sort_array(cs(0), asc = false)
    case "array::distinct" => array_distinct(cs(0))
    // per-evaluation random permutation (fnc/array.rs shuffle) — Spark's
    // nondeterministic shuffle(); rows-only comparable by design
    case "array::shuffle" => shuffle(cs(0))
    case "array::includes" => array_contains(cs(0), cs(1))
    case "array::at"       =>
      // 0-based; negative counts from the end; OUT-OF-RANGE is NONE
      // (fnc/array.rs `get` — ANSI element_at would error; r17 sweep)
      val adj: Column = raw(1) match {
        case Lit(VInt(i)) => lit(if (i >= 0) i.toInt + 1 else i.toInt)
        case Prefix("-", Lit(VInt(i))) => lit(-i.toInt)
        case _ =>
          // runtime index: sign-adjust per row (previously fell back to 0)
          val idx = cs(1).cast("int")
          when(idx >= 0, idx + 1).otherwise(idx)
      }
      safeElementAt(cs(0), adj)
    case "array::first"    => safeElementAt(cs(0), lit(1))
    case "array::join"     =>
      // elements render raw (array.rs ArrayJoin → into_raw_string): floats
      // carry the `f` suffix, decimals `dec`; other types cast
      concat_ws(raw(1) match { case Lit(VStr(s)) => s; case _ => "," },
        transform(cs(0), x => rawStrCol(x)))
    case "array::slice"    =>
      // [start, END) index semantics, negative wrap, runtime-capable —
      // matching the interpreter's fnc/array.rs:742 lowering (the old
      // constant-only form treated the third argument as a LENGTH)
      val arr = cs(0)
      val len = size(arr).cast("bigint")
      val fromRaw = (if (raw.length > 1) cs(1) else lit(0L)).cast("bigint")
      val untilRaw = (if (raw.length > 2) cs(2) else len).cast("bigint")
      val from = greatest(lit(0L), least(len,
        when(fromRaw < 0, fromRaw + len).otherwise(fromRaw)))
      val until = greatest(lit(0L), least(len,
        when(untilRaw < 0, untilRaw + len).otherwise(untilRaw)))
      slice(arr, (from + 1).cast("int"),
        greatest(lit(0L), until - from).cast("int"))
    case "array::flatten"  => flatten(cs(0))
    // per-row array::group over a nested array value: flatten + first-
    // occurrence dedup (fnc/array.rs Group); the GROUPed form lowers
    // through aggExpr
    case "array::group"    => array_distinct(flatten(cs(0)))
    case "array::reverse"  => reverse(cs(0))
    case "array::max"      => array_max(cs(0))
    case "array::min"      => array_min(cs(0))
    case "array::append" | "array::push" => concat(cs(0), array(cs(1)))
    case "array::prepend"  => concat(array(cs(1)), cs(0))
    case "array::concat"   => concat(cs(0), cs(1))
    case "array::last"     => safeElementAt(cs(0), lit(-1))
    case "array::union"    => array_union(cs(0), cs(1))
    // per-OCCURRENCE intersection (val/array.rs Intersect): keep the k-th
    // occurrence of v in a only while k ≤ count(v in b) — array_intersect
    // would dedup ([1,1] ∩ [1,1] is [1,1]). Running counts via an indexed
    // filter; O(n²) per row over in-row arrays, still codegen'd.
    case "array::intersect" =>
      val (a, b) = (cs(0), cs(1))
      filter(a, (x, i) =>
        size(filter(slice(a, lit(1), i + 1), y => y === x)) <=
          size(filter(b, y => y === x)))
    // keep self's elements not present in other — duplicates SURVIVE
    // (val/array.rs Complement builds a set of `other` only)
    case "array::complement" =>
      filter(cs(0), x => !array_contains(cs(1), x))
    // per-OCCURRENCE symmetric difference (val/array.rs Difference): each
    // match consumes one occurrence of the other side; survivors keep
    // their multiplicity and order, other's leftovers append
    case "array::difference" =>
      val (a, b) = (cs(0), cs(1))
      def leftover(u: Column, v: Column): Column =
        filter(u, (x, i) =>
          size(filter(slice(u, lit(1), i + 1), y => y === x)) >
            size(filter(v, y => y === x)))
      concat(leftover(a, b), leftover(b, a))
    // all ordered pairings [x, y] (fnc/array.rs:178)
    case "array::combine" =>
      flatten(transform(cs(0), x => transform(cs(1), y => array(x, y))))
    // append only if absent (fnc/array.rs:33)
    case "array::add" =>
      when(array_contains(cs(0), cs(1)), cs(0))
        .otherwise(concat(cs(0), array(cs(1))))
    // (start, end-exclusive) integer range (fnc/array.rs:617). Spark's
    // sequence() counts DOWN when stop < start, so an empty range
    // (end <= start) must be guarded to [] explicitly.
    case "array::range" =>
      when(cs(1) <= cs(0), array().cast("array<bigint>"))
        .otherwise(sequence(cs(0), cs(1) - 1))
    case "array::repeat" => raw(1) match {
      case Lit(VInt(n)) => array_repeat(cs(0), n.toInt)
      case _ => throw SqlError("SparkPlanner: array::repeat needs a constant count")
    }
    case "array::fill" if raw.length == 2 => transform(cs(0), _ => cs(1))
    // 0-based position, NONE when absent (higher-order index_of's
    // value-equality form)
    case "array::index_of" =>
      val pos = array_position(cs(0), cs(1))
      when(pos === 0, lit(null)).otherwise(pos - 1).cast("bigint")
    // sliding windows of k; fewer than k elements → no windows
    // (fnc/array.rs:938; sequence() descends when stop<start, hence the
    // greatest+filter guard)
    case "array::windows" =>
      // size is a plan-time constant (const-folded, not just a literal);
      // < 1 errors like the reference (val/array.rs:423-430) — without the
      // guard, slice(_, _, 0) would silently yield empty windows
      val k = constSize("array::windows", raw(1))
      val last = size(cs(0)) - lit(k) + 1
      transform(
        filter(sequence(lit(1), greatest(last, lit(1))), i => i <= last),
        i => slice(cs(0), i, lit(k)))
    // chunks of k, trailing partial kept (fnc/array.rs:173)
    case "array::clump" =>
      // size < 1 errors like the reference (val/array.rs:245-252) — the
      // k=0 division would otherwise raise Spark's ANSI divide-by-zero
      val k = constSize("array::clump", raw(1))
      val n = ceil(size(cs(0)).cast("double") / k).cast("int")
      transform(
        filter(sequence(lit(0), greatest(n - 1, lit(0))), i => i < n),
        i => slice(cs(0), i * k + 1, lit(k)))
    case "array::is_empty" => size(cs(0)) === 0
    case "array::pop" => element_at(cs(0), -1)
    case "array::matches" => transform(cs(0), x => x === cs(1))
    // element-wise boolean combination (fnc/array.rs boolean_*; null-safe
    // via coalesce-to-false on the shorter side)
    case "array::boolean_and" | "array::logical_and" =>
      zip_with(cs(0), cs(1), (x, y) => coalesce(x, lit(false)) && coalesce(y, lit(false)))
    case "array::boolean_or" | "array::logical_or" =>
      zip_with(cs(0), cs(1), (x, y) => coalesce(x, lit(false)) || coalesce(y, lit(false)))
    case "array::boolean_xor" | "array::logical_xor" =>
      zip_with(cs(0), cs(1), (x, y) =>
        coalesce(x, lit(false)) =!= coalesce(y, lit(false)))
    case "array::boolean_not" => transform(cs(0), x => !x)
    // matrix transpose for rectangular arrays-of-arrays (fnc/array.rs)
    case "array::transpose" =>
      transform(sequence(lit(1), size(element_at(cs(0), 1))),
        i => transform(cs(0), row => element_at(row, i)))
    case "array::swap" => (raw(1), raw(2)) match {
      case (Lit(VInt(i)), Lit(VInt(j))) =>
        transform(sequence(lit(1), size(cs(0))), p =>
          when(p === (i + 1).toInt, element_at(cs(0), (j + 1).toInt))
            .when(p === (j + 1).toInt, element_at(cs(0), (i + 1).toInt))
            .otherwise(element_at(cs(0), p)))
      case _ => throw SqlError("SparkPlanner: array::swap needs constant indices")
    }
    case "array::remove" => raw(1) match {
      // drop the element at 0-based index (fnc/array.rs Remove)
      case Lit(VInt(i)) =>
        concat(slice(cs(0), 1, i.toInt),
          slice(cs(0), lit(i.toInt + 2), size(cs(0))))
      case _ => throw SqlError("SparkPlanner: array::remove needs a constant index")
    }
    case "array::insert" => raw(2) match {
      // insert value before the 0-based index (fnc/array.rs Insert)
      case Lit(VInt(i)) =>
        concat(slice(cs(0), 1, i.toInt), array(cs(1)),
          slice(cs(0), lit(i.toInt + 1), size(cs(0))))
      case _ => throw SqlError("SparkPlanner: array::insert needs a constant index")
    }
    // ---- set::* — BTreeSet semantics: sorted, deduplicated (fnc/set.rs;
    // array_union/intersect/except already dedup, sort canonicalizes) ------
    case "set::union"      => array_sort(array_union(cs(0), cs(1)))
    case "set::intersect"  => array_sort(array_intersect(cs(0), cs(1)))
    case "set::difference" => // symmetric difference A △ B (fnc/set.rs:69)
      array_sort(array_union(array_except(cs(0), cs(1)), array_except(cs(1), cs(0))))
    case "set::complement" => array_sort(array_except(cs(0), cs(1)))
    // add/remove accept one value OR an array of values (fnc/set.rs:15-55);
    // the array-ness is a static property of the argument expression here
    case "set::add" =>
      val more = if (exprIsArray(raw(1), ctx)) cs(1) else array(cs(1))
      array_sort(array_union(cs(0), more))
    case "set::remove" =>
      val gone = if (exprIsArray(raw(1), ctx)) cs(1) else array(cs(1))
      array_sort(array_except(cs(0), gone))
    case "set::contains"   => array_contains(cs(0), cs(1))
    case "set::len"        => size(array_distinct(cs(0))).cast("bigint")
    case "set::is_empty"   => size(array_distinct(cs(0))) === 0
    // every other set:: op delegates to the array:: lowering over the
    // set's ordered distinct items (fnc/set.rs: Set coerces from array;
    // Interp setHigherOrder + the generic delegation arm); map/filter
    // results re-normalize to set form
    case n if n.startsWith("set::") =>
      // NOT cs(0): forcing the lazy cs would lower every argument,
      // including closures (which only lower inside their HOF case)
      val items = array_sort(array_distinct(toCol(raw.head, ctx)))
      val ctx2 = ctx.copy(lambdaParams = ctx.lambdaParams + ("__setself" -> items))
      val op = n.stripPrefix("set::")
      val res = fnCol("array::" + op, Param("__setself") +: raw.drop(1), ctx2)
      op match {
        case "map" | "filter" | "filter_index" | "sort_by" =>
          array_sort(array_distinct(res))
        case _ => res
      }
    // ---- object::* — the reference's Object is a BTreeMap, so keys/
    // values/entries iterate KEY-SORTED (val/object.rs; the r17 sweep
    // caught the old insertion-order outputs) ------------------------------
    case "object::keys"     => array_sort(json_object_keys(to_json(cs(0))))
    // values/entries: exact on object literals; struct columns go through
    // the JSON render (string-valued — the canonical render of each field)
    case "object::values" => raw(0) match {
      case ObjLit(fs) =>
        array(fs.sortBy(_._1).map { case (_, e) => toCol(e, ctx) }: _*)
      case _ => transform(
        array_sort(map_entries(from_json(to_json(cs(0)),
          MapType(StringType, StringType)))),
        e => e.getField("value"))
    }
    case "object::entries" => raw(0) match {
      case ObjLit(fs) =>
        array(fs.sortBy(_._1).map { case (k, e) =>
          array(lit(k), toCol(e, ctx).cast("string")) }: _*)
      case _ => transform(
        array_sort(map_entries(from_json(to_json(cs(0)), MapType(StringType, StringType)))),
        e => array(e.getField("key"), e.getField("value")))
    }
    case "object::len"      => size(json_object_keys(to_json(cs(0)))).cast("bigint")
    case "object::is_empty" => size(json_object_keys(to_json(cs(0)))) === 0
    // extend/remove over STRUCT columns: withField/dropFields rebuilds with
    // plan-time-constant keys (fnc/object.rs extend merges other INTO self,
    // other's values win; remove accepts one key or an array of keys)
    case "object::extend" => raw(1) match {
      case ObjLit(fs) =>
        fs.foldLeft(cs(0)) { case (acc, (k, e)) => acc.withField(k, toCol(e, ctx)) }
      case other => throw SqlError(
        s"SparkPlanner: object::extend needs an object literal, got $other")
    }
    case "object::remove" =>
      val keys = Eval.evalConst(Subst.expr(raw(1), Map.empty)) match {
        case VStr(k)   => Seq(k)
        case VArr(ks)  => ks.collect { case VStr(k) => k }
        case other => throw SqlError(
          s"SparkPlanner: object::remove needs constant key(s), got ${other.render}")
      }
      keys.foldLeft(cs(0))((acc, k) => acc.dropFields(k))
    // JSON text of a struct/array column (fnc/encoding.rs json::encode)
    case "encoding::json::encode" => to_json(cs(0))
    // ---- string::html::* — ammonia 4.1 via the shared kernel (r20: one
    // codegen'd pass instead of the old 12-regex replace chain; sanitize
    // is the real allowlist sanitizer, not a tag-strip) ------------------
    case "string::html::encode" | "string::html::sanitize" =>
      Kernels.call(
        if (name.endsWith("encode")) "graft_html_encode" else "graft_html_sanitize",
        cs(0))
    // ---- encoding::base64 — reference default: UNPADDED encode (a truthy
    // second arg pads), padding-indifferent STRICT decode (fnc/encoding.rs
    // STANDARD_NO_PAD / STANDARD_GENERIC_DECODER). Spark's unbase64 skips
    // invalid chars silently — the kernel errors like the reference (r18).
    case "encoding::base64::encode" =>
      // the pad flag must be const-evaluable: a row-dependent flag would
      // silently encode unpadded, so it declines to the interpreter (r19)
      val padded = raw.lift(1).map { e =>
        if (!rowFree(e)) throw SqlError(
          "SparkPlanner: encoding::base64::encode with a row-dependent pad flag is interpreter-only")
        try Eval.evalConst(e).truthy catch {
          case _: Exception => throw SqlError(
            "SparkPlanner: encoding::base64::encode with a non-constant pad flag is interpreter-only")
        }
      }.getOrElse(false)
      if (padded) base64(cs(0).cast("binary"))
      else regexp_replace(base64(cs(0).cast("binary")), "=+$", "")
    case "encoding::base64::decode" =>
      Kernels.call("graft_b64_decode", cs(0))
    // ---- record::* / meta::* over `table:key` record ids ----------------
    // this path's canonical record-id form is the `table:key` string (see
    // the mock/graph lowerings); table names cannot contain ':' so the
    // first colon splits tb from key (fnc/record.rs, meta aliases)
    case "record::tb" | "record::table" | "meta::tb" | "meta::table" =>
      substring_index(cs(0), ":", 1)
    case "record::id" | "meta::id" =>
      regexp_replace(cs(0), "^[^:]*:", "")
    case "record::exists" => cs(0).isNotNull
    // ---- session::* — static session context (fnc/session.rs). ns/db are
    // catalog-bound on this engine; connection-scoped fields (ip, origin,
    // token, access, record-user) have no distributed analog → NONE, the
    // same defaults the interpreter path exposes
    case "session::db" | "session::ns" => lit("test")
    case "session::id" | "session::origin" | "session::ip" | "session::ac" |
         "session::rd" | "session::token" => lit(null)
    // internal: THROW lowered from an inlined fn:: body — raise_error
    // fires only when its CASE branch is taken (RaiseError is
    // non-foldable, so guarded throws survive constant folding). The
    // message renders at plan time when constant (renderRaw-exact), else
    // per row via cast (identical for the string messages THROW takes).
    case "graft::throw" =>
      val constMsg =
        if (raw.nonEmpty && rowFree(raw.head))
          // a message expression that itself errors must error lazily,
          // with the branch — fall through to the per-row form
          try Some(Eval.evalConst(raw.head).renderRaw)
          catch { case _: Exception => scala.None }
        else scala.None
      constMsg match {
        case Some(m) => raise_error(lit("An error occurred: " + m))
        case scala.None =>
          raise_error(concat(lit("An error occurred: "), rawStrCol(cs(0))))
      }
    // ---- crypto::* (builtins; hex output matches DuckDB) -----------------
    case "crypto::md5"    => md5(cs(0))
    case "crypto::sha1"   => sha1(cs(0))
    case "crypto::sha256" => sha2(cs(0), 256)
    case "crypto::sha512" => sha2(cs(0), 512)
    // blake3 / joaat over columns: codegen'd kernels sharing the
    // interpreter's statics (fnc/crypto.rs)
    case "crypto::blake3" =>
      Kernels.call("graft_blake3", cs(0))
    case "crypto::joaat" =>
      Kernels.call("graft_joaat", cs(0))
    // password-hash families (fnc/crypto.rs, REAL algorithms since r19):
    // per-row kernels sharing the interpreter's Argon2/Bcrypt/Scrypt/
    // pbkdf2 implementations — generate is nondeterministic (fresh salt),
    // compare enforces each scheme's cost allowance inside the kernel
    case "crypto::argon2::generate" | "crypto::bcrypt::generate" |
         "crypto::scrypt::generate" | "crypto::pbkdf2::generate" =>
      val scheme = name.stripPrefix("crypto::").stripSuffix("::generate")
      Kernels.call(s"graft_pw_${scheme}_generate", cs(0))
    case "crypto::argon2::compare" | "crypto::bcrypt::compare" |
         "crypto::scrypt::compare" | "crypto::pbkdf2::compare" =>
      val scheme = name.stripPrefix("crypto::").stripSuffix("::compare")
      Kernels.call(s"graft_pw_${scheme}_compare", cs(0), cs(1))
    // ---- parse::* --------------------------------------------------------
    // WHATWG parsing per the reference's url crate (r20 sweep): IDNA/
    // lowercase/IPv4-IPv6 normalization, default-port restore, whole-parse
    // failure on bad ports — Spark's parse_url does none of these, so the
    // lowering codegens the SAME UrlParse statics the interpreter calls
    case "parse::url::host" | "parse::url::domain" | "parse::url::path" |
         "parse::url::query" | "parse::url::scheme" | "parse::url::fragment" =>
      Kernels.call("graft_url_part", cs(0), lit(name.stripPrefix("parse::url::")))
    case "parse::url::port" =>
      Kernels.call("graft_url_port", cs(0))
    // addr-crate parse: an invalid email is NONE, not a best-effort split;
    // IDN hosts stay as written, RFC 5321 address literals normalize
    case "parse::email::user" | "parse::email::host" =>
      Kernels.call("graft_email_part", cs(0),
        lit(name.stripPrefix("parse::email::")))
    // ---- geo::distance / geo::bearing over COLUMN points -----------------
    // (fnc/geo.rs → georust Haversine). Points arrive as the parser's
    // `__point__` node ((lon, lat) literals with column coords) or as any
    // expr yielding a GeoJSON struct{type, coordinates}; a legacy flattened
    // (lon1, lat1, lon2, lat2) scalar form is kept. The arithmetic SHAPE
    // (association, asin vs atan2) mirrors the interpreter exactly so the
    // two paths agree BIT-exact (DifferentialSpec pins with no rounding).
    case "geo::distance" | "geo::bearing" =>
      def pt(e: Expr): (Column, Column) = e match {
        case FnCall("__point__", Seq(x, y)) =>
          (toCol(x, ctx).cast("double"), toCol(y, ctx).cast("double"))
        case other =>
          val c = toCol(other, ctx)
          (element_at(c.getField("coordinates"), 1).cast("double"),
            element_at(c.getField("coordinates"), 2).cast("double"))
      }
      val (lon1, lat1, lon2, lat2) =
        if (raw.length == 4) (cs(0), cs(1), cs(2), cs(3))
        else {
          val (a, b) = pt(raw(0)); val (c2, d2) = pt(raw(1))
          (a, b, c2, d2)
        }
      if (name == "geo::distance") {
        // Haversine.distance (georust): a = sin²(Δθ/2) + cosθ1·cosθ2·sin²(Δλ/2),
        // d = R · (2 · asin(√a)), R = MEAN_EARTH_RADIUS
        val t1 = radians(lat1); val t2 = radians(lat2)
        val sT = sin(radians(lat2 - lat1) / 2)
        val sL = sin(radians(lon2 - lon1) / 2)
        val a = sT * sT + cos(t1) * cos(t2) * (sL * sL)
        lit(6371008.8) * (lit(2.0) * asin(sqrt(a)))
      } else {
        // Haversine.bearing + fnc/geo.rs normalize to [-180, 180]
        val pA = radians(lat1); val pB = radians(lat2)
        val dL = radians(lon2) - radians(lon1)
        val s = sin(dL) * cos(pB)
        val c = cos(pA) * sin(pB) - sin(pA) * cos(pB) * cos(dL)
        val brg = (degrees(atan2(s, c)) + lit(360.0)) % lit(360.0)
        when(brg > 180.0, brg - lit(360.0)).otherwise(brg)
      }
    // ---- MATCHES / KNN companions (resolve to the sub-plan's column) ------
    case "search::score" => col(ctx.scoreCol.getOrElse(
      throw SqlError("SparkPlanner: search::score outside a MATCHES query")))
    // search::highlight(pre, post, ref[, partial]) — the SAME span logic
    // the interpreter runs (Search.highlight), as a codegen'd kernel over
    // the matched field; the chain render + analyzed query terms are the
    // plan-time constants the @N@ lowering recorded (fnc/search.rs
    // highlight; idx/ft/highlighter.rs)
    case "search::highlight" =>
      val pre = Eval.evalConst(raw(0)) match {
        case VStr(x) => x
        case o => throw SqlError(s"search::highlight pre must be a string, got ${o.render}")
      }
      val post = Eval.evalConst(raw(1)) match {
        case VStr(x) => x
        case o => throw SqlError(s"search::highlight post must be a string, got ${o.render}")
      }
      val ref = Eval.evalConst(raw(2)) match {
        case n: VNum => n.toDouble.toInt
        case o => throw SqlError(s"search::highlight ref must be a number, got ${o.render}")
      }
      val partial = raw.lift(3).map(Eval.evalConst).exists {
        case VBool(b) => b; case _ => false
      }
      ctx.matchRefs.get(ref) match {
        case Some((field, chain, terms)) =>
          Kernels.register(ctx.spark)
          val packed =
            lit(graft.functions.Analyze.packHighlight(chain, terms, pre, post, partial))
          fnAnalyzerCol(field, chain, "search::highlight", ctx) match {
            case Some(xcol) =>
              // FUNCTION analyzer: spans from the fn-TRANSFORMED text wrap
              // the ORIGINAL value (highlighter.rs runs the analyzer — fn
              // included — over the value, then splices the original)
              call_function("graft_highlight_fx", col(field), xcol, packed)
            case scala.None =>
              call_function("graft_highlight", col(field), packed)
          }
        case scala.None => lit(null).cast("string") // unknown ref → NONE
      }
    // search::offsets(ref[, partial]) — the matched token spans as
    // {"0": [{e, s}…]} (single-value fields; fnc/search.rs offsets)
    case "search::offsets" =>
      val ref = Eval.evalConst(raw(0)) match {
        case n: VNum => n.toDouble.toInt
        case o => throw SqlError(s"search::offsets ref must be a number, got ${o.render}")
      }
      val partial = raw.lift(1).map(Eval.evalConst).exists {
        case VBool(b) => b; case _ => false
      }
      ctx.matchRefs.get(ref) match {
        case Some((field, chain, terms)) =>
          Kernels.register(ctx.spark)
          val packed =
            lit(graft.functions.Analyze.packHighlight(chain, terms, "", "", partial))
          // map keyed by VALUE INDEX — {"0": [{e,s}…], "1": …} — matching
          // the interpreter's object shape for single- AND array-valued
          // fields (idx/ft/highlighter.rs:169-175); under a FUNCTION
          // analyzer the spans come from the fn-TRANSFORMED text, exactly
          // like the indexing side
          val src = fnAnalyzerCol(field, chain, "search::offsets", ctx)
            .getOrElse(col(field))
          val m = call_function("graft_offsets", src, packed)
          // no matched spans at any value index → NONE, like the interpreter
          when(size(m) > 0, m).otherwise(lit(null))
        case scala.None => lit(null).cast("string") // unknown ref → NONE
      }
    // ---- vector::* — in-order double folds (codegen'd HOFs, no UDFs) -----
    case "vector::dot" => graft.operators.Similarity.dot(cs(0), cs(1))
    // element-wise vector algebra (fnc/vector.rs) — codegen'd lambdas
    case "vector::add"      => zip_with(cs(0), cs(1), (x, y) => x + y)
    case "vector::subtract" => zip_with(cs(0), cs(1), (x, y) => x - y)
    case "vector::multiply" => zip_with(cs(0), cs(1), (x, y) => x * y)
    // vector_div (util/math/vector.rs:90): NaN when either side is NaN or
    // the divisor is ZERO — never Infinity, never an ANSI error
    case "vector::divide"   => zip_with(cs(0), cs(1), (x, y) =>
      when(isnan(x.cast("double")) || isnan(y.cast("double")) || y === 0,
        lit(Double.NaN)).otherwise(x.cast("double") / y))
    case "vector::scale"    => transform(cs(0), x => x * cs(1))
    case "vector::normalize" =>
      val mag = graft.operators.Similarity.norm(cs(0))
      // zero magnitude → NaN elements (normalize → vector_div)
      transform(cs(0), x =>
        when(isnan(x.cast("double")) || mag === 0, lit(Double.NaN))
          .otherwise(x.cast("double") / mag))
    case "vector::angle" =>
      acos(graft.operators.Similarity.cosine(cs(0), cs(1)))
    case "vector::cross" =>
      def at(c: Column, i: Int) = element_at(c, i)
      array(
        at(cs(0), 2) * at(cs(1), 3) - at(cs(0), 3) * at(cs(1), 2),
        at(cs(0), 3) * at(cs(1), 1) - at(cs(0), 1) * at(cs(1), 3),
        at(cs(0), 1) * at(cs(1), 2) - at(cs(0), 2) * at(cs(1), 1))
    case "vector::project" =>
      val k = graft.operators.Similarity.dot(cs(0), cs(1)) /
        graft.operators.Similarity.dot(cs(1), cs(1))
      transform(cs(1), x => x.cast("double") * k)
    case "vector::distance::hamming" =>
      aggregate(zip_with(cs(0), cs(1),
        (x, y) => when(x === y, 0L).otherwise(1L)), lit(0L), (a, v) => a + v)
        .cast("bigint")
    case "vector::distance::minkowski" => raw(2) match {
      case Lit(v: VNum) =>
        val p = v.toDouble
        pow(aggregate(zip_with(cs(0), cs(1),
          (x, y) => pow(abs(x.cast("double") - y.cast("double")), p)),
          lit(0.0), (a, x) => a + x), 1.0 / p)
      case _ => throw SqlError("SparkPlanner: minkowski needs a constant order")
    }
    case "vector::similarity::jaccard" =>
      size(array_intersect(cs(0), cs(1))).cast("double") /
        size(array_union(cs(0), cs(1)))
    case "vector::magnitude" => graft.operators.Similarity.norm(cs(0))
    case "vector::distance::euclidean" => graft.operators.Similarity.l2(cs(0), cs(1))
    case "vector::distance::manhattan" => graft.operators.Similarity.l1(cs(0), cs(1))
    case "vector::distance::chebyshev" =>
      array_max(zip_with(cs(0), cs(1), (x, y) => abs(x.cast("double") - y.cast("double"))))
    case "vector::similarity::cosine" => graft.operators.Similarity.cosine(cs(0), cs(1))
    // Pearson correlation per row (fnc/vector.rs similarity::pearson;
    // Interp formula mirrored term for term) — HOF folds, no UDF
    case "vector::similarity::pearson" =>
      val x = transform(cs(0), v => v.cast("double"))
      val y = transform(cs(1), v => v.cast("double"))
      val n = size(x).cast("double")
      val mx = aggregate(x, lit(0.0), (a, v) => a + v) / n
      val my = aggregate(y, lit(0.0), (a, v) => a + v) / n
      val cov = aggregate(zip_with(x, y, (a, b) => (a - mx) * (b - my)),
        lit(0.0), (a, v) => a + v)
      val sx = sqrt(aggregate(x, lit(0.0), (a, v) => a + (v - mx) * (v - mx)))
      val sy = sqrt(aggregate(y, lit(0.0), (a, v) => a + (v - my) * (v - my)))
      cov / (sx * sy)
    case "vector::distance::knn" => col(ctx.knnDistCol.getOrElse(
      throw SqlError("SparkPlanner: vector::distance::knn outside a KNN query")))
    // type::of — the declared kind name; static from the schema on a typed
    // column (fnc/type.rs)
    case "type::of" => raw(0) match {
      case Idiom(Seq(PField(n))) if ctx.schema.fieldNames.contains(n) =>
        lit(surqlKind(ctx.schema(n).dataType))
      case Lit(v) => lit(v.typeName)
      // constant argument: the VALUE's kind, folded through Eval (r19 —
      // a decoded CBOR set is `set` even though no column carries it)
      case e if isConstExpr(e) =>
        lit(Eval.evalConst(e).typeName)
      case other => throw SqlError(s"SparkPlanner: type::of needs a typed column, got $other")
    }
    // ---- type::is::* — runtime type checks; on a typed column the answer
    // is static from the schema, null-aware (NULL is no type) -------------
    case n if n.startsWith("type::is::") || n.startsWith("type::is_") =>
      val want = n.stripPrefix("type::is::").stripPrefix("type::is_")
      // NONE and NULL both render as SQL NULL in the column model, so the
      // two checks coincide here (the interpreter keeps them distinct)
      if (want == "none" || want == "null") cs(0).isNull
      else {
      val fam: Option[String] = raw.headOption.flatMap(e => typeOf(e, ctx.schema)).flatMap {
        case LongType | IntegerType   => Some("int")
        case DoubleType | FloatType   => Some("float")
        case _: DecimalType           => Some("decimal")
        case StringType               => Some("string")
        case BooleanType              => Some("bool")
        case TimestampType | TimestampNTZType | DateType => Some("datetime")
        case _: ArrayType             => Some("array")
        case _: StructType            => Some("object")
        case _ => scala.None
      }
      fam match {
        case Some(f) =>
          val hit = want == f ||
            (want == "number" && Set("int", "float", "decimal").contains(f))
          when(cs(0).isNull, lit(false)).otherwise(lit(hit))
        case scala.None =>
          throw SqlError(s"SparkPlanner: type::is::$want needs a statically-typed argument")
      }
      }
    // ---- rand::* — distributed per-row randomness (fnc/rand.rs); no
    // oracle possible, registry entries are rows-only by design ------------
    // bounds given high-to-low swap, like the reference (r19)
    case "rand::float" => raw match {
      case Seq(lo, hi) =>
        val (l, h) = (toCol(lo, ctx), toCol(hi, ctx))
        least(l, h) + rand() * (greatest(l, h) - least(l, h))
      case _ => rand()
    }
    case "rand::int" => raw match {
      case Seq(lo, hi) =>
        val (l, h) = (toCol(lo, ctx), toCol(hi, ctx))
        floor(least(l, h) + rand() * (greatest(l, h) - least(l, h) + 1)).cast("bigint")
      case _ => (rand() * Long.MaxValue).cast("bigint")
    }
    case "rand::bool" => rand() > 0.5
    case "rand::uuid" => expr("uuid()")
    // cast semantics (fnc/type.rs string → cast_to::<String>)
    case "type::string" | "type::string_lossy" => castStrCol(cs(0))
    case "type::int"    => cs(0).cast("bigint")
    case "type::float"  => cs(0).cast("double")
    // type:: conversions over COLUMN arguments (Coerce.cast analogs; the
    // constant-arg forms fold through the interpreter). The column model
    // has one type per column, so type::number lands on double — the
    // reference's per-row int/float split has no columnar form. ANSI casts
    // throw on unparseable input like the reference's coercion errors.
    case "type::number"   => typeOf(raw(0), ctx.schema) match {
      case Some(LongType | IntegerType | ShortType) => cs(0)
      case _ => cs(0).cast("double")
    }
    case "type::decimal"  => cs(0).cast("decimal(38,10)")
    case "type::bool"     => cs(0).cast("boolean")
    case "type::datetime" => cs(0).cast("timestamp")
    case "type::array"    => raw(0) match {
      case e if exprIsArray(e, ctx) => cs(0)
      case _ => throw SqlError(
        "SparkPlanner: type::array over a non-array column is unsupported")
    }
    case "type::set"      => array_sort(array_distinct(cs(0)))
    case "count" => raw match {
      case Seq(inner) => perRowCount(inner, ctx) // method form: x.count()
      case _ => count(lit(1))
    }
    case other =>
      // Constant-argument fallback: any remaining function whose arguments
      // are plan-time constants folds driver-side through the
      // interpreter's exact function library and lowers as a literal —
      // the same constant folding Catalyst performs on foldable
      // expressions, but over the full SurrealQL surface (semver, osa,
      // object algebra, value::diff, …). Column arguments never fold (the
      // const check is structural, so a field reference can't silently
      // evaluate to NONE), and nondeterministic / effectful namespaces
      // are excluded.
      if (raw.nonEmpty && raw.forall(isConstExpr) && !unfoldableFn(other))
        scala.util.Try(Eval.evalConst(FnCall(other, raw))) match {
          case scala.util.Success(v) => return toCol(Lit(v), ctx)
          // the args were structurally constant, so a failure is a real
          // semantic error (arity / wrong type / unknown function) — the
          // interpreter's message is the faithful one
          case scala.util.Failure(e: SqlError) => throw e
          case _ => ()
        }
      throw SqlError(s"SparkPlanner: unsupported function $other")
    }
  }
}
