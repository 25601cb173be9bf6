package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Graph traversal as joins.
  *
  * In the reference, edges are rows in relation tables with `in`/`out`
  * record-id fields (surrealdb: catalog/table.rs:151-156) and a hop
  * `->edge->target` is `GraphEdgeScan` (exec/operators/scan/graph.rs:64) — an
  * id-equijoin from a batch of source ids into the edge table. That is
  * exactly a distributed hash join, so the Spark lowering is `edges.join`:
  * shuffle on the id, AQE/broadcast when one side is small, and Catalyst
  * plans a semi join when only target ids are needed
  * (`GraphScanOutput::TargetId`, scan/graph.rs:30-36).
  *
  * This object holds what [[graft.surql.SparkPlanner]] lowers a hop onto:
  * the relation catalog, the persisted edge tables and the recursion kernel.
  * The hop queries themselves are SurrealQL text in [[SurqlQueries]].
  *
  * Bounded recursion `@{n..m}` (exec/operators/recursion.rs:81) runs on one
  * driver-side kernel, [[frontiers]], for every strategy: each depth is one
  * distributed hop over the previous frontier plus one job that materialises
  * it; the driver only reads a row count, never row data.
  */
object GraphOps {

  /** Relation-table topology: edge table name → (inTable, outTable). The
    * `supplies` edges are one edge per distinct supplier→part shipment pair
    * with aggregate props (the `mut_relate` row reads them) — the Spark
    * analog of a RELATE-populated relation table (catalog/table.rs:151-156).
    * The SurrealQL planner lowers `->supplies->part` onto these. */
  val edgeDefsBase: Map[String, (String, String)] = Map(
    "supplies" -> ("supplier", "part"),
    // each customer's orders by date form a linked list — the time-series
    // idiom of SURVEY §1.1; self-referencing, so `@{n..m}` recursion from
    // SurrealQL text has a real chain to walk (exec/operators/recursion.rs)
    "next_order" -> ("orders", "orders"))

  /** Extra relation tables registered at runtime (tests / user RELATE
    * targets beyond the built-in catalog); the edge rows themselves come
    * from the table catalog (overlay or parquet), schema (id, in, out, …). */
  val extraEdgeDefs =
    scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** The effective relation catalog (base + runtime registrations). */
  object edgeDefs {
    def get(name: String): Option[(String, String)] =
      edgeDefsBase.get(name).orElse(extraEdgeDefs.get(name))
    def getOrElse(name: String, default: => (String, String)): (String, String) =
      get(name).getOrElse(default)
    def contains(name: String): Boolean = get(name).isDefined
    def keys: Iterable[String] = edgeDefsBase.keys
    def all: Map[String, (String, String)] = edgeDefsBase ++ extraEdgeDefs
  }

  /** Session-cached edge tables per corpus dir, schema (id, in, out, props…).
    * Built ONCE and persisted — at 100 TB this is the stored relation table
    * the RELATE job wrote, bucketed by `in` (and mirrored by `out` for
    * reverse hops), not per-query work. */
  private val edgeCache =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  /** Force edge-table builds (bench attributes them to index_build). */
  def warmEdges(s: SparkSession, d: String): Unit =
    edgeDefs.keys.foreach(edgeTable(s, d, _))

  def edgeTable(s: SparkSession, dir: String, name: String): DataFrame =
    if (extraEdgeDefs.contains(name)) Tables(s, dir, name) // overlay-backed, never cached
    else edgeCache.getOrElseUpdate((dir, name), {
      // the stored relation persists on disk with a completion marker, so a
      // later JVM re-reads the written edges instead of re-deriving them
      val base = graft.CacheDir.ensure(
        graft.CacheDir.path(s"edge-$name-v1", dir)) { p =>
        buildEdge(s, dir, name).write.parquet(p)
      }
      val e = s.read.parquet(base).persist()
      // lazily pinned: the first reader materializes the cached copy
      e
    })

  private def buildEdge(s: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "supplies" =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_suppkey").as("in"), col("l_partkey").as("out"))
          .agg(count(lit(1)).as("n_shipments"),
            graft.functions.Exact.dsum(col("l_quantity")).as("total_qty"))
          .select(
            concat(lit("supplies:"), col("in").cast("string"), lit(":"),
              col("out").cast("string")).as("id"),
            col("in"), col("out"), col("n_shipments"), col("total_qty"))
      case "next_order" =>
        // one window shuffle builds the whole chain; stored-relation shape
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
          .withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .select(
            concat(lit("next_order:"), col("o_orderkey").cast("string"), lit(":"),
              col("nxt").cast("string")).as("id"),
            col("o_orderkey").as("in"), col("nxt").as("out"))
      case other => throw new IllegalArgumentException(s"unknown edge table $other")
    }

  /** The frontier kernel of `@{n..m}` recursion, in the superstep shape of
    * Pregelix: frame 1 is `hop(start, 1)`, frame d is `hop` applied to the
    * rows of frame d-1 that satisfy `carries`. Each frame is marked
    * `localCheckpoint(eager = false)` and materialised by one job that also
    * counts its carrying rows, so a later hop and the caller's final plan
    * read the stored blocks instead of replaying the lineage. The kernel
    * stops after `maxD`, or at the first frame with no carrying row, and
    * returns the frames it built, depth 1 first.
    *
    * Bound: the blocks live only in executor storage. If an executor dies
    * before the query has read them, they are lost and the query fails;
    * they are not recomputed. */
  def frontiers(start: DataFrame, maxD: Int, carries: Column = lit(true))(
      hop: (DataFrame, Int) => DataFrame): Seq[DataFrame] = {
    @annotation.tailrec
    def go(frontier: DataFrame, depth: Int, acc: Vector[DataFrame]): Vector[DataFrame] =
      if (depth > maxD) acc
      else {
        val frame = hop(frontier, depth).localCheckpoint(eager = false)
        val next = frame.filter(carries)
        // one job: computes every block of `frame`, counts what carries on
        if (next.queryExecution.toRdd.count() == 0L) acc :+ frame
        else go(next, depth + 1, acc :+ frame)
      }
    go(start, 1, Vector.empty)
  }

  /** Plain reachability on [[frontiers]]: start (start, node), edges
    * (src, dst); returns (start, node, depth) for every depth reached. */
  def recurse(start: DataFrame, edges: DataFrame, maxDepth: Int): DataFrame = {
    // persisted: every hop re-reads the edge set
    val e = edges.persist().alias("e")
    frontiers(start, maxDepth) { (f, _) =>
      f.alias("f").join(e, col("f.node") === col("e.src"))
        .select(col("f.start").as("start"), col("e.dst").as("node"))
    }.zipWithIndex
      .map { case (f, i) => f.withColumn("depth", lit(i + 1L)) }
      .reduce(_ unionByName _)
  }

  /** `Recursion` (exec/operators/recursion.rs:81): bounded traversal
    * `@{1..3}` over a next-order chain (each customer's orders by date form a
    * linked list — the time-series idiom of SURVEY §1.1). Oracle is a
    * recursive CTE. */
  // a closure: `@{1..3}` returns an array per start, not flat (start, node, depth) rows
  val recursionChain = Q("recursion_chain",
    """WITH RECURSIVE seq AS (
         SELECT o_custkey, o_orderkey,
                lead(o_orderkey) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS nxt,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders),
       edges AS (SELECT o_orderkey AS src, nxt AS dst FROM seq WHERE nxt IS NOT NULL),
       starts AS (SELECT o_orderkey AS start FROM seq WHERE rn = 1),
       walk AS (
         SELECT start, start AS node, CAST(0 AS BIGINT) AS depth FROM starts
         UNION ALL
         SELECT w.start, e.dst, w.depth + 1 FROM walk w
         JOIN edges e ON w.node = e.src WHERE w.depth < 3)
       SELECT start, node, depth FROM walk WHERE depth >= 1
       ORDER BY start, depth, node""") {
    (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      // persisted: edges AND starts derive from this window pipeline — the
      // sort shuffle runs once, not once per derived branch
      val seq = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
        .withColumn("rn", row_number().over(w))
        .persist()
      val edges = seq.filter(col("nxt").isNotNull)
        .select(col("o_orderkey").as("src"), col("nxt").as("dst"))
      val starts = seq.filter(col("rn") === 1)
        .select(col("o_orderkey").as("start"), col("o_orderkey").as("node"))
      recurse(starts, edges, maxDepth = 3)
        .select(col("start"), col("node"), col("depth"))
        .orderBy("start", "depth", "node")
  }

  val all: Seq[Q] = Seq(recursionChain)
}
