package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.MiscQueries
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] names one operator from SURVEY.md §2 (or one of
  * the training-data-pipeline extensions) and, where SQL-expressible, pairs
  * with a DuckDB oracle in [[oracleSql]]. Column names and types are aligned
  * between both sides; see graft.functions.Exact for how float aggregates are
  * kept order-independent. */
object SparkEntry {

  /** One list, one row per name. Most rows are SurrealQL text run through
    * the parser and SparkPlanner ([[SurqlQueries]]), so the oracle gate
    * checks parse → plan → execute end to end; that includes the mutation,
    * RELATE and SHOW CHANGES rows. The DataFrame closures in the other
    * objects cover operators that have no SurrealQL twin: streams and live
    * queries, ANN and dedup gates, multimodal, sources and sinks, and the
    * golden corpus. Two closures have a SurrealQL surface that cannot
    * return their exact rows, and each names what is missing:
    * `geo_distance` ([[MiscQueries]]) and `recursion_chain` ([[GraphOps]]).
    * A name may appear only once: [[queries]] builds a map, where a later
    * duplicate would silently replace an earlier one. */
  private val registry: Seq[Q] =
    Relational.all ++ GraphOps.all ++ MiscQueries.all ++
      graft.streaming.Live.all ++
      TextOps.all ++ Dedup.all ++ Similarity.all ++ Hnsw.all ++
      FullText.all ++ Multimodal.all ++ Buckets.all ++ graft.sources.Sources.all ++
      SurqlQueries.all ++ GoldenQueries.all

  locally {
    val dups = registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"registry names must be distinct; duplicated: ${dups.toSeq.sorted.mkString(", ")}")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape: scan → filter → groupBy agg → sort. */
  def entry(spark: SparkSession): DataFrame =
    SurqlQueries.aggGroup.fn(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for the approximate operators
    * (MinHash/SimHash/LSH) → driver records a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
