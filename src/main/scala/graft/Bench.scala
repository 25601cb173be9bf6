package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, xxhash64}
object Bench {

  /** The data-dominated subset — the rows whose cost actually scales with
    * the corpus rather than with per-query fixed overhead (job launch,
    * codegen) at sf0.1. `SPARK_GRAFT_BENCH_ONLY=heavy` expands to this set
    * so scaling runs (8 vs 32 cores) measure data parallelism, not the
    * ~0.10–0.15 s/row launch floor that dominates the 140+ sub-second rows. */
  val HeavySubset: Set[String] = Set(
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_clusters", "dedup_embed_clusters",
    "knn_brute", "knn_noindex", "knn_ann_lsh", "knn_ann_ivf", "knn_ann_hnsw",
    "knn_ann_from_text", "knn_ann_filtered", "embed_top_pairs",
    "fulltext_bm25", "fulltext_stemmed", "fulltext_all_terms",
    "recursion_chain", "recursion_shortest", "recursion_surql",
    "multimodal_frames", "multimodal_jpeg", "multimodal_resize",
    "graph_chain", "graph_two_hop", "subquery_parent",
    "mat_view_incremental", "surql_golden")

  /** The shared persisted index builds (FTS postings, shingle table, ANN
    * signature buckets, …), by name. Each is built once per corpus; the
    * bench and [[PlanDump]] run them before any query. */
  def indexWarms(spark: SparkSession, sfDir: String): Seq[(String, () => Any)] = Seq(
    ("fts", () => graft.operators.FullText.index(spark, sfDir)),
    ("fts_stem", () => graft.operators.FullText.stemmedIndex(spark, sfDir)),
    ("shingles", () => graft.operators.Dedup.shingleTable(spark, sfDir)),
    ("ann", () => graft.operators.Similarity.warmIndex(spark, sfDir)),
    ("ivf", () => graft.operators.Similarity.warmIvf(spark, sfDir)),
    ("hnsw", () => graft.operators.Hnsw.warm(spark, sfDir)),
    ("edges", () => graft.operators.GraphOps.warmEdges(spark, sfDir)),
    ("counts", () => graft.operators.CountIndex.warm(spark, sfDir)),
    ("buckets", () => graft.operators.Buckets.warm(spark, sfDir)),
    ("sources", () => graft.sources.Sources.warm(spark, sfDir)))

  /** One bench row: name, median seconds, the name again if any rep
    * failed, and every rep's seconds. */
  type Row = (String, Double, Option[String], Seq[Double])

  private def medians(rows: Seq[Row]): String =
    rows.map { case (k, v, _, _) => s"\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")

  private def failedNames(rows: Seq[Row]): String =
    rows.flatMap(_._3).map("\"" + _ + "\"").mkString("[", ",", "]")

  /** What the bench prints to stdout. First the compact record: every
    * row's median to 3 decimals, and the failed rows by name (~4 KB, too
    * long for a reader that keeps only the last 2,000 characters). Then,
    * LAST, a short line that such a reader still parses whole: the total,
    * the row count, the failure count and the five slowest rows. */
  def stdoutLines(results: Seq[Row], sfDir: String): Seq[String] = {
    val total = f"${results.map(_._2).sum}%.3f"
    Seq(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${medians(results)},"failed":${failedNames(results)},"sf":"$sfDir"}""",
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":${results.count(_._3.isDefined)},"slowest":${medians(results.sortBy(-_._2).take(5))}}""")
  }

  /** The full record, with every rep of every row. */
  def fullRecord(results: Seq[Row], sfDir: String): String = {
    val reps = results.map { case (k, _, _, raw) =>
      s"\"" + k + "\":" + raw.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${results.map(_._2).sum},"unit":"sec","queries":${medians(results)},"reps":$reps,"failed":${failedNames(results)},"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus())
    // JIT/codegen/classloader + FS-cache warmup: without it the first timed
    // query is billed several seconds of one-time JVM setup, making totals
    // depend on map iteration order instead of query cost.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())
    // Shared persisted indexes (FTS postings, shingle table, ANN signature
    // buckets) are built ONCE per corpus — at 100 TB these are offline index
    // jobs, not query cost. Build them here and bill the wall-time to a
    // dedicated "index_build" line so each query's number is steady-state
    // (the reference likewise separates index build from query latency).
    val tIdx = System.nanoTime()
    val warms = indexWarms(spark, sfDir)
    // The ten builds are INDEPENDENT index jobs (distinct CacheDir keys, no
    // shared state beyond the session) — run them from a small thread pool so
    // each job's straggler tail back-fills with the next build's tasks
    // (optimization guide §2.6: overlap independent jobs; Spark schedules
    // concurrent jobs FIFO, which is exactly the back-fill behavior wanted).
    // Cold-cache wall measured on this box (OPTIMIZATION_r20.md §1):
    // 41.4 s sequential → 12.5 s at pool 6 → 9.5 s at full width (pool size
    // = warm count by construction: every build starts at once and the wall
    // collapses to the slowest single build; the per-build cost is mostly
    // driver-side planning + small jobs, so they don't fight for executor
    // cores; measured safe at SPARK_GRAFT_CPUS=8: 8.2 s).
    val warmPool = java.util.concurrent.Executors.newFixedThreadPool(warms.size)
    implicit val warmEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(warmPool)
    val warmFutures = warms.map { case (name, f) =>
      scala.concurrent.Future {
        val t0 = System.nanoTime()
        f()
        // per-warm attribution to stderr (stdout stays machine-readable);
        // concurrent builds overlap, so these sum to MORE than the wall
        // time billed to index_build.
        System.err.println(
          f"[bench] warm $name%-8s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    // a failed warm must not leave the non-daemon pool threads holding the
    // JVM open — always shut the pool down, then rethrow
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(warmFutures),
      scala.concurrent.duration.Duration.Inf)
    finally warmPool.shutdown()
    val idxS = (System.nanoTime() - tIdx) / 1e9
    val idxBuild: Row = ("index_build", idxS, None, Seq(idxS))
    // local-iteration filter (mirrors Verify's SPARK_GRAFT_ONLY); the
    // literal value "heavy" expands to the documented data-dominated subset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map {
      case "heavy" => HeavySubset
      case list    => list.split(",").toSet
    }
    // The exact-Jaccard ground truth every dedup gate verifies against is a
    // once-per-session cost (~7 s cold) that used to hide inside the first
    // dedup rep while medians excluded it. Bill it as its own labeled line —
    // like index_build — so the cost is visible in the artifact instead of
    // invisible in rep-1 spikes. Skipped (and the line omitted) when an
    // ONLY filter selects no dedup row: the gate queries themselves are
    // unchanged and still verify against the same tables.
    val gtLines: Seq[Row] =
      if (only.forall(_.exists(_.startsWith("dedup")))) {
        val tGt = System.nanoTime()
        graft.operators.Dedup.warmGroundTruth(spark, sfDir)
        val w = (System.nanoTime() - tGt) / 1e9
        Seq(("dedup_groundtruth", w, None, Seq(w)))
      } else Seq.empty
    // Single-run timings proved indistinguishable from sandbox noise (a
    // 4× swing on untouched code between rounds): run each query REPS times
    // and report the per-query MEDIAN, which survives one bad GC pause or
    // page-cache miss. The full per-rep series is persisted to
    // BENCH_LOCAL_FULL.json, so a recorded median inflated by co-tenant
    // contention is visible as spread in the artifact rather than reading
    // as a regression.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val results = (idxBuild +: gtLines) ++ SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1).map { case (name, fn) =>
      // Consume EVERY output column via a hash-reduce — a bare count() would
      // let Catalyst dead-code the projection work and time only the scan.
      // bit_xor, not sum: a Long sum of hashes overflows under ANSI mode.
      def once(): Either[String, Double] =
        try {
          // per-invocation honesty: the memoized fixture query-vector probe
          // must be re-paid by every rep, or reps 2+ measure a warm fixture
          val t0 = System.nanoTime()
          graft.operators.Similarity.resetQvecCache()
          val out = fn(spark, sfDir)
          out.select(xxhash64(out.columns.map(col).toIndexedSeq: _*).as("h"))
            .agg(expr("bit_xor(h)")).collect()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          Left(name)
        }
      val runs = (1 to reps).map(_ => once())
      val failure = runs.collectFirst { case Left(n) => n }
      val raw = runs.collect { case Right(t) => t }
      val times = raw.sorted
      val median = if (times.isEmpty) 0.0 else times(times.size / 2)
      (name, median, failure, raw)
    }
    // a query that died mid-run must not post a plausible wall-time and keep
    // the bench green — failures are first-class in the emitted record.
    // The full per-rep series lives in BENCH_LOCAL_FULL.json; stdout keeps
    // the compact record and ends with the short line (see stdoutLines).
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LOCAL_FULL.json"),
      (fullRecord(results, sfDir) + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write BENCH_LOCAL_FULL.json: $e") }
    stdoutLines(results, sfDir).foreach(println)
    spark.stop()
    if (results.exists(_._3.isDefined)) sys.exit(1)
  }
}
