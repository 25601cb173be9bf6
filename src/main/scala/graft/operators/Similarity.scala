package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.Kernels

/** Vector similarity search over an embedding column (Array[Float], dim 64).
  *
  * Reference cousins: `KnnTopK` brute-force (surrealdb:
  * exec/operators/knn_topk.rs:81 — min-heap of k by distance) and `KnnScan`
  * over the HNSW index (exec/operators/scan/knn.rs:37). A graph index like
  * HNSW doesn't distribute, so the Spark scale path is LSH bucketing
  * (random-hyperplane signatures → band-keyed equi-join), with brute-force
  * top-k as the exact baseline — per SURVEY §2.1 KnnScan mapping.
  *
  * All dot products run in double precision via codegen'd higher-order
  * functions (`zip_with` + in-order `aggregate` fold) — deterministic, no
  * UDFs, no data leaves the executors until the final top-k.
  *
  * Scale shape (100 TB): the similarity JOIN never goes all-pairs. Candidate
  * pairs come from an equi-join on (band, band_key) — a plain shuffle join on
  * a low-cardinality key — and only candidates pay the exact cosine rerank.
  * The hyperplanes are seeded constants, so the whole pipeline is
  * deterministic and the DuckDB oracle replays it exactly. */
object Similarity {

  /** In-order fold dot product of two float arrays, in double precision —
    * a native codegen'd kernel (graft.functions.DotF); bit-identical to the
    * `aggregate(zip_with(…))` HOF fold it replaced, but it stays inside
    * whole-stage codegen with no per-element lambda or zipped-array
    * allocation. */
  def dot(a: Column, b: Column): Column = Kernels.call("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Euclidean distance, same in-order double fold as [[dot]]. */
  def l2(a: Column, b: Column): Column = Kernels.call("graft_l2", a, b)

  /** Manhattan distance. */
  def l1(a: Column, b: Column): Column = Kernels.call("graft_l1", a, b)

  /** SQL twin of [[dot]]: same in-order double fold, for the DuckDB
    * oracle (1-based list indexing; range(1,65) = dims 1..64). */
  def sqlDot(x: String, y: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"

  /** SQL twin of [[cosine]], built on [[sqlDot]]. */
  def sqlCosine(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  /** `KnnTopK` brute-force: exact top-10 cosine neighbors of vec_id=0.
    * The 1-row query side is broadcast; scoring is an embarrassingly
    * parallel scan + TakeOrderedAndProject — the right plan at any scale.
    * This is the exact reference the ANN recall gates compare against
    * (the LSH and IVF gates below, [[Hnsw]], [[SurqlQueries]]). It is not a
    * registry row: the registry's `knn_brute` is the SurrealQL text in
    * [[SurqlQueries]], which uses this oracle. */
  val knnBrute = Q("knn_brute",
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, round(${sqlCosine("e.embedding", "q.qe")}, 6) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id LIMIT 10""") {
    (s, d) =>
      val emb = Tables.embeddings(s, d)
      // the query vector's norm is hoisted into the one-row broadcast —
      // same fold over the same values (bit-identical cosine), evaluated
      // once instead of once per scanned row
      val q = emb.filter(col("vec_id") === 0L)
        .select(col("embedding").as("qe"), norm(col("embedding")).as("qn"))
      emb.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(dot(col("embedding"), col("qe")) /
            (norm(col("embedding")) * col("qn")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
  }

  // --- seeded random-hyperplane LSH ------------------------------------

  private val NumPlanes   = 64
  /** 16-bit band keys: 65,536 buckets per band, so bucket population stays
    * ~n/65k and within-bucket candidate pairs stay near-linear as n grows —
    * the 100× scale path (8-bit keys capped at 256 buckets/band, making
    * within-bucket pairs O(n²/256)). */
  private val BitsPerBand = 16
  private val NumBands    = NumPlanes / BitsPerBand // 4 bands × 16 bits

  /** Deterministic ±1 random hyperplanes (seeded, no runtime randomness).
    * The first 16 rows double as the knn probe signature below. */
  private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NumPlanes, 64)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  private def planeCol(j: Int): Column =
    array(planes(j).map(lit).toIndexedSeq: _*)

  /** 8-bit band key `b`: sign bits of planes 8b..8b+7 packed into an int. */
  def bandKey(emb: Column, b: Int): Column =
    (0 until BitsPerBand).map { r =>
      when(dot(emb, planeCol(b * BitsPerBand + r)) > 0.0, lit(1 << r))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /** The same band key as a DuckDB expression (planes are compile-time
    * constants, so the oracle replays the exact pipeline). */
  private def sqlBandKey(e: String, b: Int): String =
    (0 until BitsPerBand).map { r =>
      val pl = planes(b * BitsPerBand + r)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      val dotS = s"list_sum(list_transform(range(1, 65), " +
        s"i -> CAST($e[i] AS DOUBLE) * ($pl)[i]))"
      s"(CASE WHEN $dotS > 0.0 THEN ${1 << r} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Embedding similarity join, the 100 TB path: LSH band-bucket candidate
    * generation (equi-join on (band, key) — no all-pairs stage) + exact
    * cosine rerank of candidates, top-20. Deterministic end-to-end, so the
    * DuckDB oracle computes the identical candidate set and ranking: a pair
    * is a candidate iff it agrees on ≥1 of the 8 8-bit band keys. */
  val embedTopPairs = Q("embed_top_pairs", {
    val ks = (0 until NumBands).map(b => s"${sqlBandKey("embedding", b)} AS k$b")
      .mkString(",\n                ")
    val anyBand = (0 until NumBands).map(b => s"a.k$b = b.k$b").mkString(" OR ")
    s"""WITH sigs AS (
          SELECT vec_id, embedding,
                $ks
          FROM embeddings),
        cand AS (
          SELECT a.vec_id AS a, b.vec_id AS b,
                 a.embedding AS ea, b.embedding AS eb
          FROM sigs a JOIN sigs b
            ON a.vec_id < b.vec_id AND ($anyBand))
        SELECT a, b, round(${sqlCosine("ea", "eb")}, 6) AS cos_sim
        FROM cand ORDER BY cos_sim DESC, a, b LIMIT 20"""
  }) {
    (s, d) =>
      val emb = Tables.embeddingsWide(s, d).select(col("vec_id"), col("embedding"))
      // one row per (vec, band): the banded signature table — at scale this
      // is the persisted ANN index, bucketed by (band, key). Norms ride
      // along so the rerank pays one dot fold per candidate pair.
      val banded = emb.select(
        col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
        explode(array((0 until NumBands).map(b =>
          struct(lit(b).as("band"), bandKey(col("embedding"), b).as("key"))): _*))
          .as("bd"))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("bd.band").as("band"), col("bd.key").as("key"))
        .persist() // both sides of the band self-join read this
      val l = banded.select(col("band"), col("key"),
        col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na"))
      val r = banded.select(col("band").as("band_r"), col("key").as("key_r"),
        col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb"))
      l.join(r, col("band") === col("band_r") && col("key") === col("key_r") &&
          col("a") < col("b"))
        .select(col("a"), col("b"), col("ea"), col("eb"), col("na"), col("nb"))
        .dropDuplicates("a", "b")
        .select(col("a"), col("b"),
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("a"), col("b"))
        .limit(20)
  }

  /** Rows in the exact verifier's sample — FIXED-COUNT, not a modulus: a
    * `vec_id % k` sample grows linearly with n and its all-pairs stage grows
    * n² (the round-6 scale-killer). `vec_id < 500` is the same 500-row cost
    * at sf0.1 and stays 500 rows (124,750 pairs) at 100 TB. */
  private val ExactSampleRows = 500

  /** Exact all-pairs verifier over a fixed-size sample (a `<` join
    * condition is a BroadcastNestedLoopJoin — O(n²); fine on a bounded
    * sample, never the production path). Keeps an exact-semantics oracle row
    * alive without the quadratic blowup. */
  val embedTopPairsExact = Q("embed_top_pairs_exact",
    s"""SELECT a.vec_id AS a, b.vec_id AS b,
               round(${sqlCosine("a.embedding", "b.embedding")}, 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < $ExactSampleRows AND b.vec_id < $ExactSampleRows
        ORDER BY cos_sim DESC, a, b LIMIT 20""") {
    (s, d) =>
      // norms are precomputed per ROW (500 folds) so each of the 124,750
      // pairs pays ONE dot fold, not three — dot/(na*nb) is the identical
      // float expression to cosine(), just with sqrt(dot(a,a)) hoisted
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < ExactSampleRows)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      val a = emb.select(col("vec_id").as("a"), col("embedding").as("ea"),
        col("nrm").as("na"))
      val b = emb.select(col("vec_id").as("b"), col("embedding").as("eb"),
        col("nrm").as("nb"))
      a.join(b, col("a") < col("b"))
        .select(col("a"), col("b"),
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("a"), col("b"))
        .limit(20)
  }

  /** 16-bit random-hyperplane probe signature (planes 0..15). */
  def lshSignature(emb: Column): Column =
    (0 until 16).map { j =>
      when(dot(emb, planeCol(j)) > 0.0, shiftleft(lit(1), j)).otherwise(0)
    }.reduce(_ + _)

  /** Persisted ANN signature index: (vec_id, embedding, sig) written ONCE
    * per corpus, PARTITIONED by the top-6-bit bucket of the probe signature
    * (64 directories — coarse buckets that stay O(1) in count while each
    * bucket's population scales with n). The Spark analog of the
    * reference's persisted vector index (idx/ HNSW): probes prune to the
    * Hamming-ball buckets at the directory level and apply the full 16-bit
    * signature as an in-partition residual filter. */
  private val annIndexes = scala.collection.concurrent.TrieMap[String, String]()
  /** Force the persisted ANN index build (bench attributes it separately). */
  def warmIndex(s: SparkSession, d: String): Unit = annIndexPath(s, d)
  private def annIndexPath(s: SparkSession, d: String): String =
    annIndexes.getOrElseUpdate(d,
      graft.CacheDir.ensure(graft.CacheDir.path("ann-v1", d)) { path =>
        Tables.embeddingsWide(s, d)
          .withColumn("sig", lshSignature(col("embedding")))
          .withColumn("bucket", shiftright(col("sig"), 10))
          .select(col("vec_id"), col("embedding"), col("sig"), col("bucket"))
          .repartition(col("bucket")) // one writer per bucket → 64 files, not tasks×64
          .write.mode("overwrite").partitionBy("bucket").parquet(path)
      })

  // --- query-directed multi-probe (Lv et al., VLDB 2007) ----------------

  /** Normalized per-plane margins of a query vector: |q·p_j| / (‖q‖·‖p_j‖)
    * for the 16 probe planes — how confidently the query sits on its side
    * of plane j. A true neighbor's signature flips LOW-margin bits first
    * (the geometric fact behind query-directed multi-probe LSH): a point at
    * angle θ from q flips bit j with probability θ-ish only when q's own
    * projection onto p_j is small. Flat Hamming bounds ignore this and pay
    * recall for it on noise-level corpora. */
  private def probeMargins(qvec: Seq[Double]): Array[Double] = {
    val qn = math.sqrt(qvec.map(v => v * v).sum)
    val pn = math.sqrt(64.0) // ±1 planes, dim 64
    (0 until 16).map { j =>
      math.abs(planes(j).zip(qvec).map { case (p, v) => p * v }.sum) / (qn * pn)
    }.toArray
  }

  /** Admission budget = summed cost of the query's `ProbeFlips` least-
    * confident bits: a candidate is admitted iff the margins of its flipped
    * signature bits fit the budget. Flipping many cheap bits is allowed
    * (likely for true neighbors); flipping one expensive bit can blow the
    * whole budget (only far-away points flip confident bits). Query-
    * adaptive by construction — a query near many planes probes wider.
    *
    * Budget choice (measured, GateProbe sweep at sf0.001/0.01/0.1): flips=11
    * gives recall@10 = .60/.70/.90 and sim-ratio .92/.98/1.00 at scan
    * fraction .45/.29/.52 on the testdata embeddings — which are NOISE-level
    * (vec 0's true top-10 cosines ≈ 0.3, i.e. near-random angles), the
    * worst case for any LSH: high recall inherently costs a large scanned
    * fraction because neighbors flip ~6.4/16 signature bits. On a corpus
    * with real structure (top-k cosines ≥ .7) the same budget admits a far
    * smaller fraction, since true neighbors flip only low-margin bits. */
  private val ProbeFlips = 11
  private[operators] def probeBudget(m: Array[Double], flips: Int = ProbeFlips): Double =
    m.sorted.take(flips).sum

  private def probeSig(qvec: Seq[Double]): Int =
    (0 until 16).map { j =>
      // same in-order fold as the Column-side dot — sign decisions agree
      val dp = planes(j).zip(qvec).map { case (p, v) => p * v }.sum
      if (dp > 0.0) 1 << j else 0
    }.sum

  /** `<|k|>` index-backed multi-probe ANN for a LITERAL query vector (the
    * SparkPlanner KnnScan lowering, exec/operators/scan/knn.rs:37). All
    * probe math (signature, margins, budget, bucket set) computes driver-
    * side from the constant vector — no data touched; bucket directories
    * whose flip cost over sig bits 10..15 fits the budget are partition-
    * pruned in, survivors pass the codegen'd weighted-flip-cost residual
    * filter and an exact cosine rerank, top-k. Returns (vec_id, cos_sim).
    *
    * Scale shape: the scan fraction is the budget-admitted bucket share —
    * query-adaptive but bounded by ProbeFlips; the residual filter and the
    * rerank are per-row codegen'd expressions, no shuffle before top-k. */
  def annProbe(s: SparkSession, d: String, qvec: Seq[Double], k: Int,
      notId: Option[Long] = None, flips: Int = ProbeFlips): DataFrame = {
    val path = annIndexPath(s, d)
    val qsig = probeSig(qvec)
    val m = probeMargins(qvec)
    val budget = probeBudget(m, flips)
    // directory pruning: bucket admitted iff its bits-10..15 flips fit
    val buckets = (0 until 64).filter { b =>
      val x = b ^ (qsig >> 10)
      (0 until 6).map(r => if (((x >> r) & 1) == 1) m(10 + r) else 0.0).sum <= budget
    }
    // weighted flip cost over all 16 signature bits, margins as literals
    val flipCost = (0 until 16).map { j =>
      when((col("sig").bitwiseXOR(lit(qsig)).bitwiseAND(lit(1 << j))) =!= 0,
        lit(m(j))).otherwise(lit(0.0))
    }.reduce(_ + _)
    val qe = array(qvec.map(lit): _*)
    val base = s.read.parquet(path)
      .filter(col("bucket").isin(buckets: _*)) // directory-level pruning
      .filter(flipCost <= lit(budget))
    notId.fold(base)(id => base.filter(col("vec_id") =!= id))
      .select(col("vec_id"),
        round(cosine(col("embedding"), qe), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Fraction of the index the probe ADMITS (bucket pruning + flip-cost
    * filter) — the honest cost axis of multi-probe LSH, emitted as a gate
    * row beside recall/ratio (r18). One aggregate over the index. */
  def annScanFraction(s: SparkSession, d: String, qvec: Seq[Double],
      flips: Int = ProbeFlips): DataFrame = {
    val path = annIndexPath(s, d)
    val qsig = probeSig(qvec)
    val m = probeMargins(qvec)
    val budget = probeBudget(m, flips)
    val buckets = (0 until 64).filter { b =>
      val x = b ^ (qsig >> 10)
      (0 until 6).map(r => if (((x >> r) & 1) == 1) m(10 + r) else 0.0).sum <= budget
    }
    val flipCost = (0 until 16).map { j =>
      when((col("sig").bitwiseXOR(lit(qsig)).bitwiseAND(lit(1 << j))) =!= 0,
        lit(m(j))).otherwise(lit(0.0))
    }.reduce(_ + _)
    s.read.parquet(path).agg(
      (count(when(col("bucket").isin(buckets: _*) && flipCost <= lit(budget),
        lit(1))).cast("double") / count(lit(1))).as("scan_frac"))
  }

  /** Memoized fixture probe: the embedding of `vecId` as doubles — the
    * 1-row point read every KNN entry renders into its statement or probe
    * (index-metadata traffic, deterministic per corpus). Memoized like
    * SurqlQueries.shortestProbes, so bench reps and repeated verifies pay
    * the point-read job once instead of once per invocation; reads the
    * NARROW table (a point probe has no reason to pay documentsWide-style
    * repartitioning). */
  private val qvecCache =
    scala.collection.concurrent.TrieMap[(String, Long), Seq[Double]]()
  /** Bench rep-boundary honesty hook (r20 verdict item #6): clearing the
    * memo makes every bench rep re-pay the fixture point-read, so the
    * recorded medians measure per-invocation cost rather than a warm
    * fixture. Repeated verifies within a session still share the memo. */
  def resetQvecCache(): Unit = qvecCache.clear()
  def queryVec(s: SparkSession, d: String, vecId: Long): Seq[Double] =
    qvecCache.getOrElseUpdate((d, vecId),
      Tables.embeddings(s, d).filter(col("vec_id") === vecId)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq)

  /** `KnnScan` ANN analog over the persisted index: multi-probe around
    * vec 0's own signature (its embedding is a 64-float point read — index
    * metadata scale traffic, not a data scan). */
  def annLshTop10(s: SparkSession, d: String): DataFrame =
    annProbe(s, d, queryVec(s, d, 0L), 10, notId = Some(0L))

  /** LSH probe quality gate: recall@10 + mean-cosine ratio vs the exact
    * brute top-10, PLUS the scanned-fraction cost axis, oracle-pinned.
    * r20 FINAL ratchet — gates are now CONVERGED at the measured floors
    * minus a noise margin and should not move again: floors held for three
    * consecutive rounds at recall .60 / ratio .924 / headroom .485
    * (admit ≤ .515) → gates .59 / .90 / .47, i.e. margins of 0.01 recall,
    * 0.024 ratio, and 0.015 headroom. A trip now means a real quality or
    * cost regression, not measurement noise. */
  val knnAnnLsh = Q("knn_ann_lsh",
    QualityGates.annOracleWithScan(10, 0.59, 0.90, 0.47)) {
    (s, d) =>
      val qvec = queryVec(s, d, 0L)
      QualityGates.annGatesWithScan(
        annProbe(s, d, qvec, 10, notId = Some(0L)), knnBrute.fn(s, d),
        annScanFraction(s, d, qvec), 10, 0.59, 0.90, 0.47)
  }

  // --- IVF (inverted-file) ANN index ------------------------------------

  /** Squared L2, same in-order double fold as [[dot]] — the codegen'd
    * kernel (graft.functions.L2SqF), bit-identical to the HOF fold it
    * replaced; the IVF cell assignment evaluates it once per (row ×
    * centroid), so the per-element interpreted lambda was the build's
    * hottest inner loop. */
  private def l2sq(a: Column, b: Column): Column = Kernels.call("graft_l2sq", a, b)

  private val IvfK = 32      // centroid count (cells)
  private val IvfProbe = 8   // cells scanned per query

  /** Nearest-centroid id for a row: distances to the K centroids via ONE
    * 2-D literal (a single Literal node instead of the old K×dim=2048-leaf
    * expression tree, which dominated the build's driver-side
    * analysis/codegen time), argmin = first position of the min distance.
    * Deterministic ties: `array_position` returns the FIRST minimal index
    * = the lowest cid, exactly the old struct-ordering tie-break; both
    * call sites construct cents with consecutive cids 0..K-1 (zipWithIndex
    * / sortBy), so position-1 IS the cid. */
  private def assignCid(emb: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    // ascending cids make "first minimal position" equal the old
    // struct-ordering tie-break (min distance, then min cid); a cid GAP is
    // legal (a Lloyd cell can end up empty), so positions map to cids
    // through a second literal rather than assuming consecutiveness
    require(cents.map(_._1) == cents.map(_._1).sorted,
      "assignCid expects cids in ascending order")
    val mat = typedlit(cents.map(_._2))
    val cids = typedlit(cents.map(_._1))
    val dists = transform(mat, c => l2sq(emb, c))
    element_at(cids, array_position(dists, array_min(dists)).cast("int"))
  }

  /** Persisted IVF index: embeddings PARTITIONED by nearest-centroid cell
    * (the scale path SURVEY §"Similarity search" names alongside LSH).
    * Build = deterministic seed sample (K lowest xxhash64(vec_id)) + one
    * distributed Lloyd iteration (assign → per-cell mean); only the K×dim
    * centroid MATRIX ever reaches the driver — index metadata, the same
    * role the centroid table plays in any IVF build. Probe prunes to the
    * `IvfProbe` nearest cells at the DIRECTORY level, so a query scans
    * ~IvfProbe/IvfK of the corpus regardless of n. */
  private val ivfIndexes = scala.collection.concurrent.TrieMap[String, (String, Seq[(Int, Seq[Double])])]()
  /** Force the IVF build (bench attributes it to index_build). */
  def warmIvf(s: SparkSession, d: String): Unit = ivfIndex(s, d)
  private def ivfIndex(s: SparkSession, d: String): (String, Seq[(Int, Seq[Double])]) =
    ivfIndexes.getOrElseUpdate(d, {
      val path = graft.CacheDir.ensure(graft.CacheDir.path("ivf-v1", d)) { p =>
        val emb = Tables.embeddingsWide(s, d).select(col("vec_id"), col("embedding"))
        // deterministic seeds: the K rows with the lowest hashed ids
        val seeds = emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(IvfK)
          .orderBy("vec_id").collect()
          .zipWithIndex.map { case (r, i) =>
            (i, r.getSeq[Float](1).map(_.toDouble).toSeq)
          }.toSeq
        // one Lloyd iteration: per-cell elementwise mean via dim explode —
        // K×dim rows of metadata come back, never the data itself
        val refined = emb
          .withColumn("cid", assignCid(col("embedding"), seeds))
          .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("cid", "pos").agg(avg(col("v").cast("double")).as("m"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (cid, rows) =>
            (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
          }.toSeq.sortBy(_._1)
        emb.withColumn("cid", assignCid(col("embedding"), refined))
          .repartition(col("cid")) // one writer per cell → K files, not tasks×K
          .write.mode("overwrite").partitionBy("cid").parquet(p)
        // centroid matrix rides along as a sidecar so a later JVM reuses
        // the index without recomputing the metadata
        graft.CacheDir.writeSidecar(p, "centroids.tsv",
          refined.map { case (cid, vs) =>
            s"$cid\t${vs.mkString(",")}"
          }.mkString("\n"))
      }
      val refined = graft.CacheDir.readSidecar(path, "centroids.tsv")
        .linesIterator.filter(_.nonEmpty).map { line =>
          val Array(cid, vs) = line.split("\t", 2)
          (cid.toInt, vs.split(",").map(_.toDouble).toSeq)
        }.toSeq.sortBy(_._1)
      (path, refined)
    })

  /** IVF probe: the query's `IvfProbe` nearest cells are chosen driver-side
    * against the centroid matrix, pruned at the directory level, and only
    * those cells pay the exact cosine rerank. Approximate by design (a true
    * neighbor assigned to an unprobed cell is missed). */
  def annIvfTop10(s: SparkSession, d: String): DataFrame = {
    val (path, cents) = ivfIndex(s, d)
    val qvec = queryVec(s, d, 0L)
    val probeCids = cents
      .map { case (cid, cv) =>
        (cid, cv.zip(qvec).map { case (c, q) => val dd = c - q; dd * dd }.sum)
      }
      .sortBy { case (cid, dist) => (dist, cid) }
      .take(IvfProbe).map(_._1)
    val qe = array(qvec.map(lit): _*)
    s.read.parquet(path)
      .filter(col("cid").isin(probeCids: _*)) // directory-level pruning
      .filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        round(cosine(col("embedding"), qe), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF probe quality gate: recall@10 + mean-cosine ratio vs exact brute,
    * oracle-pinned ([[QualityGates]] header records the measured values). */
  val knnAnnIvf = Q("knn_ann_ivf", QualityGates.annOracle(10, 0.30, 0.85)) {
    (s, d) =>
      QualityGates.annGates(annIvfTop10(s, d), knnBrute.fn(s, d), 10, 0.30, 0.85)
  }

  val all: Seq[Q] = Seq(embedTopPairs, embedTopPairsExact, knnAnnLsh, knnAnnIvf)
}
