package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Numeric quality gates for the approximate operators (r16 item #1).
  *
  * The approximate rows (LSH/IVF/HNSW probes, MinHash/SimHash dedup, rand,
  * plan text) have no exact SQL twin, so their driver artifact used to record
  * only `no_oracle`. Each gate here turns the row into an ORACLE-CHECKED
  * statement of measured quality: the Spark side computes the metric against
  * an exact in-plan oracle (brute-force top-k, exact capped-shingle Jaccard)
  * and emits `(metric, threshold, pass)`; the DuckDB side pins the expected
  * constants. Thresholds are set from measured values at sf0.001/0.01/0.1
  * with margin (see GateProbe in test sources for the measurement harness):
  *
  *   - recall@10, vec 0:  lsh .60/.70/.90   ivf .60/.40/.60   hnsw 1/1/1
  *   - sim-ratio@10:      lsh .92/.98/1.0   ivf .93/.89/.91   hnsw 1/1/1
  *   - minhash pair recall/precision vs exact Jaccard: 1.0 at every SF
  *   - simhash recall(h≤6) .93/.92/.88; precision(h≤3→j≥.35) .78/.88/.36
  *
  * The LSH numbers are the r17 query-directed multi-probe (flip-cost budget,
  * ProbeFlips=11 — see Similarity.scala); the testdata embeddings are
  * unstructured (vec 0's exact top-10 cosines are noise-level ~0.3), the
  * worst case for LSH, so the measured recall floor costs a ~30-50% scanned
  * fraction here where a structured corpus would pay far less. */
object QualityGates {

  /** One (metric, threshold, pass) gate. `value` must be a column over the
    * single aggregated row it is applied to. */
  final case class Gate(metric: String, threshold: Double, value: Column)

  /** Collapse a set of gates over a ONE-ROW aggregate frame into ordered
    * (metric, threshold, pass) rows. A null metric fails its gate. */
  def rows(oneRow: DataFrame, gates: Seq[Gate]): DataFrame =
    oneRow.select(explode(array(gates.map { g =>
      struct(lit(g.metric).as("metric"),
        lit(g.threshold).as("threshold"),
        coalesce(g.value >= g.threshold, lit(false)).as("pass"))
    }: _*)).as("g"))
      .select(col("g.metric").as("metric"),
        col("g.threshold").as("threshold"), col("g.pass").as("pass"))
      .orderBy("metric")

  /** DuckDB twin: the pinned expectation — every gate passes. */
  def oracle(gates: Seq[(String, Double)]): String =
    gates.sortBy(_._1).map { case (m, t) =>
      s"SELECT '$m' AS metric, CAST($t AS DOUBLE) AS threshold, CAST(true AS BOOLEAN) AS pass"
    }.mkString("\n       UNION ALL ")

  /** Collect a ≤k-row top-k frame ONCE and return its (vec_id, cos_sim)
    * pairs. Each gate frame used to feed two consumers (the recall join and
    * the mean aggregate), so the exact brute-force subtree — the most
    * expensive part of every ANN gate row — evaluated TWICE per gate. Both
    * sides are bounded at k rows by construction, so a single driver-local
    * materialization is O(k) data (not a scale-killer collect: these stay
    * ≤k rows at any corpus size), removes the duplicate scan, and — unlike
    * persist() — shares nothing across bench reps. A side with a null
    * vec_id or cos_sim is None: the gates it feeds fail instead of throwing. */
  private def topk(df: DataFrame): Option[Array[(Long, Double)]] = {
    val rows = df.select(col("vec_id").cast("long"), col("cos_sim").cast("double")).collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
    else Some(rows.map(r => (r.getLong(0), r.getDouble(1))))
  }

  /** Join hits of two collected sides; null when either side is None. */
  private def hitsLit(ann: Option[Array[(Long, Double)]],
      exact: Option[Array[(Long, Double)]]): Column =
    (for (a <- ann; e <- exact) yield lit(joinHits(a, e))).getOrElse(lit(null).cast("long"))

  /** Multiset inner-join cardinality on vec_id — exactly the old
    * `ann.join(exact, "vec_id").count()`. */
  private def joinHits(ann: Array[(Long, Double)],
      exact: Array[(Long, Double)]): Long = {
    val exCounts = exact.groupBy(_._1).map { case (id, v) => (id, v.size.toLong) }
    ann.map(r => exCounts.getOrElse(r._1, 0L)).sum
  }

  /** `avg(cos_sim)` of a collected side (None on empty input, like avg).
    * The driver sums left-to-right where Spark's avg sums per partition
    * first; the gates only expose pass BOOLEANS against thresholds with
    * ≥0.01 margins, so a last-ULP difference cannot flip a row. */
  private def meanSim(rows: Array[(Long, Double)]): Option[Double] =
    if (rows.isEmpty) None else Some(rows.map(_._2).sum / rows.length)

  private def dlit(v: Option[Double]): Column =
    v.map(lit(_)).getOrElse(lit(null).cast("double"))

  /** ANN probe gates: set recall@k against the exact top-k, plus the mean
    * cosine ratio (ANN top-k vs exact top-k). Both frames carry
    * (vec_id, cos_sim); `exact` is the brute-force oracle plan — evaluated
    * once via [[topk]], not once per consumer. */
  def annGates(ann: DataFrame, exact: DataFrame, k: Int,
      recallThr: Double, ratioThr: Double): DataFrame = {
    val spark = ann.sparkSession
    val annR = topk(ann)
    val exR = topk(exact)
    val one = spark.range(1).select(
      hitsLit(annR, exR).as("hits"),
      dlit(annR.flatMap(meanSim)).as("ann_mean"),
      dlit(exR.flatMap(meanSim)).as("ex_mean"))
    rows(one, Seq(
      Gate(s"recall@$k vs exact brute top-$k", recallThr,
        col("hits").cast("double") / k),
      Gate(s"sim_ratio@$k vs exact brute top-$k", ratioThr,
        col("ann_mean") / col("ex_mean"))))
  }

  def annOracle(k: Int, recallThr: Double, ratioThr: Double): String =
    oracle(Seq(
      s"recall@$k vs exact brute top-$k" -> recallThr,
      s"sim_ratio@$k vs exact brute top-$k" -> ratioThr))

  /** ANN gates + the SCAN-FRACTION cost axis (r18): LSH recall is only
    * honest next to what it scanned. Emitted as headroom = 1 − fraction so
    * the shared (value ≥ threshold) gate direction holds; headroomThr 0.40
    * means "the probe admitted at most 60% of the index" — measured
    * admit fractions are .29/.45/.52 across SFs on the noise-level
    * testdata (the worst case; structured corpora admit far less). */
  def annGatesWithScan(ann: DataFrame, exact: DataFrame, scanFrac: DataFrame,
      k: Int, recallThr: Double, ratioThr: Double,
      headroomThr: Double): DataFrame = {
    val spark = ann.sparkSession
    val annR = topk(ann)
    val exR = topk(exact)
    // scanFrac is a one-row aggregate; collect it alongside the top-k sides
    val sf = scanFrac.select(col("scan_frac").cast("double")).collect()
      .headOption.collect { case r if !r.isNullAt(0) => r.getDouble(0) }
    val one = spark.range(1).select(
      hitsLit(annR, exR).as("hits"),
      dlit(annR.flatMap(meanSim)).as("ann_mean"),
      dlit(exR.flatMap(meanSim)).as("ex_mean"),
      dlit(sf).as("scan_frac"))
    rows(one, Seq(
      Gate(s"recall@$k vs exact brute top-$k", recallThr,
        col("hits").cast("double") / k),
      Gate(s"sim_ratio@$k vs exact brute top-$k", ratioThr,
        col("ann_mean") / col("ex_mean")),
      Gate(s"scan_headroom (1 - admitted fraction)", headroomThr,
        lit(1.0) - col("scan_frac"))))
  }

  def annOracleWithScan(k: Int, recallThr: Double, ratioThr: Double,
      headroomThr: Double): String =
    oracle(Seq(
      s"recall@$k vs exact brute top-$k" -> recallThr,
      s"sim_ratio@$k vs exact brute top-$k" -> ratioThr,
      s"scan_headroom (1 - admitted fraction)" -> headroomThr))
}
