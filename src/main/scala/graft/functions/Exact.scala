package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-independent ("exact") numeric aggregation helpers.
  *
  * Spark sums doubles in partition order, which varies run to run; DuckDB (the
  * driver's oracle) sums in its own order. IEEE addition is not associative,
  * so a plain `sum(double)` hash-compares flakily. Routing the sum through a
  * fixed-scale decimal (scale 4: the scaled int128 stays < 2^53, so the final decimal->double cast is exact on both engines — DuckDB computes that cast in double arithmetic and drifts 1 ulp beyond 2^53) makes it exact and order-independent on BOTH engines;
  * the final cast back to double is then deterministic and bit-identical.
  *
  * The reference's aggregates (surrealdb: exec/function/builtin/aggregates/
  * math.rs) are single-node streaming folds so it never faces this; a
  * distributed engine must, and decimal partial aggregation is the standard
  * fix (it also survives AQE re-partitioning at 100 TB).
  */
object Exact {
  private val D = DecimalType(38, 4)

  // graft_round (Rust f64::round — deterministic, matches DuckDB round)
  private def scaled(c: Column): Column =
    Kernels.call("graft_round", c * lit(10000.0)).cast("long")

  /** Exact sum of a double column: identical result on any partitioning.
    *
    * Implementation: quantize each addend to 4 decimal places as a SCALED
    * LONG (`round(x·10⁴)`) and sum longs — a codegen'd primitive
    * aggregation, ~3× faster than the previous decimal(38,4) partial
    * aggregate (profiled round 11: 1.0 s → 0.73 s on the sf0.1 agg_group
    * including the scan), with the same per-addend quantization and the
    * same order-independence. Range contract: |Σ x·10⁴| must fit a long
    * (Σ|x| < 9.2 × 10¹⁴ — ~10⁹ rows averaging 10⁵, an order of magnitude
    * above the 100 TB fact columns this serves); ANSI mode makes overflow
    * a loud error, and [[dsumBig]] is the unbounded decimal fallback. */
  def dsum(c: Column): Column =
    sum(scaled(c)).cast("double") / lit(10000.0)

  /** Unbounded-range exact sum (decimal(38,4) partial aggregation) — for
    * callers whose scaled sum could exceed long range. */
  def dsumBig(c: Column): Column = sum(c.cast(D)).cast("double")

  /** Exact mean: exact scaled-long sum, then double divisions (the SQL twin
    * [[sqlAvg]] spells the SAME operation order, so results are
    * bit-identical across engines). */
  def davg(c: Column): Column =
    sum(scaled(c)).cast("double") / lit(10000.0) / count(lit(1))

  /** Exact sample variance via sum / sum-of-squares (both exact decimals):
    * var = (n*sumsq - sum^2) / (n*(n-1)), assembled in double at the end. */
  def dvarSamp(c: Column): Column = {
    val n  = count(lit(1)).cast("double")
    val s  = sum(c.cast(D)).cast("double")
    val s2 = sum((c * c).cast(D)).cast("double")
    (n * s2 - s * s) / (n * (n - lit(1.0)))
  }

  /** Exact sample stddev (sqrt is correctly rounded in IEEE — deterministic). */
  def dstddev(c: Column): Column = sqrt(dvarSamp(c))

  /** Matching DuckDB SQL fragments for the oracle side — the same scaled-
    * long formulation in the same operation order (DuckDB round is also
    * half-away-from-zero, so per-addend quantization is bit-identical). */
  def sqlSum(x: String): String =
    s"(CAST(SUM(CAST(round(($x) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0)"
  def sqlAvg(x: String): String =
    s"(CAST(SUM(CAST(round(($x) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 / COUNT(*))"
  def sqlVarSamp(x: String): String = {
    val n  = "CAST(COUNT(*) AS DOUBLE)"
    val s  = s"CAST(SUM(CAST(($x) AS DECIMAL(38,4))) AS DOUBLE)"
    val s2 = s"CAST(SUM(CAST((($x)*($x)) AS DECIMAL(38,4))) AS DOUBLE)"
    s"(($n * $s2 - $s * $s) / ($n * ($n - 1.0)))"
  }
  def sqlStddev(x: String): String = s"SQRT(${sqlVarSamp(x)})"
}
