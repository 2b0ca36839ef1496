package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism helpers for cross-engine (Spark vs DuckDB oracle)
  * bit-exact aggregation.
  *
  * Raw double sums/averages are summation-order-dependent: Spark's
  * partial/final aggregation merges partials in arrival order, so even
  * two Spark runs can differ in the last ulps — and a single-threaded
  * DuckDB run certainly will. Decimal sums are exact and
  * order-independent, so every oracle-checked aggregate over doubles
  * goes through a decimal cast at a fixed scale. At 100 TB this also
  * protects against silent precision collapse in long sums
  * (catastrophic cancellation is impossible in fixed-point).
  */
object Exact {

  /** Order-independent sum: exact decimal accumulation, result as
    * double (decimal→double conversion is correctly rounded in both
    * engines while |sum·10^scale| < 2^53·…; scale 4 + 18 digits covers
    * 100 TB-scale partial sums when the final reduce is decimal too). */
  def exactSum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(38, scale))).cast("double")

  /** Order-independent average: exact decimal sum / non-null count,
    * both sides cast to double before dividing so Spark and the oracle
    * perform the identical IEEE-754 division. */
  def exactAvg(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(38, scale))).cast("double") / count(c).cast("double")

  /** floor(log2(den/num)) for DECIMAL(38,0) rationals with num ≤ den,
    * clipped at 62 bits — exact at any scale, dodging TWO engine
    * traps: Spark's `div` on decimals silently WRAPS when the
    * quotient exceeds int64 (measured: 10^22 div 7 returns a negative
    * long), and `bin()` only takes BIGINT. The branch keeps every
    * quotient it actually computes in range: `den div 2^62` is small
    * by construction (den < 10^38 ⇒ quotient < 10^20/4.6 … < 2^63? —
    * no: 10^38/2^62 ≈ 2.2·10^19 > int64!  Callers therefore bound
    * den < 2^62·2^63 ≈ 4.2·10^37, i.e. den ≤ DECIMAL(37,0) magnitude —
    * asserted nowhere cheaper than here in doc form; every caller in
    * this repo derives den from count products bounded well below
    * 10^31). If floor(den/2^62) ≥ num the true quotient is ≥ 2^62 →
    * report the 62-bit clip (a transition this improbable is "62+
    * bits" for any downstream filter; stated, deterministic in both
    * engines); otherwise den < num·2^62 so `den div num` fits and is
    * exact. DuckDB twin: `length(bin(CAST(LEAST(den // num,
    * CAST(4611686018427387904 AS HUGEINT)) AS BIGINT))) - 1` —
    * HUGEINT needs no branch; both sides compute
    * min(floor(den/num), 2^62) and identical bit lengths. */
  def quotientBits(numName: String, denName: String): Column = {
    val cap = "CAST(4611686018427387904 AS DECIMAL(38,0))" // 2^62
    val num = s"CAST($numName AS DECIMAL(38,0))"
    val den = s"CAST($denName AS DECIMAL(38,0))"
    expr(s"CAST(length(bin(CASE " +
      s"WHEN CAST(($den div $cap) AS DECIMAL(38,0)) >= $num " +
      s"THEN 4611686018427387904L " +
      s"ELSE $den div $num END)) - 1 AS BIGINT)")
  }
}
