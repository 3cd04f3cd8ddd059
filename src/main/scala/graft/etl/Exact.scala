package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic aggregate rounding.
  *
  * `round(avg(x), 2)` is NOT portable between Spark and DuckDB for
  * money-valued columns: Spark rounds via BigDecimal HALF_UP on the
  * shortest decimal repr, DuckDB multiplies and std::round's, and the
  * two disagree whenever the average lands on an exact .005 boundary —
  * which 2-dp money inputs hit structurally (a group of 6 rows whose
  * cents sum to ≡3 mod 6 is already a boundary). On top of that,
  * float sums are summation-order dependent, and Spark's partial-
  * aggregate merge order varies run to run.
  *
  * Recipe used here instead:
  *   1. per row, recover the exact integer cents: floor(x*100 + 0.5)
  *      — x is within an ulp of a true 2-dp decimal, so this is exact
  *      and bit-identical in both engines;
  *   2. aggregate integers (Spark long sum, DuckDB hugeint sum —
  *      exact, order-independent);
  *   3. round the final scalar with floor(y + 0.5) — floor of
  *      identical doubles is identical, unlike round().
  *
  * Ratio columns (tip_rate etc.) are genuinely continuous; for those
  * a plain round(avg, 3–4) keeps a negligible (~1e-9/group) boundary
  * probability and stays readable.
  *
  * Every helper has a Spark Column form and a DuckDB SQL-fragment
  * form; they must stay in lock-step.
  */
object Exact {

  /** Exact integer cents of a 2-dp money double (LongType). */
  def cents(c: Column): Column = floor(c * 100 + lit(0.5))

  /** Half-up 2-dp average of a money column, deterministic. */
  def avgMoney(c: Column): Column =
    floor(sum(cents(c)) / count(lit(1)) + lit(0.5)) / 100.0

  /** Exact 2-dp sum of a money column. */
  def sumMoney(c: Column): Column = sum(cents(c)) / lit(100.0)

  /** Half-up 2-dp max of a money column. */
  def maxMoney(c: Column): Column = floor(max(c) * 100 + lit(0.5)) / 100.0

  /** Half-up 4-dp mean from exact cents (for describe()-style stats). */
  def mean4(c: Column): Column =
    floor(sum(cents(c)) / lit(100.0) / count(lit(1)) * 10000 + lit(0.5)) / 10000.0

  /** Sample stddev from exact integer-cents sums: deterministic
    * sqrt((ssq - s²/n) / (n-1)) / 100, half-up to 4 dp. The squared
    * sum is computed in DOUBLE on both engines (s ~ 6e11 cents at
    * sf0.1 would overflow a long when squared; at true 100 TB scale
    * this moves to DECIMAL(38,0) sums). Op order matches the SQL
    * fragment exactly — both engines run the same IEEE sequence.
    */
  def stddev4(c: Column): Column = {
    // cents² sums exceed Long at sf0.1 (1e14 × 6e5 rows ≈ 6e19) —
    // sum in DECIMAL(38,0): exact and order-independent, like
    // DuckDB's HUGEINT sum on the oracle side.
    val cd  = cents(c).cast("decimal(38,0)")
    val s   = sum(cd).cast("double")
    val ssq = sum(cd * cd).cast("double")
    val n   = count(lit(1)).cast("double")
    floor(sqrt((ssq - s * s / n) / (n - lit(1))) / 100.0 * 10000 + lit(0.5)) / 10000.0
  }

  /** Deterministic half-up 4-dp rounding of an already-identical
    * double: floor(x·10⁴ + 0.5)/10⁴. Unlike `round()`, floor of the
    * same IEEE double is the same in every engine (round() disagrees
    * on .00005 boundaries — Spark BigDecimal HALF_UP vs DuckDB).
    */
  def round4(c: Column): Column = floor(c * 10000 + lit(0.5)) / 10000.0

  // ---- DuckDB fragments -------------------------------------------
  def round4Sql(e: String): String = s"floor(($e) * 10000 + 0.5) / 10000.0"

  def centsSql(e: String): String = s"CAST(floor(($e) * 100 + 0.5) AS BIGINT)"

  // CAST AS DOUBLE: Spark SQL's floor(double) returns BIGINT and
  // bigint / 100.0 (a decimal literal) would yield DECIMAL — DuckDB's
  // floor stays DOUBLE. The cast pins both engines to double so the
  // same fragment can run through either parser (q19 does).
  def avgMoneySql(e: String): String =
    s"CAST(floor(SUM(${centsSql(e)}) / COUNT(*) + 0.5) AS DOUBLE) / 100.0"

  def sumMoneySql(e: String): String = s"SUM(${centsSql(e)}) / 100.0"

  def mean4Sql(e: String): String =
    s"floor(SUM(${centsSql(e)}) / 100.0 / COUNT(*) * 10000 + 0.5) / 10000.0"

  def stddev4Sql(e: String): String = {
    val s = s"CAST(SUM(${centsSql(e)}) AS DOUBLE)"
    val q = s"CAST(SUM(${centsSql(e)} * ${centsSql(e)}) AS DOUBLE)"
    val n = "CAST(COUNT(*) AS DOUBLE)"
    s"floor(sqrt(($q - $s * $s / $n) / ($n - 1)) / 100.0 * 10000 + 0.5) / 10000.0"
  }
}
