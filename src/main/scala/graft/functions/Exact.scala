package graft.functions

/** The exact-integer HALF_UP 6-dp rate idiom, shared.
  *
  * Round 12 proved that `round(x, 6)` of a raw double quotient of two
  * exact integers can flip between engines near a 1e-6 midpoint:
  * Spark rounds through BigDecimal (which sees the exact binary value
  * of the quotient), DuckDB through an fp multiply + nearbyint — the
  * SAME double can round differently. When the quotient's inputs are
  * exact integers the fix is to never produce the double at all:
  *
  *   q = (2*num*1e6 + den) DIV (2*den)   — integer floor division
  *
  * is exactly round-half-up(num/den * 1e6) for num >= 0, den > 0; the
  * final /1e6 is a single exact-within-representation scaling both
  * engines perform identically. Each helper returns a SQL fragment
  * producing DOUBLE; `num`/`den` must be exact nonneg integer
  * expressions with den > 0 (guard a zero denominator at the call
  * site — DIV by zero is engine-divergent).
  *
  * Widening: [[rate6]] widens through DECIMAL(38,0) (the
  * Inequality/KsTest convention) so report-frame rates never saturate
  * at 100 TB counts; [[rate6L]] stays in BIGINT for per-row hot paths
  * where the inputs are doc-bounded (< ~4.6e12, i.e. any realistic
  * per-document quantity) and decimal arithmetic would tax codegen.
  * [[duck6]] is the DuckDB oracle mirror (HUGEINT). */
object Exact {

  /** Driver-side round to 6 decimals, HALF_UP on the double's decimal
    * form: the one spelling of the determinism spec's round(x, 6) for
    * values computed on the driver. */
  def d6(x: Double): BigDecimal = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  def r6(x: Double): Double = d6(x).toDouble

  /** An exact decimal rounded the same way. */
  def r6(x: BigDecimal): Double = x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def rate6(num: String, den: String): String =
    s"""CAST((2 * CAST(($num) AS DECIMAL(38,0)) * 1000000 + ($den))
       | DIV (2 * CAST(($den) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0"""
      .stripMargin.replace("\n", "")

  def rate6L(num: String, den: String): String =
    s"""CAST((2 * CAST(($num) AS BIGINT) * 1000000 + ($den))
       | DIV (2 * CAST(($den) AS BIGINT)) AS DOUBLE) / 1000000.0"""
      .stripMargin.replace("\n", "")

  /** Signed variant: ties away from zero (BigDecimal HALF_UP), exact
    * for any-sign num, den > 0 — the orders_mom_growth idiom. */
  def srate6(num: String, den: String): String =
    s"CASE WHEN ($num) >= 0 THEN ${rate6(num, den)} " +
      s"ELSE -(${rate6(s"-($num)", den)}) END"

  def sduck6(num: String, den: String): String =
    s"CASE WHEN ($num) >= 0 THEN ${duck6(num, den)} " +
      s"ELSE -(${duck6(s"-($num)", den)}) END"

  def duck6(num: String, den: String): String =
    s"""CAST((2 * CAST(($num) AS HUGEINT) * 1000000 + ($den))
       | // (2 * CAST(($den) AS HUGEINT)) AS DOUBLE) / 1000000.0"""
      .stripMargin.replace("\n", "")
}
