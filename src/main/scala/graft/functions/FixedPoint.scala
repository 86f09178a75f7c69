package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/** Exact integer fixed-point arithmetic, rendered as SQL text once per
  * engine.
  *
  * The reference's money and measure columns are exact DECIMALs; graft
  * carries them as scaled integers (cents, e6 ratios), and every query
  * renders each division, portable log or exit to floating point through
  * this kernel — into Spark SQL for the query and DuckDB SQL for its
  * oracle, so both engines compute the same integers. The two [[Dialect]]s
  * differ only where the engines do:
  *
  *  - the wide exact integer: Spark `DECIMAL(38,0)`, DuckDB `HUGEINT`;
  *  - the exact quotient: Spark divides the exact multiple `n - n % d`
  *    (its `div` yields BIGINT and wraps past 2^63), DuckDB uses `//`
  *    (its `/` is floating point);
  *  - the double cast: DuckDB goes through VARCHAR, whose parse is
  *    correctly rounded where its direct DECIMAL cast is not;
  *  - `log2e6`: [[Text.log2e6SparkSql]] and [[Text.log2e6DuckSql]].
  *
  * Every division truncates toward zero for any sign of either operand.
  * Operands are cast to the wide type first, so the quotient is exact for
  * any integer input. A zero denominator, or a quotient outside the named
  * result type, gives NULL in both engines rather than an error; Spark's
  * decimal division keeps six fraction digits, so its `truncDiv` is NULL
  * past 10^32 in magnitude.
  */
object FixedPoint {

  sealed abstract class Dialect(protected val wide: String) {

    /** The exact quotient `n / d` truncated toward zero, in [[wide]]. */
    protected def quotient(n: String, d: String): String

    /** `n / d` truncated toward zero: `DECIMAL(38,0)` / `HUGEINT`. */
    def truncDiv(n: String, d: String): String =
      s"TRY_CAST(${quotient(n, d)} AS $wide)"

    /** `n / d` truncated toward zero: `BIGINT`. */
    def truncDivLong(n: String, d: String): String =
      s"TRY_CAST(${quotient(n, d)} AS BIGINT)"

    /** An exact integer as `DOUBLE` (the one rounding step). */
    def asDouble(x: String): String

    /** log2(x)·10⁶ as `BIGINT`, the same integer in both engines; see
      * [[Text.log2e6SparkSql]] for the contract on `x`.
      */
    def log2e6(x: String): String

    /** A typed wide-integer literal for a value computed on the Spark driver.
      * Only a scale-0 `java.math.BigDecimal` (an exact integer, written
      * digit for digit) or `null` is accepted; anything else — a
      * fractional decimal, a `Double` — throws rather than splice a
      * rounded or locale-formatted number into SQL.
      */
    def literal(v: Any): String = v match {
      case null => s"CAST(NULL AS $wide)"
      case b: java.math.BigDecimal if b.scale == 0 =>
        s"CAST(${b.toBigInteger} AS $wide)"
      case other => throw new IllegalArgumentException(
        s"fixed-point literal must be a scale-0 BigDecimal or null: $other")
    }
  }

  object Spark extends Dialect("DECIMAL(38,0)") {
    protected def quotient(n: String, d: String): String = {
      val (nw, dw) = (s"CAST(($n) AS $wide)", s"CAST(($d) AS $wide)")
      s"try_divide($nw - try_mod($nw, $dw), $dw)"
    }
    def asDouble(x: String): String = s"CAST($x AS DOUBLE)"
    def log2e6(x: String): String = Text.log2e6SparkSql(x)
  }

  object Duck extends Dialect("HUGEINT") {
    protected def quotient(n: String, d: String): String =
      s"(CAST(($n) AS $wide) // CAST(($d) AS $wide))"
    def asDouble(x: String): String = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
    def log2e6(x: String): String = Text.log2e6DuckSql(x)
  }

  /** [[Spark.asDouble]] as a Column, for DataFrame-API arithmetic. */
  def asDouble(x: String): Column = expr(Spark.asDouble(x))
}
