package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-stable rounding for computed doubles.
  *
  * `round(double, n)` is NOT portable: Spark rounds the value's shortest
  * decimal representation HALF_UP while DuckDB rounds the binary value,
  * so a quotient that prints as x.xxxx5 can round differently. For
  * doubles produced by exact IEEE ops, `floor(x*10^n + 0.5)/10^n` uses
  * only IEEE-deterministic operations, so both engines get the same
  * bits. Use the same formula literally in the DuckDB oracle SQL.
  *
  * (For money aggregates prefer DECIMAL accumulation — see
  * CoreQueries.moneySum — this helper is for ratios/roots where decimal
  * arithmetic doesn't apply.)
  */
object Rounding {
  def exactRound(c: Column, digits: Int): Column = {
    require(digits >= 0 && digits <= 6, "10^digits must stay exact in double")
    val p = math.pow(10, digits)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }
}
