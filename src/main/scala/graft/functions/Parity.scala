package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Numeric helpers that make Spark aggregates bit-identical to a
  * single-threaded SQL oracle (DuckDB) regardless of partitioning.
  *
  * A parallel `sum(double)` adds values in a partition-dependent order, so
  * two runs (or Spark vs an oracle) differ in final ulps. Summing an exact
  * decimal instead is associative/commutative with NO rounding drift; the
  * final cast back to double is a single deterministic conversion. This is
  * also the right call at 100 TB: decimal hash-agg stays in whole-stage
  * codegen and the map-side partial aggregation is unaffected.
  */
object Parity {

  /** Order-independent sum of a double expression, returned as double.
    * Oracle equivalent: CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE).
    */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(30, 8))).cast("double")

  /** Order-independent average (decimal sum / count), returned as double.
    * Oracle equivalent:
    * CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) / COUNT(x).
    */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(30, 8))).cast("double") / count(c)

  /** Integral sum widened to long (DuckDB SUM(int) is HUGEINT; oracle SQL
    * must CAST(... AS BIGINT) to line up with this).
    */
  def lsum(c: Column): Column = sum(c.cast("long"))

  /** Driver-side twin of [[dsum]], bit-identical by construction (r16):
    * Spark's double→decimal(30,8) cast is `BigDecimal(Double.toString(v))`
    * (shortest-repr, valueOf semantics) rounded HALF_UP to scale 8;
    * decimal addition is exact, and the final double cast is
    * `BigDecimal.doubleValue`. ParitySpec locks the equality against
    * [[dsum]] on adversarial doubles. For the bounded control tables the
    * r16 driver-local operators fold (IPF grids, vocab graphs), this
    * replaces a per-iteration Spark aggregation job with plain Scala.
    *
    * Domain: a NON-EMPTY input of values with |v| < 1e22. Outside it the
    * twins part ways — `dsum` over no rows is NULL (so empty input is
    * rejected here rather than returning 0.0), and a |v| ≥ 1e22 value
    * overflows decimal(30,8) to NULL, which `dsum` skips but this fold
    * would add. Every caller folds one `groupBy` group, never empty.
    */
  def dsumLocal(xs: IterableOnce[Double]): Double = {
    val it = xs.iterator
    require(it.hasNext, "dsumLocal: empty input (dsum would be NULL)")
    it.foldLeft(java.math.BigDecimal.ZERO) { (acc, v) =>
      acc.add(new java.math.BigDecimal(java.lang.Double.toString(v))
        .setScale(8, java.math.RoundingMode.HALF_UP))
    }.doubleValue
  }
}
