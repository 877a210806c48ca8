package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Deterministic floating-point aggregation helpers.
  *
  * Plain `sum(double)` depends on partition/merge order, so the same query can
  * return values differing in the last ulps between runs, engines, and
  * cluster sizes — which breaks hash-compare against a DuckDB oracle and makes
  * results non-reproducible at 100 TB (where partition counts are huge).
  *
  * Fix: round each addend to a fixed decimal scale (exact in DECIMAL), sum in
  * exact decimal arithmetic (order-independent), and cast the final total back
  * to double. Both Spark and DuckDB sum decimals exactly (int128 accumulator),
  * so `CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE)` is bit-identical across
  * engines AND across partitionings. Cost: negligible — decimal sum is still a
  * codegen'd hash aggregate with map-side partial aggregation.
  */
object Exact {
  /** Internal decimal type: 18 integer digits, 10 fractional — fits sums of
    * ~1e8-magnitude doubles over billions of rows without overflow (Spark
    * widens the sum to DECIMAL(38,10)). */
  val SumDecimal: DecimalType = DecimalType(28, 10)

  /** Order-independent sum of a double expression (see object doc). */
  def dsum(c: Column): Column = sum(c.cast(SumDecimal)).cast(DoubleType)

  /** dsum over rows matching `cond`; 0.0 when no row matches (the reference
    * fills missing slices with 0 before arithmetic — processor/main.py:493). */
  def dsumIf(cond: Column, c: Column): Column =
    coalesce(sum(when(cond, c).cast(SumDecimal)).cast(DoubleType), lit(0.0))

  /** [[dsum]] over plain doubles, for aggregates computed outside Catalyst:
    * each addend becomes what `CAST(x AS DECIMAL(28,10))` makes of it (its
    * `Double.toString` digits, rounded HALF_UP to scale 10), the addends
    * sum exactly, and the total rounds once to double. NaN and ±Infinity
    * are skipped, as the cast turns them to NULL; `None` when no addend is
    * left. An addend with more than 18 integer digits throws, as the ANSI
    * cast does. */
  def dsumOf(xs: Iterator[Double]): Option[Double] = {
    var acc: java.math.BigDecimal = null
    xs.foreach { x =>
      if (!x.isNaN && !x.isInfinite) {
        val d = new java.math.BigDecimal(java.lang.Double.toString(x))
          .setScale(SumDecimal.scale, java.math.RoundingMode.HALF_UP)
        if (d.precision - d.scale > SumDecimal.precision - SumDecimal.scale)
          throw new ArithmeticException(s"$x does not fit $SumDecimal")
        acc = if (acc == null) d else acc.add(d)
      }
    }
    Option(acc).map(_.doubleValue)
  }

  /** Deterministic mean: exact decimal sum divided (in IEEE double) by the
    * count — one double division, no order dependence. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Guarded ratio — NULL when the denominator is not strictly positive
    * (reference semantics at processor/main.py:509-513: never divide by zero,
    * return NULL instead of ±Inf). */
  def guardedRatio(num: Column, den: Column): Column =
    when(den > lit(0), num / den)

  /** Conditional count as a long (reference dwell-seconds pattern,
    * processor/main.py:534-536). */
  def countIf(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))

  /** Signed-zero normalization: IEEE `x + 0.0` maps `-0.0` to `+0.0`
    * (NULL passes through; every other value is unchanged — adding +0.0
    * is exact for all finite doubles). Needed because the oracle compare
    * hashes BYTES: for a value like `-1e-9` that rounds to zero, Spark's
    * `round` (BigDecimal HALF_UP) emits `+0.0` while DuckDB's preserves
    * the sign and emits `-0.0` — value-equal, byte-different, hash RED.
    * Apply after the FINAL round on any output that can be negative
    * (slopes, intercepts, weights, residuals, z-scores). */
  def znorm(c: Column): Column = c + lit(0.0)

  /** Final round-6 with signed-zero normalization — the standard form
    * for slope/intercept/weight/residual-style outputs. */
  def round6z(c: Column): Column = znorm(round(c, 6))

  /** Oracle-SQL twin of [[round6z]] (DuckDB obeys the same IEEE
    * `-0.0 + 0.0 = +0.0` identity). */
  def round6zSql(e: String): String = s"(round($e, 6) + 0.0)"
}
