package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{abs, floor, sqrt}

/** Engine-agnostic 4-dp quantization — the ONE definition of the 1e-4
  * grid for both engines: every Spark column, DuckDB oracle text and
  * driver-side scalar that lands a value on the grid calls a form here.
  * `round()` semantics differ between Spark (BigDecimal HALF_UP on the
  * decimal expansion) and DuckDB (multiply + C round), which flips the
  * last digit when a value lands on a .00005 boundary. floor(x*1e4 +
  * 0.5)/1e4 runs the identical IEEE ops in both engines, so identical
  * inputs give identical outputs. [[r4]] lands a value on the grid as a
  * double, [[q4]] as an exact int64 (the operand of order-free sums).
  */
object Num {
  def r4(c: Column): Column = floor(c * 10000d + 0.5d) / 10000d

  def q4(c: Column): Column = floor(c * 10000d + 0.5d).cast("long")

  /** Driver-side r4 and q4: bit-identical to `r4(lit(x))` / `q4(lit(x))`
    * for every finite |x| < 9e14 (a NaN stays NaN here).
    */
  def r4(x: Double): Double = gridFloor(x) / 10000d

  def q4(x: Double): Long = gridFloor(x).toLong

  private def gridFloor(x: Double): Double = math.floor(x * 10000d + 0.5d)

  /** SQL form for the DuckDB oracle — must mirror r4 exactly. */
  def r4sql(e: String): String = s"floor(($e)*10000 + 0.5)/10000"

  /** SQL form for the DuckDB oracle — must mirror q4 exactly. */
  def q4sql(e: String): String = s"CAST(floor(($e)*10000 + 0.5) AS BIGINT)"

  /** Order-independent float sum: quantize each element to the 1e-4
    * grid, accumulate as exact integers, scale back. A raw float
    * `sum()` depends on partition/accumulation order and can flip the
    * 4th decimal between engines or between identical runs; this form
    * is bit-deterministic whenever the per-element values are
    * (fixed-point money arithmetic, in effect). Keep |Σ|·1e4 < 2^63.
    */
  def sumQ4(c: Column): Column =
    org.apache.spark.sql.functions.sum(q4(c)) / 10000d

  /** SQL form for the DuckDB oracle — must mirror sumQ4 exactly
    * (the BIGINT cast also defuses DuckDB's SUM→HUGEINT widening).
    */
  def sumQ4sql(e: String): String =
    s"sum(${q4sql(e)}) / 10000.0"

  /** The forecast-error reducer — every forecaster's MAE/RMSE (q21,
    * q35, q38, q42, q55–q60, q64, q65, the saved conformal band and the
    * streaming scorers). Per row, the absolute and squared residual
    * quantize to the 1e-4 grid as int64 ([[absErrQ4]], [[sqErrQ4]]);
    * per group those sum exactly, and [[maeQ4]] / [[rmseQ4]] read the
    * sums back as r4(s / 1e4 / n) and r4(√(s / 1e4 / n)). With y and p
    * on the r4 grid upstream each term is bit-identical in both
    * engines, and the integer sum is order-free: a raw avg() over
    * doubles depends on partition order and flips the 4th decimal when
    * the float sum lands on an r4 boundary (the sf1 soak caught one
    * series' q55 MAE doing exactly that). The conformal calibration
    * ranks [[absErrQ4]] residuals, so a served band flag compares on the
    * same grid. Keep Σ|term|·1e4 < 2^63 per group.
    */
  def absErrQ4(y: Column, p: Column): Column = floor(abs(y - p) * 10000d + 0.5d).cast("long")

  def sqErrQ4(y: Column, p: Column): Column = floor((y - p) * (y - p) * 10000d + 0.5d).cast("long")

  /** The unrounded mean s / 1e4 / n of a quantized error sum. */
  def meanQ4(s: Column, n: Column): Column = s / 10000d / n

  def maeQ4(sae: Column, n: Column): Column = r4(meanQ4(sae, n))

  def rmseQ4(sse: Column, n: Column): Column = r4(sqrt(meanQ4(sse, n)))

  /** SQL forms of the forecast-error reducer — must mirror absErrQ4 …
    * rmseQ4 exactly (BIGINT terms, the same division order).
    */
  def absErrQ4sql(y: String, p: String): String = s"CAST(floor(abs($y - $p)*10000 + 0.5) AS BIGINT)"

  def sqErrQ4sql(y: String, p: String): String = s"CAST(floor(($y - $p)*($y - $p)*10000 + 0.5) AS BIGINT)"

  def meanQ4sql(s: String, n: String): String = s"$s / 10000.0 / $n"

  def maeQ4sql(sae: String, n: String): String = r4sql(meanQ4sql(sae, n))

  def rmseQ4sql(sse: String, n: String): String = r4sql(s"sqrt(${meanQ4sql(sse, n)})")

  /** Deterministic hashed uniform in [−0.5, 0.5): Knuth multiplicative
    * hash of an integer key, scaled. Pure int64 arithmetic with the
    * product kept < 2^63 for any |key| < 2^31, so the DuckDB mirror
    * `(((1 + key*2654435761) % 2147483648)::DOUBLE / 2147483648.0) - 0.5`
    * is exact. Every pseudo-random weight family in the engine (LSH
    * hyperplanes, JL projections) derives from this ONE formula —
    * change it here and in the oracle together.
    */
  def hashedUniform(key: Long): Double =
    ((1L + key * 2654435761L) % 2147483648L).toDouble / 2147483648.0 - 0.5
}
