package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{abs, floor, sqrt}

/** Engine-agnostic fixed-point quantization — the ONE definition of
  * every grid scale (1e-4, 1e-6, 1e-8) in every dialect: Spark Columns,
  * DuckDB oracle text, Spark-SQL text (`spark.sql`, `expr`, `transform`
  * lambdas) and driver-side scalars all call a form here. `round()`
  * semantics differ between Spark (BigDecimal HALF_UP on the decimal
  * expansion) and DuckDB (multiply + C round), which flips the last
  * digit when a value lands on a half boundary. The step floor(x·S +
  * 0.5) runs the identical IEEE ops in both engines, so identical inputs
  * give identical outputs; each dialect writes it once below, for the
  * fixed scales S4/S6/S8. 1e-4 is the output grid ([[r4]] lands a value
  * on it as a double, [[q4]] as an exact int64, the operand of
  * order-free sums); 1e-6 holds pre-sum terms that need more digits
  * (PSI, entropy and BM25 terms, log-ratios, centroid components); 1e-8
  * holds BinaryMeta's byte-moment tables and Dedup's PageRank.
  */
object Num {
  private val S4 = 10000
  private val S6 = 1000000
  private val S8 = 100000000

  private def step(x: Column, s: Int): Column = floor(x * s.toDouble + 0.5d)
  private def step(x: Double, s: Int): Double = math.floor(x * s + 0.5d)
  private def stepSql(x: String, s: Int): String = s"floor($x*$s + 0.5)"
  private def stepExpr(x: String, s: Int): String = s"floor($x*${s}D + 0.5D)"
  private def qSql(x: String, s: Int): String = s"CAST(${stepSql(x, s)} AS BIGINT)"

  def r4(c: Column): Column = step(c, S4) / S4.toDouble
  def q4(c: Column): Column = step(c, S4).cast("long")
  def r6(c: Column): Column = step(c, S6) / S6.toDouble
  def q6(c: Column): Column = step(c, S6).cast("long")

  /** A 1e-6- or 1e-8-grid value (or an exact sum of them) as a double. */
  def fromQ6(s: Column): Column = s / S6.toDouble
  def fromQ8(s: Column): Column = s / S8.toDouble

  /** Driver-side forms: bit-identical to the Column forms over `lit(x)`
    * for every finite |x| < 9e14 (a NaN stays NaN here).
    */
  def r4(x: Double): Double = step(x, S4) / S4
  def q4(x: Double): Long = step(x, S4).toLong
  def q8(x: Double): Long = step(x, S8).toLong
  def fromQ8(s: Long): Double = s / S8.toDouble

  /** DuckDB SQL forms — each mirrors its Column form exactly. */
  def r4sql(e: String): String = s"${stepSql(s"($e)", S4)}/$S4"
  def q4sql(e: String): String = qSql(s"($e)", S4)
  def r6sql(e: String): String = s"${stepSql(s"($e)", S6)}/$S6"
  def q6sql(e: String): String = qSql(s"($e)", S6)
  def fromQ6sql(s: String): String = s"$s / ${S6}.0"
  def fromQ8sql(s: String): String = s"$s / ${S8}.0"

  /** Spark-SQL text forms: D-suffixed literals, because Spark SQL parses
    * a bare `10000.0` as DECIMAL (the Column forms' literals are doubles).
    */
  def r4expr(e: String): String = s"${stepExpr(s"($e)", S4)}/${S4}D"
  def sumQ4expr(e: String): String = s"sum(CAST(${stepExpr(s"($e)", S4)} AS BIGINT)) / ${S4}D"
  def r6expr(e: String): String = s"${stepExpr(s"($e)", S6)}/${S6}D"
  def q6expr(e: String): String = s"CAST(${stepExpr(s"($e)", S6)} AS BIGINT)"

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
  def absErrQ4(y: Column, p: Column): Column = q4(abs(y - p))

  def sqErrQ4(y: Column, p: Column): Column = q4((y - p) * (y - p))

  /** The unrounded mean s / 1e4 / n of a quantized error sum. */
  def meanQ4(s: Column, n: Column): Column = s / 10000d / n

  def maeQ4(sae: Column, n: Column): Column = r4(meanQ4(sae, n))

  def rmseQ4(sse: Column, n: Column): Column = r4(sqrt(meanQ4(sse, n)))

  /** SQL forms of the forecast-error reducer — must mirror absErrQ4 …
    * rmseQ4 exactly (BIGINT terms, the same division order).
    */
  def absErrQ4sql(y: String, p: String): String = qSql(s"abs($y - $p)", S4)

  def sqErrQ4sql(y: String, p: String): String = qSql(s"($y - $p)*($y - $p)", S4)

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
