package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one grouped least-squares solve behind every closed-form linear
  * model — q22/q26/q60/q64's lag forecaster, q39's per-horizon models,
  * q54/q62's per-fold refits and q55's ridge span imputer. Per group of
  * `keys` it fits y ≈ b0 + b1·x1 + b2·x2 + b3·x3 from one-pass
  * sufficient statistics (the grouped-fit pattern of MLlib*, ICDE
  * 2019): the means, then the centred scatter, then Cramer's rule over
  * the 3×3 system. TsOracle.olsCtes writes the same operation sequence
  * in SQL, so both engines agree bit-for-bit.
  *
  * Several guarded fits share the same two aggregation passes. A
  * conditional aggregate visits the same rows in the same scan order as
  * the filtered frame it replaces, so each fit is bit-identical to a
  * dedicated solve over its own rows.
  *
  * Wider systems — q10's 9×9 Gaussian inverse and q56's 6-feature ridge
  * solve — go through the one in-plan [[gaussJordan]] elimination.
  */
private[graft] object Ols {

  /** One model: its output columns end in `suffix` (`b0$suffix` …), `x`
    * names its three regressor columns (the target is `y`), and `ok`,
    * when set, selects the rows that train it.
    */
  final case class Fit(suffix: String, x: (String, String, String), ok: Option[Column] = None)

  /** Per group of `keys`: the keys, then `b1`, `b2`, `b3`, `b0` of each
    * fit, raw (callers round). The plan is a means aggregation, a
    * join back onto the rows, the scatter aggregation, a second join
    * and the coefficient select. Both joins carry no static hint: AQE
    * picks broadcast or shuffle from the runtime size of the means.
    * `lambda > 0` adds the ridge diagonal to s11, s22 and s33.
    */
  def fit(df: DataFrame, keys: Seq[String], fits: Seq[Fit], lambda: Double = 0.0): DataFrame = {
    def guard(f: Fit, e: Column): Column = f.ok.fold(e)(when(_, e))
    val meanAggs = fits.flatMap { f =>
      val (x1, x2, x3) = f.x
      Seq(avg(guard(f, col("y"))).as(s"my${f.suffix}"),
        avg(guard(f, col(x1))).as(s"m1${f.suffix}"),
        avg(guard(f, col(x2))).as(s"m2${f.suffix}"),
        avg(guard(f, col(x3))).as(s"m3${f.suffix}"))
    }
    val means = df.groupBy(keys.head, keys.tail: _*).agg(meanAggs.head, meanAggs.tail: _*)
    val statAggs = fits.flatMap { f =>
      val (x1, x2, x3) = f.x
      def n(base: String) = base + f.suffix
      def c(a: String, ma: String, b: String, mb: String): Column =
        sum(guard(f, (col(a) - col(n(ma))) * (col(b) - col(n(mb)))))
      def ridge(e: Column): Column = if (lambda > 0) e + lambda else e
      Seq(ridge(c(x1, "m1", x1, "m1")).as(n("s11")), c(x1, "m1", x2, "m2").as(n("s12")),
        c(x1, "m1", x3, "m3").as(n("s13")), ridge(c(x2, "m2", x2, "m2")).as(n("s22")),
        c(x2, "m2", x3, "m3").as(n("s23")), ridge(c(x3, "m3", x3, "m3")).as(n("s33")),
        c(x1, "m1", "y", "my").as(n("sy1")), c(x2, "m2", "y", "my").as(n("sy2")),
        c(x3, "m3", "y", "my").as(n("sy3")))
    }
    val stats = df.join(means, keys)
      .groupBy(keys.head, keys.tail: _*).agg(statAggs.head, statAggs.tail: _*)
    val coefCols = fits.flatMap { f =>
      def s(n: String) = col(n + f.suffix)
      val det = s("s11") * (s("s22") * s("s33") - s("s23") * s("s23")) -
        s("s12") * (s("s12") * s("s33") - s("s23") * s("s13")) +
        s("s13") * (s("s12") * s("s23") - s("s22") * s("s13"))
      val b1 = (s("sy1") * (s("s22") * s("s33") - s("s23") * s("s23")) -
        s("s12") * (s("sy2") * s("s33") - s("s23") * s("sy3")) +
        s("s13") * (s("sy2") * s("s23") - s("s22") * s("sy3"))) / det
      val b2 = (s("s11") * (s("sy2") * s("s33") - s("sy3") * s("s23")) -
        s("sy1") * (s("s12") * s("s33") - s("s23") * s("s13")) +
        s("s13") * (s("s12") * s("sy3") - s("sy2") * s("s13"))) / det
      val b3 = (s("s11") * (s("s22") * s("sy3") - s("s23") * s("sy2")) -
        s("s12") * (s("s12") * s("sy3") - s("sy2") * s("s13")) +
        s("sy1") * (s("s12") * s("s23") - s("s22") * s("s13"))) / det
      Seq(b1.as(s"b1${f.suffix}"), b2.as(s"b2${f.suffix}"), b3.as(s"b3${f.suffix}"),
        (s("my") - b1 * s("m1") - b2 * s("m2") - b3 * s("m3")).as(s"b0${f.suffix}"))
    }
    stats.join(means, keys).select(keys.map(col) ++ coefCols: _*)
  }

  /** Fixed-order Gauss-Jordan elimination on column `a`, an
    * `array<array<double>>` holding an augmented n×(n+m) matrix per row —
    * q10's `[Σ + 0.01·I | I]` (the right block becomes Σ⁻¹) and q56's
    * `[S | sy]` (the last column becomes the coefficients). Step k maps
    * row k to a(k,j)/a(k,k) and every other row to
    * a(i,j) − a(i,k)·(a(k,j)/a(k,k)); there is no pivoting, so the
    * callers' regularized diagonals keep a(k,k) nonzero. The n steps are
    * ONE expression — an `aggregate` over k = 0 … n−1 whose accumulator
    * is the matrix — so the plan holds a single Project, not one per step
    * (DetectSpec asserts bit-equality with a per-step fold).
    * TsOracle.gaussJordanCtes writes the same steps in DuckDB list form,
    * so both engines agree bit-for-bit.
    */
  def gaussJordan(df: DataFrame, a: String, n: Int): DataFrame =
    df.withColumn(a, aggregate(sequence(lit(0), lit(n - 1)), col(a), (m, k) =>
      transform(m, (r, i) => transform(r, (x, j) => {
        val akj = m(k)(j)
        val akk = m(k)(k)
        when(i === k, akj / akk).otherwise(x - r(k) * (akj / akk))
      }))))
}
