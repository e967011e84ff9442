package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Num, StageCache}

/** Load forecasting capability (reference: src/forecasting/ seq2seq GRU /
  * SCINet). Re-expressed Spark-first: a seasonal-naive baseline and a
  * closed-form OLS on lag features solved by normal equations — a single
  * pass of sufficient statistics per series, no iteration, no driver
  * data movement, unlike gradient training. Forecast-accuracy metrics
  * (MAE/RMSE/MAPE) match the reference's evaluation.
  */
object Forecast {

  private def withLags(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("series").orderBy("t")
    TsCore.filled(spark, sfDir)
      .select(col("series"), col("t"), col("v_filled").as("y"))
      .withColumn("x1", lag("y", 1).over(w))
      .withColumn("x2", lag("y", TsCore.DaySize).over(w))
      .withColumn("x3", lag("y", TsCore.WeekLag).over(w))
  }

  private def boundaryT(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.splitBoundary(spark, sfDir)
      .select(col("series"), (col("mwin") * TsCore.DaySize).as("tsplit"))

  /** q21/q58's shared seasonal-naive spine: (series, t, y, p, tsplit)
    * with p = the week-earlier value — one per-series lag pass + the
    * unhinted boundary join. Both consumers derive from this ONE
    * definition so the predictor can never silently desynchronize
    * between the error report and the conformal calibration.
    */
  private def snSpine(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("series").orderBy("t")
    TsCore.filled(spark, sfDir)
      .select(col("series"), col("t"), col("v_filled").as("y"))
      .withColumn("p", lag("y", TsCore.WeekLag).over(w))
      .join(boundaryT(spark, sfDir), "series")
  }

  /** q21: seasonal-naive forecast (pred = value one week earlier) over
    * the test region, with per-series MAE/RMSE/MAPE.
    */
  def seasonalNaive(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = snSpine(spark, sfDir)
      .filter(col("t") >= col("tsplit") && col("y").isNotNull && col("p").isNotNull)
    val apeInt = when(col("y") =!= 0.0,
      Num.q4(abs(col("y") - col("p")) / abs(col("y"))))
    pred.groupBy("series").agg(
      count(lit(1)).as("n"),
      sum(Num.absErrQ4(col("y"), col("p"))).as("sae"),
      sum(Num.sqErrQ4(col("y"), col("p"))).as("sse"),
      sum(apeInt).as("sape"), count(apeInt).as("nape"))
      .select(col("series"), col("n"),
        Num.maeQ4(col("sae"), col("n")).as("mae"),
        Num.rmseQ4(col("sse"), col("n")).as("rmse"),
        Num.r4(col("sape") / 10000d / col("nape")).as("mape"))
  }

  /** Lag-feature base with the train/test boundary attached — the input
    * shape olsSolve expects. Shared with q26's grouped fallback path.
    */
  private[timeseries] def lagBase(spark: SparkSession, sfDir: String): DataFrame =
    withLags(spark, sfDir)
      .join(boundaryT(spark, sfDir), "series")
      .filter(col("y").isNotNull && col("x1").isNotNull &&
              col("x2").isNotNull && col("x3").isNotNull)

  /** q22: closed-form OLS forecast on (lag1, lag24, lag168): centered
    * normal equations solved per series by Cramer's rule — one
    * sufficient-statistics aggregation over the train split, then a
    * broadcast join applies the coefficients to the test split.
    */
  def olsForecast(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = olsSolve(lagBase(spark, sfDir))
    raw.select(col("series"), col("n"),
      Num.r4(col("b0")).as("b0"), Num.r4(col("b1")).as("b1"),
      Num.r4(col("b2")).as("b2"), Num.r4(col("b3")).as("b3"),
      Num.r4(col("mae")).as("mae"), Num.r4(col("rmse")).as("rmse"))
  }

  /** The 3-lag OLS fit (series, b1, b2, b3, b0) over a train frame
    * (series, y, x1..x3) — q22/q26/q60/q64's [[Ols]] solve.
    */
  private def olsFit(train: DataFrame): DataFrame =
    Ols.fit(train, Seq("series"), Seq(Ols.Fit("", Lags)))

  /** The lag regressors every forecast fit uses. */
  private val Lags = ("x1", "x2", "x3")

  /** The grouped per-series normal-equations solve over a lagBase-shaped
    * frame — one shuffle for the sufficient statistics, a broadcast of
    * the per-series coefficients, one shuffle for the error aggregates.
    * Returns raw (un-quantized) columns; callers round. This is the
    * 100 TB path for fitting millions of per-series linear models.
    */
  private[timeseries] def olsSolve(base: DataFrame): DataFrame = {
    val coefs = olsFit(base.filter(col("t") < col("tsplit")))
    val test = base.filter(col("t") >= col("tsplit"))
      .join(coefs, "series")
      .withColumn("p", col("b0") + col("b1") * col("x1") + col("b2") * col("x2") + col("b3") * col("x3"))
    test.groupBy("series").agg(
      count(lit(1)).as("n"),
      max("b0").as("b0"), max("b1").as("b1"),
      max("b2").as("b2"), max("b3").as("b3"),
      avg(abs(col("y") - col("p"))).as("mae"),
      sqrt(avg((col("y") - col("p")) * (col("y") - col("p")))).as("rmse"))
  }

  /** q64: the reference's FULL forecast-evaluation scorecard — the five
    * metrics its seq2seq/SCINet eval loop reports per forecaster
    * (forecasting/seq2seq/wrapper.py:103-126: sMAPE = mean(2|p−y| /
    * (|p|+|y|))·100, MAE, MSE, RMSE = √MSE, R² = 1 − Σ(y−p)²/Σ(y−ȳ)²),
    * computed per (series, variant) for the two closed-form stand-ins
    * that share ONE eval spine: q22's OLS lag model and the
    * seasonal-naive — which on the lag frame is simply x3 = y(t−168),
    * so both variants score EXACTLY the same rows by construction
    * (apples-to-apples, no separate footprint reconciliation).
    *
    * Determinism: every per-row term is quantized BEFORE the sum
    * (sMAPE ratios on the 1e-6 grid, absolute/squared errors on the
    * 1e-4 grid, ȳ from the exact integer sum of 1e-4-quantized y), so
    * all five metrics are order-free and bit-identical across engines;
    * R² is the exact integer ratio 1 − sse/ssy (the shared 1e-4 scale
    * cancels, as does n). Zero-variance targets yield NULL R² (the
    * 0/0 case), zero-magnitude (y, p) pairs contribute a 0 sMAPE term
    * — both mirrored in the oracle.
    *
    * Scale shape: q22's one-pass sufficient-statistics fit, a
    * |series|-row coefficient join, one checkpointed eval frame read
    * by the ȳ pass and both variant branches, and ONE final
    * (series, variant) hash-agg — nothing new shuffles at 100 TB.
    */
  def forecastScorecard(spark: SparkSession, sfDir: String): DataFrame = {
    val base = lagBase(spark, sfDir)
    val coefs = olsFit(base.filter(col("t") < col("tsplit")))
    val test = base.filter(col("t") >= col("tsplit"))
      .join(coefs, "series")
      .filter(!isnan(col("b0"))) // degenerate fits drop (q60's guard)
      .withColumn("p_ols", col("b0") + col("b1") * col("x1") +
        col("b2") * col("x2") + col("b3") * col("x3"))
      .localCheckpoint(eager = false) // ybar + both variant branches
    val ybar = test.groupBy("series").agg(
      sum(Num.q4(col("y"))).as("syq"),
      count(lit(1)).as("ny"))
    val both = test.select(col("series"), lit("ols").as("variant"),
        col("y"), col("p_ols").as("p"))
      .unionByName(test.select(col("series"),
        lit("seasonal_naive").as("variant"), col("y"), col("x3").as("p")))
    val yb = col("syq") / 10000d / col("ny")
    val smTerm = when(abs(col("p")) + abs(col("y")) === 0.0, 0L)
      .otherwise(Num.q6(lit(2d) * abs(col("y") - col("p")) / (abs(col("p")) + abs(col("y")))))
    both.join(ybar, "series")
      .groupBy("series", "variant").agg(
        count(lit(1)).as("n"),
        sum(smTerm).as("ssm"),
        sum(Num.absErrQ4(col("y"), col("p"))).as("sae"),
        sum(Num.sqErrQ4(col("y"), col("p"))).as("sse"),
        sum(Num.q4((col("y") - yb) * (col("y") - yb))).as("ssy"))
      .select(col("series"), col("variant"), col("n"),
        Num.r4(Num.fromQ6(col("ssm")) / col("n") * 100d).as("smape"),
        Num.maeQ4(col("sae"), col("n")).as("mae"),
        Num.r4(Num.meanQ4(col("sse"), col("n"))).as("mse"),
        Num.rmseQ4(col("sse"), col("n")).as("rmse"),
        when(col("ssy") === 0L, lit(null).cast("double"))
          .otherwise(Num.r4(lit(1d) - col("sse").cast("double") / col("ssy"))).as("r2"))
  }

  /** q39: model-based multi-horizon forecast via the DIRECT strategy —
    * one OLS model per horizon h, regressing y_t on the lags available
    * at the forecast origin t−h: (h, h+23, h+167) — i.e. q22's
    * (1, 24, 168) feature set shifted to the origin, so h=1 IS q22
    * (asserted in ForecastImputeSpec). This is the closed-form analogue
    * of the reference's H-step forecasters (seq2seq/wrapper.py:129
    * predict emits a horizon vector; dataset_f.py:14 splits
    * input/horizon): per (series, horizon), coefficients + test-region
    * MAE/RMSE. All horizons share one plan; each is a sufficient-
    * statistics solve — no iteration, no driver data movement.
    */
  def directHorizonForecast(spark: SparkSession, sfDir: String,
                            horizons: Seq[Int] = Seq(1, 6, 12, 24)): DataFrame = {
    val w = Window.partitionBy("series").orderBy("t")
    // All 3×|horizons| lags come out of ONE per-series window sort, and
    // the combined frame materializes once (localCheckpoint) — each
    // horizon's solve then reads the flat result instead of re-sorting
    // the series. At millions of series this is 1 shuffle, not |h|.
    val lagCols = horizons.flatMap { h =>
      Seq(lag("y", h).over(w).as(s"x1_$h"),
          lag("y", h + TsCore.DaySize - 1).over(w).as(s"x2_$h"),
          lag("y", h + TsCore.WeekLag - 1).over(w).as(s"x3_$h"))
    }
    val combined = StageCache.cached(spark, sfDir, s"q39lags_${horizons.mkString("_")}") {
      TsCore.filled(spark, sfDir)
        .select(col("series"), col("t"), col("v_filled").as("y"))
        .select(Seq(col("series"), col("t"), col("y")) ++ lagCols: _*)
        .join(boundaryT(spark, sfDir), "series")
    }
    // ALL horizons solve in THREE shared aggregation passes (the two
    // Ols passes, then test errors) with per-horizon when(ok_h, …)
    // guards, instead of |h| independent olsSolve chains (4 shuffling
    // stages each). The guarded passes are bit-identical to the
    // per-horizon solve (h=1 ≡ q22 is asserted in ForecastImputeSpec).
    def ok(h: Int) = col("y").isNotNull && col(s"x1_$h").isNotNull &&
      col(s"x2_$h").isNotNull && col(s"x3_$h").isNotNull
    val train = combined.filter(col("t") < col("tsplit"))
    val test = combined.filter(col("t") >= col("tsplit"))
    val coefs = Ols.fit(train, Seq("series"), horizons.map { h =>
      Ols.Fit(s"_$h", (s"x1_$h", s"x2_$h", s"x3_$h"), Some(ok(h)))
    })
    val errAggs = horizons.flatMap { h =>
      val p = col(s"b0_$h") + col(s"b1_$h") * col(s"x1_$h") +
        col(s"b2_$h") * col(s"x2_$h") + col(s"b3_$h") * col(s"x3_$h")
      Seq(
        sum(when(ok(h), 1L)).as(s"n_$h"),
        avg(when(ok(h), abs(col("y") - p))).as(s"mae_$h"),
        sqrt(avg(when(ok(h), (col("y") - p) * (col("y") - p)))).as(s"rmse_$h"))
    }
    val errs = test.join(coefs, "series")
      .groupBy("series").agg(errAggs.head, errAggs.tail: _*)
    errs.join(coefs, "series")
      .select(col("series"), explode(array(horizons.map { h =>
        struct(lit(h).as("horizon"), col(s"n_$h").as("n"),
          col(s"b0_$h").as("b0"), col(s"b1_$h").as("b1"),
          col(s"b2_$h").as("b2"), col(s"b3_$h").as("b3"),
          col(s"mae_$h").as("mae"), col(s"rmse_$h").as("rmse"))
      }: _*)).as("s"))
      // a (series, horizon) row exists in the per-horizon solve only if
      // the series had ≥1 complete train row (b0 non-null; NaN from a
      // singular system still passes, matching the old inner-join chain)
      // AND ≥1 complete test row for that horizon
      .filter(col("s.b0").isNotNull && col("s.n") > 0)
      .select(col("series"), col("s.horizon").as("horizon"), col("s.n").as("n"),
        Num.r4(col("s.b0")).as("b0"), Num.r4(col("s.b1")).as("b1"),
        Num.r4(col("s.b2")).as("b2"), Num.r4(col("s.b3")).as("b3"),
        Num.r4(col("s.mae")).as("mae"), Num.r4(col("s.rmse")).as("rmse"))
  }

  /** q41: forecast-dataset window-pair build (ref process_LF.py:52-80
    * build_dataset + dataset_f.py:10-16): sliding windows of nDays·24
    * hourly points at a dayStride-day stride, each split into the INPUT
    * prefix ((nDays−1)·24 points) and the HORIZON day (the final 24) —
    * the (X, y) pair both reference forecasters train on — with the
    * window's date-range label (process_LF.py:78 keeps first/last dates
    * per window). Only complete windows survive (the reference drops
    * windows containing NaNs). Explode-by-membership: each grid point
    * lands in ≤ nDays windows and shuffles once on (series, wid) — no
    * range join, no skew; at millions of series the windows are
    * embarrassingly parallel.
    */
  def windowPairs(spark: SparkSession, sfDir: String,
                  nDays: Int = 3, dayStride: Int = 1): DataFrame = {
    val n = TsCore.DaySize
    val span = nDays * n
    val base = TsCore.filled(spark, sfDir)
      .withColumn("d", floor(col("t") / n).cast("long"))
      // window wid covers days wid..wid+nDays-1 → point of day d belongs
      // to windows starting at wid ∈ {d-nDays+1, …, d}
      .withColumn("wid", explode(array((0 until nDays).map(o => col("d") - o): _*)))
      .filter(col("wid") >= 0 && col("wid") % dayStride === 0)
    val complete = base.groupBy("series", "wid")
      .agg(count("v_filled").as("nv"), count(lit(1)).as("np"))
      .filter(col("nv") === span && col("np") === span)
      .select("series", "wid")
    base.join(complete, Seq("series", "wid"))
      .crossJoin(broadcast(TsCore.gridOrigin(spark, sfDir)))
      .select(col("series"), col("wid"),
        (col("t") - col("wid") * n).as("seq"),
        col("t"),
        Num.r4(col("v_filled")).as("v"),
        when(col("t") - col("wid") * n < (nDays - 1) * n, lit("input"))
          .otherwise(lit("horizon")).as("part"),
        concat(
          from_unixtime((col("t0") + col("wid") * n) * 3600L, "yyyy-MM-dd HH:mm:ss"),
          lit(" - "),
          from_unixtime((col("t0") + (col("wid") + nDays) * n - 1) * 3600L,
            "yyyy-MM-dd HH:mm:ss")).as("label"))
  }

  /** q42: inverse-scaling metric rescale (ref process_LF.py:14 — the
    * scaling quantiles are "saved to later scale back metrics"; the
    * forecasting wrappers evaluate on the SCALED series and map errors
    * back to load units): the week-lag persistence forecast evaluated in
    * scaled space over the test region, with each error metric also
    * rescaled to original units via the saved q01/q99 bounds — min-max
    * scaling is affine, so absolute/squared errors rescale by (hi−lo)
    * (the additive lo cancels in differences). One window pass + one
    * grouped agg per series; the bounds join with no static hint.
    */
  def rescaledMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("series").orderBy("t")
    // bounds / split boundaries are |series|-scale frames → joins with
    // no static hint (AQE picks the strategy at run time), not broadcasts
    val scaled = TsCore.filled(spark, sfDir)
      .join(TsCore.scaleBounds(spark, sfDir), "series")
      .select(col("series"), col("t"),
        Num.r4((col("v_filled") - col("lo")) / (col("hi") - col("lo"))).as("vs"),
        col("lo"), col("hi"))
    val pred = scaled.withColumn("p", lag("vs", TsCore.WeekLag).over(w))
      .join(boundaryT(spark, sfDir), "series")
      .filter(col("t") >= col("tsplit") && col("vs").isNotNull && col("p").isNotNull)
    pred.groupBy("series").agg(
        count(lit(1)).as("n"),
        sum(Num.absErrQ4(col("vs"), col("p"))).as("sae"),
        sum(Num.sqErrQ4(col("vs"), col("p"))).as("sse"),
        max("lo").as("lo"), max("hi").as("hi"))
      .select(col("series"), col("n"),
        Num.maeQ4(col("sae"), col("n")).as("mae_scaled"),
        Num.rmseQ4(col("sse"), col("n")).as("rmse_scaled"),
        Num.r4(Num.meanQ4(col("sae"), col("n")) * (col("hi") - col("lo"))).as("mae_orig"),
        Num.r4(sqrt(Num.meanQ4(col("sse"), col("n"))) * (col("hi") - col("lo"))).as("rmse_orig"))
  }

  /** q48/q59's shared per-point (trend, detr) base: the centered
    * (2·half+1)-point prefix-sum trend over the filled series, emitted
    * only where the frame holds a full complement. Session-cached —
    * q48, q52 and q59 all start here.
    */
  private[timeseries] def decomposeBase(spark: SparkSession, sfDir: String,
                                        half: Int): DataFrame = {
    require(half >= 1, s"half=$half: trend frame half-width must be positive")
    StageCache.cached(spark, sfDir, s"decbase_$half") {
      val w = 2 * half + 1
      val ws = Window.partitionBy("series").orderBy("t")
      val cumW = ws.rowsBetween(Window.unboundedPreceding, 0)
      TsCore.filled(spark, sfDir)
        .withColumn("cum", sum(coalesce(col("v_filled"), lit(0.0))).over(cumW))
        .withColumn("cnt", count("v_filled").over(cumW))
        .withColumn("fsum",
          lead("cum", half).over(ws) - coalesce(lag("cum", half + 1).over(ws), lit(0.0)))
        .withColumn("fn",
          lead("cnt", half).over(ws) - coalesce(lag("cnt", half + 1).over(ws), lit(0L)))
        .filter(col("v_filled").isNotNull && col("fn") === w)
        .withColumn("trend", col("fsum") / w)
        .withColumn("detr", col("v_filled") - col("trend"))
        .select("series", "t", "v_filled", "trend", "detr")
    }
  }

  /** q48: classical additive decomposition — v = trend + seasonal +
    * resid per point (the full STL-lite triple; q24 extracts only the
    * seasonal profile). Trend is a centered (2·half+1)-point moving
    * average built from RUNNING prefix sums (q33's engine-order-safe
    * frame-mean trick — framed avgs differ across engines in ulps),
    * emitted only where the frame holds a full complement of observed
    * values; seasonal is the hour-of-day mean of the detrended signal
    * via quantized-integer sums (order-free); resid is the remainder.
    * Two window passes + one |series|×24-row broadcast join.
    */
  def decompose(spark: SparkSession, sfDir: String, half: Int = 12): DataFrame = {
    val base = decomposeBase(spark, sfDir, half)
    val seas = base.groupBy(col("series"), (col("t") % TsCore.DaySize).as("pos"))
      .agg((Num.sumQ4(col("detr")) / count(lit(1))).as("seasonal"))
    base.withColumn("pos", col("t") % TsCore.DaySize)
      .join(seas, Seq("series", "pos"))
      .select(col("series"), col("t"), Num.r4(col("trend")).as("trend"),
        Num.r4(col("seasonal")).as("seasonal"),
        Num.r4(col("detr") - col("seasonal")).as("resid"))
  }

  /** q52: trend/seasonal strength indices (Hyndman & Athanasopoulos,
    * FPP3 §4.3, public): F_T = max(0, 1 − Var(R)/Var(T+R)) and
    * F_S = max(0, 1 − Var(R)/Var(S+R)) over q48's decomposition — the
    * one-number-per-series diagnostic that says whether q21/q24's
    * seasonal models are even applicable. All variances from exact
    * scaled-int (Σx, Σx²) pairs over the r4-quantized components, so
    * the per-series rollup is order-free; one |series|-row output.
    */
  def strength(spark: SparkSession, sfDir: String, half: Int = 12): DataFrame = {
    val d = decompose(spark, sfDir, half)
      .withColumn("r", col("resid"))
      .withColumn("tr", Num.r4(col("trend") + col("resid")))
      .withColumn("sr", Num.r4(col("seasonal") + col("resid")))
    def sq(c: String) = Seq(
      sum(Num.q4(col(c))).as(s"sx_$c"),
      sum(Num.q4(col(c) * col(c))).as(s"sxx_$c"))
    val aggs = count(lit(1)).as("n") +: (sq("r") ++ sq("tr") ++ sq("sr"))
    val g = d.groupBy("series").agg(aggs.head, aggs.tail: _*)
    def varOf(c: String): Column =
      (col(s"sxx_$c") / 10000d -
        (col(s"sx_$c") / 10000d) * (col(s"sx_$c") / 10000d) / col("n")) / (col("n") - 1)
    def str(denom: String): Column =
      when(col("n") > 1 && varOf(denom) > 0,
        Num.r4(greatest(lit(0.0), lit(1.0) - varOf("r") / varOf(denom))))
    g.select(col("series"), col("n"),
      str("tr").as("trend_strength"), str("sr").as("seasonal_strength"))
  }

  /** q24: additive seasonal profile per (series, hour-of-day) over the
    * train region (capability of feature_extractor.py
    * seasonal_decomposition): per-pos mean of the series minus the
    * overall mean.
    */
  def seasonalProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val train = TsCore.dayWindows(spark, sfDir)
      .join(TsCore.splitBoundary(spark, sfDir), "series")
      .filter(col("win") < col("mwin"))
    // means over r4-quantized v via integer sums: quantized inputs put
    // Σ/n exactly on rounding boundaries ~1/n of the time, where a raw
    // float avg's order-dependent epsilon decides the flip
    val overall = train.groupBy("series")
      .agg((Num.sumQ4(col("v")) / count(lit(1))).as("mu"))
    train.groupBy("series", "pos")
      .agg((Num.sumQ4(col("v")) / count(lit(1))).as("posmean"))
      .join(overall, "series")
      .select(col("series"), col("pos"), Num.r4(col("posmean") - col("mu")).as("seasonal"))
  }

  /** q38: the reference pipeline's headline experiment (ref pipeline.py:
    * forecast quality on contaminated vs anomaly-cleaned data) —
    * seasonal-naive error per (series, variant) over the test region,
    * where 'contam' is the injected series and 'cleaned' is the
    * linear-imputed repair, scored by [[weekLagImpact]].
    */
  def cleaningImpact(spark: SparkSession, sfDir: String): DataFrame = {
    val n = TsCore.DaySize
    val contam = TsCore.injected(spark, sfDir)
      .select(col("series"), (col("win") * n + col("pos")).as("t"),
        col("v_anom").as("v"), lit("contam").as("variant"))
    val cleaned = Impute.imputeLinear(spark, sfDir)
      .select(col("series"), col("t"), col("v_imp").as("v"), lit("cleaned").as("variant"))
    weekLagImpact(spark, sfDir, contam.unionByName(cleaned))
  }

  /** q38/q57's shared evaluation of (series, t, v, variant) points: the
    * week-lag predictor of each point is its own variant's value at
    * t−168, aligned by an exact (series, variant, t) self-join
    * (window-drop gaps make row-lag wrong); the test-region errors
    * reduce to MAE/RMSE per (series, variant) in one grouped pass.
    */
  private def weekLagImpact(spark: SparkSession, sfDir: String,
                            all: DataFrame): DataFrame = {
    val pred = all.select(col("series"), col("variant"),
      (col("t") + TsCore.WeekLag).as("t"), col("v").as("p"))
    all.join(pred, Seq("series", "variant", "t"))
      .join(boundaryT(spark, sfDir), "series")
      .filter(col("t") >= col("tsplit"))
      .groupBy("series", "variant")
      .agg(count(lit(1)).as("n"),
        sum(Num.absErrQ4(col("v"), col("p"))).as("sae"),
        sum(Num.sqErrQ4(col("v"), col("p"))).as("sse"))
      .select(col("series"), col("variant"), col("n"),
        Num.maeQ4(col("sae"), col("n")).as("mae"),
        Num.rmseQ4(col("sse"), col("n")).as("rmse"))
  }

  /** q57: the reference pipeline's HEADLINE experiment (pipeline.py —
    * does cleaning the detected anomalies improve the downstream
    * forecast?) run with the LEARNED imputer: three series variants —
    * `contam` (injected), `linear` (q18's interpolation repair) and
    * `learned` (q55's trained per-offset ridge applied to EVERY flagged
    * span, seasonal-feature fallback where no model/feature exists) —
    * evaluated by q38's week-lag forecast over the test region. This is
    * the end-to-end chain the reference exists for: process → inject →
    * flag → TRAINED imputation → forecast comparison, with the learned
    * stage in the loop. Scale shape: q55's one-agg ridge solve + one
    * (series, win, pos) assembly join + q38's [[weekLagImpact]].
    */
  def learnedCleaningImpact(spark: SparkSession, sfDir: String,
                            maskSize: Int = 8, lambda: Double = 0.01): DataFrame = {
    val n = TsCore.DaySize
    val inj = TsCore.injected(spark, sfDir)
    val preds = Impute.imputePoints(spark, sfDir, maskSize, onlyTestSplit = false)
      .join(Impute.imputerCoefs(spark, sfDir, maskSize, lambda), Seq("series", "o"), "left")
      .withColumn("p", Impute.imputePred)
      .select(col("series"), col("win"), col("pos"),
        coalesce(Num.r4(col("p")), Num.r4(col("xs"))).as("v_fill"))
    val learned = inj.join(preds, Seq("series", "win", "pos"), "left")
      .select(col("series"), (col("win") * n + col("pos")).as("t"),
        when(col("is_anom") === 0, col("v_anom"))
          .otherwise(coalesce(col("v_fill"), col("v_anom"))).as("v"),
        lit("learned").as("variant"))
    val contam = inj
      .select(col("series"), (col("win") * n + col("pos")).as("t"),
        col("v_anom").as("v"), lit("contam").as("variant"))
    val linear = Impute.imputeLinear(spark, sfDir)
      .select(col("series"), col("t"), col("v_imp").as("v"), lit("linear").as("variant"))
    weekLagImpact(spark, sfDir, contam.unionByName(linear).unionByName(learned))
  }

  /** q59: DECOMPOSE-THEN-FORECAST — the reference's dedicated
    * decomposition-forecast variant (forecasting/SCINet/
    * SCINet_decompose.py:1-120: the model splits the input into
    * components, forecasts each, and sums the parts). Closed-form
    * analogue at the week-ahead horizon the pipeline evaluates
    * (q21/q38's h=168):
    *
    *   - trend     → week-lag persistence on q48's CENTERED ±half
    *                 moving-average trend: trend(t−168) reads actuals
    *                 in [t−168−half, t−168+half], i.e. up to `half`
    *                 steps PAST the week-ahead origin (12 by default).
    *                 The direct y(t−168) baseline sees none of that, so
    *                 part of the decomposed win is this wider (still
    *                 week-stale) input window — the spec therefore
    *                 gates the CORPUS-WIDE MAE ordering, not a
    *                 per-series sweep
    *   - seasonal  → the TRAIN-REGION hour-of-day profile of the
    *                 detrended signal (train-only — unlike q48's
    *                 full-series profile, this one is a forecast input)
    *   - residual  → 0 (the unpredictable part is dropped, which is the
    *                 decomposition forecast's entire advantage)
    *
    * vs the DIRECT seasonal-naive y(t−168) on the SAME evaluation
    * points. Since y = trend + seasonal + resid, the direct predictor
    * carries the week-old residual noise the decomposed one discards —
    * the textbook reason component-wise forecasting wins
    * (ForecastImputeSpec asserts the corpus-wide MAE ordering).
    *
    * Scale shape: q48's shared prefix-sum trend base (one per-series
    * window pass, session-cached), a |series|×24 train-profile
    * broadcast, two exact (series, t−168) self-joins (window-drop gaps
    * make row-lag wrong — q38's discipline), Num's forecast-error reducer.
    */
  def decomposeForecast(spark: SparkSession, sfDir: String,
                        half: Int = 12): DataFrame =
    decomposeForecastFrom(spark, sfDir, decomposeBase(spark, sfDir, half))

  /** q65: the LEAK-FREE decompose-then-forecast — q59 with the trend
    * component rebuilt as a TRAILING (2·half+1)-point moving average:
    * trend(t) reads actuals in (t−2·half, t] only, so the week-ahead
    * predictor trend(t−168) + seasonal(pos) consumes NOTHING past the
    * forecast origin — the information-advantage q59's centered trend
    * carries (±half steps past t−168, scoped in its scaladoc and spec)
    * is gone, and the decomposed-vs-direct comparison is now a pure
    * model-structure effect. Same prefix-sum window discipline, same
    * train-only seasonal profile, same exact error sums.
    */
  def trailingForecast(spark: SparkSession, sfDir: String,
                       half: Int = 12): DataFrame =
    decomposeForecastFrom(spark, sfDir, decomposeBaseTrailing(spark, sfDir, half))

  /** q65's trailing (2·half+1)-point trend base: cum − lag(cum, w) over
    * the filled series, emitted only where the trailing frame holds a
    * full complement of observed values — the causal sibling of
    * [[decomposeBase]]'s centered frame.
    */
  private[graft] def decomposeBaseTrailing(spark: SparkSession, sfDir: String,
                                           half: Int): DataFrame = {
    require(half >= 1, s"half=$half: trend frame half-width must be positive")
    StageCache.cached(spark, sfDir, s"decbaset_$half") {
      val w = 2 * half + 1
      val ws = Window.partitionBy("series").orderBy("t")
      val cumW = ws.rowsBetween(Window.unboundedPreceding, 0)
      TsCore.filled(spark, sfDir)
        .withColumn("cum", sum(coalesce(col("v_filled"), lit(0.0))).over(cumW))
        .withColumn("cnt", count("v_filled").over(cumW))
        .withColumn("fsum", col("cum") - coalesce(lag("cum", w).over(ws), lit(0.0)))
        .withColumn("fn", col("cnt") - coalesce(lag("cnt", w).over(ws), lit(0L)))
        .filter(col("v_filled").isNotNull && col("fn") === w)
        .withColumn("trend", col("fsum") / w)
        .withColumn("detr", col("v_filled") - col("trend"))
        .select("series", "t", "v_filled", "trend", "detr")
    }
  }

  /** The shared q59/q65 evaluation body over any (series, t, v_filled,
    * trend, detr) decomposition base.
    */
  private def decomposeForecastFrom(spark: SparkSession, sfDir: String,
                                    base: DataFrame): DataFrame = {
    val b = base.join(boundaryT(spark, sfDir), "series")
    // train-only seasonal profile of the detrended signal (q48's dseas
    // restricted to t < tsplit): quantized-int means, order-free
    val seasTr = b.filter(col("t") < col("tsplit"))
      .groupBy(col("series"), (col("t") % TsCore.DaySize).as("pos"))
      .agg((Num.sumQ4(col("detr")) / count(lit(1))).as("seas"))
    val trLag = base.select(col("series"), (col("t") + TsCore.WeekLag).as("t"),
      col("trend").as("tr_lag"))
    val yLag = base.select(col("series"), (col("t") + TsCore.WeekLag).as("t"),
      col("v_filled").as("p_dir"))
    // checkpointed: BOTH variant branches of the union read ev — without
    // materialization each re-runs the three-join eval chain
    val ev = b.filter(col("t") >= col("tsplit"))
      .join(trLag, Seq("series", "t"))
      .join(yLag, Seq("series", "t"))
      .withColumn("pos", col("t") % TsCore.DaySize)
      .join(seasTr, Seq("series", "pos"))
      .select(col("series"), col("v_filled").as("y"),
        (col("tr_lag") + col("seas")).as("p_dec"), col("p_dir"))
      .localCheckpoint(eager = false)
    val both = ev.select(col("series"), lit("decomposed").as("variant"),
        col("y"), col("p_dec").as("p"))
      .unionByName(ev.select(col("series"), lit("direct").as("variant"),
        col("y"), col("p_dir").as("p")))
    both.groupBy("series", "variant")
      .agg(count(lit(1)).as("n"),
        sum(Num.absErrQ4(col("y"), col("p"))).as("sae"),
        sum(Num.sqErrQ4(col("y"), col("p"))).as("sse"))
      .select(col("series"), col("variant"), col("n"),
        Num.maeQ4(col("sae"), col("n")).as("mae"),
        Num.rmseQ4(col("sse"), col("n")).as("rmse"))
  }

  /** q60's lag offsets for horizon h: the recursion's own feed (h) plus
    * the daily/weekly actuals each unrolled step consumes. Shared with
    * the oracle generator so the two sides unroll identically.
    */
  private[graft] def recursiveOffsets(h: Int): Seq[Int] =
    (h +: ((1 to h).map(j => h - j + TsCore.DaySize) ++
           (1 to h).map(j => h - j + TsCore.WeekLag))).distinct.sorted

  /** q60: RECURSIVE multi-step forecasting — the reference's seq2seq
    * decode loop (forecasting/seq2seq/wrapper.py:108-140: the decoder
    * feeds its OWN prediction forward step by step), applied to q22's
    * linear lag model and unrolled in closed form:
    *
    *   p_j = b0 + b1·p_{j−1} + b2·y(u_j−24) + b3·y(u_j−168),  p_0 = y(t−h)
    *
    * — for h ≤ 24 only the lag-1 feature becomes recursive (the daily
    * and weekly lags still reference actuals at the origin), so the
    * whole k-step loop is a nested column expression, no iteration, no
    * driver data movement. At h=1 the recursion IS q22's prediction
    * (ForecastImputeSpec asserts the per-series MAE matches q22 on the
    * shared eval points within one r4 quantization step — the error
    * AGGREGATION differs: q60 sums per-row quantized errors, order-free;
    * q22 averages raw floats), and the error-by-horizon curve against q39's
    * DIRECT strategy reproduces the textbook comparison: recursive
    * degrades with horizon as its own errors compound.
    *
    * Scale shape: ONE per-series window pass materializes every lag
    * column for all horizons, the per-series coefficients (q22's
    * sufficient-statistics fit) broadcast back, and all horizons
    * evaluate in one conditional-aggregation scan — q39's discipline.
    */
  def recursiveForecast(spark: SparkSession, sfDir: String,
                        horizons: Seq[Int] = Seq(1, 6, 12, 24)): DataFrame = {
    require(horizons.nonEmpty && horizons.forall(h => h >= 1 && h <= TsCore.DaySize),
      s"horizons=$horizons: recursion past one day would feed predicted daily lags")
    require(horizons.distinct == horizons,
      s"horizons=$horizons must be distinct: a duplicate produces duplicate " +
        "n_h/sae_h/sse_h agg aliases and an ambiguous-column failure downstream")
    val coefs = olsFit(lagBase(spark, sfDir).filter(col("t") < col("tsplit")))
    val w = Window.partitionBy("series").orderBy("t")
    val allOffs = horizons.flatMap(recursiveOffsets).distinct.sorted
    val lagCols = allOffs.map(i => lag("y", i).over(w).as(s"l$i"))
    val base = TsCore.filled(spark, sfDir)
      .select(col("series"), col("t"), col("v_filled").as("y"))
      .select(Seq(col("series"), col("t"), col("y")) ++ lagCols: _*)
      .join(boundaryT(spark, sfDir), "series")
      .filter(col("t") >= col("tsplit"))
      .join(coefs, "series")
    // unroll the decode loop: same left-assoc fold order as the oracle
    def pred(h: Int): Column = {
      var p: Column = col(s"l$h")
      for (j <- 1 to h)
        p = col("b0") + col("b1") * p +
          col("b2") * col(s"l${h - j + TsCore.DaySize}") +
          col("b3") * col(s"l${h - j + TsCore.WeekLag}")
      p
    }
    def ok(h: Int): Column =
      (col("y").isNotNull +: !isnan(col("b0")) +:
        recursiveOffsets(h).map(i => col(s"l$i").isNotNull)).reduce(_ && _)
    val aggs = horizons.flatMap { h =>
      val p = pred(h)
      Seq(
        sum(when(ok(h), 1L)).as(s"n_$h"),
        sum(when(ok(h), Num.absErrQ4(col("y"), p))).as(s"sae_$h"),
        sum(when(ok(h), Num.sqErrQ4(col("y"), p))).as(s"sse_$h"))
    }
    base.groupBy("series").agg(aggs.head, aggs.tail: _*)
      .select(col("series"), explode(array(horizons.map { h =>
        struct(lit(h).as("horizon"), col(s"n_$h").as("n"),
          col(s"sae_$h").as("sae"), col(s"sse_$h").as("sse"))
      }: _*)).as("s"))
      .filter(col("s.n") > 0)
      .select(col("series"), col("s.horizon").as("horizon"), col("s.n").as("n"),
        Num.maeQ4(col("s.sae"), col("s.n")).as("mae"),
        Num.rmseQ4(col("s.sse"), col("s.n")).as("rmse"))
  }

  /** q35: multi-horizon persistence backtest — forecast error of the
    * h-step persistence baseline (pred[t] = v[t−h]) over the test
    * region, per (series, horizon). The error-vs-horizon curve is the
    * evaluation the reference runs for its multi-step forecasters
    * (src/forecasting, MSE/MAE per horizon); one window pass per horizon,
    * all horizons in one plan.
    */
  def horizonBacktest(spark: SparkSession, sfDir: String,
                      horizons: Seq[Int] = Seq(1, 6, 12, 24)): DataFrame = {
    val w = Window.partitionBy("series").orderBy("t")
    val f = TsCore.filled(spark, sfDir).join(TsCore.splitBoundary(spark, sfDir)
      .select(col("series"), (col("mwin") * TsCore.DaySize).as("tsplit")), "series")
    horizons.map { h =>
      f.withColumn("p", lag("v_filled", h).over(w))
        .filter(col("t") >= col("tsplit") && col("v_filled").isNotNull && col("p").isNotNull)
        .groupBy("series")
        .agg(count(lit(1)).as("n"),
          sum(Num.absErrQ4(col("v_filled"), col("p"))).as("sae"),
          sum(Num.sqErrQ4(col("v_filled"), col("p"))).as("sse"))
        .select(col("series"), lit(h).as("horizon"), col("n"),
          Num.maeQ4(col("sae"), col("n")).as("mae"),
          Num.rmseQ4(col("sse"), col("n")).as("rmse"))
    }.reduce(_ unionByName _)
  }

  /** q49: periodogram / dominant-seasonality detection — DFT power at a
    * fixed grid of candidate periods (the "which season does this series
    * actually have" pre-check before q21/q24/q48 assume daily/weekly).
    * Spark-first shape: the trig tables are DRIVER literals (cos/sin at
    * the p phase points, quantized to 1e-4 — identical tables injected
    * into the DuckDB oracle, so libm never enters the comparison);
    * per-row term = (v−μ)·cos(2πt/p) in pure scaled-int64 (scale 1e8),
    * so the per-series sums are order-free exact. One broadcast of the
    * |series|-row means, one groupBy per period unioned into a single
    * plan — no window until the |series|×|periods| ranking. Power is
    * normalized by n² (≈ squared mean amplitude — scale-free across
    * series lengths).
    */
  def periodogram(spark: SparkSession, sfDir: String,
                  periods: Seq[Int] = Seq(6, 8, 12, 24, 84, 168)): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2), s"periods=$periods")
    val vq = TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .select(col("series"), col("t"),
        Num.q4(col("v_filled")).as("vq"))
    val mu = vq.groupBy("series")
      .agg(floor(sum("vq") / count(lit(1)) + 0.5d).cast("long").as("mu"))
    val dv = vq.join(mu, "series")
      .withColumn("dq", col("vq") - col("mu"))
    val pows = periods.map { p =>
      val ph = (col("t") % p).cast("int") + 1
      val tc = element_at(typedLit(trigQ4(p, math.cos)), ph)
      val ts = element_at(typedLit(trigQ4(p, math.sin)), ph)
      dv.groupBy("series")
        .agg(count(lit(1)).as("n"),
          (sum(col("dq") * tc) / 100000000d).as("sc"),
          (sum(col("dq") * ts) / 100000000d).as("ss"))
        .select(col("series"), lit(p).as("period"), col("n"),
          Num.r4((col("sc") * col("sc") + col("ss") * col("ss")) / (col("n") * col("n")))
            .as("power"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy("series").orderBy(col("power").desc, col("period"))
    pows.withColumn("is_dominant",
      when(row_number().over(w) === 1, 1).otherwise(0))
  }

  /** q49's cos/sin table over one period, quantized on the driver. */
  private def trigQ4(p: Int, f: Double => Double): Seq[Long] =
    (0 until p).map(k => Num.q4(f(2.0 * math.Pi * k / p)))

  /** Mirrors [[periodogram]] for the DuckDB oracle — same driver trig
    * tables, same scaled-int accumulation.
    */
  def periodogramOracle(periods: Seq[Int] = Seq(6, 8, 12, 24, 84, 168)): String = {
    val per = periods.map { p =>
      s"""SELECT series, $p AS period, count(*) AS n,
         CAST(sum(dq * (${trigQ4(p, math.cos).mkString("[", ", ", "]")}[CAST(t % $p AS INT) + 1])) AS DOUBLE)/100000000 AS sc,
         CAST(sum(dq * (${trigQ4(p, math.sin).mkString("[", ", ", "]")}[CAST(t % $p AS INT) + 1])) AS DOUBLE)/100000000 AS ss
  FROM dv GROUP BY series"""
    }.mkString("\n  UNION ALL\n  ")
    TsOracle.prefix + s""",
vq AS (
  SELECT series, t, ${Num.q4sql("v_filled")} AS vq
  FROM filled WHERE v_filled IS NOT NULL
), muq AS (
  SELECT series, CAST(floor(sum(vq) / count(*) + 0.5) AS BIGINT) AS mu FROM vq GROUP BY series
), dv AS (
  SELECT v.series, v.t, v.vq - m.mu AS dq FROM vq v JOIN muq m USING (series)
), pows AS (
  SELECT series, period, n,
         ${Num.r4sql("(sc*sc + ss*ss) / (n*n)")} AS power
  FROM ($per)
)
SELECT series, period, n, power,
       CASE WHEN row_number() OVER (PARTITION BY series ORDER BY power DESC, period) = 1
            THEN 1 ELSE 0 END AS is_dominant
FROM pows"""
  }

  /** Per-series 3-lag OLS fits over a lag+cuts frame, one per suffix
    * `sf`, trained on the rows where ok(sf) holds (b0_sf..b3_sf) —
    * q54's expanding folds and q62's stale/refit cuts, in the same two
    * [[Ols]] passes.
    */
  private def condOlsCoefs(withB: DataFrame, sufs: Seq[String],
                           ok: String => Column): DataFrame =
    Ols.fit(withB, Seq("series"), sufs.map(sf => Ols.Fit(s"_$sf", Lags, Some(ok(sf)))))

  /** q54: expanding-window refit backtest — the proper model evaluation
    * next to q35's persistence backtest: q22's 3-lag OLS is REFIT at
    * each fold boundary (per-series fractions of the feature range) and
    * evaluated only on that fold's slice, so every test point is scored
    * by a model trained strictly on its past (walk-forward validation,
    * Hyndman FPP3 §5.10, public). Per (series, fold): test size +
    * MAE/RMSE — the degradation curve that says how often to retrain.
    *
    * Scale shape (q39's conditional-agg collapse): ALL folds solve in
    * THREE shared aggregation passes — fold means → centered sums →
    * test errors — with per-fold `when(t < cut_i, …)` guards, instead
    * of |folds| independent olsFit chains each re-scanning the shared
    * lag table. A conditional aggregate visits the same rows in the
    * same scan order as the filtered frame it replaces, so every
    * sufficient statistic, coefficient and error is bit-identical to
    * the per-fold solve. The
    * |series|-scale boundary/mean/coefficient frames join with no
    * static hint, so AQE picks broadcast or shuffle at run time — at
    * millions of meters they are tens of MB and must not be
    * unconditionally broadcast.
    */
  def refitBacktest(spark: SparkSession, sfDir: String,
                    fracs: Seq[Double] = Seq(0.7, 0.8, 0.9)): DataFrame = {
    require(fracs.nonEmpty && fracs == fracs.sorted && fracs.distinct == fracs
      && fracs.forall(f => f > 0 && f < 1), s"fracs=$fracs")
    val base = withLags(spark, sfDir)
      .filter(col("y").isNotNull && col("x1").isNotNull &&
        col("x2").isNotNull && col("x3").isNotNull)
    val rng = base.groupBy("series").agg(min("t").as("t0"), max("t").as("t1"))
    // boundaries are cut0..cutN (NOT b0..: the coefficient columns below
    // are b0_i..b3_i and the names must never collide)
    val bnds = fracs.zipWithIndex.foldLeft(rng) { case (df, (f, i)) =>
      df.withColumn(s"cut$i",
        col("t0") + floor((col("t1") - col("t0") + 1) * f).cast("long"))
    }.withColumn(s"cut${fracs.size}", col("t1") + 1)
    // materialize the lag+boundary frame ONCE (q39's discipline): the
    // three agg passes below otherwise each re-derive the per-series
    // window sort — 4 lag passes where one suffices
    val withB = StageCache.cached(spark, sfDir, s"q54lags_${fracs.mkString("_")}") {
      base.join(bnds.drop("t0", "t1"), "series")
    }
    def trainOk(i: Int) = col("t") < col(s"cut$i")
    def testOk(i: Int) = col("t") >= col(s"cut$i") && col("t") < col(s"cut${i + 1}")
    val coefs = condOlsCoefs(withB, fracs.indices.map(_.toString),
      s => trainOk(s.toInt))
    // pass 3: per-fold test errors over the fold's slice
    val errAggs = fracs.indices.flatMap { i =>
      val p = col(s"b0_$i") + col(s"b1_$i") * col("x1") +
        col(s"b2_$i") * col("x2") + col(s"b3_$i") * col("x3")
      Seq(
        sum(when(testOk(i), 1L)).as(s"n_$i"),
        // b0 rides along (constant per series) for the null/NaN filter below
        max(col(s"b0_$i")).as(s"b0_$i"),
        avg(when(testOk(i), abs(col("y") - p))).as(s"mae_$i"),
        sqrt(avg(when(testOk(i), (col("y") - p) * (col("y") - p)))).as(s"rmse_$i"))
    }
    val errs = withB.join(coefs, "series")
      .groupBy("series").agg(errAggs.head, errAggs.tail: _*)
    errs.select(col("series"), explode(array(fracs.indices.map { i =>
        struct(lit(i).as("fold"), col(s"n_$i").as("n"), col(s"b0_$i").as("b0"),
          col(s"mae_$i").as("mae"), col(s"rmse_$i").as("rmse"))
      }: _*)).as("s"))
      // a (series, fold) row exists in the per-fold chain only if the
      // fold had ≥1 train row (b0 non-null; NaN from a singular system
      // still passes, matching the old inner-join chain) AND ≥1 test row
      .filter(col("s.b0").isNotNull && col("s.n") > 0)
      .select(col("series"), col("s.fold").as("fold"), col("s.n").as("n"),
        Num.r4(col("s.mae")).as("mae"), Num.r4(col("s.rmse")).as("rmse"))
  }

  /** q62's cached lag+cut frame: lags straight off the filled spine —
    * NOT lagBase: its q22-semantic boundary join (complete-window
    * split) would empty the frame on sparse feeds where no day window
    * completes, and q62's cuts come from the feature range itself
    * (q54's discipline). Materialized ONCE so the conditional fit
    * passes, the error pass and the artifact build never re-derive the
    * per-series window sort.
    */
  private[graft] def refitLags(spark: SparkSession, sfDir: String,
                               fracA: Double = 0.7, fracB: Double = 0.85): DataFrame = {
    require(0 < fracA && fracA < fracB && fracB < 1,
      s"need 0 < fracA=$fracA < fracB=$fracB < 1")
    val base = withLags(spark, sfDir)
      .filter(col("y").isNotNull && col("x1").isNotNull &&
        col("x2").isNotNull && col("x3").isNotNull)
    val rng = base.groupBy("series").agg(min("t").as("t0"), max("t").as("t1"))
    val cuts = rng.select(col("series"),
      (col("t0") + floor((col("t1") - col("t0") + 1) * fracA).cast("long")).as("cutA"),
      (col("t0") + floor((col("t1") - col("t0") + 1) * fracB).cast("long")).as("cutB"))
    StageCache.cached(spark, sfDir, s"q62lags_${fracA}_$fracB") {
      base.join(cuts, "series")
    }
  }

  /** q62's fitted DECISION ARTIFACT: per series the two cut points and
    * the STALE (cutA-trained) + REFRESHED (cutB-trained) coefficient
    * sets — ONE session-cached realization (the model-as-artifact
    * discipline: raw-double sufficient-statistics sums are
    * partition-order-sensitive in the last ulp, so the in-session q62,
    * ModelStore.saveRefitAudit and the streaming twin's batch anchor
    * must all read the SAME materialization).
    */
  private[graft] def refitArtifact(spark: SparkSession, sfDir: String,
                                   fracA: Double = 0.7, fracB: Double = 0.85): DataFrame =
    StageCache.cached(spark, sfDir, s"q62art_${fracA}_$fracB") {
      val withB = refitLags(spark, sfDir, fracA, fracB)
      withB.select("series", "cutA", "cutB").distinct()
        .join(condOlsCoefs(withB, Seq("cutA", "cutB"), c => col("t") < col(c)), "series")
    }

  /** The stale/refreshed prediction off a refitArtifact-joined row —
    * ONE definition shared by batch q62, ModelStore.loadAndRefitScore
    * and streaming refitScoreStream (bit-parity by construction).
    */
  private[graft] def refitPred(c: String): Column =
    col(s"b0_$c") + col(s"b1_$c") * col("x1") +
      col(s"b2_$c") * col("x2") + col(s"b3_$c") * col("x3")

  /** q62's drift baseline for the streaming twin: per series the FULL
    * value range (psiOf bins against global mn/mx — both halves) and
    * the train-half (t < cutA) bin counts pivoted wide — the
    * |series|-row artifact the monitor persists and broadcasts
    * (driftBaseline's shape with the boundary swapped to cutA).
    */
  private[graft] def refitBaseline(spark: SparkSession, sfDir: String,
                                   fracA: Double = 0.7, fracB: Double = 0.85,
                                   nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins=$nBins")
    val wp = Window.partitionBy("series")
    val cuts = refitLags(spark, sfDir, fracA, fracB)
      .select("series", "cutA").distinct()
    val pts = TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .join(cuts, "series")
      .withColumn("mn", min("v_filled").over(wp))
      .withColumn("mx", max("v_filled").over(wp))
      .withColumn("bin", when(col("mx") === col("mn"), 0L).otherwise(
        least(floor((col("v_filled") - col("mn")) / (col("mx") - col("mn")) * nBins),
          lit(nBins - 1L))))
    val binAggs = (0 until nBins).map(b =>
      sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b"))
    pts.filter(col("t") < col("cutA")).groupBy("series")
      .agg(max("mn").as("mn"), (max("mx").as("mx") +: binAggs): _*)
  }

  /** q62: DRIFT-TRIGGERED REFIT AUDIT — the model-maintenance loop a
    * deployed forecaster runs (the operational complement of q54's
    * backtest; drift-gated retraining is the standard MLOps policy,
    * public): per series,
    *
    *   1. PSI between the value distribution before and after the
    *      train cut (qp7's smoothed 10-bin formula on the same
    *      1e-6-int term grid) — the "has the world moved" signal;
    *   2. the STALE model (q22's 3-lag OLS trained before cutA) vs a
    *      REFRESHED refit (trained before cutB, i.e. including the
    *      post-deployment data) evaluated on the SAME final slice
    *      [cutB, end) — the "would retraining have helped" answer.
    *
    * Output: (series, psi, drifted, n, mae_stale, mae_refit) — the
    * table a maintenance job turns into refit decisions.
    *
    * Scale shape: one lag pass; BOTH fits are conditional sufficient-
    * statistics aggs in the same two passes (q54's fold discipline —
    * no per-model scan); the PSI chain is one filled pass + a
    * |series|×nBins agg; everything joins per series with no static
    * hint (AQE picks broadcast or shuffle at run time).
    */
  def refitTrigger(spark: SparkSession, sfDir: String, fracA: Double = 0.7,
                   fracB: Double = 0.85, nBins: Int = 10,
                   thr: Double = 0.1): DataFrame = {
    require(nBins >= 2, s"nBins=$nBins")
    val withB = refitLags(spark, sfDir, fracA, fracB)
    // the session-cached artifact (shared with ModelStore/the stream
    // twin); withB already carries the cuts, so only the coefs join in
    val coefs = refitArtifact(spark, sfDir, fracA, fracB).drop("cutA", "cutB")
    def p(c: String) = refitPred(c)
    val evalOk = col("t") >= col("cutB")
    val errs = withB.join(coefs, "series")
      .groupBy("series").agg(
        sum(when(evalOk, 1L)).as("n"),
        // b0s ride along (constant per series) for the null guard below
        max(col("b0_cutA")).as("b0_cutA"), max(col("b0_cutB")).as("b0_cutB"),
        avg(when(evalOk, abs(col("y") - p("cutA")))).as("mae_stale"),
        avg(when(evalOk, abs(col("y") - p("cutB")))).as("mae_refit"))
      // q54's guard: a series with an EMPTY train split has null
      // coefficients here but is dropped entirely by the oracle's
      // inner-join chain — drop it the same way (NaN from a singular
      // system still passes, matching the oracle's NaN row)
      .filter(col("n") > 0 && col("b0_cutA").isNotNull && col("b0_cutB").isNotNull)
    // PSI of the value distribution across the cutA boundary — qp7's
    // formula via the SHARED TsQueries.psiOf chain, boundary swapped
    // from the midpoint to the cut. The cut comes OFF THE CACHED frame
    // (distinct over |series| rows), not the raw cuts subtree — joining
    // `cuts` here would rebuild the whole lag pass for the PSI branch
    // (PlanSpec gates this)
    val pts = TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .join(withB.select("series", "cutA").distinct(), "series")
    val psi = TsQueries.psiOf(pts, when(col("t") < col("cutA"), 0).otherwise(1), nBins)
      .select("series", "psi")
    errs.join(psi, "series")
      .select(col("series"), col("psi"),
        when(col("psi") > thr, 1).otherwise(0).as("drifted"), col("n"),
        Num.r4(col("mae_stale")).as("mae_stale"),
        Num.r4(col("mae_refit")).as("mae_refit"))
  }

  /** q56's feature frame (series, t, y, x1..x6, tsplit) — one cached
    * per-series window pass; shared by the solver, the metrics output,
    * and the ModelStore/streaming apply paths.
    */
  private[graft] def featureBase(spark: SparkSession, sfDir: String,
                                 rollH: Int = 12): DataFrame = {
    require(rollH >= 1, s"rollH=$rollH")
    val w = Window.partitionBy("series").orderBy("t")
    val wRoll = w.rowsBetween(-rollH, -1)
    StageCache.cached(spark, sfDir, s"q56base_$rollH") {
      val f = TsCore.filled(spark, sfDir)
        .select(col("series"), col("t"), col("v_filled").as("y"))
        .withColumn("yq", Num.q4(col("y")))
        .withColumn("x1", lag("y", 1).over(w))
        .withColumn("x2", lag("y", 2).over(w))
        .withColumn("x3", lag("y", 3).over(w))
        .withColumn("x4", lag("y", TsCore.DaySize).over(w))
        .withColumn("x5", lag("y", TsCore.WeekLag).over(w))
        // exact rolling mean: int frame-sum over the gapless spine;
        // emitted only when the frame holds rollH observed values
        .withColumn("x6", when(count("yq").over(wRoll) === rollH,
          sum("yq").over(wRoll) / 10000d / rollH))
        .drop("yq")
      f.join(boundaryT(spark, sfDir), "series")
        .filter(col("y").isNotNull && col("x1").isNotNull &&
          col("x2").isNotNull && col("x3").isNotNull && col("x4").isNotNull &&
          col("x5").isNotNull && col("x6").isNotNull)
    }
  }

  /** q56's fitted model: per series, RAW (un-quantized) b0..b6 from the
    * train split — the artifact ModelStore persists. The apply
    * expression [[featurePred]] over these exact doubles is what makes
    * saved-model scoring bit-identical to the in-session fit.
    *
    * Session-cached for the same reason as Impute.imputerCoefs: the
    * fitted model is ONE realization per session — raw-double stat
    * sums are partition-order-sensitive in the last ulp, so save and
    * serve must read the same materialization.
    */
  private[graft] def featureCoefs(spark: SparkSession, sfDir: String,
                                  lambda: Double = 0.001, rollH: Int = 12): DataFrame =
    graft.util.StageCache.cached(spark, sfDir, s"featurecoefs_${lambda}_$rollH") {
      featureCoefsBuild(spark, sfDir, lambda, rollH)
    }

  private def featureCoefsBuild(spark: SparkSession, sfDir: String,
                                lambda: Double, rollH: Int): DataFrame = {
    require(lambda > 0, s"lambda=$lambda: ridge needs a positive diagonal")
    val p = 6
    val base = featureBase(spark, sfDir, rollH)
    def x(i: Int) = s"x${i + 1}"
    def m(i: Int) = s"m${i + 1}"
    val train = base.filter(col("t") < col("tsplit"))
    // exact means: scaled-int sums over the r4/near-r4 features
    val meanAggs = (Num.sumQ4(col("y")) / count(lit(1))).as("my") +:
      (0 until p).map(i => (Num.sumQ4(col(x(i))) / count(lit(1))).as(m(i)))
    val means = train.groupBy("series").agg(meanAggs.head, meanAggs.tail: _*)
    // exact scatter: each centered term quantizes to the 1e-4 grid and
    // accumulates as int64 — order-free in both engines
    def ctr(i: Int) = col(x(i)) - col(m(i))
    val scatterAggs =
      (for { i <- 0 until p; j <- i until p } yield {
        val s = Num.sumQ4(ctr(i) * ctr(j))
        (if (i == j) s + lambda else s).as(s"s${i}_$j")
      }) ++ (0 until p).map(i => Num.sumQ4(ctr(i) * (col("y") - col("my"))).as(s"sy$i"))
    val stats = train.join(means, "series")
      .groupBy("series").agg(scatterAggs.head, scatterAggs.tail: _*)
    // augmented [S | sy] → Ols.gaussJordan (no pivoting: the ridge
    // diagonal keeps pivots nonzero); column p of the result is b1..b6
    val aug = stats.select(col("series"), array((0 until p).map { i =>
      array((0 to p).map { j =>
        if (j == p) col(s"sy$i") else if (i <= j) col(s"s${i}_$j") else col(s"s${j}_$i")
      }: _*)
    }: _*).as("a"))
    Ols.gaussJordan(aug, "a", p)
      .select(col("series") +: (0 until p).map(i => col("a")(i)(p).as(s"b${i + 1}")): _*)
      .join(means, "series")
      .withColumn("b0", col("my") -
        (1 to p).map(i => col(s"b$i") * col(s"m$i")).reduce(_ + _))
      .select(col("series") +: (0 to p).map(i => col(s"b$i")): _*)
  }

  /** The q56 apply expression — b0 + Σ bᵢ·xᵢ with the fixed left-fold
    * association both the oracle and the streaming scorer reproduce.
    */
  private[graft] def featurePred: Column =
    col("b0") + (1 to 6).map(i => col(s"b$i") * col(s"x$i")).reduce(_ + _)

  /** q56: wide-context ridge forecaster — the closed-form stand-in for
    * the reference's sequence forecasters (seq2seq GRU wrapper.py:129,
    * SCINet.py): their encoders consume the WHOLE input window, where
    * q22 sees exactly 3 lags. q56 widens the context to SIX features —
    *   x1..x3  short-range lags 1, 2, 3 (the encoder's local context),
    *   x4, x5  the seasonal lags 24, 168,
    *   x6      the 12-hour rolling mean of the immediately preceding
    *           points (the smoothed recent level a recurrent state
    *           carries)
    * — ridge-solved per series. The 6×6 normal-equations solve is
    * [[Ols.gaussJordan]] over the augmented `[S | sy]` array IN THE
    * PLAN (one elimination expression over the |series|-row stats
    * frame, the same elimination as q10's inverse) — fully distributed,
    * no driver matrix work. The same machinery extends to any feature
    * list (the spec's win criterion is what fixed this one).
    *
    * Calendar one-hot features (hour-of-day / day-of-week train
    * profiles) were evaluated and MEASURED OUT on this feed: their
    * train-split correlation (~0.25) equals the sampling-noise floor
    * (σ/√(n/24)) and collapses to ~0 on the test split, so they only
    * add overfit variance — a real meter feed with true daily shape
    * would add them back as two more joined profile aggregates.
    *
    * Determinism by construction: every mean is an exact scaled-int
    * sum over r4-quantized inputs; every scatter/error term quantizes
    * to the 1e-4 grid before an integer accumulation (order-free in
    * both engines); the Gauss–Jordan steps then run the identical IEEE
    * sequence on identical doubles. Bound: per-series Σ|term|·1e4 must
    * stay < 2^63 (holds to ~10⁶ points/series at load magnitudes; at
    * larger n switch the accumulator to 1e-2 scale).
    *
    * Scale shape: ONE per-series window pass builds all six features
    * (the rolling mean is an exact int frame-sum over the gapless
    * spine); one sufficient-statistics agg; six |series|-row
    * projections; one test error agg. |series|-scale frames join with
    * no static hint (AQE picks broadcast or shuffle at run time).
    */
  def featureForecast(spark: SparkSession, sfDir: String,
                      lambda: Double = 0.001, rollH: Int = 12): DataFrame = {
    val p = 6
    val base = featureBase(spark, sfDir, rollH)
    val coefs = featureCoefs(spark, sfDir, lambda, rollH)
    val test = base.filter(col("t") >= col("tsplit"))
    val scored = test.join(coefs, "series")
      .withColumn("p", featurePred)
    val errAggs = (count(lit(1)).as("n") +:
      (0 to p).map(i => max(col(s"b$i")).as(s"b$i"))) ++
      Seq(sum(Num.absErrQ4(col("y"), col("p"))).as("sae"),
        sum(Num.sqErrQ4(col("y"), col("p"))).as("sse"))
    scored.groupBy("series").agg(errAggs.head, errAggs.tail: _*)
      .select(col("series") +: col("n") +:
        ((0 to p).map(i => Num.r4(col(s"b$i")).as(s"b$i")) ++ Seq(
          Num.maeQ4(col("sae"), col("n")).as("mae"),
          Num.rmseQ4(col("sse"), col("n")).as("rmse"))): _*)
  }

  /** q53: hierarchical forecast reconciliation (Hyndman FPP3 ch. 11,
    * public) — the load-forecasting fleet problem: per-meter (here
    * per-series) forecasts must stay COHERENT with the grand-total
    * forecast the grid operator plans against. Bottom base forecasts
    * are seasonal-naive (t−168); the total is forecast DIRECTLY at the
    * daily-persistence grain (total(t−24)) — the lags deliberately
    * differ, so bottom-up and direct disagree and reconciliation does
    * real work. Proportional top-down: rec_s = total_fc ·
    * base_s / Σ base — each test hour's bottom forecasts rescale to sum
    * to the direct total.
    *
    * Determinism: base and total accumulate as 1e-4 scaled int64 (the
    * Σ over series is order-free), and the rec ratio divides the two
    * exact ints — both engines see identical doubles. Scale shape: one
    * per-series window lag + two tiny per-hour aggs (map-side combined)
    * joined back on t; no global window, no driver data. Test region =
    * the shared max per-series boundary, so every series is out of
    * train.
    */
  def reconcile(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("series").orderBy("t")
    val f = TsCore.filled(spark, sfDir)
      .select(col("series"), col("t"), col("v_filled").as("y"))
    val gsplit = boundaryT(spark, sfDir).agg(max("tsplit").as("tsplit"))
    val base = f
      .withColumn("p", lag("y", TsCore.WeekLag).over(w))
      .filter(col("y").isNotNull && col("p").isNotNull)
      .withColumn("pq", Num.q4(col("p")))
    val tot = f.filter(col("y").isNotNull)
      .groupBy("t").agg(sum(Num.q4(col("y"))).as("ytq"))
    val totfc = tot.select((col("t") + TsCore.DaySize).as("t"), col("ytq").as("tfq"))
    // Σ base over series as a whole-partition window on t: one exchange,
    // no self-join re-deriving the lag subtree (the plan showed the lag
    // window computed twice with a groupBy+join formulation)
    base.withColumn("sbq", sum("pq").over(Window.partitionBy("t")))
      .join(totfc, "t")
      .crossJoin(broadcast(gsplit))
      .filter(col("t") >= col("tsplit"))
      .select(col("series"), col("t"),
        Num.r4(col("pq") / 10000d).as("base_fc"),
        Num.r4(col("tfq") / 10000d).as("total_fc"),
        when(col("sbq") =!= 0L, Num.r4(col("tfq") / 10000d *
          (col("pq").cast("double") / col("sbq").cast("double")))).as("rec_fc"),
        Num.r4(col("y")).as("actual"))
  }

  /** q32: autocorrelation function at the forecasting-relevant lags
    * (1 = persistence, 24 = daily, 168 = weekly): Pearson correlation of
    * the series with its lagged self, one window pass + one agg per lag,
    * all lags in a single plan (union of conditional frames).
    */
  def acf(spark: SparkSession, sfDir: String, lags: Seq[Int] = Seq(1, 24, 168)): DataFrame = {
    val w = Window.partitionBy("series").orderBy("t")
    val f = TsCore.filled(spark, sfDir).select(col("series"), col("t"), col("v_filled"))
    lags.map { l =>
      f.withColumn("vl", lag("v_filled", l).over(w))
        .filter(col("v_filled").isNotNull && col("vl").isNotNull)
        .groupBy("series")
        .agg(count(lit(1)).as("n"), corr("v_filled", "vl").as("c"))
        .select(col("series"), lit(l).as("lag_h"), col("n"), Num.r4(col("c")).as("acf"))
    }.reduce(_ unionByName _)
  }

  /** q58's residual spine (series, t, y, p, tsplit, tcal, arq) —
    * materialized once: the calibration and test branches (and the
    * ModelStore calibration artifact) all read this frame; without the
    * cache the per-series lag window and the boundary join run twice.
    */
  private[timeseries] def conformalResiduals(spark: SparkSession, sfDir: String): DataFrame =
    StageCache.cached(spark, sfDir, "q58resid") {
      snSpine(spark, sfDir)
        .filter(col("y").isNotNull && col("p").isNotNull)
        .withColumn("tcal", col("tsplit") - lit(TsCore.WeekLag))
        .withColumn("arq", Num.absErrQ4(col("y"), col("p")))
    }

  /** The per-series conformal half-width: (series, n_cal, qhatq) with
    * q̂ = the ⌈(1−α)(n+1)⌉-th smallest calibration residual on the
    * 1e-4 int grid — the TRAINED artifact ModelStore persists.
    */
  private[timeseries] def conformalQhat(spark: SparkSession, sfDir: String,
                                        alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha=$alpha")
    conformalResiduals(spark, sfDir)
      .filter(col("t") >= col("tcal") && col("t") < col("tsplit"))
      .withColumn("ncal", count(lit(1)).over(Window.partitionBy("series")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("series").orderBy(col("arq"), col("t"))))
      .filter(col("rn") ===
        least(ceil(lit(1.0 - alpha) * (col("ncal") + 1)), col("ncal")))
      .select(col("series"), col("ncal").as("n_cal"), col("arq").as("qhatq"))
  }

  /** The conformal TEST split with its per-series q̂ attached — ONE
    * definition of "the band on the held-out region" shared by q58's
    * coverage report and q63's proper-scoring report, so the scored
    * bands can never drift from the calibrated ones.
    */
  private def conformalTest(spark: SparkSession, sfDir: String,
                            alpha: Double): DataFrame =
    conformalResiduals(spark, sfDir)
      .filter(col("t") >= col("tsplit"))
      .join(conformalQhat(spark, sfDir, alpha), "series")

  /** q58: split-conformal prediction intervals over the seasonal-naive
    * forecaster (q21) — the distribution-free uncertainty layer the
    * reference's point forecasts lack (its forecasting/ stack reports
    * MAE/RMSE only). Split conformal (Vovk et al.; Lei et al., public):
    * on a held-out calibration window (the last week of the train
    * split) take the ⌈(1−α)(n+1)⌉-th smallest absolute residual as the
    * interval half-width q̂, then measure empirical coverage of
    * ŷ ± q̂ on the test split — finite-sample valid for ANY point
    * forecaster, which is why the fit-free seasonal-naive predictor
    * slots in unchanged (a fitted model would only need its own
    * residual column here).
    *
    * Determinism: residuals are exact differences of r4-grid values,
    * quantized to 1e-4 int64 BEFORE ranking; q̂ is an ORDER STATISTIC
    * (the conformal definition — deliberately not an interpolated
    * percentile), so every rank and every coverage comparison is
    * integer-exact in both engines.
    *
    * Scale shape: one per-series lag pass (q21's spine), one bounded
    * per-series rank window over the ~WeekLag calibration rows, one
    * test-split aggregation. The |series|-scale boundary and q̂ frames
    * join with no static hint (AQE picks broadcast or shuffle at run
    * time).
    */
  def conformalIntervals(spark: SparkSession, sfDir: String,
                         alpha: Double = 0.1): DataFrame = {
    conformalTest(spark, sfDir, alpha)
      .groupBy("series", "n_cal", "qhatq")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("arq") <= col("qhatq"), 1L).otherwise(0L)).as("n_cov"))
      .select(col("series"), col("n_cal"), col("n_test"),
        (col("qhatq") / 10000d).as("qhat"),
        Num.r4(col("n_cov") / col("n_test").cast("double")).as("coverage"))
  }

  /** q63: PROPER SCORING of q58's prediction intervals — coverage
    * alone rewards a band that is merely wide; the Winkler interval
    * score (Gneiting & Raftery 2007 §6.2, the standard interval
    * metric: width + (2/α)·overshoot) and the pinball/quantile losses
    * of the band edges at τ = α/2 and 1−α/2 (the M5-uncertainty /
    * quantile-regression objective) penalize width AND miscoverage
    * together — the numbers a forecast evaluation actually ranks
    * interval methods by.
    *
    * Per-point scores are deterministic arithmetic on the r4-grid
    * y/p and the integer-exact q̂, so each is quantized to the 1e-4
    * grid and summed as int64 (order-free, both engines identical).
    * Scale shape: q58's cached residual spine + the |series|-row q̂
    * frame + ONE test-split aggregation — nothing new crosses an
    * exchange.
    */
  def intervalScore(spark: SparkSession, sfDir: String,
                    alpha: Double = 0.1): DataFrame = {
    val tl = alpha / 2
    val tu = 1 - alpha / 2
    val over = 2.0 / alpha
    val test = conformalTest(spark, sfDir, alpha)
      .withColumn("qh", col("qhatq") / 10000d)
      .withColumn("lo", col("p") - col("qh"))
      .withColumn("hi", col("p") + col("qh"))
    val wink = col("hi") - col("lo") +
      when(col("y") < col("lo"), (col("lo") - col("y")) * over).otherwise(0.0) +
      when(col("y") > col("hi"), (col("y") - col("hi")) * over).otherwise(0.0)
    def pin(tau: Double, q: Column): Column =
      when(col("y") >= q, (col("y") - q) * tau).otherwise((q - col("y")) * (1 - tau))
    test.groupBy("series", "qhatq")
      .agg(count(lit(1)).as("n_test"),
        sum(Num.q4(wink)).as("sw"),
        sum(Num.q4(pin(tl, col("lo")))).as("sl"),
        sum(Num.q4(pin(tu, col("hi")))).as("su"))
      .select(col("series"), col("n_test"), (col("qhatq") / 10000d).as("qhat"),
        Num.r4(Num.meanQ4(col("sw"), col("n_test"))).as("winkler"),
        Num.r4(Num.meanQ4(col("sl"), col("n_test"))).as("pinball_lo"),
        Num.r4(Num.meanQ4(col("su"), col("n_test"))).as("pinball_hi"))
  }
}
