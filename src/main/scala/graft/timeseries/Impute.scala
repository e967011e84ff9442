package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Num

/** Anomaly-span imputation (reference: src/anomaly_imputation/ — the
  * bi-LSTM denoising AE capability — and src/data_processing/
  * fill_missing_values.py). Re-expressed as scalable closed-form
  * imputers: linear interpolation, seasonal (weekly) fill, and the KNN
  * window imputer. All partition by series; the KNN imputer joins
  * anomalous windows against clean windows of the same series.
  */
object Impute {

  /** Full contaminated series (t = win*24 + pos) with anomaly flags. */
  private def flaggedSeries(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.injected(spark, sfDir)
      .select(col("series"), (col("win") * TsCore.DaySize + col("pos")).as("t"),
        col("win"), col("pos"), col("v_anom"), col("is_anom"))

  /** The per-window mask-start draw — ONE definition shared by q44's
    * triples (maskedPairs) and q55's training chain (imputerCoefs) so
    * the training set can never silently de-synchronize from the
    * triples it claims to train on; TsOracle.imputerTrainCtes / q44
    * mirror it via the shared keys CTE + lcg salt 8.
    */
  private def maskIndex(spark: SparkSession, sfDir: String, maskSize: Int): DataFrame = {
    require(maskSize >= 1 && maskSize < TsCore.DaySize - 1,
      s"maskSize=$maskSize: the reference draws mask starts from [0, daySize - maskSize - 1)")
    val hi = TsCore.DaySize - maskSize - 1
    TsCore.winKeys(spark, sfDir)
      .select(col("series"), col("win"),
        floor(TsCore.lcg(col("key"), 8) * hi).cast("long").as("mi"))
  }

  /** q44: masked-span training pairs for the denoising autoencoder
    * (ref anomaly_imputation/dataset_ai.py:15-25: each window gets ONE
    * random zero-masked span of `maskSize`, yielding (clean, masked,
    * mask) triples). The mask position is a deterministic LCG draw per
    * (series, win) — same key family as the anomaly injector, salt 8 —
    * over [0, daySize − maskSize − 1), mirroring the reference's
    * randint bound. Map-side after the shared complete-window stage;
    * partition key (series, win).
    */
  def maskedPairs(spark: SparkSession, sfDir: String, maskSize: Int = 8): DataFrame = {
    val mi = maskIndex(spark, sfDir, maskSize)
    TsCore.dayWindows(spark, sfDir)
      .join(mi, Seq("series", "win"))
      .withColumn("mask",
        when(col("pos") >= col("mi") && col("pos") < col("mi") + maskSize, 0).otherwise(1))
      .select(col("series"), col("win"), col("pos"), col("v"), col("mask"),
        when(col("mask") === 0, lit(0.0)).otherwise(col("v")).as("v_masked"))
  }

  /** q55's trained model: per (series, offset) RAW b0..b3 from the
    * masked-triple training chain — the artifact ModelStore persists
    * (the reference checkpoints its trained AE the same way,
    * anomaly_imputation/main.py). The apply expression [[imputePred]]
    * over these exact doubles makes saved-model imputation
    * bit-identical to the in-session fit.
    *
    * Session-cached: the FIT is one materialization per session — every
    * consumer (q55's apply, q57's eval, ModelStore.saveImputer, the
    * spec's live path) reads the SAME realized coefficients. Without
    * this, the raw-double sufficient-statistics sums re-run per
    * consumer with a different partition merge order, and two
    * realizations can differ in the last ulp — exactly the
    * intermittent bit-for-bit mismatch ModelStoreSpec caught. A fitted
    * model is a session ARTIFACT, not a recomputable view: serve from
    * the materialization (or the saved parquet), never refit inline.
    */
  private[graft] def imputerCoefs(spark: SparkSession, sfDir: String,
                                  maskSize: Int = 8, lambda: Double = 0.01): DataFrame =
    graft.util.StageCache.cached(spark, sfDir, s"imputercoefs_${maskSize}_$lambda") {
      imputerCoefsBuild(spark, sfDir, maskSize, lambda)
    }

  private def imputerCoefsBuild(spark: SparkSession, sfDir: String,
                                maskSize: Int, lambda: Double): DataFrame = {
    require(lambda > 0, s"lambda=$lambda: ridge needs a positive diagonal")
    val bound = TsCore.splitBoundary(spark, sfDir)
    val wa = Window.partitionBy("series", "win")

    // ---- training rows: q44's masked points, train split, mi ≥ 1 ----
    val mi = maskIndex(spark, sfDir, maskSize)
    val dw = TsCore.dayWindows(spark, sfDir)
    val seas = dw.select(col("series"), col("win").as("swin"), col("pos"), col("v").as("sv"))
    val trainRows = dw.join(mi, Seq("series", "win"))
      .withColumn("xl", max(when(col("pos") === col("mi") - 1, col("v"))).over(wa))
      .withColumn("xr", max(when(col("pos") === col("mi") + maskSize, col("v"))).over(wa))
      .join(bound, "series")
      .filter(col("win") < col("mwin") && col("mi") >= 1 &&
        col("pos") >= col("mi") && col("pos") < col("mi") + maskSize)
      .withColumn("wprev", col("win") - 7)
      .withColumn("wnext", col("win") + 7)
      .join(seas.withColumnRenamed("swin", "wprev").withColumnRenamed("sv", "svp"),
        Seq("series", "wprev", "pos"), "left")
      .join(seas.withColumnRenamed("swin", "wnext").withColumnRenamed("sv", "svn"),
        Seq("series", "wnext", "pos"), "left")
      .withColumn("xs", coalesce(col("svp"), col("svn")))
      .filter(col("xs").isNotNull)
      .select(col("series"), (col("pos") - col("mi")).as("o"),
        col("v").as("y"), col("xl"), col("xr"), col("xs"))

    // ---- per-(series, offset) ridge: q22's solve plus the diagonal ----
    Ols.fit(trainRows, Seq("series", "o"), Seq(Ols.Fit("", ("xl", "xr", "xs"))), lambda)
  }

  /** The q55 apply expression — shared by the in-session eval, the
    * saved-model path (ModelStore.loadAndImpute) and any stream.
    */
  private[graft] def imputePred: org.apache.spark.sql.Column =
    col("b0") + col("b1") * col("xl") + col("b2") * col("xr") + col("b3") * col("xs")

  /** q55's application points: the injected anomaly spans with their
    * context features (xl, xr, xs) and clamped span offset — the frame
    * a saved imputer model scores. `onlyTestSplit` keeps q55's
    * held-out evaluation; q57 cleans EVERY flagged span.
    */
  private[graft] def imputePoints(spark: SparkSession, sfDir: String,
                                  maskSize: Int = 8,
                                  onlyTestSplit: Boolean = true): DataFrame = {
    val bound = TsCore.splitBoundary(spark, sfDir)
    val wa = Window.partitionBy("series", "win")
    // ---- application: injected anomaly spans of the test split ----
    val inj = TsCore.injected(spark, sfDir)
    val prm = TsCore.injectParams(spark, sfDir).select("series", "win", "apos", "alen")
    val cleanv = inj.filter(col("is_anom") === 0)
      .select(col("series"), col("win").as("swin"), col("pos"), col("v_anom").as("cv"))
    inj.join(prm, Seq("series", "win"))
      .withColumn("xl", max(when(col("pos") === col("apos") - 1, col("v_anom"))).over(wa))
      .withColumn("xr", max(when(col("pos") === col("apos") + col("alen"), col("v_anom"))).over(wa))
      .join(bound, "series")
      .filter(if (onlyTestSplit) col("is_anom") === 1 && col("win") >= col("mwin")
              else col("is_anom") === 1)
      .withColumn("o", least(col("pos") - col("apos"), lit(maskSize - 1L)))
      .withColumn("wprev", col("win") - 7)
      .withColumn("wnext", col("win") + 7)
      .join(cleanv.withColumnRenamed("swin", "wprev").withColumnRenamed("cv", "cvp"),
        Seq("series", "wprev", "pos"), "left")
      .join(cleanv.withColumnRenamed("swin", "wnext").withColumnRenamed("cv", "cvn"),
        Seq("series", "wnext", "pos"), "left")
      .withColumn("xs", coalesce(col("cvp"), col("cvn")))
      .filter(col("xs").isNotNull)
  }

  /** q55: LEARNED masked-span imputer — the closed-form counterpart of
    * the reference's denoising autoencoder (anomaly_imputation/
    * autoencoder.py:61-117 trains a bi-LSTM AE on masked windows built
    * by dataset_ai.py; main.py applies it to flagged spans). The AE's
    * capability — learn, from (clean, masked) training pairs, how to
    * reconstruct a masked span from its context — is re-expressed as a
    * per-(series, span-offset) RIDGE regression on three context
    * features, TRAINED on q44's masked triples and APPLIED to the
    * injected anomaly spans of the test split:
    *
    *   features  xl = window value just before the span,
    *             xr = window value just after it,
    *             xs = same-position value from the nearest clean week
    *                  (previous, else next — q19's walk),
    *   model     per (series, offset-within-span): y ~ b0+b1·xl+b2·xr+b3·xs,
    *             centered normal equations with `lambda` added to the
    *             scatter diagonal (ridge ⇒ always nonsingular; a
    *             single-row group degrades gracefully to b=0, b0=ȳ),
    *             solved by q22's Cramer expressions.
    *
    * Spans longer than the training mask reuse the last trained offset
    * (the AE reconstructs arbitrary spans for the same reason: the
    * decoder sees only context + position). Output: per series, test-
    * split MAE/RMSE of the learned imputer vs the seasonal fill ON THE
    * SAME POINTS — the spec asserts learned ≤ seasonal corpus-wide.
    *
    * Scale shape: training rows are one row per masked grid point (no
    * fan-out); the solve is ONE sufficient-statistics aggregation keyed
    * (series, offset) — ≤ maskSize·|series| model rows out — and every
    * |series|-scale frame joins with no static hint (AQE picks
    * broadcast or shuffle at run time). The week-neighbor lookups are
    * exact equi-joins on (series, win±7, pos), never range joins.
    */
  def learnedImpute(spark: SparkSession, sfDir: String, maskSize: Int = 8,
                    lambda: Double = 0.01): DataFrame = {
    val coefs = imputerCoefs(spark, sfDir, maskSize, lambda)
    val pts = imputePoints(spark, sfDir, maskSize)
    val scored = pts.join(coefs, Seq("series", "o"))
      .withColumn("p", imputePred)
    val y = col("v_orig")
    scored.groupBy("series").agg(
      count(lit(1)).as("n"),
      sum(Num.absErrQ4(y, col("p"))).as("sae_l"), sum(Num.sqErrQ4(y, col("p"))).as("sse_l"),
      sum(Num.absErrQ4(y, col("xs"))).as("sae_s"), sum(Num.sqErrQ4(y, col("xs"))).as("sse_s"))
      .select(col("series"), col("n"),
        Num.maeQ4(col("sae_l"), col("n")).as("mae_learned"),
        Num.rmseQ4(col("sse_l"), col("n")).as("rmse_learned"),
        Num.maeQ4(col("sae_s"), col("n")).as("mae_seasonal"),
        Num.rmseQ4(col("sse_s"), col("n")).as("rmse_seasonal"))
  }

  /** q18: linear interpolation across flagged spans — for each flagged
    * point, interpolate between the nearest clean points on both sides.
    */
  def imputeLinear(spark: SparkSession, sfDir: String): DataFrame = {
    val wPrev = Window.partitionBy("series").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the next clean point is the LAST one of the reversed running frame
    // (t is unique per series): a growing frame, where first() over
    // [current, unbounded following) re-aggregates the tail per row
    val wNext = Window.partitionBy("series").orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vc = when(col("is_anom") === 0, col("v_anom"))
    val tc = when(col("is_anom") === 0, col("t"))
    flaggedSeries(spark, sfDir)
      .withColumn("vp", last(vc, ignoreNulls = true).over(wPrev))
      .withColumn("tp", last(tc, ignoreNulls = true).over(wPrev))
      .withColumn("vn", last(vc, ignoreNulls = true).over(wNext))
      .withColumn("tn", last(tc, ignoreNulls = true).over(wNext))
      .select(col("series"), col("t"), col("is_anom").as("was_anom"),
        Num.r4(when(col("is_anom") === 0, col("v_anom"))
          .when(col("vp").isNotNull && col("vn").isNotNull,
            col("vp") + (col("vn") - col("vp")) * (col("t") - col("tp")) / (col("tn") - col("tp")))
          .otherwise(coalesce(col("vp"), col("vn")))).as("v_imp"))
  }

  /** q19: seasonal fill — flagged points take the same hour-of-week from
    * the nearest clean week (1 back, 1 fwd, 2 back, 2 fwd), like
    * fill_missing_values.py fill_empty_days walks prev/next weeks.
    */
  def imputeSeasonal(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("series").orderBy("t")
    val vc = when(col("is_anom") === 0, col("v_anom"))
    val L = TsCore.WeekLag
    flaggedSeries(spark, sfDir)
      .withColumn("imp", coalesce(lag(vc, L).over(w), lead(vc, L).over(w),
                                  lag(vc, 2 * L).over(w), lead(vc, 2 * L).over(w)))
      .select(col("series"), col("t"), col("is_anom").as("was_anom"),
        Num.r4(when(col("is_anom") === 0, col("v_anom")).otherwise(col("imp"))).as("v_imp"))
  }

  /** q20: KNN window imputer (ref fill_missing_values.py
    * replace_value_by_nn, sklearn KNNImputer semantics): for each window
    * containing flagged points, find the k nearest clean windows of the
    * same series by nan-euclidean distance over the window's clean
    * positions — d = sqrt(D/n_obs · Σ_obs (a−b)²) — and fill each flagged
    * position with the neighbours' mean at that position.
    */
  def imputeKnn(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val inj = TsCore.injected(spark, sfDir)
    val winFlag = inj.groupBy("series", "win").agg(max("is_anom").as("anyanom"))
    val anomW = inj.join(winFlag.filter(col("anyanom") === 1).select("series", "win"), Seq("series", "win"))
    val cleanW = inj.join(winFlag.filter(col("anyanom") === 0).select("series", "win"), Seq("series", "win"))
      .select(col("series"), col("win").as("cwin"), col("pos"), col("v_anom").as("cv"))
    // distance over the anomalous window's clean positions
    val dists = anomW.filter(col("is_anom") === 0)
      .join(cleanW, Seq("series", "pos"))
      .groupBy("series", "win", "cwin")
      .agg(sqrt(lit(TsCore.DaySize.toDouble) / count(lit(1)) *
        sum((col("v_anom") - col("cv")) * (col("v_anom") - col("cv")))).as("d"))
    val wNear = Window.partitionBy("series", "win").orderBy(col("d"), col("cwin"))
    val nbrs = dists.withColumn("rn", row_number().over(wNear)).filter(col("rn") <= k)
    anomW.filter(col("is_anom") === 1).select("series", "win", "pos")
      .join(nbrs.select("series", "win", "cwin"), Seq("series", "win"))
      .join(cleanW, Seq("series", "cwin", "pos"))
      .groupBy("series", "win", "pos")
      .agg(Num.r4(avg("cv")).as("v_imp"))
  }
}
