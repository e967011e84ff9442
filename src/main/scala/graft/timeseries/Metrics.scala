package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Num, StageCache}

/** Detection quality metrics (reference: src/anomaly_detection/metrics.py
  * compute_timeseriewise_retrieval_metrics). Single-pass aggregations —
  * scores never leave the cluster.
  */
object Metrics {

  /** Window-level scores (q09) joined with window-level ground truth
    * (any injected point in the window).
    */
  def scoredWithGt(spark: SparkSession, sfDir: String): DataFrame =
    StageCache.cached(spark, sfDir, "scoredgt") {
      val (_, test) = TsCore.bankAndTest(spark, sfDir)
      val gt = test.groupBy("series", "win").agg(max("is_anom").as("gt"))
      Detect.knnScore(spark, sfDir).join(gt, Seq("series", "win"))
    }

  /** q16: percentile-threshold confusion matrix + P/R/F1 (ref metrics.py:
    * threshold = percentile(scores, 100 − contam_rate·100), here
    * contam 10% → 0.9 quantile; pred = score > threshold).
    */
  def thresholdMetrics(spark: SparkSession, sfDir: String, contamRate: Double = 0.1): DataFrame = {
    val sg = scoredWithGt(spark, sfDir)
    // threshold via the distributed range-sort (util.Quantiles), embedded
    // as a plan literal — not a single-group percentile() whose buffer
    // holds every window score on one reducer
    val thr = graft.util.Quantiles.exactLit(sg, "score", 1.0 - contamRate)
    withF1(sg.select(thr.as("thr"), col("score"), col("gt"))
      .withColumn("pred", when(col("score") > col("thr"), 1).otherwise(0))
      .agg(confusionCells.head, (confusionCells.tail :+ Num.r4(max("thr")).as("thr")): _*))
  }

  /** The tn/fp/fn/tp cells of 0/1 `pred` vs `gt` columns — q16, q25. */
  private[timeseries] def confusionCells: Seq[Column] = Seq(
    sum(when(col("pred") === 0 && col("gt") === 0, 1).otherwise(0)).as("tn"),
    sum(when(col("pred") === 1 && col("gt") === 0, 1).otherwise(0)).as("fp"),
    sum(when(col("pred") === 0 && col("gt") === 1, 1).otherwise(0)).as("fn"),
    sum(when(col("pred") === 1 && col("gt") === 1, 1).otherwise(0)).as("tp"))

  /** precision / recall from tp/fp/fn columns, 0.0 on an empty
    * denominator — q16, q25, q27 (q51's point-adjust keeps NULL there).
    */
  private def withPrecisionRecall(cm: DataFrame): DataFrame = cm
    .withColumn("precision", Num.r4(
      when(col("tp") + col("fp") === 0, 0.0).otherwise(col("tp") / (col("tp") + col("fp")))))
    .withColumn("recall", Num.r4(
      when(col("tp") + col("fn") === 0, 0.0).otherwise(col("tp") / (col("tp") + col("fn")))))

  /** [[withPrecisionRecall]] plus their harmonic mean f1 — q16, q25. */
  private[timeseries] def withF1(cm: DataFrame): DataFrame = withPrecisionRecall(cm)
    .withColumn("f1", Num.r4(
      when(col("precision") + col("recall") === 0.0, 0.0)
        .otherwise(lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))))

  /** Histogram-approximate AUROC — the 100 TB path. The exact AUROC
    * (q17) ranks every score in one global window; at billions of scored
    * windows that sort is the bottleneck. Binning scores into `bins`
    * equi-width buckets reduces the problem to a `bins`-row cumulative
    * sum (ties-within-bin handled as 0.5, the trapezoid rule), with
    * error O(1/bins).
    */
  def aurocApprox(spark: SparkSession, sfDir: String, bins: Int = 1000): DataFrame = {
    val sg = scoredWithGt(spark, sfDir)
    val rng = sg.agg(min("score").as("lo"), max("score").as("hi"))
    val binned = sg.crossJoin(broadcast(rng))
      .withColumn("bin", least(lit(bins - 1),
        floor((col("score") - col("lo")) / (col("hi") - col("lo") + 1e-12) * bins)))
      .groupBy("bin")
      .agg(sum(when(col("gt") === 1, 1).otherwise(0)).as("npos"),
           sum(when(col("gt") === 0, 1).otherwise(0)).as("nneg"))
    val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    binned
      .withColumn("nneg_below", coalesce(sum("nneg").over(w), lit(0L)))
      .agg((sum(col("npos") * col("nneg_below")) + sum(col("npos") * col("nneg")) / 2.0).as("u"),
           sum("npos").as("tp"), sum("nneg").as("tn"))
      .select(Num.r4(col("u") / (col("tp") * col("tn"))).as("auroc_approx"),
        col("tp").as("npos"), col("tn").as("nneg"))
  }

  /** q27: threshold sweep — the reference's experiment grid
    * (run_parallel_experiments.py) over contamination-rate thresholds,
    * evaluated in ONE query: each candidate threshold becomes a row,
    * metrics computed per row. One pass over scores per sweep, not one
    * job per experiment.
    */
  def thresholdSweep(spark: SparkSession, sfDir: String,
                     rates: Seq[Double] = Seq(0.05, 0.1, 0.2)): DataFrame = {
    import spark.implicits._
    val sg = scoredWithGt(spark, sfDir)
    // all sweep thresholds from ONE distributed range-sort pass (boundary
    // order statistics only), stacked as a literal frame — no
    // single-group multi-percentile buffer
    val thrMap = graft.util.Quantiles.exact(sg, "score", rates.map(1.0 - _))
    // empty scored set (sparse-SF edge): the old sweep×data join
    // produced zero rows — preserve that, not a 3-row all-zero frame
    if (thrMap.values.forall(_.isEmpty))
      return sg.sparkSession.emptyDataFrame
        .select(lit(0.0).as("contam"), lit(0.0).as("thr"),
          lit(0L).as("tp"), lit(0L).as("fp"), lit(0L).as("fn"),
          lit(0.0).as("precision"), lit(0.0).as("recall"))
        .limit(0)
    // every threshold is now a plan LITERAL, so all |rates| confusion
    // matrices come from ONE conditional-aggregation scan — no
    // crossJoin(sweep × data) row amplification (at billions of scored
    // windows a 3-rate sweep would otherwise shuffle 3× the data)
    val cells = sg.agg(
      count(lit(1)).as("_n"), // anchor so flatMap'd aggs can't be empty
      rates.zipWithIndex.flatMap { case (r, i) =>
        val t = thrMap(1.0 - r).getOrElse(Double.NaN)
        val pred = when(col("score") > t, 1).otherwise(0)
        Seq(
          sum(when(pred === 1 && col("gt") === 1, 1).otherwise(0)).as(s"tp_$i"),
          sum(when(pred === 1 && col("gt") === 0, 1).otherwise(0)).as(s"fp_$i"),
          sum(when(pred === 0 && col("gt") === 1, 1).otherwise(0)).as(s"fn_$i"))
      }: _*)
    withPrecisionRecall(cells.select(explode(array(rates.zipWithIndex.map { case (r, i) =>
      struct(lit(r).as("contam"), Num.r4(lit(thrMap(1.0 - r).getOrElse(Double.NaN))).as("thr"),
        coalesce(col(s"tp_$i"), lit(0L)).as("tp"),
        coalesce(col(s"fp_$i"), lit(0L)).as("fp"),
        coalesce(col(s"fn_$i"), lit(0L)).as("fn"))
    }: _*)).as("s"))
      .select("s.contam", "s.thr", "s.tp", "s.fp", "s.fn"))
  }

  /** q51: point-adjust evaluation (Xu et al. 2018 "Unsupervised Anomaly
    * Detection via VAE", §4.2 — the de-facto TS-AD scoring rule the
    * reference's pointwise metrics predate): if ANY point inside a true
    * anomaly segment is flagged, the WHOLE segment counts as detected.
    * Detector here = q15's z-spike flags; truth = the injector's
    * point labels. Per (series, win): true segments via gaps-and-
    * islands, detected = max(flag) per segment — one window pass + one
    * segment rollup, broadcast back onto the point stream; per-series
    * P/R/F1 from exact integer counts (NULL-safe on empty denominators).
    * Adjustment can only ADD true-segment points, so FP is unchanged —
    * the classic reason point-adjust flatters recall, reported as-is.
    */
  def pointAdjust(spark: SparkSession, sfDir: String, thr: Double = 2.5): DataFrame = {
    val z = graft.timeseries.Postprocess.zscoreOutliers(spark, sfDir, thr)
      .select("series", "win", "pos", "flag_spike")
    val base = TsCore.scaled(spark, sfDir).select("series", "win", "pos", "is_anom")
      .join(z, Seq("series", "win", "pos"))
    val wSeg = Window.partitionBy("series", "win").orderBy("pos")
    val segs = base.filter(col("is_anom") === 1)
      .withColumn("segid", col("pos") - row_number().over(wSeg))
      .groupBy("series", "win", "segid")
      .agg(max("flag_spike").as("seg_hit"), min("pos").as("sstart"), max("pos").as("send"))
    val anomAdj = base.filter(col("is_anom") === 1)
      .join(segs, Seq("series", "win"))
      .filter(col("pos") >= col("sstart") && col("pos") <= col("send"))
      .select(col("series"), col("win"), col("pos"),
        greatest(col("flag_spike"), col("seg_hit")).as("adj"))
    val tpfn = anomAdj.groupBy("series")
      .agg(sum("adj").as("tp"), sum(lit(1) - col("adj")).as("fn"))
    val fp = base.filter(col("is_anom") === 0).groupBy("series")
      .agg(sum("flag_spike").as("fp"))
    tpfn.join(fp, Seq("series"), "full_outer")
      .select(col("series"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fn"), lit(0L)).as("fn"),
        coalesce(col("fp"), lit(0L)).as("fp"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0, Num.r4(col("tp") / (col("tp") + col("fp")))))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0, Num.r4(col("tp") / (col("tp") + col("fn")))))
      .withColumn("f1",
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          Num.r4(col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn")))))
  }

  /** q17: AUROC via the rank-sum (Mann–Whitney U) identity with average
    * ranks for ties — exactly sklearn's roc_auc_score, one shuffle.
    */
  def auroc(spark: SparkSession, sfDir: String): DataFrame = {
    val sg = scoredWithGt(spark, sfDir)
    val ranked = sg
      .withColumn("r", rank().over(Window.orderBy("score")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("score")))
      .withColumn("avgr", col("r") + (col("cnt") - 1) / 2.0)
    ranked.agg(
        sum(when(col("gt") === 1, col("avgr"))).as("rpos"),
        sum(when(col("gt") === 1, 1).otherwise(0)).cast("double").as("npos"),
        sum(when(col("gt") === 0, 1).otherwise(0)).cast("double").as("nneg"))
      .select(
        Num.r4((col("rpos") - col("npos") * (col("npos") + 1) / 2.0) / (col("npos") * col("nneg")))
          .as("auroc"),
        col("npos").cast("long").as("npos"), col("nneg").cast("long").as("nneg"))
  }
}
