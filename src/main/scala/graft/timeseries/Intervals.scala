package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Num

/** Interval/robust-statistics analytics over the regularized series —
  * range join, level-shift changepoints, MAD outliers. Everything
  * partitions by series (and window), the 100 TB parallel axis.
  */
object Intervals {

  /** Padded anomaly intervals from gaps-and-islands over the injected
    * flags — the shared interval source of q31 (range join) and q46
    * (episode merge). (series, t_lo) is unique: runs within a window are
    * ≥ 2 apart in min(pos) and windows are 24 apart, so ±2 padding never
    * collides — every downstream ordering on it is total.
    */
  private def anomIntervals(spark: SparkSession, sfDir: String, pad: Int): DataFrame = {
    val n = TsCore.DaySize
    val wr = Window.partitionBy("series", "win").orderBy("pos")
    TsCore.injected(spark, sfDir).filter(col("is_anom") === 1)
      .withColumn("rid", col("pos") - row_number().over(wr))
      .groupBy("series", "win", "rid")
      .agg((col("win") * n + min("pos") - pad).as("t_lo"),
           (col("win") * n + max("pos") + pad).as("t_hi"))
      .select("series", "t_lo", "t_hi")
  }

  /** q31: range join — grid points falling inside (padded) anomaly
    * intervals. Intervals come from gaps-and-islands over the injected
    * flags; the join is bucketed: intervals explode to the coarse
    * day-buckets they span and match points by (series, bucket) equi-key
    * first, then the t-range predicate — shuffle O(intervals × span/24 +
    * points), never the quadratic inequality join a naive plan picks.
    */
  def rangeJoin(spark: SparkSession, sfDir: String, pad: Int = 2): DataFrame = {
    val n = TsCore.DaySize
    val iv = anomIntervals(spark, sfDir, pad)
    val ivB = iv.withColumn("bucket",
      explode(sequence(floor(col("t_lo") / n), floor(col("t_hi") / n))))
    val pts = TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .withColumn("bucket", floor(col("t") / n))
    ivB.join(pts, Seq("series", "bucket"))
      .filter(col("t") >= col("t_lo") && col("t") <= col("t_hi"))
      .groupBy("series", "t_lo", "t_hi")
      // quantized-integer mean: the bucketed join reorders rows run-to-
      // run, and avg over r4-quantized values lands on rounding
      // boundaries ~1/n of the time (the q38 flake class)
      .agg(count(lit(1)).as("n_pts"),
        Num.r4(Num.sumQ4(col("v_filled")) / count(lit(1))).as("avg_v"))
  }

  /** q33: level-shift changepoint — |mean(next w) − mean(prev w)| in
    * units of the per-series stddev; flags where the standardized shift
    * exceeds `thr` and both frames are complete. Frame means come from
    * RUNNING prefix sums (lag/lead differences), not framed averages:
    * the running cumulative is summed in identical sequential order by
    * every engine, whereas framed aggregates use engine-specific
    * (segment-tree vs recompute) orders that differ in ulps. One
    * shuffle on series.
    */
  def levelShift(spark: SparkSession, sfDir: String, w: Int = 24, thr: Double = 3.0): DataFrame = {
    val ws = Window.partitionBy("series").orderBy("t")
    val cumW = ws.rowsBetween(Window.unboundedPreceding, 0)
    TsCore.filled(spark, sfDir)
      .withColumn("sd", stddev_samp("v_filled").over(Window.partitionBy("series")))
      .withColumn("cum", sum(coalesce(col("v_filled"), lit(0.0))).over(cumW))
      .withColumn("cnt", count("v_filled").over(cumW))
      .withColumn("pre_sum", lag("cum", 1).over(ws) - coalesce(lag("cum", w + 1).over(ws), lit(0.0)))
      .withColumn("pre_n", lag("cnt", 1).over(ws) - coalesce(lag("cnt", w + 1).over(ws), lit(0L)))
      .withColumn("post_sum", lead("cum", w - 1).over(ws) - coalesce(lag("cum", 1).over(ws), lit(0.0)))
      .withColumn("post_n", lead("cnt", w - 1).over(ws) - coalesce(lag("cnt", 1).over(ws), lit(0L)))
      .filter(col("pre_n") === w && col("post_n") === w)
      .withColumn("shift_z", (col("post_sum") / w - col("pre_sum") / w) / col("sd"))
      .filter(col("shift_z") > thr || col("shift_z") < -thr)
      .select(col("series"), col("t"), Num.r4(col("shift_z")).as("shift_z"))
  }

  /** q37: seasonal-residual anomaly flags — subtract the train-region
    * hour-of-day profile (the q24 decomposition) from every point and
    * flag residuals beyond `thr` train-region residual stddevs. The
    * decomposition-based detection path of the reference
    * (feature_extractor.py seasonal_decomposition variant): two grouped
    * aggs over the train split, one broadcast-joined scoring pass.
    */
  def seasonalResidual(spark: SparkSession, sfDir: String, thr: Double = 3.0): DataFrame = {
    val train = TsCore.dayWindows(spark, sfDir)
      .join(TsCore.splitBoundary(spark, sfDir), "series")
      .filter(col("win") < col("mwin"))
    // quantized-integer mean (see seasonalProfile): avg over r4 inputs
    // lands on rounding boundaries ~1/n of the time
    val prof = train.groupBy("series", "pos")
      .agg((Num.sumQ4(col("v")) / count(lit(1))).as("posmean"))
    val sdr = train.join(prof, Seq("series", "pos"))
      .groupBy("series").agg(stddev_samp(col("v") - col("posmean")).as("sdr"))
    TsCore.dayWindows(spark, sfDir)
      .join(prof, Seq("series", "pos"))
      .join(sdr, "series")
      .withColumn("resid_z", (col("v") - col("posmean")) / col("sdr"))
      .filter(col("resid_z") > thr || col("resid_z") < -thr)
      .select(col("series"), col("win"), col("pos"), Num.r4(col("resid_z")).as("resid_z"))
  }

  /** q36: cross-series correlation — Pearson correlation between every
    * pair of series over tumbling-bucket means. Bucketing first makes
    * the correlation a small grouped agg (and keeps summation
    * group-local, not frame-ordered); the pair join is over the tiny
    * (series, bucket) table, never the raw points.
    */
  def crossCorr(spark: SparkSession, sfDir: String, bucket: Int = 48): DataFrame = {
    val b = TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .groupBy(col("series"), floor(col("t") / bucket).as("b"))
      .agg(avg("v_filled").as("m"))
    val l = b.select(col("series").as("series_a"), col("b"), col("m").as("ma"))
    val r = b.select(col("series").as("series_b"), col("b"), col("m").as("mb"))
    l.join(r, Seq("b")).filter(col("series_a") < col("series_b"))
      .groupBy("series_a", "series_b")
      .agg(count(lit(1)).as("n"), Num.r4(corr("ma", "mb")).as("xcorr"))
  }

  /** q45: tabular CUSUM changepoint detection (Page 1954) — the
    * sequential-drift complement to q33's frame-difference level shifts
    * (the reference flags mean shifts only through window statistics;
    * CUSUM accumulates evidence across arbitrarily long drifts).
    *
    * The textbook recursion S⁺_t = max(0, S⁺_{t−1} + x_t − μ − kσ) is
    * sequential, but it has a closed prefix form: with y_t = x_t − μ − kσ
    * and C_t = Σ_{i≤t} y_i, S⁺_t = C_t − min(0, min_{j≤t} C_j) — a
    * running sum plus a running min, both plain window aggregates. So the
    * whole detector is two per-series window passes, no recursion, no
    * UDF, and it scales exactly like every other per-series chain stage.
    *
    * μ and σ come from quantized-integer sufficient statistics (sumQ4 of
    * v and v², exact int64 accumulation) so they are bit-identical in any
    * accumulation order and in the DuckDB oracle; the running sums are
    * then sequential in t like q33's, which both engines evaluate in the
    * same order. Output: points where either one-sided CUSUM exceeds hσ,
    * in σ units. k = allowance (drift half-width), h = decision interval.
    */
  def cusum(spark: SparkSession, sfDir: String, k: Double = 0.5, h: Double = 5.0): DataFrame = {
    val wp = Window.partitionBy("series")
    val ws = Window.partitionBy("series").orderBy("t")
    val wc = ws.rowsBetween(Window.unboundedPreceding, 0)
    TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("mu", Num.meanQ4(sum(Num.q4(col("v_filled"))).over(wp), col("n")))
      .withColumn("m2", sum(Num.q4(col("v_filled") * col("v_filled"))).over(wp) / 10000d)
      .filter(col("n") > 1)
      .withColumn("sd", sqrt(greatest(lit(0.0),
        (col("m2") - col("n") * col("mu") * col("mu")) / (col("n") - 1))))
      .withColumn("cpos", sum(col("v_filled") - col("mu") - lit(k) * col("sd")).over(wc))
      .withColumn("cneg", sum(col("mu") - lit(k) * col("sd") - col("v_filled")).over(wc))
      .withColumn("spos", col("cpos") - least(lit(0.0), min("cpos").over(wc)))
      .withColumn("sneg", col("cneg") - least(lit(0.0), min("cneg").over(wc)))
      .filter(col("spos") > lit(h) * col("sd") || col("sneg") > lit(h) * col("sd"))
      .select(col("series"), col("t"),
        Num.r4(col("spos") / col("sd")).as("cusum_pos"),
        Num.r4(col("sneg") / col("sd")).as("cusum_neg"))
  }

  /** q46: anomaly-episode merge — overlapping/touching padded anomaly
    * intervals coalesced into maximal episodes per series (the reporting
    * unit an operator pages on: one alert per incident, not one per
    * flagged point; ref postprocessing.py extends point flags to spans,
    * this is the next step up). Classic interval union: order intervals
    * by start, a new episode opens where t_lo exceeds the running max of
    * every earlier t_hi. All-integer window arithmetic — exact in any
    * engine; one shuffle on series.
    */
  def episodes(spark: SparkSession, sfDir: String, pad: Int = 2): DataFrame = {
    val ws = Window.partitionBy("series").orderBy("t_lo")
    val wprev = ws.rowsBetween(Window.unboundedPreceding, -1)
    anomIntervals(spark, sfDir, pad)
      .withColumn("prev_hi", max("t_hi").over(wprev))
      .withColumn("new_ep",
        when(col("prev_hi").isNull || col("t_lo") > col("prev_hi"), 1L).otherwise(0L))
      .withColumn("ep", sum("new_ep").over(ws.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("series", "ep")
      .agg(min("t_lo").as("ep_start"), max("t_hi").as("ep_end"),
        count(lit(1)).as("n_intervals"))
      .withColumn("duration", col("ep_end") - col("ep_start") + 1)
  }

  /** q47: rolling-median filter — the robust smoother (median over a
    * centered 2·half+1 frame per series) plus the residual against it;
    * the denoising complement to q06's EWMA (a single spike moves an
    * EWMA but not a frame median). Frames shrink at series edges in both
    * engines identically; per-row work is O(frame log frame) and the
    * whole pass is one series-partitioned window — linear scale-out.
    */
  def medianFilter(spark: SparkSession, sfDir: String, half: Int = 12): DataFrame = {
    require(half >= 1, s"half=$half: frame half-width must be positive")
    val wf = Window.partitionBy("series").orderBy("t").rowsBetween(-half, half)
    TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .withColumn("med", expr("percentile(v_filled, 0.5)").over(wf))
      .select(col("series"), col("t"), Num.r4(col("v_filled")).as("v"),
        Num.r4(col("med")).as("med"),
        Num.r4(col("v_filled") - col("med")).as("resid"))
  }

  /** q34: MAD (median-absolute-deviation) robust outliers per window —
    * the reference's z-score spike flags (postprocessing.py) hardened
    * against the outliers themselves. Two exact-median passes per
    * (series, win); constant windows (mad = 0) produce no flags.
    */
  def madOutliers(spark: SparkSession, sfDir: String, thr: Double = 3.0): DataFrame = {
    val s = TsCore.scaled(spark, sfDir)
    val med = s.groupBy("series", "win")
      .agg(expr("percentile(vs, 0.5)").as("med"))
    val withMed = s.join(med, Seq("series", "win"))
    val mad = withMed.groupBy("series", "win")
      .agg(expr("percentile(abs(vs - med), 0.5)").as("mad"))
    withMed.join(mad, Seq("series", "win"))
      .filter(col("mad") > 0.0)
      .withColumn("robust_z", (col("vs") - col("med")) / (col("mad") * 1.4826))
      .filter(col("robust_z") > thr || col("robust_z") < -thr)
      .select(col("series"), col("win"), col("pos"), Num.r4(col("robust_z")).as("robust_z"))
  }
}
