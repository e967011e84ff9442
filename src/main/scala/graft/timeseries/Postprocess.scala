package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Num

/** Score/series postprocessing (reference: src/anomaly_detection/
  * postprocessing.py) — turning window heatmaps into point flags.
  * All ops partition by (series, win): embarrassingly parallel.
  */
object Postprocess {

  /** q14: flag runs of ≥`minRun` consecutive equal values, padded by
    * `pad` on both sides (ref find_consec_values: anomaly types 1/2
    * leave runs of zeros). Gaps-and-islands via pos − row_number.
    */
  def consecRuns(spark: SparkSession, sfDir: String, minRun: Int = 2, pad: Int = TsCore.FeatPatch / 2): DataFrame = {
    val s = TsCore.scaled(spark, sfDir)
    val wv = Window.partitionBy("series", "win", "vs").orderBy("pos")
    val runs = s
      .withColumn("runid", col("pos") - row_number().over(wv))
      .groupBy("series", "win", "vs", "runid")
      .agg(min("pos").as("rstart"), max("pos").as("rend"), count(lit(1)).as("rlen"))
      .filter(col("rlen") >= minRun)
      .select(col("series"), col("win"),
        greatest(col("rstart") - pad, lit(0)).as("fstart"),
        least(col("rend") + pad, lit(TsCore.DaySize - 1)).as("fend"))
    s.select("series", "win", "pos").distinct()
      .join(runs, Seq("series", "win"))
      .filter(col("pos") >= col("fstart") && col("pos") <= col("fend"))
      .select("series", "win", "pos").distinct()
      .withColumn("flag_consec", lit(1))
  }

  /** q29: highest-scoring-patch flags (ref heatmap_postprocess
    * flag_highest_patch): per test window, the position with the top
    * Mahalanobis heatmap score anchors a flagged patch of
    * `patchSize` points.
    */
  def highestPatchFlags(spark: SparkSession, sfDir: String,
                        patchSize: Int = TsCore.FeatPatch): DataFrame = {
    val w = Window.partitionBy("series", "win").orderBy(col("mdist").desc, col("pos"))
    val top = Detect.gaussianScore(spark, sfDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("series"), col("win"),
        (floor(col("pos") / patchSize) * patchSize).as("fstart"))
    TsCore.scaled(spark, sfDir).select("series", "win", "pos")
      .join(top, Seq("series", "win"))
      .filter(col("pos") >= col("fstart") && col("pos") < col("fstart") + patchSize)
      .select(col("series"), col("win"), col("pos"), lit(1).as("flag_top_patch"))
  }

  /** q50: the COMBINED anomaly mask — reference heatmap_postprocess
    * (postprocessing.py:39-79) end to end, whose pieces q29/q14/q15
    * expose individually: highest-score patch ∪ padded consecutive
    * runs ∪ z-spike patch extensions, scoped to the windows the
    * detector scored (the mask that drives imputation). Faithful to
    * the reference's extension quirk: a NOT-already-flagged spike at
    * position p extends to [max(0, p−ps/2), min(p+ps/2+1, len−1))
    * — the EXCLUSIVE right end means position 23 is never added by
    * extension (and a spike AT 23 contributes only 19..22), while
    * already-flagged spikes add nothing.
    *
    * One window chain over a single (series, win) partitioning: the
    * heatmap attaches to the scored windows' points once (the heatmap
    * covers every position of a scored window — windows are complete
    * and the bank fit has every position), then
    *   - top patch: `first(pos)` over (mdist DESC, pos);
    *   - runs: q14's `pos − row_number()` run id, member of a run of
    *     ≥ minRun points; a point is padded-run flagged when a member
    *     lies within ±ps/2 (runs are contiguous, so this is exactly
    *     [rstart − ps/2, rend + ps/2] clipped to the window);
    *   - spikes: q15's z over the window;
    *   - extension: a point within ±ps/2 of an unflagged spike, capped
    *     at DaySize−2.
    * The ±ps/2 neighbourhoods are RANGE frames over pos, so there is
    * no flag build, distinct, anti-join or range join to shuffle.
    */
  def anomalyMask(spark: SparkSession, sfDir: String,
                  patchSize: Int = TsCore.FeatPatch, minRun: Int = 2,
                  thr: Double = 2.5): DataFrame = {
    require(patchSize >= 2 && patchSize % 2 == 0, s"patchSize=$patchSize")
    val ps2 = patchSize / 2
    val seq = Window.partitionBy("series", "win").orderBy("pos")
    val whole = seq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val near = seq.rangeBetween(-ps2, ps2)
    val run = Window.partitionBy("series", "win", "vs").orderBy("pos")
    def flag(c: Column) = when(c, 1).otherwise(0)
    val fstart = floor(col("top") / patchSize) * patchSize
    TsCore.scaled(spark, sfDir).select("series", "win", "pos", "vs")
      .join(Detect.gaussianScore(spark, sfDir), Seq("series", "win", "pos"))
      .withColumn("top", first("pos")
        .over(Window.partitionBy("series", "win").orderBy(col("mdist").desc, col("pos"))))
      .withColumn("runid", col("pos") - row_number().over(run))
      .withColumn("inrun", flag(count(lit(1))
        .over(Window.partitionBy("series", "win", "vs", "runid")) >= minRun))
      .withColumn("z", (col("vs") - avg("vs").over(whole)) / stddev_samp("vs").over(whole))
      .withColumn("flag_top_patch",
        flag(col("pos") >= fstart && col("pos") < fstart + patchSize))
      .withColumn("flag_consec", max("inrun").over(near))
      .withColumn("extsrc", flag((col("z") > thr || col("z") < -thr) &&
        col("flag_top_patch") === 0 && col("flag_consec") === 0))
      .select(col("series"), col("win"), col("pos"), col("flag_top_patch"), col("flag_consec"),
        flag(col("pos") <= TsCore.DaySize - 2 && max("extsrc").over(near) === 1)
          .as("flag_spike_ext"))
      .withColumn("mask", greatest(col("flag_top_patch"), col("flag_consec"), col("flag_spike_ext")))
  }

  /** q15: z-score spike flags within each window (ref heatmap_postprocess
    * flag_outliers: standardized |z| > 2.5).
    */
  def zscoreOutliers(spark: SparkSession, sfDir: String, thr: Double = 2.5): DataFrame = {
    val w = Window.partitionBy("series", "win")
    TsCore.scaled(spark, sfDir)
      .withColumn("mu", avg("vs").over(w))
      .withColumn("sd", stddev_samp("vs").over(w))
      .withColumn("z", (col("vs") - col("mu")) / col("sd"))
      .select(col("series"), col("win"), col("pos"), Num.r4(col("z")).as("z"),
        when(col("z") > thr || col("z") < -thr, 1).otherwise(0).as("flag_spike"))
  }
}
