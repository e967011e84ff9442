package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q25: patched point-wise retrieval metrics (reference: metrics.py
  * compute_pointwise_retrieval_metrics): predicted point flags — the
  * union of consecutive-run flags and z-score spike flags — and ground
  * truth are reduced to patches (any() over `patchSize` points), then
  * compared patch-wise over the test split.
  */
object PointwiseMetrics {

  def pointwiseMetrics(spark: SparkSession, sfDir: String,
                       patchSize: Int = TsCore.FeatPatch): DataFrame = {
    val base = TsCore.scaled(spark, sfDir)
      .join(TsCore.splitBoundary(spark, sfDir), "series")
      .filter(col("win") >= col("mwin"))
      .select("series", "win", "pos", "is_anom")
    val consec = Postprocess.consecRuns(spark, sfDir)
      .select(col("series"), col("win"), col("pos"), col("flag_consec"))
    val spikes = Postprocess.zscoreOutliers(spark, sfDir)
      .select(col("series"), col("win"), col("pos"), col("flag_spike"))
    val flagged = base
      .join(consec, Seq("series", "win", "pos"), "left")
      .join(spikes, Seq("series", "win", "pos"), "left")
      .withColumn("pred_pt",
        when(coalesce(col("flag_consec"), lit(0)) === 1 ||
             coalesce(col("flag_spike"), lit(0)) === 1, 1).otherwise(0))
    val patched = flagged
      .withColumn("patch", floor(col("pos") / patchSize))
      .groupBy("series", "win", "patch")
      .agg(max("pred_pt").as("pred"), max("is_anom").as("gt"))
    Metrics.withF1(patched.agg(Metrics.confusionCells.head, Metrics.confusionCells.tail: _*))
  }
}
