package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Num

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
    patched.agg(
        sum(when(col("pred") === 0 && col("gt") === 0, 1).otherwise(0)).as("tn"),
        sum(when(col("pred") === 1 && col("gt") === 0, 1).otherwise(0)).as("fp"),
        sum(when(col("pred") === 0 && col("gt") === 1, 1).otherwise(0)).as("fn"),
        sum(when(col("pred") === 1 && col("gt") === 1, 1).otherwise(0)).as("tp"))
      .withColumn("precision", Num.r4(
        when(col("tp") + col("fp") === 0, 0.0).otherwise(col("tp") / (col("tp") + col("fp")))))
      .withColumn("recall", Num.r4(
        when(col("tp") + col("fn") === 0, 0.0).otherwise(col("tp") / (col("tp") + col("fn")))))
      .withColumn("f1", Num.r4(
        when(col("precision") + col("recall") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))))
  }
}
