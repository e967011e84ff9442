package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Num

/** SURVEY §2.A query entry points (driver contract shapes). */
object TsQueries {

  def q01Resample(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.hourlyGrid(spark, sfDir).select("series", "t", "n", "v")

  def q02FillForward(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.filled(spark, sfDir)
      .select(col("series"), col("t"), Num.r4(col("v_filled")).as("v_filled"), col("src"))

  /** Sliding windows: size 48, stride 24 — each point belongs to ≤2
    * windows, generated by explode (no range join, no skew): the shuffle
    * key is (series, swin).
    */
  def q03SlidingWindow(spark: SparkSession, sfDir: String, size: Int = 48, stride: Int = 24): DataFrame = {
    val base = TsCore.filled(spark, sfDir)
      .withColumn("w0", floor(col("t") / stride))
      .withColumn("swin", explode(array(col("w0"), col("w0") - 1)))
      .filter(col("swin") >= 0 &&
        col("t") >= col("swin") * stride && col("t") < col("swin") * stride + size)
    base.groupBy("series", "swin")
      .agg(count("v_filled").as("nv"), count(lit(1)).as("np"),
        // quantized-integer mean — avg over r4 inputs is boundary-prone
        Num.r4(Num.sumQ4(col("v_filled")) / count("v_filled")).as("mean_v"),
        Num.r4(stddev_samp("v_filled")).as("std_v"),
        Num.r4(min("v_filled")).as("min_v"), Num.r4(max("v_filled")).as("max_v"))
      .filter(col("nv") === size && col("np") === size)
      .select("series", "swin", "mean_v", "std_v", "min_v", "max_v")
  }

  /** q04: the per-series q01/q99 bounds frame scales with |series|
    * (millions of meters at 100 TB) — it joins with no static hint, so
    * AQE picks broadcast or shuffle from its runtime size.
    */
  def q04QuantileScale(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .join(TsCore.scaleBounds(spark, sfDir), "series")
      .select(col("series"), col("t"),
        Num.r4((col("v_filled") - col("lo")) / (col("hi") - col("lo"))).as("vs"))

  def q05AnomalyInject(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.injected(spark, sfDir)

  def q06Ewma(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.features(spark, sfDir).select("series", "win", "pos", "ewma")

  def q07PatchStd(spark: SparkSession, sfDir: String): DataFrame =
    TsCore.features(spark, sfDir).select("series", "win", "pos", "pstd")

  /** q28: window date-range labels (ref process_aemo.py:164-166 builds
    * "first_date - last_date" labels per window) — reconstructed from
    * the CACHED grid origin (TsCore.gridOrigin): pure arithmetic +
    * formatting over the window list, zero raw-events scans in the plan.
    */
  def q28WindowLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val t0 = TsCore.gridOrigin(spark, sfDir)
    TsCore.dayWindows(spark, sfDir).select("series", "win").distinct()
      .crossJoin(broadcast(t0))
      .withColumn("start_epoch", (col("t0") + col("win") * TsCore.DaySize) * 3600L)
      .withColumn("end_epoch", (col("t0") + (col("win") + 1) * TsCore.DaySize) * 3600L - 3600L)
      .select(col("series"), col("win"),
        concat(from_unixtime(col("start_epoch"), "yyyy-MM-dd HH:mm:ss"), lit(" - "),
               from_unixtime(col("end_epoch"), "yyyy-MM-dd HH:mm:ss")).as("label"))
  }

  /** q43: calendar-exclusion filter (ref process_LF_INPG.py:46-111 —
    * national/lab holidays, the covid span, hand-listed corrupt ranges,
    * and data-derived fully-empty days are all dropped from the series
    * before the forecast dataset is built). Re-expressed as two
    * exclusion sets over the filled grid:
    *   (a) a BLOCKLIST of [lo, hi) day-index ranges — the holiday /
    *       corrupt-span lists are literal interval tables at any scale
    *       (a broadcast anti-join; the day key keeps it an equi-join);
    *   (b) EMPTY DAYS detected from the data: days with zero OBSERVED
    *       points for the series (ref's empty_days loop) — the week-walk
    *       fill would fabricate them, exactly what the reference refuses
    *       to train on.
    * Output = q02's filled rows minus the excluded days.
    */
  def q43CalendarFilter(spark: SparkSession, sfDir: String,
                        blocked: Seq[(Long, Long)] = Seq((2L, 4L), (9L, 10L))): DataFrame =
    calendarFilterFrom(TsCore.filled(spark, sfDir), blocked)

  /** q43 core over an explicit filled frame (series, t, v_filled, src) —
    * separated so specs can drive synthetic series with genuinely empty
    * days through the exact operator plan (neither test SF happens to
    * contain one).
    */
  private[graft] def calendarFilterFrom(filled: DataFrame,
                                        blocked: Seq[(Long, Long)]): DataFrame = {
    val spark = filled.sparkSession
    import spark.implicits._
    val f = filled.withColumn("d", floor(col("t") / TsCore.DaySize).cast("long"))
    val emptyDays = f.groupBy("series", "d")
      .agg(sum(when(col("src") === "obs", 1).otherwise(0)).as("nobs"))
      .filter(col("nobs") === 0).select("series", "d")
    val blockedDays = blocked.toDF("lo", "hi")
      .select(explode(sequence(col("lo"), col("hi") - 1)).as("d"))
    f.join(broadcast(blockedDays), Seq("d"), "left_anti")
      .join(emptyDays, Seq("series", "d"), "left_anti")
      .select(col("series"), col("t"), Num.r4(col("v_filled")).as("v_filled"), col("src"))
  }

  /** qp6: grid completeness / freshness audit — the data-quality report
    * a pipeline owner reads before trusting a feed (the reference eyeballs
    * coverage in its notebook plots; at 100 TB this must be a query). Per
    * series: slot counts by fill source (obs / week-lag / week-lead /
    * never-filled) from the shared filled stage, observed coverage, and
    * the gap structure (longest and count of consecutive unobserved runs,
    * gaps-and-islands on t − row_number). Two grouped aggs over grid
    * cells, one per-series window — no extra raw scans.
    */
  def qp6Completeness(spark: SparkSession, sfDir: String): DataFrame = {
    val f = TsCore.filled(spark, sfDir)
    val base = f.groupBy("series").agg(
      count(lit(1)).as("n_slots"),
      sum(when(col("src") === "obs", 1L).otherwise(0L)).as("n_obs"),
      sum(when(col("src") === "lag", 1L).otherwise(0L)).as("n_lag"),
      sum(when(col("src") === "lead", 1L).otherwise(0L)).as("n_lead"),
      sum(when(col("src") === "missing", 1L).otherwise(0L)).as("n_missing"))
    val wg = Window.partitionBy("series").orderBy("t")
    val gaps = f.filter(col("src") =!= "obs")
      .withColumn("rid", col("t") - row_number().over(wg))
      .groupBy("series", "rid").agg(count(lit(1)).as("gap_len"))
      .groupBy("series").agg(max("gap_len").as("max_gap"), count(lit(1)).as("n_gaps"))
    base.join(gaps, Seq("series"), "left")
      .select(col("series"), col("n_slots"), col("n_obs"),
        Num.r4(col("n_obs") / col("n_slots")).as("pct_obs"),
        col("n_lag"), col("n_lead"), col("n_missing"),
        coalesce(col("max_gap"), lit(0L)).as("max_gap"),
        coalesce(col("n_gaps"), lit(0L)).as("n_gaps"))
  }

  /** qp7: distribution-drift monitor — Population Stability Index per
    * series between the first and second half of its time range (the
    * train/serve drift gate a 100 TB feature pipeline runs before every
    * retrain; the reference's contaminated-vs-clean comparisons assume
    * stationarity — this is the check). nBins equal-width value bins
    * from the per-series min/max; PSI = Σ_bins (p−q)·ln(p/q) with
    * Laplace-smoothed shares. Two grouped aggs + a |series|×nBins-row
    * window — nothing wider than the bin table shuffles twice. Each
    * bin's term is quantized to the 1e-6 grid before the sum, so the
    * ≤ nBins-term accumulation is exact-integer and engine-order-free.
    */
  def qp7Drift(spark: SparkSession, sfDir: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins=$nBins: need at least 2 bins for a drift measure")
    val wp = Window.partitionBy("series")
    val pts = TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .withColumn("mid", floor((min("t").over(wp) + max("t").over(wp)) / 2))
    psiOf(pts, when(col("t") <= col("mid"), 0).otherwise(1), nBins)
  }

  /** The smoothed-PSI chain over a split of per-series points — ONE
    * definition of the drift formula (equi-width bins from the global
    * per-series range, 0.5 Laplace smoothing, 1e-6 scaled-int term
    * sums) shared by qp7 (midpoint split) and q62 (train-cut split) so
    * the two drift measures can never diverge. `pts` carries
    * (series, v_filled) non-null rows plus whatever `half` reads;
    * returns (series, n_first, n_second, psi).
    */
  private[graft] def psiOf(pts0: DataFrame, half: Column, nBins: Int): DataFrame = {
    val wp = Window.partitionBy("series")
    val pts = pts0
      .withColumn("mn", min("v_filled").over(wp))
      .withColumn("mx", max("v_filled").over(wp))
      .withColumn("bin", when(col("mx") === col("mn"), 0L).otherwise(
        least(floor((col("v_filled") - col("mn")) / (col("mx") - col("mn")) * nBins),
          lit(nBins - 1L))))
      .withColumn("half", half)
    val cnt = pts.groupBy("series", "bin").agg(
      sum(when(col("half") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"))
    val sm = lit(0.5)
    val terms = cnt
      .withColumn("t0", sum("n0").over(wp))
      .withColumn("t1", sum("n1").over(wp))
      .withColumn("p", (col("n0") + sm) / (col("t0") + sm * nBins))
      .withColumn("q", (col("n1") + sm) / (col("t1") + sm * nBins))
      .withColumn("termq", Num.q6((col("p") - col("q")) * log(col("p") / col("q"))))
    terms.groupBy("series").agg(
      max("t0").as("n_first"), max("t1").as("n_second"),
      Num.r4(Num.fromQ6(sum("termq"))).as("psi"))
  }

  /** The train-time drift baseline streaming.driftStream monitors
    * against: per series, qp7's bounds/bins (global mn/mx, same mid
    * split) with the FIRST half's per-bin counts pivoted wide — the
    * |series|-row artifact a monitoring job persists and broadcasts.
    */
  private[graft] def driftBaseline(spark: SparkSession, sfDir: String,
                                   nBins: Int = 10): DataFrame = {
    val wp = Window.partitionBy("series")
    val pts = TsCore.filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .withColumn("mid", floor((min("t").over(wp) + max("t").over(wp)) / 2))
      .withColumn("mn", min("v_filled").over(wp))
      .withColumn("mx", max("v_filled").over(wp))
      .withColumn("bin", when(col("mx") === col("mn"), 0L).otherwise(
        least(floor((col("v_filled") - col("mn")) / (col("mx") - col("mn")) * nBins),
          lit(nBins - 1L))))
    val binAggs = (0 until nBins).map(b =>
      sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"c$b"))
    pts.filter(col("t") <= col("mid")).groupBy("series")
      .agg(max("mn").as("mn"), (max("mx").as("mx") +: binAggs): _*)
  }

  def q08Patchify(spark: SparkSession, sfDir: String): DataFrame = {
    val p = TsCore.patches(spark, sfDir)
    p.select(col("series") +: col("win") +: col("pos") +:
      (0 to 8).map(i => Num.r4(col(s"f$i")).as(s"f$i")): _*)
  }
}
