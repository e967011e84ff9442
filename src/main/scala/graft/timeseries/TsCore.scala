package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Num, StageCache, Tables}

/** Shared time-series processing chain, re-expressing the reference's
  * data pipeline (reference: src/data_processing/process_aemo.py,
  * synth_anomaly.py, src/anomaly_detection/feature_extractor.py,
  * softpatch.py PatchMaker) as Spark DataFrame stages.
  *
  * Series = `event_type` (dense aggregate series, like AEMO's aggregated
  * demand); grid = hourly buckets ("day_size" = 24). Every stage
  * partitions by (series) or (series, win): at 100 TB with millions of
  * series all window functions are per-series shuffles with no global
  * barrier, and the only global aggregates are two scalar reductions
  * (grid origin, max t) that broadcast back into the plan.
  *
  * Determinism: no rand(); the anomaly injector derives all choices from
  * an LCG over (series index, window id) with pure int64 arithmetic, so
  * the DuckDB oracle (TsOracle) reproduces results bit-for-bit after
  * Num.r4(…).
  */
object TsCore {

  val DaySize = 24          // points per day window (hourly grid)
  val WeekLag = 168         // 7 * 24, seasonal fill lag (ref process_aemo.py:64-66)
  val Alpha = 0.2           // EWMA alpha (ref feature_extractor.py moving_average)
  val FeatPatch = 8         // non-overlapping std patch (ref main.py --feat_patch_size)
  val TrainFrac = 0.7       // ad train/test split (ref process_aemo.py --ad_split_ratio)
  val DayContamRate = 0.4   // fraction of windows contaminated (ref --day_contam_rate)
  val QLo = 0.01            // scaling quantiles (ref process_aemo.py:178-180)
  val QHi = 0.99

  /** Raw events aggregated to (series, ABSOLUTE hour) — the ONE scan of
    * the raw table every grid consumer shares: the rebased grid (q01
    * chain) and the grid origin (q28 labels) both derive from this
    * cached stage, so no query pays a second raw-events scan.
    */
  private[graft] def hourlyAgg(spark: SparkSession, sfDir: String): DataFrame =
    StageCache.cached(spark, sfDir, "gridraw") {
      val raw = Tables.events(spark, sfDir)
      // ts encoding (nanos-long / TIMESTAMP / TIMESTAMP_NTZ) → util.Ts
      val hr = graft.util.Ts.hour(raw)
      raw.select(col("event_type").as("series"), hr.as("hr"), col("value"))
        // aggregate FIRST (one scan of the raw events); everything
        // downstream reads grid cells, orders of magnitude smaller
        .groupBy("series", "hr")
        .agg(count(lit(1)).as("n"), Num.r4(avg("value")).as("v"))
    }

  /** Grid origin (absolute hour of t = 0), from the cached hourly agg —
    * min(hr) over buckets equals min over events, no raw re-scan.
    */
  private[graft] def gridOrigin(spark: SparkSession, sfDir: String): DataFrame =
    hourlyAgg(spark, sfDir).agg(min("hr").as("t0"))

  /** q01: regularize irregular events onto a fixed hourly grid per series.
    * Scan → single shuffle on (series, t) with map-side partial agg.
    */
  def hourlyGrid(spark: SparkSession, sfDir: String): DataFrame = StageCache.cached(spark, sfDir, "grid") {
    hourlyAgg(spark, sfDir).crossJoin(broadcast(gridOrigin(spark, sfDir)))
      .select(col("series"), (col("hr") - col("t0")).as("t"), col("n"), col("v"))
  }

  /** Complete (series, t) spine with observed values left-joined in.
    * Missing hours surface as null v — required for positional lag fill.
    */
  def spine(spark: SparkSession, sfDir: String): DataFrame = {
    // not checkpointed: single consumer (filled) — inlining saves a
    // materialization job on the first-query path
    val grid = hourlyGrid(spark, sfDir)
    val tmax = grid.agg(max("t").as("tmax"))
    val seriesList = grid.select("series").distinct()
    val ts = tmax.select(explode(sequence(lit(0L), col("tmax"))).as("t"))
    seriesList.crossJoin(ts)
      .join(grid.select("series", "t", "v"), Seq("series", "t"), "left")
  }

  /** q02 core: gap fill by the same hour-of-week from the nearest
    * earlier week, falling back to the nearest later week (ref
    * process_aemo.py:66 `load.fillna(load.shift(day_size*7))` plus
    * fill_missing_values.py:14-46 `fill_empty_days`, which walks
    * previous weeks then next weeks until a value is found). Partition
    * by (series, t mod 168) and one IGNORE NULLS window pass per
    * direction performs the entire multi-week walk — no iterative
    * lag chain, still a single per-series-phase shuffle at scale.
    * Values with no same-phase observation at all stay null and their
    * windows are later dropped (ref process_aemo.py:219).
    */
  def fillWeekWalk(sp: DataFrame): DataFrame = {
    val wPhase = Window.partitionBy("series", "phase")
    // both directions are growing frames (t is unique per phase): the
    // next observation is the LAST one of the reversed running frame
    sp.withColumn("phase", col("t") % WeekLag)
      .withColumn("pv", last("v", ignoreNulls = true)
        .over(wPhase.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nv", last("v", ignoreNulls = true)
        .over(wPhase.orderBy(col("t").desc).rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("v_filled", coalesce(col("v"), col("pv"), col("nv")))
      .withColumn("src", when(col("v").isNotNull, lit("obs"))
                          .when(col("pv").isNotNull, lit("lag"))
                          .when(col("nv").isNotNull, lit("lead"))
                          .otherwise(lit("missing")))
      .select("series", "t", "v_filled", "src")
  }

  /** q02: the week-walk fill over the event spine. */
  def filled(spark: SparkSession, sfDir: String): DataFrame = StageCache.cached(spark, sfDir, "filled") {
    fillWeekWalk(spine(spark, sfDir))
  }

  /** Complete day windows (win = t/24, pos = t%24); windows containing
    * any null are dropped. Partition key (series, win) — embarrassingly
    * parallel downstream.
    */
  def dayWindows(spark: SparkSession, sfDir: String): DataFrame = StageCache.cached(spark, sfDir, "daywin") {
    val d = filled(spark, sfDir)
      .select(col("series"), (col("t") / DaySize).cast("long").as("win"),
              (col("t") % DaySize).as("pos"), col("v_filled").as("v"))
    val complete = d.groupBy("series", "win")
      .agg(count("v").as("nv"))
      .filter(col("nv") === DaySize)
      .select("series", "win")
    d.join(complete, Seq("series", "win"))
  }

  /** Deterministic LCG uniform in [0,1): pure int64 arithmetic, identical
    * in Spark and DuckDB. key mixes (series index, window id); salt
    * separates draws. The constants are shared with [[lcgScalar]] so
    * driver recomputes and property tests bind to THIS formula.
    */
  private[graft] val LcgA = 1103515245L
  private[graft] val LcgC = 12345L
  private[graft] val LcgM = 2147483648L
  def lcg(key: Column, salt: Int): Column =
    ((lit(LcgA) * (key * 1000L + lit(salt.toLong)) + LcgC) % LcgM)
      .cast("double") / LcgM.toDouble

  /** Scalar twin of [[lcg]] over the same constants. */
  def lcgScalar(key: Long, salt: Int): Double =
    ((LcgA * (key * 1000 + salt) + LcgC) % LcgM).toDouble / LcgM

  /** Per-(series, win) deterministic LCG key (sidx·100 + win) — the
    * draw base shared by the anomaly injector (q05) and the masked-pair
    * builder (q44); the oracle's `keys` CTE mirrors it.
    *
    * dense_rank over an UNPARTITIONED window: a deliberate, bounded
    * single-task sort — the input is one narrow row per DISTINCT
    * series (not per data row), and the LCG keying needs a globally
    * consistent dense index that the oracle can reproduce with the
    * same dense_rank. At millions of series this is one sort of
    * millions of short strings on one task (~seconds), paid once per
    * session; the result broadcasts.
    */
  private[graft] def winKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val wins = dayWindows(spark, sfDir).select("series", "win").distinct()
    val sidx = wins.select("series").distinct()
      .withColumn("sidx", dense_rank().over(Window.orderBy("series")) - 1)
    wins.join(sidx, "series")
      .select(col("series"), col("win"), (col("sidx") * 100L + col("win")).as("key"))
  }

  /** Injection parameters per (series, win) — re-expression of
    * synth_anomaly.py SynthLoadAnomaly.inject_anomaly with LCG draws:
    * contaminate 40% of windows; type ~ (.3,.3,.2,.2); positions/lengths
    * per reference's randint ranges for n=24; softstart/extreme 50/50;
    * r ~ U(0.01, 3.99).
    */
  def injectParams(spark: SparkSession, sfDir: String): DataFrame = {
    // not checkpointed: single consumer (injected)
    val wins = winKeys(spark, sfDir)
    val key = col("key")
    val n = DaySize
    val u2 = lcg(key, 2)
    val u3 = lcg(key, 3)
    val u4 = lcg(key, 4)
    val atype = when(u2 < 0.3, 1).when(u2 < 0.6, 2).when(u2 < 0.8, 3).otherwise(4)
    // type 1/2: pos in [n/4, (n-1)/2) = [6, 11); type 3/4: pos in [6, 17)
    val apos = when(atype <= 2, lit(n / 4) + floor(u3 * ((n - 1) / 2 - n / 4)))
      .otherwise(lit(n / 4) + floor(u3 * ((n - 1) * 3 / 4 - n / 4)))
    // lengths: type1 randint(3, min(n-pos-1, 18)); type2 randint(2, min(n-pos-1, 18))
    val hi = least(lit(n) - apos - 1, lit(18))
    val alen = when(atype === 1, lit(3) + floor(u4 * (hi - 3)))
      .when(atype === 2, lit(2) + floor(u4 * (hi - 2)))
      .otherwise(lit(1))
    wins
      .select(col("series"), col("win"),
        (lcg(key, 1) < DayContamRate).as("contam"),
        atype.as("atype"), apos.cast("long").as("apos"), alen.cast("long").as("alen"),
        (lcg(key, 5) < 0.5).as("flag5"),               // softstart / is_extreme
        (lit(0.01) + lcg(key, 6) * 3.98).as("rf"),     // peak factor r
        lcg(key, 7).as("r2"))                          // softstart fraction
  }

  /** q05: apply the four synthetic anomaly types over day windows
    * (ref synth_anomaly.py _anomaly_type1-4). Window prefix sums give the
    * "energy" terms; everything else is a CASE over (pos, apos, alen).
    */
  def injected(spark: SparkSession, sfDir: String): DataFrame = StageCache.cached(spark, sfDir, "inject") {
    val wseq = Window.partitionBy("series", "win").orderBy("pos")
    val wall = Window.partitionBy("series", "win")
    val base = dayWindows(spark, sfDir)
      .join(injectParams(spark, sfDir), Seq("series", "win"))
      .withColumn("cum", sum("v").over(wseq.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("vprev", lag("v", 1).over(wseq))
      .withColumn("v_at", max(when(col("pos") === col("apos"), col("v"))).over(wall))
      .withColumn("pref_at", max(when(col("pos") === col("apos"), col("cum") - col("v"))).over(wall))
      .withColumn("cum_end", max(when(col("pos") === col("apos") + col("alen") - 1, col("cum"))).over(wall))
    val lastPos = col("apos") + col("alen") - 1
    val vAnom = when(!col("contam"), col("v"))
      .when(col("atype") === 1 && col("pos") === col("apos"), -col("pref_at"))
      .when(col("atype") === 1 && col("pos") > col("apos") && col("pos") < lastPos, lit(0.0))
      .when(col("atype") === 1 && col("pos") === lastPos, col("cum_end"))
      .when(col("atype") === 2 && col("flag5") && col("pos") === col("apos"), col("r2") * col("v_at"))
      .when(col("atype") === 2 && col("flag5") && col("pos") > col("apos") && col("pos") < lastPos, lit(0.0))
      .when(col("atype") === 2 && col("flag5") && col("pos") === lastPos,
            (col("cum_end") - col("pref_at")) - col("r2") * col("v_at"))
      .when(col("atype") === 2 && !col("flag5") && col("pos") >= col("apos") && col("pos") < lastPos, lit(0.0))
      .when(col("atype") === 2 && !col("flag5") && col("pos") === lastPos, col("cum_end") - col("pref_at"))
      .when(col("atype") === 3 && col("pos") === col("apos"),
            when(col("flag5"), -col("pref_at")).otherwise(-col("rf") * col("vprev")))
      .when(col("atype") === 4 && col("pos") === col("apos"),
            when(col("flag5"), col("pref_at")).otherwise(col("rf") * col("vprev")))
      .otherwise(col("v"))
    val isAnom = when(col("contam") &&
        ((col("atype") <= 2 && col("pos") >= col("apos") && col("pos") < col("apos") + col("alen")) ||
         (col("atype") >= 3 && col("pos") === col("apos"))), 1).otherwise(0)
    base.select(col("series"), col("win"), col("pos"),
      Num.r4(col("v")).as("v_orig"), Num.r4(vAnom).as("v_anom"), isAnom.as("is_anom"))
  }

  /** Per-series q01/q99 scaling bounds over the filled series
    * (ref process_aemo.py:178-192). Exact interpolated percentiles.
    */
  def scaleBounds(spark: SparkSession, sfDir: String): DataFrame =
    // not checkpointed: a tiny per-series agg over the checkpointed
    // filled stage — cheaper to recompute than to materialize
    filled(spark, sfDir).filter(col("v_filled").isNotNull)
      .groupBy("series")
      .agg(expr(s"percentile(v_filled, $QLo)").as("lo"),
           expr(s"percentile(v_filled, $QHi)").as("hi"))

  /** Injected windows quantile-scaled: vs = (v_anom - lo) / (hi - lo). */
  def scaled(spark: SparkSession, sfDir: String): DataFrame =
    StageCache.cached(spark, sfDir, "scaled") {
      injected(spark, sfDir)
        .join(scaleBounds(spark, sfDir), "series")
        .withColumn("vs", Num.r4((col("v_anom") - col("lo")) / (col("hi") - col("lo"))))
        .select("series", "win", "pos", "vs", "is_anom")
    }

  /** Feature channels per point (ref feature_extractor.py gen_ts_features):
    * c0 = scaled value, c1 = non-overlapping patch stddev (patch=8),
    * c2 = EWMA(alpha=0.2) in closed form
    * (m_p = (1-a)^p * (x_0 + Σ_{i=1..p} a x_i (1-a)^{-i})).
    */
  def features(spark: SparkSession, sfDir: String): DataFrame = {
    // not checkpointed: window passes over the checkpointed scaled
    // stage — patches (the heavy consumer) checkpoints right after
    val wseq = Window.partitionBy("series", "win").orderBy("pos")
    val wpatch = Window.partitionBy("series", "win", "fpatch")
    val a = Alpha
    scaled(spark, sfDir)
      .withColumn("fpatch", (col("pos") / FeatPatch).cast("long"))
      .withColumn("pstd", Num.r4(stddev_samp("vs").over(wpatch)))
      .withColumn("v0", first("vs").over(wseq))
      .withColumn("sterm", sum(when(col("pos") === 0, 0.0)
          .otherwise(lit(a) * col("vs") * pow(lit(1 - a), -col("pos"))))
        .over(wseq.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("ewma", Num.r4(pow(lit(1 - a), col("pos")) * (col("v0") + col("sterm"))))
      .select("series", "win", "pos", "vs", "pstd", "ewma", "is_anom")
  }

  /** Overlapping patch vectors, size 3 stride 1 zero-pad (ref softpatch.py
    * PatchMaker.patchify / torch Unfold(padding=1)): for each pos,
    * 3 channels × offsets {-1,0,+1} → f0..f8 (channel-major).
    */
  def patches(spark: SparkSession, sfDir: String): DataFrame = StageCache.cached(spark, sfDir, "patches") {
    val wseq = Window.partitionBy("series", "win").orderBy("pos")
    def off(c: String, o: Int): Column = o match {
      case -1 => coalesce(lag(c, 1).over(wseq), lit(0.0))
      case 0  => col(c)
      case 1  => coalesce(lead(c, 1).over(wseq), lit(0.0))
    }
    features(spark, sfDir)
      .select(col("series"), col("win"), col("pos"), col("is_anom"),
        off("vs", -1).as("f0"), off("vs", 0).as("f1"), off("vs", 1).as("f2"),
        off("pstd", -1).as("f3"), off("pstd", 0).as("f4"), off("pstd", 1).as("f5"),
        off("ewma", -1).as("f6"), off("ewma", 0).as("f7"), off("ewma", 1).as("f8"))
  }

  /** Train/test split on window id (ref --ad_split_ratio 0.7 over windows).
    * Uses the per-series max win so the boundary is data-derived.
    */
  def splitBoundary(spark: SparkSession, sfDir: String): DataFrame =
    StageCache.cached(spark, sfDir, "boundary") {
      dayWindows(spark, sfDir).groupBy("series")
        .agg(floor((max("win") + 1) * TrainFrac).as("mwin"))
    }

  /** Memory bank = train-split patches (denoising/coreset applied in the
    * dedicated operators). Small after coreset → broadcast at scale.
    */
  def bankAndTest(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    def p = patches(spark, sfDir)
      .join(splitBoundary(spark, sfDir), "series")
    (StageCache.cached(spark, sfDir, "bank") { p.filter(col("win") < col("mwin")).drop("mwin") },
     StageCache.cached(spark, sfDir, "test") { p.filter(col("win") >= col("mwin")).drop("mwin") })
  }
}
