package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Num, StageCache}

/** Memory-bank anomaly detection operators (reference:
  * src/anomaly_detection/softpatch.py, common.py NearestNeighbourScorer,
  * multi_variate_gaussian.py).
  *
  * Scale design: the memory bank (train patches, later denoised +
  * coreset'd) is small relative to the scored stream and is broadcast;
  * scoring is a broadcast join + per-row min-reduce — the big side never
  * shuffles. The patch-weight ops partition by patch position, the
  * reference's "batch per patch" axis, and so does the Gaussian fit,
  * whose 9×9 inverse runs in the plan — nothing reaches the driver.
  */
object Detect {
  val FeatCols: Seq[String] = (0 to 8).map(i => s"f$i")

  /** q09: kNN (k=1) anomaly score — distance from each test patch to its
    * nearest bank patch; window score = max over patches (ref
    * softpatch.py _predict + PatchMaker.score). The unweighted bank
    * (wgt = 1) packs into one broadcast row and each test patch scans it
    * once ([[bankScored]]) — the scored side never widens or shuffles,
    * which is the 100 TB contract. x · 1.0 == x, and sqrt of the nearest
    * row's squared distance equals the oracle's min over sqrt'd
    * distances (sqrt is monotone).
    */
  def knnScore(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val (bank, test) = TsCore.bankAndTest(spark, sfDir)
    bankScored(test, packBank(withBankId(bank).withColumn("wgt", lit(1.0))), Seq("series", "win"))
      .groupBy("series", "win")
      .agg(Num.r4(max("pscore")).as("score"))
  }

  /** All (i, j) with i ≤ j — the upper-triangle traversal both engines
    * use for covariance columns and quadratic-form terms (TsOracle
    * references this same value so the orders can never diverge).
    */
  private[timeseries] val UpperIdx: Seq[(Int, Int)] =
    for { i <- 0 to 8; j <- i to 8 } yield (i, j)

  /** q10: full 9-dim Mahalanobis distance of each test patch to the
    * per-position Gaussian fit on the bank (ref softpatch.py
    * _compute_distance_with_gaussian; multi_variate_gaussian.py:15-84:
    * torch _cov ddof=1 per patch position + 0.01·eye, then linalg.inv).
    * Cached: q29 (top patch), q50 (mask) and the pipeline consume the
    * same heatmap.
    */
  def gaussianScore(spark: SparkSession, sfDir: String): DataFrame =
    StageCache.cached(spark, sfDir, "gauss_mdist")(gaussianScoreBuild(spark, sfDir))

  /** q10's plan before the cache, built without a job: the per-position
    * fit of [[gaussMoments]], then `[Σ + 0.01·I | I]` through
    * [[Ols.gaussJordan]]'s one elimination expression (no pivoting: the
    * regularized covariance is SPD) and Σ⁻¹'s upper triangle read from
    * the right block. A single-patch position's NULL Σ propagates to a
    * NULL mdist, as in the oracle. The ≤24-row inverse broadcasts to the
    * test patches; the quadratic form is unrolled in fixed fold order
    * (i00, i01·2, …, i88), mirrored term-for-term in the oracle.
    */
  private[graft] def gaussianScoreBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val (bank, test) = TsCore.bankAndTest(spark, sfDir)
    gaussianScoreOf(bank, test)
  }

  /** [[gaussianScoreBuild]] over explicit bank and test patch frames. */
  private[graft] def gaussianScoreOf(bank: DataFrame, test: DataFrame): DataFrame = {
    def sig(i: Int, j: Int): Column = {
      val c = col(s"c${math.min(i, j)}_${math.max(i, j)}")
      if (i == j) c + 0.01 else c
    }
    val means = (0 to 8).map(i => col(s"m$i"))
    val aug = gaussMoments(bank)
      .select(col("pos") +: means :+ array((0 to 8).map { i =>
        array((0 to 8).map(sig(i, _)) ++ (0 to 8).map(j => lit(if (i == j) 1.0 else 0.0)): _*)
      }: _*).as("a"): _*)
    val g = Ols.gaussJordan(aug, "a", 9).select(col("pos") +: (means ++
      UpperIdx.map { case (i, j) => col("a")(i)(j + 9).as(s"i${i}_$j") }): _*)
    val d = (0 to 8).map(i => col(s"f$i") - col(s"m$i"))
    val form = UpperIdx.map { case (i, j) =>
      if (i == j) d(i) * d(j) * col(s"i${i}_$j")
      else lit(2.0) * d(i) * d(j) * col(s"i${i}_$j")
    }.reduce(_ + _)
    test.join(broadcast(g), "pos")
      .select(col("series"), col("win"), col("pos"), Num.r4(sqrt(form)).as("mdist"))
  }

  /** q10's Gaussian fit per position of `bank`: the means m0..m8 and the
    * 45 sample covariances c{i}_{j} (i ≤ j, ddof = 1) from ONE aggregate
    * of 55 sufficient statistics — the count n, t_i = Σ f_i and
    * p_ij = Σ f_i·f_j (the one-pass grouped fit of MLlib*, ICDE 2019).
    * Then m_i = t_i/n and c_ij = (p_ij − t_i·t_j/n)/(n − 1), NULL when
    * n ≤ 1 as covar_samp is. The 55-slot buffer keeps the aggregate
    * inside whole-stage codegen; 9 avg + 45 covar_samp is a 198-slot
    * buffer that falls out of it. TsOracle.gauss9Cte writes the same
    * sums and formula in the same operation order.
    */
  private[graft] def gaussMoments(bank: DataFrame): DataFrame = {
    val sums = count(lit(1)).as("n") +: ((0 to 8).map(i => sum(s"f$i").as(s"t$i")) ++
      UpperIdx.map { case (i, j) => sum(col(s"f$i") * col(s"f$j")).as(s"p${i}_$j") })
    val n = col("n")
    def t(i: Int): Column = col(s"t$i")
    bank.groupBy("pos").agg(sums.head, sums.tail: _*)
      .select(col("pos") +: ((0 to 8).map(i => (t(i) / n).as(s"m$i")) ++
        UpperIdx.map { case (i, j) =>
          when(n > 1, (col(s"p${i}_$j") - t(i) * t(j) / n) / (n - 1)).as(s"c${i}_$j")
        }): _*)
  }

  /** Per-position cap on the q11/q12 kNN reference set: the neighbour
    * candidates of a position are its first MaxRef window ids.
    */
  private[graft] val MaxRef: Int = 10000

  /** The capped reference side with the LOUD truncation guard: the
    * registered q11/q12 stay bit-identical to their exact-uncapped
    * DuckDB oracles ONLY while no position exceeds maxRef windows — if
    * a scale bump ever trips the cap, a parity break must point HERE,
    * not at the kNN kernel. One job collects the per-position bank
    * counts (≤ |positions| longs reach the driver); when none exceeds
    * the cap the capped set IS the input and no roster rank-join is
    * planned.
    */
  private def cappedRef(withId: DataFrame, maxRef: Int): DataFrame = {
    val over = if (maxRef == Int.MaxValue) 0
      else withId.groupBy("pos").count().collect().count(_.getLong(1) > maxRef)
    if (over == 0) withId
    else {
      Console.err.println(
        s"[graft] q11/q12 kNN cap maxRef=$maxRef TRUNCATES $over " +
          "position(s) — capped result now diverges from the exact " +
          "kNN (and its oracle) by design")
      // the candidate roster is the bank's own (pos, id) set — rank it,
      // keep the first maxRef
      val wRef = Window.partitionBy("pos").orderBy("id")
      val refIds = withId.select("pos", "id").distinct()
        .withColumn("rr", row_number().over(wRef)).filter(col("rr") <= maxRef)
        .select("pos", "id")
      withId.join(refIds, Seq("pos", "id"))
    }
  }

  private def withBankId(bank: DataFrame): DataFrame =
    bank.withColumn("id", concat_ws("#", col("series"), col("win")))

  /** The k-trimmed neighbour stream (pos, id, nid, d) of every bank
    * patch against its position's capped reference set — the one kNN
    * route behind q11 (LOF) and q12 (nearest-dist). Each position's
    * reference set packs into ONE broadcast row (ids sorted + row-major
    * features, ≤ maxRef·9 doubles), every patch probes it in-row with
    * the graft_knn kernel, and only the k winners materialize: the
    * n·maxRef pair rows never exist. Bit-identical to a pairwise
    * self-join trimmed by `row_number() OVER (PARTITION BY pos, id
    * ORDER BY d+eps, nid) <= k` — same ascending-index distance fold,
    * eps added to the sqrt before selection, UTF8 binary nid tie-break
    * (DetectSpec keeps that reference and asserts equality). `maxRef`
    * is the specs' seam on the cap.
    *
    * The probe side is first spread on (pos, id) (util.Tables.spread, as
    * [[bankScored]] does): the bank checkpoint arrives in 1–2
    * partitions, which left the kernel stage on one or two cores. The
    * exchange also clusters the stream on (pos, id), so the callers'
    * per-patch aggregations reuse it.
    */
  private[graft] def knnRef(spark: SparkSession, bank: DataFrame, k: Int, eps: Double,
                            maxRef: Int = MaxRef): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val withId = withBankId(bank)
    // positions are t % 24, so the packed table is ≤ 24 × MaxRef × 9 × 8 B ≈ 17 MB
    val packed = cappedRef(withId, maxRef)
      .select(col("pos"),
        struct(col("id"), array(FeatCols.map(col): _*).as("fs")).as("s"))
      .groupBy("pos").agg(array_sort(collect_list(col("s"))).as("ps"))
      .select(col("pos"), expr("transform(ps, x -> x.id)").as("nids"),
        flatten(expr("transform(ps, x -> x.fs)")).as("bf"))
    graft.util.Tables.spread(withId, "pos", "id").join(broadcast(packed), "pos")
      .select(col("pos"), col("id"),
        explode(call_function("graft_knn", col("id"),
          array(FeatCols.map(col): _*), col("nids"), col("bf"),
          lit(k), lit(eps))).as("s"))
      .select(col("pos"), col("id"), col("s.nid").as("nid"), col("s.d").as("d"))
  }

  /** q12: nearest-neighbour distance patch weight ("nearest" method, ref
    * softpatch.py _compute_nearest_distance: topk(2, smallest) over a
    * self-inclusive distance matrix = 0 + d(nearest other)) over the
    * capped reference set — exact whenever positions hold ≤ MaxRef
    * windows (all test scales).
    */
  def nearestDistWeight(spark: SparkSession, sfDir: String): DataFrame =
    StageCache.cached(spark, sfDir, "nnweight") {
      val (bank, _) = TsCore.bankAndTest(spark, sfDir)
      // k=1, eps=0: the kernel's single winner IS min(raw d) — sqrt+0.0
      // is bit-identical to sqrt on IEEE doubles
      knnRef(spark, bank, k = 1, eps = 0.0)
        .groupBy("pos", "id")
        .agg(Num.r4(min("d")).as("w_nearest"))
        .select(col("id"), col("pos"), col("w_nearest"))
    }

  /** A weighted bank (id, pos, wgt, f0..f8) packed into ONE broadcastable
    * row: `bf` = features flattened sorted by (id, pos), `ws` = the
    * parallel weights — the input shape of [[bankScored]]. The sorted
    * packing makes the scan's first-index tie-break the oracle's
    * `ORDER BY d, id` nearest-patch choice.
    */
  def packBank(bank: DataFrame): DataFrame =
    bank
      .select(struct(col("id"), col("pos"), col("wgt"),
        array(FeatCols.map(col): _*).as("fs")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("ps"))
      .select(flatten(expr("transform(ps, x -> x.fs)")).as("bf"),
              expr("transform(ps, x -> x.wgt)").as("ws"))

  /** The weighted nearest-bank patch score `pscore` of every row of
    * `points` (carrying f0..f8 and the `keep` columns) against a
    * [[packBank]] row — the one scan behind [[knnScore]], [[pipeline]],
    * ModelStore.loadAndScore and streaming.ScoreStream.bankScoreStream.
    * Each patch scans the bank ONCE: graft_argmin_dist2 picks the
    * nearest row (first index on exact ties), and that row's squared
    * distance is graft_l2 over its 9-element slice — the same
    * ascending fold of the same squared differences as the scan, so
    * bit-identical to the scan's minimum (VectorExprSpec asserts it).
    * pscore = sqrt(d²) · the matched row's weight.
    *
    * A batch `points` table is first spread on (series, win)
    * (util.Tables.spread: a no-op once the input is split to the
    * session's parallelism), so the scan runs on every core — a
    * scored table of a few thousand rows otherwise arrives as ONE
    * partition — and the callers' per-window max reuses that
    * exchange. A streaming `points` table is scanned as it arrives.
    */
  def bankScored(points: DataFrame, packed: DataFrame, keep: Seq[String]): DataFrame = {
    val dim = FeatCols.length
    val pts = if (points.isStreaming) points else graft.util.Tables.spread(points, "series", "win")
    pts.select(keep.map(col) :+ array(FeatCols.map(col): _*).as("p"): _*)
      .crossJoin(broadcast(packed))
      .withColumn("idx", expr("int(graft_argmin_dist2(bf, p))"))
      .select(keep.map(col) :+ (sqrt(expr(s"graft_l2(slice(bf, idx * $dim + 1, $dim), p)")) *
        expr("ws[idx]")).as("pscore"): _*)
  }

  /** q23: end-to-end SoftPatch pipeline (ref softpatch.py fit + predict):
    * nearest-dist patch weights (+1) on the bank → denoise (drop the top
    * `denoiseThr` weight quantile) → score test patches against the kept
    * bank → soft re-weight by the matched bank patch's weight → window
    * score = max → flag windows above the (1−contam) score quantile.
    * The kept bank broadcasts as one packed row ([[bankScored]]); ties
    * on distance break by bank id.
    */
  def pipeline(spark: SparkSession, sfDir: String,
               denoiseThr: Double = 0.15, contamRate: Double = 0.1): DataFrame = {
    val (winScores, thr) = scoreThreshold(spark, sfDir, denoiseThr, contamRate)
    winScores
      .select(col("series"), col("win"), Num.r4(col("score")).as("score"),
        when(col("score") > thr.map(lit).getOrElse(lit(null).cast("double")), 1)
          .otherwise(0).as("pred"))
  }

  /** q23's cached raw window scores and their (1−contam) quantile (None
    * on empty input) — the one threshold [[pipeline]] flags with and
    * ModelStore.save persists.
    */
  private[graft] def scoreThreshold(spark: SparkSession, sfDir: String, denoiseThr: Double,
                                    contamRate: Double): (DataFrame, Option[Double]) = {
    val ws = StageCache.cached(spark, sfDir, s"q23ws_$denoiseThr")(windowScores(spark, sfDir, denoiseThr))
    (ws, graft.util.Quantiles.exactOne(ws, "score", 1.0 - contamRate))
  }

  /** q23's per-window scores (series, win, score) before the cache —
    * the plan PlanSpec inspects behind [[pipeline]]'s cached stage.
    */
  private[graft] def windowScores(spark: SparkSession, sfDir: String,
                                  denoiseThr: Double): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    bankScored(TsCore.bankAndTest(spark, sfDir)._2, packBank(keptBank(spark, sfDir, denoiseThr)),
        Seq("series", "win"))
      .groupBy("series", "win").agg(max("pscore").as("score"))
  }

  /** The denoised bank (id, pos, wgt, f0..f8): nearest-dist weights
    * (+1), the top `denoiseThr` weight quantile dropped — q23's kept
    * bank and the bank ModelStore.save persists.
    */
  private[graft] def keptBank(spark: SparkSession, sfDir: String,
                              denoiseThr: Double): DataFrame = {
    val (bank, _) = TsCore.bankAndTest(spark, sfDir)
    val w = nearestDistWeight(spark, sfDir).withColumn("wgt", col("w_nearest") + 1.0)
    // denoise threshold via the distributed range-sort (util.Quantiles),
    // embedded as a plan literal — at billions of bank patches the old
    // single-group percentile() buffer was the one non-distributed step
    val thrW = graft.util.Quantiles.exactLit(w, "wgt", 1.0 - denoiseThr)
    withBankId(bank).join(w.select("id", "pos", "wgt"), Seq("id", "pos"))
      .filter(col("wgt") <= thrW)
      .select((Seq("id", "pos", "wgt") ++ FeatCols).map(col): _*)
  }

  /** q11: Local Outlier Factor (k=6) per patch position over the bank
    * (ref softpatch.py _compute_lof_gpu), on [[knnRef]]'s capped
    * reference set: per-position pairwise LOF is O(n²) in
    * windows-per-position — the quadratic term a 100 TB bank cannot
    * pay. Whenever the position has ≤ MaxRef windows the cap is EXACTLY
    * the uncapped LOF (DetectSpec asserts bit-equality), so the exact
    * DuckDB oracle stays valid at every test scale. The reference adds
    * 1e-6 to all distances before the top-k.
    */
  def lofWeight(spark: SparkSession, sfDir: String, k: Int = 6): DataFrame = {
    val (bank, _) = TsCore.bankAndTest(spark, sfDir)
    lofFrom(knnRef(spark, bank, k, eps = 1e-6), k)
  }

  /** LOF (id, pos, lof) from a k-trimmed neighbour stream (pos, id, nid, d):
    * kdist(a) = d to k-th NN; reach(a,b) = max(d(a,b), kdist(b));
    * lrd(a) = k / Σ_{b∈kNN(a)} reach(a,b); lof(a) = mean lrd(b)/lrd(a).
    */
  private[graft] def lofFrom(knnStream: DataFrame, k: Int): DataFrame = {
    // checkpointed: kdist, lrd AND lof all read the stream — k·|bank|
    // rows, linear in bank size, and the kernel scan runs once instead
    // of three times
    val knn = knnStream.localCheckpoint(eager = false)
    val kdist = knn.groupBy("pos", "id").agg(max("d").as("kdist"))
    // reach(a,b) = max(d(a,b), kdist(b)); lrd(a) = k / sum_b reach(a,b)
    val lrd = knn
      .join(kdist.select(col("pos"), col("id").as("nid"), col("kdist").as("kdist_b")),
        Seq("pos", "nid"))
      .groupBy("pos", "id")
      .agg((lit(k.toDouble) / sum(greatest(col("d"), col("kdist_b")))).as("lrd"))
    knn
      .join(lrd.select(col("pos"), col("id").as("nid"), col("lrd").as("lrd_b")), Seq("pos", "nid"))
      .groupBy("pos", "id")
      .agg((sum("lrd_b") / lit(k.toDouble)).as("sum_lrd_b"))
      .join(lrd, Seq("pos", "id"))
      .select(col("id"), col("pos"), Num.r4(col("sum_lrd_b") / col("lrd")).as("lof"))
  }
}
