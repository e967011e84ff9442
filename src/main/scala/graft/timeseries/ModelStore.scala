package graft.timeseries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Num

/** Detection-model persistence (reference: softpatch.py save_to_path /
  * load_from_path + common.py NearestNeighbourScorer.save/load): the
  * fitted "model" is data — the denoised memory bank (Detect.keptBank;
  * not coreset'd) with its soft weights, the scaling bounds, and the
  * score threshold — stored as parquet so any session (batch or
  * streaming) can reload and score without refitting.
  */
object ModelStore {

  /** Fit on the train split and persist all scoring artifacts. Both
    * quantile artifacts (denoise cut, score threshold) come from the
    * distributed range-sort (util.Quantiles) — nothing funnels the
    * bank or the score stream into a one-reducer percentile buffer. The
    * threshold is the one Detect.pipeline flags with (over the raw
    * window scores), so a served window gets its in-session `pred`.
    */
  def save(spark: SparkSession, sfDir: String, path: String,
           denoiseThr: Double = 0.15, contamRate: Double = 0.1): Unit = {
    import spark.implicits._
    Detect.keptBank(spark, sfDir, denoiseThr).write.mode("overwrite").parquet(s"$path/bank")
    TsCore.scaleBounds(spark, sfDir).write.mode("overwrite").parquet(s"$path/bounds")
    Seq(Detect.scoreThreshold(spark, sfDir, denoiseThr, contamRate)._2)
      .toDF("threshold").write.mode("overwrite").parquet(s"$path/threshold")
  }

  /** The saved bank packed into ONE broadcastable row (Detect.packBank:
    * features flattened sorted by (id, pos) plus the parallel weight
    * array). Shared by [[loadAndScore]] and the streaming scorer
    * (streaming.ScoreStream.bankScoreStream).
    */
  def packedBank(spark: SparkSession, path: String): DataFrame =
    Detect.packBank(spark.read.parquet(s"$path/bank"))

  /** The saved score threshold (single row, column `threshold`). */
  def threshold(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/threshold")

  /** Forecast-model persistence — the forecasting half of the reference's
    * save/load lifecycle (forecasting wrappers checkpoint their trained
    * nets; here the trained artifact is q56's per-series coefficient
    * frame). Coefficients are saved RAW (un-quantized doubles), so a
    * reloaded model's predictions are bit-identical to the in-session
    * fit — asserted in ModelStoreSpec.
    */
  def saveForecast(spark: SparkSession, sfDir: String, path: String,
                   lambda: Double = 0.001, rollH: Int = 12): Unit =
    Forecast.featureCoefs(spark, sfDir, lambda, rollH)
      .write.mode("overwrite").parquet(s"$path/coefs")

  /** The saved per-series coefficient frame (series, b0..b6). */
  def forecastCoefs(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/coefs")

  /** Apply a SAVED q56 model to a feature frame (series, x1..x6, …) —
    * no refit: one join against the coefficient artifact + the shared
    * apply expression. Batch twin of streaming.forecastStream.
    */
  def loadAndForecast(spark: SparkSession, path: String, feats: DataFrame): DataFrame =
    feats.join(forecastCoefs(spark, path), "series")
      .withColumn("p", Forecast.featurePred)
      .drop((0 to 6).map(i => s"b$i"): _*)

  /** Imputer-model persistence — the reference trains its denoising AE
    * once and saves it for the imputation stage (anomaly_imputation/
    * main.py); here the trained artifact is q55's per-(series, offset)
    * ridge coefficient frame, saved RAW so reloaded predictions are
    * bit-identical to the in-session fit (ModelStoreSpec).
    */
  def saveImputer(spark: SparkSession, sfDir: String, path: String,
                  maskSize: Int = 8, lambda: Double = 0.01): Unit =
    Impute.imputerCoefs(spark, sfDir, maskSize, lambda)
      .write.mode("overwrite").parquet(s"$path/imputer")

  /** The saved per-(series, offset) imputer coefficients. */
  def imputerCoefs(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/imputer")

  /** Apply a SAVED q55 imputer to span feature rows
    * (series, o, xl, xr, xs, …) — no refit.
    */
  def loadAndImpute(spark: SparkSession, path: String, pts: DataFrame): DataFrame =
    pts.join(imputerCoefs(spark, path), Seq("series", "o"))
      .withColumn("v_imp", Impute.imputePred)
      .drop("b0", "b1", "b2", "b3")

  /** Conformal-calibration persistence — q58's trained artifact is the
    * per-series (n_cal, qhatq) half-width frame; saved on the exact
    * 1e-4 int grid, so reloaded interval flags are bit-identical to the
    * in-session calibration (ModelStoreSpec). The serving side
    * (batch [[loadAndFlag]] / streaming conformalStream) wraps ANY
    * point forecast p with [p − q̂, p + q̂] and flags points outside —
    * the distribution-free anomaly band a fleet monitor runs in flight.
    */
  def saveConformal(spark: SparkSession, sfDir: String, path: String,
                    alpha: Double = 0.1): Unit =
    Forecast.conformalQhat(spark, sfDir, alpha)
      .write.mode("overwrite").parquet(s"$path/conformal")

  /** The saved per-series conformal calibration (series, n_cal, qhatq). */
  def conformalBounds(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/conformal")

  /** Apply a SAVED conformal calibration to scored points
    * (series, …, y, p): interval bounds + the outside-interval flag.
    * The residual quantizes through [[Num.absErrQ4]], the
    * definition the calibration ranked, so the flag is integer-exact.
    */
  def loadAndFlag(spark: SparkSession, path: String, pts: DataFrame): DataFrame =
    pts.join(conformalBounds(spark, path), "series")
      .withColumn("lo", col("p") - col("qhatq") / 10000d)
      .withColumn("hi", col("p") + col("qhatq") / 10000d)
      .withColumn("out_of_band",
        when(Num.absErrQ4(col("y"), col("p")) > col("qhatq"), 1)
          .otherwise(0))
      .drop("n_cal", "qhatq")

  /** BM25 lexical-index persistence — qv18's postings with their
    * denormalized corpus stats, the artifact bm25ScoreStream serves
    * from. At 100 TB this table is tok-bucketed so the serving join
    * co-locates; the frame is the index (no pack step — posting lists
    * are row-scale, never driver-side).
    */
  def saveBm25Index(spark: SparkSession, sfDir: String, path: String): Unit =
    graft.vector.Similarity.bm25Postings(spark, sfDir)
      .write.mode("overwrite").parquet(s"$path/bm25postings")

  def bm25Postings(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/bm25postings")

  /** BPE tokenizer persistence — qt25's ordered merge table (the
    * artifact a tokenizer IS: ≤ rounds rows). bpeEncodeStream replays
    * these rules in-row over incoming documents.
    */
  def saveBpe(spark: SparkSession, sfDir: String, path: String,
              rounds: Int = 4): Unit =
    graft.text.TextOps.bpeMerges(spark, sfDir, rounds)
      .write.mode("overwrite").parquet(s"$path/bpe_merges")

  /** The production-round-count variant: persists qt28's locally-mined
    * merge table (same schema, same replay contract — bpeEncodeStream
    * compiles either artifact identically).
    */
  def saveBpeLocal(spark: SparkSession, sfDir: String, path: String,
                   rounds: Int = 64): Unit =
    graft.text.TextOps.bpeMergesLocal(spark, sfDir, rounds)
      .write.mode("overwrite").parquet(s"$path/bpe_merges")

  def bpeMergeRules(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/bpe_merges")

  /** SQ8 vector-index persistence — the ANN-family lifecycle: quantize
    * the collection in batch (qv11's per-dim uint8 grid), persist grid
    * params (one row) + codes (one byte/dim/vector — the compressed
    * collection), and serve top-k lookups against the reconstruction,
    * bit-identical to the in-session quantizer (sq8ReconFrom shares
    * the exact grid arithmetic). The packed one-row form
    * [[sq8Packed]] is what the streaming scorer broadcasts.
    */
  def saveSq8Index(spark: SparkSession, sfDir: String, path: String): Unit = {
    val (params, codes) = graft.vector.Similarity.sq8IndexFrames(spark, sfDir)
    params.write.mode("overwrite").parquet(s"$path/sq8params")
    codes.write.mode("overwrite").parquet(s"$path/sq8codes")
  }

  /** The saved index reconstructed to (vec_id, rv). */
  def sq8Recon(spark: SparkSession, path: String): DataFrame =
    graft.vector.Similarity.sq8ReconFrom(
      spark.read.parquet(s"$path/sq8params"),
      spark.read.parquet(s"$path/sq8codes"))

  /** The saved index packed into ONE row (ids + reconstructed vectors,
    * both sorted by vec_id) — the broadcastable serving form, like
    * [[packedBank]]. At a 100 TB collection this single-row pack is the
    * per-SHARD form: partition the codes, pack per shard, take a
    * per-shard top-k and merge — the scan below is the within-shard
    * kernel.
    */
  def sq8Packed(spark: SparkSession, path: String): DataFrame =
    sq8Recon(spark, path)
      .groupBy().agg(array_sort(collect_list(struct(col("vec_id"), col("rv")))).as("xs"))
      .select(expr("transform(xs, x -> x.vec_id)").as("ids"),
        expr("transform(xs, x -> x.rv)").as("vecs"))

  /** IVF index persistence — the scale-path sibling of the SQ8 flat
    * index: centroids persist as a small table, and the collection
    * itself is laid out CELL-PARTITIONED parquet — the on-disk form of
    * FAISS's inverted lists, where a probe reads ONLY its cells'
    * partitions (parquet partition pruning is the list seek; at 100 TB
    * each cell directory is the shard a probe touches, everything else
    * is never read).
    */
  def saveIvfIndex(spark: SparkSession, sfDir: String, path: String,
                   nCells: Int = 16): Unit = {
    graft.vector.Similarity.ivfCentroids(spark, sfDir, nCells)
      .write.mode("overwrite").parquet(s"$path/ivfcentroids")
    graft.vector.Similarity.vecsWithCell(spark, sfDir, nCells)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/ivflists")
  }

  /** The same IVF layout persisted from an EXPLICIT assignment — the
    * serving half of qv26's lifecycle: centroids are rebuilt from the
    * assignment through the one shared centroid arithmetic
    * (Similarity.centroidsFromAssign), lists lay out cell-partitioned
    * exactly like [[saveIvfIndex]], so ivfServe / ivfServeStream read a
    * split index with zero structural knowledge of the split.
    */
  def saveIvfIndexFrom(spark: SparkSession, sfDir: String, path: String,
                       assign: org.apache.spark.sql.DataFrame): Unit = {
    val e = graft.vector.Similarity.vecs(spark, sfDir)
    graft.vector.Similarity.centroidsFromAssign(e, assign)
      .write.mode("overwrite").parquet(s"$path/ivfcentroids")
    e.join(assign.select("vec_id", "cell"), "vec_id")
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/ivflists")
  }

  /** Run qv26's split to a clean audit and persist the result — the
    * maintenance round-trip: audit flags → splitToClean rebalances →
    * the balanced index SERVES from disk (ModelStoreSpec pins saved
    * answers ≡ the in-session post-split probe; StreamingSpec pins the
    * streaming server against the batch one on the same saved index).
    */
  def saveSplitIvfIndex(spark: SparkSession, sfDir: String, path: String,
                        nCells: Int = 16, hotFactor: Double = 2.0,
                        nSplit: Int = 2, maxRounds: Int = 8): Unit =
    saveIvfIndexFrom(spark, sfDir, path,
      graft.vector.Similarity.splitToClean(spark, sfDir, nCells, hotFactor,
        nSplit, maxRounds))

  /** Serve top-k cosine lookups from a SAVED IVF index: queries
    * (qid, av, na) probe the nProbe nearest saved centroids, then rank
    * only the probed cells' inverted-list rows — the same probe/rank
    * arithmetic as the in-session qv3, so results are bit-identical on
    * the same queries (ModelStoreSpec). The cell join against the
    * partitioned list table is where partition pruning cuts the read.
    */
  def ivfServe(spark: SparkSession, path: String, queries: DataFrame,
               nProbe: Int = 2, k: Int = 5): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    require(nProbe >= 1 && k >= 1, s"nProbe=$nProbe k=$k")
    val cent = spark.read.parquet(s"$path/ivfcentroids")
    val wP = Window.partitionBy("qid").orderBy(col("d2"), col("cell"))
    val probes = queries.select(col("qid"), col("av"))
      .crossJoin(broadcast(cent))
      .withColumn("d2", expr("graft_l2(av, cv)"))
      .withColumn("rn", row_number().over(wP)).filter(col("rn") <= nProbe)
      .select("qid", "cell")
    val lists = spark.read.parquet(s"$path/ivflists")
      .select(col("vec_id"), col("v").as("bv"), col("nrm").as("nb"), col("cell"))
    val wR = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    probes.join(lists, "cell").filter(col("qid") =!= col("vec_id"))
      .join(broadcast(queries.select(col("qid"), col("av"), col("na"))), "qid")
      .withColumn("cos", expr("graft_dot(av, bv)") / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(wR))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), Num.r4(col("cos")).as("cos"), col("rnk"))
  }

  /** Hybrid serving artifact (qv22's configuration in flight): the BM25
    * postings AND the IVF centroid/cell-list tables under one path —
    * everything hybridServeStream probes.
    */
  def saveHybridIndex(spark: SparkSession, sfDir: String, path: String,
                      nCells: Int = 16): Unit = {
    saveBm25Index(spark, sfDir, path)
    saveIvfIndex(spark, sfDir, path, nCells)
  }

  /** Tok-PACKED posting lists from the saved BM25 index: one row per
    * term carrying parallel doc/tf/dlen arrays plus the denormalized
    * corpus stats — the stream-static equi-join side of
    * hybridServeStream (a term's whole posting list moves as one row,
    * so the per-query lexical scoring runs in-row with no further
    * shuffle). At 100 TB this table is tok-bucketed like the row form.
    *
    * The df valve is applied HERE (the saved row form keeps every
    * posting — it also serves the permissive bm25ScoreStream): terms
    * with df > greatest(eligCap, n_docs/fallbackMaxDfShare) — qv24's
    * fallback HARD CEILING over the batch eligibility cap — are
    * dropped BEFORE packing, so an over-cap term's O(n_docs) posting
    * array is never built, never joined, and can never enter a
    * streaming consumer's window state. share=1 is the permissive
    * legacy shape (ceiling = n_docs, everything packed); serving
    * passes Similarity.Bm25FallbackMaxDfShare. [[bm25RefusedTerms]]
    * is the audit channel for what a given ceiling refuses.
    */
  def bm25PostingsPacked(spark: SparkSession, path: String,
                         fallbackMaxDfShare: Long = 1L): DataFrame =
    bm25Postings(spark, path)
      .filter(col("df") <= packedDfCeiling(fallbackMaxDfShare))
      .groupBy("tok", "df", "n_docs", "avgdlen")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("tf"), col("dlen"))))
        .as("ps"))
      .select(col("tok"), col("df"), col("n_docs"), col("avgdlen"),
        expr("transform(ps, x -> x.doc_id)").as("doc_ids"),
        expr("transform(ps, x -> x.tf)").as("tfs"),
        expr("transform(ps, x -> x.dlen)").as("dlens"))

  /** The packed-postings admission ceiling as a Column over the saved
    * row form (df, n_docs): greatest(batch eligibility cap,
    * n_docs/share) — exactly hybridQueryTermsFrom's fallback ceiling,
    * so the serving index admits precisely the terms batch term
    * selection could ever emit at the same share.
    */
  private[graft] def packedDfCeiling(fallbackMaxDfShare: Long): org.apache.spark.sql.Column = {
    require(fallbackMaxDfShare >= 1L,
      s"fallbackMaxDfShare must be >= 1, got $fallbackMaxDfShare")
    val eligCap = greatest(lit(graft.vector.Similarity.Bm25MaxDfFloor),
      floor(col("n_docs") / graft.vector.Similarity.Bm25MaxDfShare).cast("long"))
    greatest(eligCap, floor(col("n_docs") / fallbackMaxDfShare).cast("long"))
  }

  /** The REFUSAL audit for a serving ceiling: every vocabulary term the
    * packed index at this share will NOT serve (tok, df, n_docs) — the
    * loud channel for refusals. A live query term that matches neither
    * the packed postings nor this table is simply out-of-vocabulary; a
    * term found here was refused BY POLICY (df over the ceiling), and
    * an operator can alert on refusal rates without the serving stream
    * ever materializing the hot posting list it exists to avoid.
    */
  def bm25RefusedTerms(spark: SparkSession, path: String,
                       fallbackMaxDfShare: Long): DataFrame =
    bm25Postings(spark, path)
      .filter(col("df") > packedDfCeiling(fallbackMaxDfShare))
      .select("tok", "df", "n_docs").distinct()

  /** Cell-PACKED inverted lists from the saved IVF index: one row per
    * cell (ids/vecs/nrms sorted by vec_id) — the stream-static
    * equi-join side of hybridServeStream's dense probe. Per-SHARD rows
    * at 100 TB (a probed cell is read as its shard set), exactly like
    * sq8Packed's serving shape.
    */
  def ivfListsPacked(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/ivflists")
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("vec_id"), col("v"), col("nrm"))))
        .as("xs"))
      .select(col("cell"),
        expr("transform(xs, x -> x.vec_id)").as("ids"),
        expr("transform(xs, x -> x.v)").as("vecs"),
        expr("transform(xs, x -> x.nrm)").as("nrms"))

  /** The centroid table packed into ONE broadcastable row (sorted by
    * cell) — the in-row probe table.
    */
  def ivfCentroidsPacked(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/ivfcentroids")
      .agg(array_sort(collect_list(struct(col("cell"), col("cv")))).as("cents"))

  /** DSIR model persistence — qt22's trained artifact: the DENSE
    * per-bucket quantized log-ratio table (every bucket defined, so a
    * streaming doc hashing a novel feature into a corpus-unseen bucket
    * still scores — it gets the smoothed prior ratio). nBuckets rows
    * of two longs: the whole "model" broadcasts anywhere.
    */
  def saveDsir(spark: SparkSession, sfDir: String, path: String,
               target: String = "src0", nBuckets: Int = 64): Unit =
    graft.text.TextOps.dsirModel(spark, sfDir, target, nBuckets)
      .write.mode("overwrite").parquet(s"$path/dsir")

  /** The saved DSIR log-ratio table (b, lrq), one row per bucket. */
  def dsirLogRatios(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/dsir")

  /** q61 GBT persistence — the nonlinear half of the forecast
    * lifecycle: MLlib's own model writer serializes the boosted trees
    * EXACTLY (split thresholds and leaf values are doubles in the
    * parquet metadata), and the per-series standardization stats save
    * alongside from their session-cached realization — so a reloaded
    * model's predictions are bit-identical to the in-session fit
    * (ModelStoreSpec).
    */
  def saveGbt(spark: SparkSession, sfDir: String, path: String,
              maxIter: Int = 20, maxDepth: Int = 2, seed: Long = 42L): Unit = {
    val model = MllibForecast.gbtModel(spark, sfDir, maxIter, maxDepth, seed)
      .getOrElse(throw new IllegalStateException(
        s"saveGbt: empty train split under $sfDir — nothing to persist"))
    model.write.overwrite().save(s"$path/gbt")
    MllibForecast.gbtStats(spark, sfDir)
      .write.mode("overwrite").parquet(s"$path/gbtstats")
  }

  /** Reload the saved q61 artifact and predict over a featureBase-shaped
    * frame — no refit; shares the apply definition with the in-session
    * forecast.
    */
  def loadAndGbtForecast(spark: SparkSession, path: String,
                         base: DataFrame): DataFrame = {
    val model = org.apache.spark.ml.regression.GBTRegressionModel.load(s"$path/gbt")
    val stats = spark.read.parquet(s"$path/gbtstats")
    MllibForecast.gbtApply(model, stats, base)
  }

  /** Refit-audit persistence — q62's decision artifact: the per-series
    * stale/refreshed coefficient pair with the cuts, plus the PSI
    * baseline profile (full-range bounds + train-half bin counts at
    * the cutA boundary). Both saved RAW off the session-cached
    * realizations, so the streaming twin's verdicts can't drift a ulp
    * from the in-session q62.
    */
  def saveRefitAudit(spark: SparkSession, sfDir: String, path: String,
                     fracA: Double = 0.7, fracB: Double = 0.85,
                     nBins: Int = 10): Unit = {
    Forecast.refitArtifact(spark, sfDir, fracA, fracB)
      .write.mode("overwrite").parquet(s"$path/refit_models")
    Forecast.refitBaseline(spark, sfDir, fracA, fracB, nBins)
      .write.mode("overwrite").parquet(s"$path/refit_baseline")
  }

  /** The saved stale/refreshed coefficient pair (series, cutA, cutB,
    * b0_cutA..b3_cutA, b0_cutB..b3_cutB).
    */
  def refitModels(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/refit_models")

  /** The saved q62 PSI baseline (series, mn, mx, c0..c{nBins−1}). */
  def refitBaseline(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/refit_baseline")

  /** Score feature rows (series, x1..x3, …) against BOTH saved q62
    * models — the batch anchor streaming refitScoreStream must equal
    * bit-for-bit (shared Forecast.refitPred apply chain).
    */
  def loadAndRefitScore(spark: SparkSession, path: String,
                        feats: DataFrame): DataFrame =
    feats.join(refitModels(spark, path).drop("cutA", "cutB"), "series")
      .withColumn("p_stale", Forecast.refitPred("cutA"))
      .withColumn("p_refit", Forecast.refitPred("cutB"))
      .drop(Seq("cutA", "cutB").flatMap(c => (0 to 3).map(i => s"b${i}_$c")): _*)

  /** Reload artifacts and score the given patch table (same f0..f8
    * schema) against the saved bank — no refit. The scan is
    * Detect.bankScored, the one Detect.pipeline runs: the scored side
    * never widens before its (series, win) reduce, and the nearest-
    * patch tie-break is the pipeline's `ORDER BY d, id`.
    */
  def loadAndScore(spark: SparkSession, path: String, patches: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    Detect.bankScored(patches, packedBank(spark, path), Seq("series", "win"))
      .groupBy("series", "win").agg(max("pscore").as("score"))
      .crossJoin(broadcast(threshold(spark, path)))
      .select(col("series"), col("win"), Num.r4(col("score")).as("score"),
        when(col("score") > col("threshold"), 1).otherwise(0).as("pred"))
  }
}
