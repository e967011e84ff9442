package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Num

/** Structured Streaming scoring path — the streaming twin of the batch
  * detection pipeline (SURVEY §2.G): events stream in, get bucketed into
  * event-time windows with a watermark, window stats are scored against
  * a broadcast memory bank of per-series statistics, and anomalous
  * windows are emitted.
  *
  * The bank here is the Gaussian per-series profile (mean/std of window
  * means from the batch pipeline); at scale it is a small broadcast
  * table, so the stream side never shuffles beyond the windowed
  * aggregation itself.
  */
object ScoreStream {

  /** Static bank: per-series mean/std of hourly values (train region). */
  def staticBank(spark: SparkSession, sfDir: String): DataFrame =
    graft.timeseries.TsCore.hourlyGrid(spark, sfDir)
      .groupBy("series").agg(avg("v").as("mu"), stddev_samp("v").as("sd"))

  case class SeriesState(n: Long, mean: Double, m2: Double)
  case class Scored(series: String, value: Double, score: Double, nSeen: Long)

  /** Stateful streaming scorer: per-series running mean/variance
    * (Welford) kept in `GroupState`, each event scored as a z-score
    * against the state *before* it is absorbed. The
    * `mapGroupsWithState`-family operator is the Structured Streaming
    * path for custom incremental state the built-in windowed aggs can't
    * express (here: an evolving per-series profile rather than a static
    * broadcast bank).
    */
  def statefulScore(events: org.apache.spark.sql.Dataset[(String, Double)])
      : org.apache.spark.sql.Dataset[Scored] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[(String, Double)], state: GroupState[SeriesState]) =>
          var st = state.getOption.getOrElse(SeriesState(0L, 0.0, 0.0))
          val out = rows.map { case (_, v) =>
            val sd = if (st.n > 1) math.sqrt(st.m2 / (st.n - 1)) else 0.0
            val score = if (sd > 0) math.abs(v - st.mean) / sd else 0.0
            val n1 = st.n + 1
            val d = v - st.mean
            val mean1 = st.mean + d / n1
            st = SeriesState(n1, mean1, st.m2 + d * (v - mean1))
            Scored(series, v, score, n1)
          }.toVector
          state.update(st)
          out.iterator
      }
  }

  /** Streaming sessionization — the streaming twin of batch qe1, using
    * Spark's NATIVE session_window (merging event-time windows with a
    * gap timeout): state is bounded by the watermark, sessions close
    * and emit when the watermark passes their gap. No custom state
    * code needed — this is the built-in operator the batch
    * gaps-and-islands formulation maps onto in flight.
    */
  def sessionStream(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"))

  /** Streaming exact dedup — the streaming twin of batch qd1:
    * content-hash dedup with WATERMARK-BOUNDED state
    * (dropDuplicatesWithinWatermark), so the dedup set never grows
    * beyond the watermark horizon — the only formulation that survives
    * an unbounded stream.
    */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("h", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h")

  /** Streaming benchmark decontamination — the streaming twin of batch
    * qd12: documents arriving on a stream are checked against a STATIC
    * eval-set shingle table (the benchmark suite, loaded once and
    * broadcast by the stream-static join planner). Shingles explode
    * in-stream (stateless, per-microbatch), the contaminated verdict is
    * a watermarked per-(doc, event-time) aggregation — group state is
    * evicted as the watermark passes, so the query holds only the
    * in-flight horizon on an unbounded stream.
    */
  def decontaminateStream(docs: DataFrame, evalShingles: DataFrame,
                          n: Int = 5, watermark: String = "1 hour"): DataFrame = {
    val toks = docs.withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
      filter(split(col("text"), " "), t => t =!= "").as("toks"))
    // explode_outer + empty-array guard: docs shorter than n tokens
    // still flow through (with zero shingles → n_hits 0), and
    // sequence() never sees a negative upper bound
    val sh = toks.select(col("doc_id"), col("ts"),
      explode_outer(expr(s"CASE WHEN size(toks) >= $n THEN " +
        s"transform(sequence(0, size(toks) - $n), i -> " +
        s"array_join(slice(toks, i + 1, $n), ' ')) ELSE array() END")).as("sh"))
      .select(col("doc_id"), col("ts"),
        graft.text.TextCore.strHash60(col("sh")).as("h"))
    sh.join(evalShingles.select(col("h"), lit(1).as("hit")), Seq("h"), "left")
      .groupBy("doc_id", "ts")
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .select(col("doc_id"), col("ts"), col("n_hits"),
        (col("n_hits") > 0).as("contaminated"))
  }

  /** Streaming distribution-drift monitor — the streaming twin of batch
    * qp7: live points bin against a STATIC train-time baseline profile
    * (TsQueries.driftBaseline — per-series bounds + first-half bin
    * counts, broadcast by the stream-static join planner) and each
    * tumbling event-time window reports its PSI against the baseline.
    * The per-window bin histogram is nBins CONDITIONAL sums inside ONE
    * watermarked aggregation (no second bins→PSI agg — the PSI fold is
    * a stateless projection over the wide row), so state is one row per
    * (window, series), watermark-evicted. Bins empty on BOTH sides
    * contribute no term — exactly qp7's absent-row semantics, so a
    * whole-half window reproduces the batch PSI bit for bit.
    *
    * Out-of-range live values: the baseline's [mn, mx] was fixed at
    * train time, so live points OUTSIDE it are clamped into the edge
    * bins (greatest/least below) rather than dropped — they still count
    * toward the PSI mass. The batch twin never sees this case (its
    * bounds come from the same data it bins), so the clamp is a
    * deliberate live-only extension: out-of-range drift lands in bins 0
    * / nBins−1 and inflates those bins' PSI terms, which is the signal
    * a monitor wants.
    */
  def driftStream(points: DataFrame, baseline: DataFrame, nBins: Int = 10,
                  windowDur: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame = {
    require(nBins >= 2, s"nBins=$nBins")
    val (joined, nLive, psi) =
      windowPsi(points.withWatermark("ts", watermark), "value", baseline, nBins, windowDur, Nil)
    joined.select(col("window.start").as("w_start"), col("series"),
      nLive.as("n_live"), psi.as("psi"))
  }

  /** The one PSI fold of [[driftStream]] and [[refitStream]] (see
    * driftStream): the clamped bins' counts ride in ONE window
    * aggregation with the caller's `aggs`. Returns the baseline-joined
    * window rows, the live count Σ n_b and the PSI column.
    */
  private def windowPsi(rows: DataFrame, value: String, baseline: DataFrame, nBins: Int,
                        windowDur: String, aggs: Seq[Column]): (DataFrame, Column, Column) = {
    val sm = 0.5
    val binned = rows
      .join(broadcast(baseline.select("series", "mn", "mx")), "series")
      .withColumn("bin", when(col("mx") === col("mn"), 0L).otherwise(
        greatest(lit(0L), least(
          floor((col(value) - col("mn")) / (col("mx") - col("mn")) * nBins),
          lit(nBins - 1L)))))
    val binAggs = (0 until nBins).map(b =>
      sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"n$b")) ++ aggs
    val joined = binned.groupBy(window(col("ts"), windowDur), col("series"))
      .agg(binAggs.head, binAggs.tail: _*)
      .join(broadcast(baseline), "series")
    val tot0 = (0 until nBins).map(b => col(s"c$b")).reduce(_ + _)
    val tot1 = (0 until nBins).map(b => col(s"n$b")).reduce(_ + _)
    val terms = (0 until nBins).map { b =>
      val p = (col(s"c$b") + sm) / (tot0 + sm * nBins)
      val q = (col(s"n$b") + sm) / (tot1 + sm * nBins)
      when(col(s"c$b") + col(s"n$b") > 0, Num.q6((p - q) * log(p / q))).otherwise(0L)
    }.reduce(_ + _)
    (joined, tot1, Num.r4(Num.fromQ6(terms)))
  }

  /** Streaming incremental near-dup dedup — the streaming twin of batch
    * qd9: documents arriving on a stream are MinHash-signed IN FLIGHT
    * and probed against the STATIC corpus band-signature table (the
    * artifact qd9 persists; at 100 TB bucketed by (band, sig)).
    *
    * A document's whole text is one stream element, so the signature is
    * STATELESS row arithmetic — shingle hashes, the nPerm affine mins
    * and the polynomial band signatures are higher-order-function
    * expressions on the row, no explode/aggregation before the join.
    * The only stateful operator is the final per-(new, old) shared-band
    * count, watermark-evicted. Emits exactly qd9's
    * (doc_new, doc_old, n_bands) verdicts, in flight.
    */
  def lshDedupStream(docs: DataFrame, corpusBands: DataFrame,
                     nPerm: Int = 16, bandRows: Int = 4,
                     watermark: String = "1 hour"): DataFrame = {
    require(nPerm % bandRows == 0, s"nPerm=$nPerm not a multiple of bandRows=$bandRows")
    val nBands = nPerm / bandRows
    val pw = graft.text.Dedup.bandPw(bandRows)
    val toks = docs.withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        filter(split(col("text"), " "), t => t =!= "").as("toks"))
    // per-row shingle hash array (batch TextCore.strHash formula)
    val hs = toks.withColumn("hs", expr(
      "CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3), " +
        s"i -> ${graft.text.TextCore.strHashExpr("array_join(slice(toks, i + 1, 3), ' ')")}) " +
        "ELSE CAST(array() AS ARRAY<BIGINT>) END"))
    // nPerm affine minhash mins — array_min over the same mixes as batch
    val mins = (0 until nPerm).map(j =>
      expr(s"array_min(transform(hs, h -> (($j * 31 + 17) * h + $j * 7919) % 2147483647))")
        .as(s"mh$j"))
    val sigs = hs.select(col("doc_id") +: col("ts") +: mins: _*)
    val bandCols = (0 until nBands).map { b =>
      (0 until bandRows).map(r => col(s"mh${b * bandRows + r}") * pw(r))
        .reduce(_ + _).as(s"sig$b")
    }
    val wide = sigs.select(col("doc_id") +: col("ts") +: bandCols: _*)
    val banded = wide.select(col("doc_id"), col("ts"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b.toLong).as("band"), col(s"sig$b").as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("ts"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .filter(col("sig").isNotNull)
    banded
      .join(corpusBands.select(col("doc_id").as("doc_old"), col("band"), col("sig")),
        Seq("band", "sig"))
      .groupBy(col("doc_id").as("doc_new"), col("ts"), col("doc_old"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Streaming quality filter — the streaming twin of batch qt10: every
    * arriving document is scored and tagged in flight with the FIRST
    * failing quality rule (or 'pass'). A document is one stream element,
    * so all four signals are STATELESS row arithmetic over the token
    * array (size / array_distinct / per-unique-token counts / stopword
    * filter) — no explode, no aggregation, no state store; the operator
    * composes with any downstream windowed sink. The ratio expressions,
    * r4 quantization and rule cascade are the batch operator's own
    * (TextOps.qualityVerdict), so verdicts are bit-identical —
    * StreamingSpec asserts full-corpus parity.
    */
  /** The stateless per-row quality block shared by qualityFilterStream
    * and corpusFunnelStream: appends `toks` (the empty-filtered token
    * array — downstream shingling reuses it) and `reason` (the batch
    * qt10 verdict cascade) to the incoming frame. One definition so the
    * two streaming consumers can never diverge from each other or from
    * batch TextOps.qualityVerdict.
    */
  private def qualitySignals(docs: DataFrame, minTok: Long, minStopRatio: Double,
                             maxDupFrac: Double, maxTopFrac: Double): DataFrame = {
    val stop = graft.text.TextOps.Stopwords("en")
    docs
      .withColumn("toks", filter(split(col("text"), " "), t => t =!= ""))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("uniq", array_distinct(col("toks")))
      .withColumn("n_uniq", size(col("uniq")).cast("long"))
      .withColumn("top_tf",
        array_max(expr("transform(uniq, u -> size(filter(toks, x -> x = u)))")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isInCollection(stop))).cast("long"))
      .withColumn("stop_ratio", Num.r4(coalesce(col("n_stop") / col("n_tok"), lit(0.0))))
      .withColumn("dup_frac",
        Num.r4(coalesce((col("n_tok") - col("n_uniq")) / col("n_tok"), lit(0.0))))
      .withColumn("top_frac", Num.r4(coalesce(col("top_tf") / col("n_tok"), lit(0.0))))
      .withColumn("reason",
        graft.text.TextOps.qualityVerdict(minTok, minStopRatio, maxDupFrac, maxTopFrac))
  }

  def qualityFilterStream(docs: DataFrame, minTok: Long = 25L,
                          minStopRatio: Double = 0.01, maxDupFrac: Double = 0.65,
                          maxTopFrac: Double = 0.2): DataFrame =
    qualitySignals(docs, minTok, minStopRatio, maxDupFrac, maxTopFrac)
      .select(col("doc_id"), col("lang"), col("ts"), col("reason"),
        (col("reason") === "pass").as("keep"))

  /** Streaming DSIR scorer — the serving half of the saved qt22 model:
    * arriving documents are scored in flight against the persisted
    * per-bucket log-ratio table and tagged target-like or not. The
    * whole model is nBuckets longs, so it rides the plan as a LITERAL
    * array (no join at all — cheaper than a broadcast join) and the
    * per-doc score is one `aggregate` over the in-row unigram+bigram
    * feature array: stateless, zero shuffle, zero state store.
    * Bigrams come from adjacent pairs of the empty-filtered token
    * array — exactly the batch window-lead shingle stream — and the
    * bucket sum accumulates the SAME 1e-6-grid longs, so log_w and
    * the selected flag are bit-identical to batch qt22 (StreamingSpec
    * full-corpus parity). A corpus-unseen bucket is still defined in
    * the dense saved model (smoothed prior), so novel stream features
    * score rather than null out.
    */
  def dsirStream(spark: SparkSession, modelPath: String,
                 docs: DataFrame): DataFrame = {
    import graft.timeseries.ModelStore
    val rows = ModelStore.dsirLogRatios(spark, modelPath).orderBy("b").collect()
    // the scorer indexes by ARRAY POSITION and takes features mod
    // m.length, so the saved table must be the dense 0..n-1 bucket grid:
    // a corrupt/partial artifact (any missing bucket row) would silently
    // shift every index and misscore all docs — fail fast instead
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getLong(0) == i.toLong,
        s"saved DSIR model is not dense: bucket row $i has b=${r.getLong(0)}")
    }
    val m = rows.map(_.getLong(1))
    val nB = m.length
    require(nB >= 2, s"saved DSIR model has $nB buckets")
    docs
      .withColumn("lr", typedLit(m.toSeq))
      .withColumn("toks", filter(split(col("text"), " "), t => t =!= ""))
      .withColumn("bgs", when(size(col("toks")) >= 2,
        expr("transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .otherwise(expr("cast(array() as array<string>)")))
      .withColumn("feats", concat(col("toks"), col("bgs")))
      .withColumn("slr", expr(s"""aggregate(feats, cast(0 as bigint),
        (acc, f) -> acc + lr[cast(${graft.text.TextCore.strHashExpr("f")} % $nB as int)])"""))
      .select(col("doc_id"), col("source"), col("ts"),
        size(col("feats")).cast("long").as("n_feat"),
        Num.r4(Num.fromQ6(col("slr"))).as("log_w"),
        when(col("slr") > 0, 1L).otherwise(0L).as("selected"))
  }

  /** Stream-stream event-time interval join — the streaming twin of the
    * batch AS-OF/attribution shape (qe4): every `b` event (e.g. a
    * purchase) joins the `a` events (e.g. views) of the SAME user that
    * happened within (b.ts − maxDelay, b.ts]. Both sides carry
    * watermarks and the join condition time-bounds both directions, so
    * each side's buffered state is evicted once the other side's
    * watermark passes — bounded state on an unbounded stream, the only
    * stream-stream join formulation that survives 100 TB/day. Equi-key
    * user_id keeps it a hash join co-partitioned on the stream shuffle.
    */
  def intervalJoinStreams(a: DataFrame, b: DataFrame,
                          maxDelay: String = "30 minutes",
                          watermark: String = "1 hour"): DataFrame = {
    val aw = a.select(col("user_id"), col("ts").as("a_ts"), col("a_val"))
      .withWatermark("a_ts", watermark)
    val bw = b.select(col("user_id"), col("ts").as("b_ts"), col("b_val"))
      .withWatermark("b_ts", watermark)
    aw.join(bw,
      aw("user_id") === bw("user_id") &&
        col("a_ts") <= col("b_ts") &&
        col("a_ts") > col("b_ts") - expr(s"INTERVAL $maxDelay"))
      .select(aw("user_id"), col("a_ts"), col("b_ts"), col("a_val"), col("b_val"))
  }

  /** Streaming forecast scorer — the online half of the reference's
    * forecast evaluation loop, wired to a ModelStore artifact: feature
    * rows stream in (series, ts, t, y, x1..x6 — Forecast.featureBase's
    * batch schema plus the event time), each row is scored against
    * the SAVED q56 coefficient frame via the shared apply expression
    * (Forecast.featurePred), and the per-point prediction + absolute
    * error emit immediately. Stateless, no watermark state, no shuffle
    * before the sink. Predictions are BIT-IDENTICAL to the batch fit's
    * (raw-double coefficients + the same IEEE apply chain) —
    * StreamingSpec asserts full parity.
    *
    * The model joins as a broadcast stream-static table DELIBERATELY,
    * unlike the batch twins' unhinted per-series joins: stream-static joins
    * get no AQE re-plan, and an unhinted plan would re-sort the static
    * side every microbatch — a serving fleet pins its model in memory,
    * which is exactly what the broadcast expresses. A model too big to
    * broadcast calls for pre-partitioned model shards keyed like the
    * stream shuffle, not a per-microbatch sort-merge.
    */
  def forecastStream(spark: SparkSession, modelPath: String,
                     feats: DataFrame): DataFrame = {
    import graft.timeseries.{Forecast, ModelStore}
    feats
      .join(broadcast(ModelStore.forecastCoefs(spark, modelPath)), "series")
      .withColumn("p", Forecast.featurePred)
      .select(col("series"), col("ts"), col("t"), col("y"), col("p"),
        abs(col("y") - col("p")).as("abs_err"))
  }

  /** Streaming GBT forecaster — the serving half of the saved q61
    * model (forecastStream's NONLINEAR sibling): feature rows stream
    * in (series, ts, t, y, x1..x6), standardize against the broadcast
    * per-series stats, run the loaded boosted-tree ensemble's
    * transform (a stateless prediction UDF — MLlib transformers apply
    * to streaming frames unchanged) and un-standardize. The apply
    * chain is the SHARED MllibForecast.gbtApply, so streamed
    * predictions are bit-identical to ModelStore.loadAndGbtForecast
    * (StreamingSpec parity). The stats join broadcasts deliberately —
    * the pinned-model serving shape (see forecastStream's note).
    */
  def gbtStream(spark: SparkSession, modelPath: String,
                feats: DataFrame): DataFrame = {
    import graft.timeseries.MllibForecast
    val model = org.apache.spark.ml.regression.GBTRegressionModel.load(s"$modelPath/gbt")
    val stats = spark.read.parquet(s"$modelPath/gbtstats")
    MllibForecast.gbtApply(model, broadcast(stats), feats)
      .select(col("series"), col("ts"), col("t"), col("y"), col("p"),
        abs(col("y") - col("p")).as("abs_err"))
  }

  /** Streaming dual-model refit scorer — the stateless half of q62's
    * serving twin: feature rows (series, ts, t, y, x1..x3) score
    * against BOTH saved models of the q62 decision artifact (the
    * stale cutA fit and the refreshed cutB fit) in one broadcast
    * stream-static join, emitting the prediction pair per row. The
    * apply chain is the SHARED Forecast.refitPred, so streamed
    * predictions are bit-identical to ModelStore.loadAndRefitScore
    * (StreamingSpec parity). Pinned-model broadcast — see
    * forecastStream's note.
    */
  def refitScoreStream(spark: SparkSession, modelPath: String,
                       feats: DataFrame): DataFrame = {
    import graft.timeseries.{Forecast, ModelStore}
    feats
      .join(broadcast(ModelStore.refitModels(spark, modelPath)
        .drop("cutA", "cutB")), "series")
      .withColumn("p_stale", Forecast.refitPred("cutA"))
      .withColumn("p_refit", Forecast.refitPred("cutB"))
      .select(col("series"), col("ts"), col("t"), col("y"),
        col("p_stale"), col("p_refit"))
  }

  /** Streaming refit-decision monitor — the windowed half of q62's
    * serving twin (the 20th streaming twin): the drift-gated
    * retraining loop run IN FLIGHT against the saved artifact pair.
    * Each watermarked tumbling window emits, per series:
    *
    *   psi        live-window PSI vs the saved train-half baseline
    *              (driftStream's fold — same 0.5 smoothing, 1e-6
    *              pre-sum term quantization, empty-both-sides bins
    *              skipped, so a window covering batch q62's whole
    *              live half reproduces its PSI bit for bit)
    *   drifted    psi > thr (batch q62's verdict column)
    *   n_live     window row count (the PSI mass)
    *   n_eval     rows where both models scored (non-null lags)
    *   mae_stale / mae_refit
    *              window MAE of each saved model, from 1e-4-quantized
    *              per-row error sums — order-free (batch q62 averages
    *              raw floats, so the two figures agree to one r4 grid
    *              step; the stream can't replay a float sum order)
    *
    * ONE watermarked aggregation holds the nBins conditional bin sums
    * AND both error sums — no second agg, no stream-stream join; the
    * PSI fold and the refit verdict are stateless projections over the
    * wide row. State: one row per (window, series), watermark-evicted.
    */
  def refitStream(spark: SparkSession, modelPath: String, feats: DataFrame,
                  nBins: Int = 10, thr: Double = 0.1,
                  windowDur: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame = {
    import graft.timeseries.ModelStore
    require(nBins >= 2, s"nBins=$nBins")
    val baseline = ModelStore.refitBaseline(spark, modelPath)
    val scored = refitScoreStream(spark, modelPath, feats.withWatermark("ts", watermark))
      .withColumn("aes", Num.absErrQ4(col("y"), col("p_stale")))
      .withColumn("aer", Num.absErrQ4(col("y"), col("p_refit")))
    val (joined, _, psi) = windowPsi(scored, "y", baseline, nBins, windowDur, Seq(
      count(lit(1)).as("n_live"), count(col("aes")).as("n_eval"),
      sum("aes").as("saes"), sum("aer").as("saer")))
    joined.select(col("window.start").as("w_start"), col("series"),
      psi.as("psi"), when(psi > thr, 1).otherwise(0).as("drifted"),
      col("n_live"), col("n_eval"),
      Num.maeQ4(col("saes"), col("n_eval")).as("mae_stale"),
      Num.maeQ4(col("saer"), col("n_eval")).as("mae_refit"))
  }

  /** Streaming span imputer — the serving half of the saved q55 model
    * (forecastStream's sibling): flagged-span feature rows stream in
    * (series, ts, win, pos, o, xl, xr, xs — Impute.imputePoints' schema
    * plus the event time), each is imputed in flight against the SAVED
    * per-(series, offset) ridge coefficients via the shared apply
    * expression (Impute.imputePred). Stateless broadcast stream-static
    * join (the deliberate serving-model shape — see forecastStream);
    * imputations bit-identical to ModelStore.loadAndImpute
    * (StreamingSpec parity).
    */
  def imputeStream(spark: SparkSession, modelPath: String,
                   pts: DataFrame): DataFrame = {
    import graft.timeseries.{Impute, ModelStore}
    pts
      .join(broadcast(ModelStore.imputerCoefs(spark, modelPath)), Seq("series", "o"))
      .withColumn("v_imp", Impute.imputePred)
      .select(col("series"), col("ts"), col("win"), col("pos"), col("o"),
        col("v_imp"))
  }

  /** Streaming conformal band monitor — the serving half of the saved
    * q58 calibration (forecastStream's sibling): scored points stream
    * in (series, ts, y, p), each is wrapped with the SAVED per-series
    * interval [p − q̂, p + q̂] and flagged when it falls outside —
    * the distribution-free in-flight anomaly band, valid for any
    * upstream point forecaster. Stateless broadcast stream-static join
    * (the deliberate serving-model shape — see forecastStream); the
    * residual quantizes through Num.absErrQ4, the definition the
    * calibration ranked, so flags are bit-identical to
    * ModelStore.loadAndFlag (StreamingSpec parity).
    */
  def conformalStream(spark: SparkSession, modelPath: String,
                      pts: DataFrame): DataFrame = {
    import graft.timeseries.ModelStore
    pts
      .join(broadcast(ModelStore.conformalBounds(spark, modelPath)), "series")
      .select(col("series"), col("ts"), col("y"), col("p"),
        (col("p") - col("qhatq") / 10000d).as("lo"),
        (col("p") + col("qhatq") / 10000d).as("hi"),
        when(Num.absErrQ4(col("y"), col("p")) > col("qhatq"), 1)
          .otherwise(0).as("out_of_band"))
  }

  /** Streaming vector search — the serving half of the saved SQ8 index
    * (the ANN family's bankScoreStream): query vectors stream in
    * (qid, ts, av), each is scored against the BROADCAST packed
    * reconstruction with the graft_l2 codegen kernel inside a
    * higher-order transform, sorted per row, and the top k emit as
    * (qid, ts, vec_id, ad2, rnk) — ranks and distances bit-identical
    * to batch qv11 on the same queries (StreamingSpec parity; the
    * struct sort's (d2, vid) lexicographic order IS qv11's
    * (ad2, vec_id) tie-break). Stateless: no shuffle, no watermark —
    * the per-row top-k never needs a streaming window.
    *
    * The one-row packed index is the deliberate serving broadcast (see
    * forecastStream); at a 100 TB collection it becomes the per-SHARD
    * pack — each shard scores the stream against its slice and a
    * k-way merge takes the global top-k (ModelStore.sq8Packed).
    */
  def annStream(spark: SparkSession, modelPath: String,
                queries: DataFrame, k: Int = 5): DataFrame = {
    import graft.timeseries.ModelStore
    require(k >= 1, s"k=$k")
    graft.functions.VectorExprs.register(spark)
    queries
      .crossJoin(broadcast(ModelStore.sq8Packed(spark, modelPath)))
      .withColumn("topk", expr(
        s"slice(array_sort(filter(transform(ids, (id, i) -> " +
          s"struct(graft_l2(av, element_at(vecs, i+1)) AS d2, id AS vid)), " +
          s"s -> s.vid != qid)), 1, $k)"))
      .select(col("qid"), col("ts"), posexplode(col("topk")).as(Seq("p", "s")))
      .select(col("qid"), col("ts"), col("s.vid").as("vec_id"),
        Num.r4(col("s.d2")).as("ad2"), (col("p") + 1).cast("int").as("rnk"))
  }

  /** Streaming IVF retrieval over a SAVED index — the celled sibling of
    * [[annStream]]'s flat SQ8 scan and the serving half of qv26's
    * lifecycle: because ModelStore.saveSplitIvfIndex persists a
    * rebalanced index under the SAME layout, this twin serves a split
    * index with zero structural knowledge of the split (StreamingSpec
    * pins it against batch ModelStore.ivfServe on the same saved split
    * index, across a batch split). Per query row: the nProbe nearest
    * packed centroids pick the cells IN-ROW ((d2, cell) struct order =
    * batch's (d2, cell) probe rank), the probed cells' PACKED inverted
    * lists equi-join (partition-pruned shards at 100 TB), candidates
    * score in-row with the same sequential-fold dot/L2 arithmetic as
    * the graft kernels, and each probed row keeps only its top-k
    * BEFORE anything reaches window state (the (cos desc, id) order is
    * total, so the merge of per-cell top-ks is exactly the global
    * top-k) — state per (window, qid) is nProbe·k structs, never a
    * cell's contents. ONE watermarked aggregation merges the probed
    * rows; ranks, quantization and tie-breaks are bit-identical to the
    * batch server.
    */
  def ivfServeStream(spark: SparkSession, modelPath: String, queries: DataFrame,
                     nProbe: Int = 2, k: Int = 5,
                     windowDur: String = "1 hour",
                     watermark: String = "1 hour"): DataFrame = {
    import graft.timeseries.ModelStore
    require(nProbe >= 1 && k >= 1, s"nProbe=$nProbe k=$k")
    graft.functions.VectorExprs.register(spark)
    val cents = ModelStore.ivfCentroidsPacked(spark, modelPath)
    val lists = ModelStore.ivfListsPacked(spark, modelPath)
    queries.withWatermark("ts", watermark)
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("ts"), col("av"), col("na"), explode(expr(
        s"""transform(slice(array_sort(transform(cents, c -> named_struct(
              'd2', aggregate(zip_with(av, c.cv, (x, y) -> (x - y) * (x - y)),
                              0.0D, (a, x) -> a + x),
              'cell', c.cell))), 1, $nProbe), p -> p.cell)""")).as("cell"))
      .join(lists, "cell")
      .select(col("qid"), col("ts"), expr(
        s"""slice(array_sort(
              filter(transform(ids, (id, i) -> named_struct(
                'id', id,
                'cos', aggregate(zip_with(av, element_at(vecs, i+1), (x, y) -> x * y),
                                 0.0D, (a, x) -> a + x) / (na * element_at(nrms, i+1)))),
              e -> e.id != qid),
              (l, r) -> CASE WHEN l.cos > r.cos THEN -1 WHEN l.cos < r.cos THEN 1
                             WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1
                             ELSE 0 END), 1, $k)""").as("entries"))
      .groupBy(window(col("ts"), windowDur), col("qid"))
      .agg(collect_list(col("entries")).as("bundles"))
      .withColumn("topk", expr(
        s"""slice(array_sort(flatten(bundles),
              (l, r) -> CASE WHEN l.cos > r.cos THEN -1 WHEN l.cos < r.cos THEN 1
                             WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1
                             ELSE 0 END), 1, $k)"""))
      .select(col("window.start").as("win_start"), col("qid"),
        posexplode(col("topk")).as(Seq("p", "s")))
      .select(col("win_start"), col("qid"), col("s.id").as("vec_id"),
        Num.r4(col("s.cos")).as("cos"),
        (col("p") + 1).cast("int").as("rnk"))
  }

  /** Streaming BM25 scorer over a SAVED lexical index — the serving
    * twin of qv18's keyword branch: live queries (qid, ts,
    * terms: array<string>) explode to terms, equi-join the persisted
    * postings (ModelStore.saveBm25Index — corpus stats DENORMALIZED
    * onto every posting row, so no static scalar cross-join the
    * streaming planner would reject), and ONE watermarked aggregation
    * sums the SHARED quantized int64 contribution
    * (Similarity.bm25Contrib) per (window, qid, doc) — scores are
    * bit-identical to the batch bm25ScoreOf sums on the same terms
    * over the same df-ceilinged postings (StreamingSpec anchors the
    * guarded default). Ranking stays downstream (a second streaming agg
    * is both unsupported and unnecessary: the client or a batch
    * compactor ranks the per-window scores). State = one row per
    * in-flight (window, qid, candidate), watermark-evicted.
    */
  def bm25ScoreStream(spark: SparkSession, modelPath: String,
                      queries: DataFrame, windowDur: String = "1 hour",
                      watermark: String = "1 hour",
                      fallbackMaxDfShare: Long =
                        graft.vector.Similarity.Bm25FallbackMaxDfShare): DataFrame = {
    // GUARDED by default (r15) — the same df ceiling the packed serving
    // index and hybridServeStream apply (greatest(eligCap,
    // n_docs/share)), on the ROW-form postings: an over-cap live term
    // joins to nothing instead of fanning O(n_docs) state rows, and
    // ModelStore.bm25RefusedTerms audits what the ceiling refuses.
    // share=1 is the explicit PERMISSIVE opt-in (ceiling = n_docs,
    // every term scored) — a caller must ask for the unvalved shape,
    // never fall into it.
    val post = graft.timeseries.ModelStore.bm25Postings(spark, modelPath)
      .filter(col("df") <=
        graft.timeseries.ModelStore.packedDfCeiling(fallbackMaxDfShare))
    queries.withWatermark("ts", watermark)
      .select(col("qid"), col("ts"), explode(col("terms")).as("tok"))
      .join(post, "tok")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(window(col("ts"), windowDur), col("qid"), col("doc_id"))
      .agg(sum(graft.vector.Similarity.bm25Contrib).as("bm25q"))
      .select(col("window.start").as("win_start"), col("qid"), col("doc_id"),
        col("bm25q"))
  }

  /** Streaming HYBRID retrieval over a SAVED index — qv22's serving
    * configuration in flight (VERDICT r12 missing #3): live queries
    * carry their keyword terms AND their dense vector; the lexical
    * branch equi-joins the tok-PACKED persisted postings
    * (ModelStore.bm25PostingsPacked) and expands each term's posting
    * list to quantized int64 BM25 contributions IN-ROW; the dense
    * branch picks its nProbe cells in-row against the ONE-row packed
    * centroid table, equi-joins the probed cells' PACKED inverted lists
    * (partition-pruned shards at scale) and scores candidates in-row
    * with the same sequential-fold dot product as the graft_dot kernel;
    * ONE watermarked aggregation then collects both branches' candidate
    * entries per (window, qid) and the whole qv22 pipeline — per-doc
    * int64 BM25 sums, (score desc, id) rankings at `depth`, RRF fusion
    * 1/(60+rank), top-k — runs as a stateless in-row epilogue, so the
    * emitted rows are BIT-IDENTICAL to batch hybridSearchIvf on the
    * same queries (StreamingSpec, across a batch split).
    *
    * Query contract: (ts, qid, terms array<string>, av array<double>,
    * na double). Terms may be SPLIT across rows (contributions sum in
    * the window state like bm25ScoreStream), but each distinct term
    * must be delivered exactly ONCE per (window, qid): a duplicated or
    * replayed term row double-counts its BM25 contribution, exactly as
    * a re-sent dense vector duplicates its cell candidates — both are
    * producer contract violations (use an exactly-once source or dedup
    * upstream), not something the gate can repair.
    *
    * State = one row per in-flight (window, qid, candidate entry).
    * The LEXICAL side is bounded by the df valve WIRED HERE: the
    * posting join runs against ModelStore.bm25PostingsPacked at
    * `fallbackMaxDfShare` (default qv24's Bm25FallbackMaxDfShare), so
    * a live term with df over greatest(eligCap,
    * n_docs/fallbackMaxDfShare) is REFUSED — its posting row does not
    * exist in the served index, it joins to nothing, and no O(n_docs)
    * entry array can ever enter window state (a stop-word query
    * degrades to fewer/zero lexical candidates and the dense branch
    * carries it; ModelStore.bm25RefusedTerms is the audit channel —
    * a serving stream must degrade, not die, so refusal is a
    * zero-candidate outcome, never a raised error). The DENSE side is
    * bounded at nProbe·depth entries per (window, qid): each probed
    * cell/shard row pre-trims to its top-`depth` candidates IN-ROW
    * under the exact denTop total order before anything enters state
    * (global top-depth ≡ top-depth of per-row top-depths, so the trim
    * is bit-exact). Both sides watermark-evict.
    * This is batch hybridSearchIvf(fallbackMaxDfShare) in flight —
    * bit-identical on the same queries (StreamingSpec anchors the
    * GUARDED configuration, share = 2).
    */
  def hybridServeStream(spark: SparkSession, modelPath: String,
                        queries: DataFrame, windowDur: String = "1 hour",
                        watermark: String = "1 hour", k: Int = 10,
                        depth: Int = 20, nProbe: Int = 2,
                        fallbackMaxDfShare: Long =
                          graft.vector.Similarity.Bm25FallbackMaxDfShare): DataFrame = {
    import graft.timeseries.ModelStore
    import graft.vector.Similarity
    require(k >= 1 && depth >= 1 && nProbe >= 1, s"k=$k depth=$depth nProbe=$nProbe")
    // constants interpolate from Similarity's fields via Double.toString
    // (shortest-roundtrip), so the compiled plan's doubles are
    // bit-identical to the batch Column expressions'
    val k1 = Similarity.Bm25K1
    val k1p1 = Similarity.Bm25K1 + 1
    val b = Similarity.Bm25B
    val oneMb = 1 - Similarity.Bm25B
    val rrfK = Similarity.RrfK
    val bm25Term = s"""ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))
      * ((element_at(tfs, i+1) * ${k1p1}D) /
         (element_at(tfs, i+1) + ${k1}D * (${oneMb}D + ${b}D *
           (element_at(dlens, i+1) / avgdlen))))"""
    val wmq = queries.withWatermark("ts", watermark)
    val post = ModelStore.bm25PostingsPacked(spark, modelPath, fallbackMaxDfShare)
    // the shared candidate-entry shape: lex rows carry scl (int64 BM25
    // summand), dense rows carry scd (raw cosine) — union-compatible
    val lex = wmq
      .select(col("qid"), col("ts"), explode(col("terms")).as("tok"))
      .join(post, "tok")
      .select(col("qid"), col("ts"), expr(
        s"""filter(transform(doc_ids, (d, i) -> named_struct(
              'id', d,
              'scl', ${Num.q6expr(bm25Term)},
              'scd', CAST(NULL AS DOUBLE))),
            e -> e.id != qid)""").as("entries"))
    val cents = ModelStore.ivfCentroidsPacked(spark, modelPath)
    val lists = ModelStore.ivfListsPacked(spark, modelPath)
    val den = wmq
      .filter(col("av").isNotNull)
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("ts"), col("av"), col("na"), explode(expr(
        s"""transform(slice(array_sort(transform(cents, c -> named_struct(
              'd2', aggregate(zip_with(av, c.cv, (x, y) -> (x - y) * (x - y)),
                              0.0D, (a, x) -> a + x),
              'cell', c.cell))), 1, $nProbe), p -> p.cell)""")).as("cell"))
      .join(lists, "cell")
      // per-cell top-`depth` PRE-TRIM before anything reaches window
      // state: the epilogue's denTop comparator (scd desc, id asc) is a
      // TOTAL order, so the global top-depth equals the top-depth of
      // per-cell top-depths — bit-identical output, and dense state per
      // (window, qid) drops from O(nProbe·cellSize) to nProbe·depth
      // (at 100 TB a cell/shard row carries millions of candidates; only
      // the depth winners of each probed row may enter state)
      .select(col("qid"), col("ts"), expr(
        s"""slice(array_sort(
              filter(transform(ids, (id, i) -> named_struct(
                'id', id,
                'scl', CAST(NULL AS BIGINT),
                'scd', aggregate(zip_with(av, element_at(vecs, i+1), (x, y) -> x * y),
                                 0.0D, (a, x) -> a + x) / (na * element_at(nrms, i+1)))),
              e -> e.id != qid),
              (l, r) -> CASE WHEN l.scd > r.scd THEN -1 WHEN l.scd < r.scd THEN 1
                             WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1
                             ELSE 0 END), 1, $depth)""").as("entries"))
    lex.unionByName(den)
      .groupBy(window(col("ts"), windowDur), col("qid"))
      .agg(collect_list(col("entries")).as("bundles"))
      // stateless in-row epilogue: the exact qv22 pipeline over the
      // window's collected candidates. Every intermediate array binds
      // ONCE as a higher-order-function lambda variable — the
      // element_at(transform(array(X), v -> body), 1) idiom — because a
      // chained withColumn reference INLINES its producing expression
      // at every use site, and interpreted HOF evaluation recomputes an
      // inlined subtree per element access (the sort would re-run per
      // element, quadratic-or-worse — the r13 shape this replaces).
      // Per-doc BM25 sums are O(C log C): ONE array_sort by id, run
      // boundaries by adjacent inequality, each run aggregating its own
      // slice (total sliced length = C) — never a per-distinct-id
      // aggregate(filter). Same structs, same comparators →
      // bit-identical output to batch hybridSearchIvf.
      .withColumn("top", expr(
        s"""element_at(transform(array(flatten(bundles)), flat ->
    element_at(transform(array(array_sort(filter(flat, e -> e.scl IS NOT NULL))), lexs ->
      element_at(transform(array(filter(transform(lexs, (e, i) -> i), i ->
          CASE WHEN i = 0 THEN true
               ELSE element_at(lexs, i).id != element_at(lexs, i + 1).id END)), runs ->
        element_at(transform(array(slice(array_sort(
            transform(runs, (s, j) -> named_struct(
              's', aggregate(
                     slice(lexs, s + 1,
                       (CASE WHEN j + 2 <= size(runs) THEN element_at(runs, j + 2)
                             ELSE size(lexs) END) - s),
                     CAST(0 AS BIGINT), (a, e) -> a + e.scl),
              'id', element_at(lexs, s + 1).id)),
            (l, r) -> CASE WHEN l.s > r.s THEN -1 WHEN l.s < r.s THEN 1
                           WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1
                           ELSE 0 END), 1, $depth)), lexTop ->
          element_at(transform(array(slice(array_sort(filter(flat, e -> e.scd IS NOT NULL),
              (l, r) -> CASE WHEN l.scd > r.scd THEN -1 WHEN l.scd < r.scd THEN 1
                             WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1
                             ELSE 0 END), 1, $depth)), denTop ->
            element_at(transform(array(transform(
                array_union(transform(lexTop, x -> x.id), transform(denTop, x -> x.id)),
                d -> named_struct('id', d,
                  'lr', array_position(transform(lexTop, x -> x.id), d),
                  'vr', array_position(transform(denTop, x -> x.id), d)))), fused ->
              slice(array_sort(
                transform(fused, f -> named_struct('id', f.id, 'lr', f.lr, 'vr', f.vr,
                  'rrf', (CASE WHEN f.lr > 0 THEN 1.0D / ($rrfK + f.lr) ELSE 0.0D END) +
                         (CASE WHEN f.vr > 0 THEN 1.0D / ($rrfK + f.vr) ELSE 0.0D END))),
                (l, r) -> CASE WHEN l.rrf > r.rrf THEN -1 WHEN l.rrf < r.rrf THEN 1
                               WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1
                               ELSE 0 END), 1, $k)), 1)), 1)), 1)), 1)), 1)), 1)"""))
      .select(col("window.start").as("win_start"), col("qid"),
        posexplode(col("top")).as(Seq("p", "s")))
      .select(col("win_start"), col("qid"), col("s.id").as("doc_id"),
        col("s.lr").cast("int").as("lex_rank"),
        col("s.vr").cast("int").as("vec_rank"),
        Num.r6(col("s.rrf")).as("rrf"),
        (col("p") + 1).cast("int").as("rnk"))
  }

  /** Streaming twin of batch qt24 — documents chunk IN FLIGHT through
    * the SAME chunk projection (TextOps.chunkFrom; bit-parity by
    * construction): a stateless per-row map, so there is no watermark,
    * no state, and no shuffle — the ingestion-pipeline shape where
    * chunking runs as documents land, not as a later batch sweep.
    */
  def chunkStream(docs: DataFrame, chunkTok: Int = 64,
                  stride: Int = 48): DataFrame =
    graft.text.TextOps.chunkFrom(docs, chunkTok, stride, carry = Seq("ts"))

  /** Streaming twin of qc5's dedup gate — the index-INGESTION filter: a
    * chunk passes downstream (to embedding + indexing) only if its
    * chunk_md5 lineage key has not been seen before. Batch qc5 keeps
    * the min-(doc_id, chunk_id) occurrence; on a stream "first" means
    * FIRST ARRIVAL — the only causal keeper rule an online gate can
    * implement — so when documents arrive in doc_id order the kept set
    * is exactly qc5's (StreamingSpec proves it). State = one key per
    * DISTINCT chunk ever admitted, the same cardinality the batch
    * index itself stores; `withinWatermark` bounds it when the
    * lineage-key horizon is finite.
    */
  def chunkDedupStream(docs: DataFrame, chunkTok: Int = 64,
                       stride: Int = 48,
                       dedupWatermark: Option[String] = None): DataFrame = {
    val chunks = chunkStream(docs, chunkTok, stride)
    dedupWatermark match {
      // finite lineage-key horizon declared: evict admitted keys past
      // the event-time watermark (dropDuplicatesWithinWatermark), so
      // state is bounded by the horizon's key arrival rate instead of
      // every distinct chunk ever admitted. Admission semantics inside
      // the horizon are identical; a key re-arriving AFTER eviction is
      // re-admitted — exactly the contract the caller opts into by
      // declaring the horizon.
      case Some(wm) => chunks.withWatermark("ts", wm)
        .dropDuplicatesWithinWatermark("chunk_md5")
      case None => chunks.dropDuplicates("chunk_md5")
    }
  }

  /** Streaming twin of qp11's row-level constraint class — the
    * data-quality GATE at ingestion: per event-time window, the same
    * constraint catalog (Events.RowChecks — one definition, parity by
    * construction) evaluates to a (window, check, metric, threshold,
    * passed) scorecard as rows land, so a bad producer deploy trips a
    * failing verdict within one window instead of at the next batch
    * audit. ONE watermarked aggregation (conditional sums — partial
    * aggs map-side) + a stateless unpivot. The uniqueness and
    * referential checks stay batch-only by design: both need
    * corpus-GLOBAL state (an unbounded distinct / a data-scale join)
    * that a streaming gate shouldn't hold.
    */
  def expectationsStream(rows: DataFrame, windowDur: String = "1 day",
                         watermark: String = "1 hour"): DataFrame =
    graft.analytics.Events.rowCheckFrame(
      rows.withWatermark("ts", watermark),
      grp = Seq(window(col("ts"), windowDur)))
      .select(col("window.start").as("win_start"), col("check_name"),
        col("metric"), col("threshold"))
      .withColumn("passed",
        when(col("metric") >= col("threshold"), 1L).otherwise(0L))

  /** Streaming twin of batch qm10 — media RESIZE at ingestion (the
    * first multimodal twin): incoming payloads block-mean downsample
    * through the SAME kernel (BinaryMeta.resizePlane — one definition,
    * parity by construction) inside a stateless per-row flatMap; no
    * watermark, no state, no shuffle — normalization runs as media
    * lands, with the event time carried per bucket so downstream
    * windowed stages can keep their lateness semantics.
    */
  def resizeStream(spark: SparkSession, docs: DataFrame, r: Int = 16): DataFrame = {
    import spark.implicits._
    docs
      .select(col("ts"), col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(java.sql.Timestamp, Long, Array[Byte])]
      .flatMap { case (ts, docId, payload) =>
        graft.multimodal.BinaryMeta.resizePlane(docId, payload, r)
          .map(b => (ts, b.doc_id, b.bucket, b.n_bytes, b.byte_sum, b.mean_byte))
      }
      .toDF("ts", "doc_id", "bucket", "n_bytes", "byte_sum", "mean_byte")
  }

  /** Streaming twin of batch qt26 — BPE-ENCODE documents in flight with
    * a persisted merge table (ModelStore.saveBpe). Where the batch
    * encoder joins tokens against the trained vocabulary's final
    * segmentations, the stream REPLAYS the ≤ rounds merge rules in-row
    * (the rule list is the bounded artifact — collected once at stream
    * build, compiled into a nested-replace expression): stateless
    * per-row map work, no watermark, no state, no shuffle, and it
    * encodes OUT-OF-VOCABULARY words the batch join never saw — the
    * generalization a serving tokenizer must have. For training-corpus
    * words the two paths are the SAME sequential merge process, so
    * outputs are exactly equal (StreamingSpec asserts it).
    */
  def bpeEncodeStream(spark: SparkSession, modelPath: String,
                      docs: DataFrame): DataFrame = {
    val rules = graft.timeseries.ModelStore.bpeMergeRules(spark, modelPath)
      .orderBy("merge_round").select("lhs", "rhs").collect()
    // escape for a Spark SQL string literal: backslash FIRST (the
    // parser honors C-style escapes by default), then quote-doubling —
    // merge symbols come from corpus tokens, so assume nothing
    def q(s: String) = s.replace("\\", "\\\\").replace("'", "''")
    // symbol count of the ␁-wrapped encoding: split on the ␁␁ boundary
    // WITHOUT trimming — "␁a␁␁b␁" → ["␁a","b␁"], size = symbol count
    val wrapped = "concat(chr(1), array_join(split(t, ''), chr(1) || chr(1)), chr(1))"
    val enc = rules.foldLeft(wrapped) { (acc, m) =>
      val l = q(m.getString(0)); val r = q(m.getString(1))
      s"replace($acc, chr(1) || '$l' || chr(1) || chr(1) || '$r' || chr(1)," +
        s" chr(1) || '$l$r' || chr(1))"
    }
    docs
      // ␁-carrying tokens are excluded like the batch path (they are
      // outside the trained vocabulary by bpeWordFreq's precondition
      // filter, and replaying merges on them would corrupt boundaries)
      .withColumn("toks", expr(
        "filter(split(text, ' '), t -> t <> '' AND NOT contains(t, chr(1)))"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("ts"), size(col("toks")).cast("long").as("n_tok"),
        expr(s"aggregate(transform(toks, t -> size(split($enc, chr(1) || chr(1)))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))").as("n_subword"),
        expr("aggregate(transform(toks, t -> length(t)), " +
          "CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))").as("n_char"))
      .select(col("doc_id"), col("ts"), col("n_tok"), col("n_subword"),
        Num.r4(col("n_subword") / col("n_char")).as("subword_per_char"))
  }

  /** Streaming twin of the BATCH detection scorer, wired to a
    * ModelStore artifact: patch-feature rows stream in (series, win,
    * pos, f0..f8 + event-time ts), each patch is scored against the
    * SAVED packed memory bank by the batch path's own scan
    * (Detect.bankScored: one broadcast bank row — a stream-static
    * join, so the stream side never shuffles before its windowed
    * reduce), and per-(series, win)
    * max scores emit once the watermark closes the window, flagged
    * against the saved threshold. Score values are BIT-IDENTICAL to
    * Detect.pipeline / ModelStore.loadAndScore on the same patches
    * (StreamingSpec asserts this) — the model trains in batch, scores
    * in flight.
    */
  def bankScoreStream(spark: SparkSession, modelPath: String,
                      patches: DataFrame, windowDur: String = "1 day",
                      watermark: String = "2 hours"): DataFrame = {
    import graft.timeseries.{Detect, ModelStore}
    graft.functions.VectorExprs.register(spark)
    val thr = ModelStore.threshold(spark, modelPath)
    Detect.bankScored(patches.withWatermark("ts", watermark),
        ModelStore.packedBank(spark, modelPath), Seq("ts", "series", "win"))
      .groupBy(window(col("ts"), windowDur), col("series"), col("win"))
      .agg(max("pscore").as("score"))
      .crossJoin(broadcast(thr))
      .select(col("series"), col("win"),
        Num.r4(col("score")).as("score"),
        when(col("score") > col("threshold"), 1).otherwise(0).as("pred"))
  }

  case class CusumState(sp: Double, sn: Double)
  case class CusumFlag(series: String, t: Long, cusumPos: Double, cusumNeg: Double)

  /** Streaming CUSUM — the stateful twin of batch q45. The batch
    * operator evaluates Page's recursion through its prefix closed form
    * because batch has no per-row state; in flight the recursion IS the
    * natural shape: two doubles of state per series in `GroupState`,
    * updated per point, flags emitted the moment either one-sided sum
    * crosses h·σ — detection latency of one microbatch instead of one
    * batch job. (μ, σ) per series come from the batch fit (the same
    * quantized sufficient statistics q45 uses) and ride the closure as
    * a small broadcast map — train-in-batch, detect-in-flight, like
    * bankScoreStream. Rows are time-sorted within each microbatch
    * (arrival order within a group is not guaranteed after the state
    * shuffle); cross-batch ordering is the source's contract, as for
    * every stateful sequential operator.
    */
  def cusumStream(points: org.apache.spark.sql.Dataset[(String, Long, Double)],
                  params: Map[String, (Double, Double)],
                  k: Double = 0.5, h: Double = 5.0)
      : org.apache.spark.sql.Dataset[CusumFlag] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import points.sparkSession.implicits._
    points.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[CusumState]) =>
          params.get(series).filter(_._2 > 0.0) match {
            case None => Iterator.empty
            case Some((mu, sd)) =>
              var st = state.getOption.getOrElse(CusumState(0.0, 0.0))
              val out = rows.toVector.sortBy(_._2).flatMap { case (_, t, v) =>
                val sp = math.max(0.0, st.sp + (v - mu - k * sd))
                val sn = math.max(0.0, st.sn + (mu - k * sd - v))
                st = CusumState(sp, sn)
                if (sp > h * sd || sn > h * sd)
                  Some(CusumFlag(series, t, sp / sd, sn / sd))
                else None
              }
              state.update(st)
              out.iterator
          }
      }
  }

  case class RateState(times: Seq[Long])
  case class RateVerdict(userId: Long, tsec: Long, nw: Long, flagged: Boolean)

  /** Streaming twin of qe15's burst-rate audit — RATE LIMITING in
    * flight: per user, each arriving event is stamped with the count
    * of that user's events in the trailing `windowSec` (RANGE-frame
    * semantics: events sharing a timestamp see the same full-second
    * count) and flagged when the rate crosses `thr`. State per user is
    * the in-window event times ONLY (eviction below t − windowSec on
    * every arrival), so the state bound is the densest window — a
    * bot's burst — not the stream's history; the audit's own threshold
    * is what keeps that bound small in production (flagged users get
    * throttled upstream). Events within a micro-batch sort by time, so
    * the verdict stream equals the batch per-event counts whenever
    * arrival respects event order per user (StreamingSpec asserts the
    * per-user peak equals batch qe15's peak_rate over the corpus).
    */
  def burstRateStream(events: org.apache.spark.sql.Dataset[(Long, Long)],
                      windowSec: Long = 86400L, thr: Long = 8L,
                      idleTtl: Option[String] = None)
      : org.apache.spark.sql.Dataset[RateVerdict] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    require(windowSec >= 1 && thr >= 1, s"windowSec=$windowSec thr=$thr")
    // a ttl shorter than the window would evict IN-WINDOW state and
    // silently undercount nw/peak_rate — fail at construction instead.
    // Parse with Spark's own CalendarInterval reader and ONLY that:
    // it is the grammar setTimeoutDuration itself re-parses with, so
    // accepting anything wider here (e.g. scala-Duration's "2h") would
    // pass validation and then crash the query mid-flight.
    idleTtl.foreach { s =>
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
        .safeStringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      require(iv != null,
        s"idleTtl '$s' is not a valid Spark interval (e.g. '2 hours', '1 hour 30 minutes')")
      require(iv.months == 0,
        s"idleTtl '$s': month-based intervals have no fixed length — use days/hours")
      val ms = iv.days * 86400000L + iv.microseconds / 1000L
      require(ms >= windowSec * 1000L,
        s"idleTtl '$s' (${ms}ms) must be >= windowSec=${windowSec}s: " +
          "a shorter ttl evicts in-window state and undercounts rates")
    }
    // TOTAL-state bound: per-key state is bounded by the densest window,
    // but eviction only runs on a key's own arrivals, so keys ever seen
    // accumulate. Production passes idleTtl = Some("2 hours"): idle
    // keys' state drops on the processing-time timeout and the store
    // tracks ACTIVE users only (a returning user restarts with an empty
    // window — with any ttl ≥ windowSec under prompt delivery that
    // loses nothing). Default None keeps NoTimeout for deterministic
    // batch-parity tests: pending processing-time timeouts make
    // processAllAvailable wait on the no-data timeout batch.
    val mode =
      if (idleTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, mode) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[RateState]) =>
          if (!rows.hasNext) {
            if (state.hasTimedOut) state.remove()
            Iterator.empty
          } else {
            var times = state.getOption.map(_.times.toVector).getOrElse(Vector.empty[Long])
            val sorted = rows.map(_._2).toVector.sorted
            val out = new scala.collection.mutable.ArrayBuffer[RateVerdict](sorted.size)
            // RANGE-frame parity: all events at one timestamp count each
            // other, so emit per distinct second with that second's total
            for ((t, grp) <- sorted.groupBy(identity).toSeq.sortBy(_._1)) {
              times = (times ++ grp).filter(_ > t - windowSec)
              val nw = times.count(s => s > t - windowSec && s <= t).toLong
              grp.foreach(_ => out += RateVerdict(user, t, nw, nw >= thr))
            }
            state.update(RateState(times))
            idleTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  case class PackState(cum: Long)
  case class ShardAssign(source: String, lang: String, docId: Long,
                         nToks: Long, shard: Long)
  case class CapState(n: Long)
  case class CapVerdict(source: String, docId: Long, nChars: Long, kept: Boolean)

  /** Streaming twin of qt21's per-source document cap — ADMISSION
    * CONTROL in flight: each source admits its first `cap` documents
    * and rejects the rest, ONE Long of state per source. The batch
    * gate (r16's `perSourceCapThreshold`) keeps doc_id ≤ cap_thr where
    * cap_thr is the cap-th lowest doc_id per source — under ordered
    * (ingestion = doc_id) arrival, first-COME admits exactly that
    * threshold's kept set, so the two semantics coincide precisely
    * when the batch tie-break's rationale holds. StreamingSpec
    * reconciles per-doc verdicts against the SHARED threshold builder
    * itself (kept ⇔ doc_id ≤ cap_thr), so a drift in the batch
    * rewrite breaks the twin's spec, not just qt21's oracle. Within a
    * micro-batch rows sort by doc_id, so replays of the same batch are
    * deterministic.
    */
  def domainCapStream(docs: org.apache.spark.sql.Dataset[(String, Long, Long)],
                      cap: Int = 20): org.apache.spark.sql.Dataset[CapVerdict] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    require(cap >= 1, s"cap=$cap")
    docs.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[CapState]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = rows.toVector.sortBy(_._2).map { case (_, id, nc) =>
            val kept = n < cap
            if (kept) n += 1
            CapVerdict(source, id, nc, kept)
          }
          state.update(CapState(n))
          out.iterator
      }
  }

  case class FunnelRow(source: String, docId: Long, nChars: Long,
                       qKeep: Boolean, cKeep: Boolean, dKeep: Boolean,
                       reason: String)
  case class FunnelVerdict(source: String, docId: Long, nChars: Long,
                           qKeep: Boolean, cKeep: Boolean, dKeep: Boolean,
                           finalKeep: Boolean, reason: String)

  /** Streaming twin of qc1's corpus-build funnel — ADMISSION CONTROL
    * for a training corpus, in flight: every arriving document runs the
    * full quality → decontaminate → dedup → source-cap cascade and is
    * tagged with its verdict and first failing stage. Composition of
    * the pieces the individual twins already established:
    *
    *  - quality gate: stateless row arithmetic ([[qualitySignals]],
    *    bit-identical to batch qt10);
    *  - decontamination probe: the eval-suite 5-gram hash set is BOUNDED
    *    by design (qd12's scale contract — benchmarks are small), so it
    *    rides the plan as a sorted LITERAL array and the probe is one
    *    codegen'd graft_sorted_inter over the doc's in-row distinct
    *    shingle hashes — stateless, no join, no state store;
    *  - dedup: stream-static probe of the PERSISTED per-doc keeper table
    *    (the funnel artifact the batch build maintains — qd9's
    *    serve-the-artifact discipline; a doc absent from it is its own
    *    keeper);
    *  - source cap: the ONE stateful stage — a Long per source
    *    (domainCapStream's state bound), first-come semantics equal to
    *    the batch doc_id-order cap exactly when arrival is ingestion
    *    order (StreamingSpec feeds ordered batches and asserts per-doc
    *    equality of every stage flag against batch corpusFlags).
    */
  def corpusFunnelStream(docs: DataFrame, evalHashes: Array[Long],
                         keepers: DataFrame, cap: Int = 20, evalMod: Long = 50L,
                         n: Int = 5, minTok: Long = 25L,
                         minStopRatio: Double = 0.01, maxDupFrac: Double = 0.65,
                         maxTopFrac: Double = 0.2)
      : org.apache.spark.sql.Dataset[FunnelVerdict] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    require(cap >= 1, s"cap=$cap")
    require(evalMod >= 2, s"evalMod=$evalMod: evalMod=1 would make EVERY doc the eval split")
    require(n >= 1, s"n=$n")
    graft.functions.VectorExprs.register(docs.sparkSession)
    val evalSorted: Seq[Long] = evalHashes.distinct.sorted.toSeq
    // the literal-array probe is the right shape ONLY while the eval
    // suite is benchmark-sized (qd12's contract); past this bound the
    // plan literal itself becomes the bottleneck — use the join-based
    // decontaminateStream instead and fail loudly here
    // 2^16 longs ≈ 0.5 MB embedded literal — past a few tens of
    // thousands of hashes the typedLit array degrades plan
    // serialization/codegen long before memory does, so bound tightly
    require(evalSorted.size <= (1 << 16),
      s"eval suite has ${evalSorted.size} shingle hashes — too large for a plan " +
        "literal; probe it with decontaminateStream's stream-static join instead")
    // distinct 5-gram shingle hashes, sorted in-row (batch TextCore
    // strHash60 formula), intersected with the literal eval set —
    // n_hits counts the SAME distinct-hash hits batch qd12 counts
    val shHash = graft.text.TextCore.strHash60Expr(s"array_join(slice(toks, i + 1, $n), ' ')")
    val shExpr = s"""CASE WHEN size(toks) >= $n THEN
      array_sort(array_distinct(transform(sequence(0, size(toks) - $n),
        i -> $shHash)))
      ELSE CAST(array() AS ARRAY<BIGINT>) END"""
    val withCon = qualitySignals(docs, minTok, minStopRatio, maxDupFrac, maxTopFrac)
      .withColumn("shs", expr(shExpr))
      .withColumn("ev", typedLit(evalSorted))
      .withColumn("n_hits", expr("graft_sorted_inter(shs, ev)"))
      .withColumn("q_keep", col("reason") === "pass")
      .withColumn("clean", when(col("doc_id") % evalMod === 0, lit(false))
        .otherwise(col("n_hits") === 0))
      .withColumn("c_keep", col("q_keep") && col("clean"))
      .join(keepers.select(col("doc_id"), col("keeper")), Seq("doc_id"), "left")
      .withColumn("d_keep",
        col("c_keep") && coalesce(col("doc_id") === col("keeper"), lit(true)))
      .withColumn("stage_reason",
        when(col("reason") =!= "pass", col("reason"))
          .when(col("doc_id") % evalMod === 0, lit("holdout"))
          .when(col("n_hits") > 0, lit("contaminated"))
          .when(!col("d_keep"), lit("dup"))
          .otherwise(lit("pending")))
    withCon
      .select(col("source"), col("doc_id").as("docId"), col("n_chars").as("nChars"),
        col("q_keep").as("qKeep"), col("c_keep").as("cKeep"), col("d_keep").as("dKeep"),
        col("stage_reason").as("reason"))
      .as[FunnelRow]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[FunnelRow], state: GroupState[CapState]) =>
          var nAdm = state.getOption.map(_.n).getOrElse(0L)
          val out = rows.toVector.sortBy(_.docId).map { r =>
            if (r.dKeep) {
              nAdm += 1
              val kept = nAdm <= cap
              FunnelVerdict(source, r.docId, r.nChars, r.qKeep, r.cKeep, r.dKeep,
                kept, if (kept) "admitted" else "source_cap")
            } else FunnelVerdict(source, r.docId, r.nChars, r.qKeep, r.cKeep,
              r.dKeep, finalKeep = false, r.reason)
          }
          state.update(CapState(nAdm))
          out.iterator
      }
  }

  /** Streaming twin of qt11's token-budget shard packing: per
    * (source, lang) stream, `GroupState` carries the cumulative token
    * count, so arriving documents are assigned their training shard
    * the moment they land — the continuous-ingest version of the batch
    * prefix-sum. Exclusive-prefix semantics match qt11 exactly
    * (a doc's shard is decided by the tokens BEFORE it). In-batch rows
    * sort by doc_id; cross-batch order follows arrival, which is the
    * ingest order a streaming packer genuinely sees.
    */
  def shardPackStream(docs: org.apache.spark.sql.Dataset[(String, String, Long, Long)],
                      budget: Long = 2048L)
      : org.apache.spark.sql.Dataset[ShardAssign] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    require(budget >= 1, s"budget=$budget")
    docs.groupByKey(d => (d._1, d._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, String), rows: Iterator[(String, String, Long, Long)],
         state: GroupState[PackState]) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = rows.toVector.sortBy(_._3).map { case (src, lang, id, n) =>
            val shard = cum / budget
            cum += n
            ShardAssign(src, lang, id, n, shard)
          }
          state.update(PackState(cum))
          out.iterator
      }
  }

  case class TouchState(tsec: Long, channel: String)
  case class AttributedConv(userId: Long, tsec: Long, channel: String,
                            gapS: Long, value: Double)

  /** Streaming twin of qe10 (last-touch attribution): per-user state
    * holds the latest marketing touch; each purchase emits its
    * attributed channel the moment it arrives — the real-time
    * conversion feed version of the batch rollup. Same in-batch
    * event-time ordering discipline as [[cusumStream]] (the group's
    * batch rows sort by tsec before folding); touches and conversions
    * arriving in different micro-batches attribute correctly via the
    * carried state. Late cross-batch arrivals follow processing order —
    * pair with a watermark upstream when the source can reorder beyond
    * a batch.
    */
  def attributionStream(events: org.apache.spark.sql.Dataset[(Long, Long, Long, String, Double)],
                        touchTypes: Set[String] = Set("click", "view", "signup"),
                        convType: String = "purchase",
                        lookbackS: Long = 3600L)
      : org.apache.spark.sql.Dataset[AttributedConv] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String, Double)],
         state: GroupState[TouchState]) =>
          var st = state.getOption
          // conversions sort BEFORE same-tsec touches (strictly-earlier
          // attribution, qe4/qe10's marker discipline) and touches at
          // equal tsec apply in event_id order, so the max event_id
          // wins — the batch operator's exact dedup rule
          val ordered = rows.toVector.sortBy(r => (r._2, if (touchTypes(r._4)) 1 else 0, r._3))
          val out = ordered.flatMap { case (_, t, _, typ, v) =>
            if (touchTypes(typ)) { st = Some(TouchState(t, typ)); None }
            else if (typ == convType) {
              val hit = st.filter(s => s.tsec < t && t - s.tsec <= lookbackS)
              Some(AttributedConv(user, t,
                hit.map(_.channel).getOrElse("direct"),
                hit.map(s => t - s.tsec).getOrElse(-1L), v))
            } else None
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Wire a streaming DataFrame of raw events (ts: timestamp,
    * event_type, value) into watermarked sliding windows scored against
    * the bank. Returns the streaming result (score = |window mean − μ|/σ).
    */
  def scoreStream(events: DataFrame, bank: DataFrame,
                  windowDur: String = "1 hour", slide: String = "30 minutes",
                  watermark: String = "2 hours"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide), col("event_type").as("series"))
      .agg(avg("value").as("wmean"), count(lit(1)).as("n"))
      .join(broadcast(bank), "series")
      .select(col("series"), col("window.start").as("wstart"),
        col("wmean"), col("n"),
        (abs(col("wmean") - col("mu")) / col("sd")).as("score"))
  }
}
