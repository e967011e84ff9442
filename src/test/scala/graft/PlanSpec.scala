package graft

import org.apache.spark.sql.functions._
import graft.analytics.Relational
import graft.util.Tables

/** Physical-plan quality gates: the properties that keep these plans
  * viable at 100 TB, asserted against explain output so regressions
  * (a lost broadcast, a widened scan) fail loudly.
  */
class PlanSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("star join broadcasts the dimension tables (no sort-merge join)") {
    val p = plan(Relational.revenueByNation(spark, Sf01))
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join in:\n$p")
  }

  test("parquet scan prunes to the referenced columns only") {
    val p = plan(Tables.events(spark, Sf01)
      .select(col("event_type"), col("value"))
      .groupBy("event_type").agg(sum("value")))
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("props"), "unreferenced column must not be read")
    assert(!p.contains("user_id"), "unreferenced column must not be read")
  }

  test("filters push down to the parquet scan") {
    val p = plan(Tables.lineitem(spark, Sf01)
      .filter(col("l_quantity") < 5.0).select("l_orderkey"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,5.0)]"),
      s"expected pushdown in:\n$p")
  }

  test("HOF dot product rewrites to the codegen kernel, value-preserving") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
      .selectExpr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, v) -> s + v) AS d")
    val rewritten = graft.functions.DotRewrite(df.queryExecution.analyzed)
    assert(rewritten.toString.contains("graft_dot"),
      s"rule did not fire on:\n${df.queryExecution.analyzed}")
    spark.experimental.extraOptimizations = Seq(graft.functions.DotRewrite)
    try {
      assert(df.head().getDouble(0) === 32.0)
      // on a non-local source the optimized plan keeps the kernel visible
      val pq = Tables.embeddings(spark, Sf01)
        .selectExpr("cast(embedding as array<double>) AS v")
        .selectExpr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (s, w) -> s + w) AS n2")
      assert(pq.queryExecution.optimizedPlan.toString.contains("graft_dot"),
        pq.queryExecution.optimizedPlan.toString)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("qv2 bucket build stays explode-free (literal-plane projections only)") {
    val p = plan(graft.vector.Similarity.lshAnn(spark, Sf01))
    // the r2 regression was posexplode(v) × explode(planes) → two
    // groupBys: 512 rows/vector through two shuffles. The fixed plan
    // computes buckets as a map-side projection — no Generate operator
    // anywhere in qv2.
    assert(!p.contains("Generate"), s"explode crept back into qv2:\n${p.take(2000)}")
    assert(p.contains("graft_dot"), "bucket projections must use the codegen kernel")
  }

  test("JL-projected coreset candidate build is explode-free and uses the kernel") {
    val kept = graft.timeseries.Coreset.keptBank(spark, Sf01, 0.15)
      .withColumn("farr", org.apache.spark.sql.functions.array(
        graft.timeseries.Detect.FeatCols.map(col): _*))
    graft.functions.VectorExprs.register(spark)
    val projected = kept.select(col("id"), col("pos"),
      org.apache.spark.sql.functions.call_function("graft_dot", col("farr"),
        org.apache.spark.sql.functions.array((0 until 9).map(d =>
          org.apache.spark.sql.functions.lit(graft.timeseries.Coreset.jlWeight(0, d, 8))): _*)).as("p0"))
    val p = plan(projected)
    assert(!p.contains("Generate"), p.take(1000))
    assert(p.contains("graft_dot"), p.take(1000))
  }

  test("threshold queries embed quantiles as literals — no single-group percentile agg") {
    // q16/q23/q27 thresholds come from util.Quantiles' distributed
    // range-sort; their plans must not contain a percentile() aggregate
    // (whose buffer funnels every score onto one reducer at 100 TB)
    for ((nm, df) <- Seq(
      "q16" -> graft.timeseries.Metrics.thresholdMetrics(spark, Sf01),
      "q27" -> graft.timeseries.Metrics.thresholdSweep(spark, Sf01),
      "q23" -> graft.timeseries.Detect.pipeline(spark, Sf01))) {
      val p = plan(df)
      assert(!p.contains("percentile"),
        s"$nm still aggregates percentile on one reducer:\n${p.take(1200)}")
    }
  }

  test("q27 sweep is one scan — no sweep×data join, kernel in qd4's plan") {
    // thresholds are literals → a single conditional-agg pass; the old
    // crossJoin(sweep, scores) amplified every scored row |rates|×
    val p27 = plan(graft.timeseries.Metrics.thresholdSweep(spark, Sf01))
    assert(!p27.contains("BroadcastNestedLoopJoin") && !p27.contains("CartesianProduct"),
      s"q27 re-grew a sweep×data join:\n${p27.take(1200)}")
    // qd4 intersects via the merge-walk kernel, not array_intersect's
    // per-pair hash set
    val pd4 = plan(graft.text.Dedup.ngramJaccard(spark, Sf01))
    assert(pd4.contains("graft_sorted_inter") && !pd4.contains("array_intersect"),
      s"qd4 lost the sorted-intersection kernel:\n${pd4.take(1200)}")
  }

  test("qd4 pair stream never crosses an exchange — arrays attach by block (r19)") {
    // r18 attached each side's packed array through PAIR-keyed joins, so
    // the m²-sized candidate stream crossed an exchange carrying ~0.4 KB
    // of array per row (15 GB at sf1). r19 keys the arrays by their
    // (lang, blk) block and explodes pairs AFTER that exchange: no
    // doc_a/doc_b-keyed exchange may reappear in the plan — only the
    // block-keyed (or broadcast) attach moves array bytes, linear in
    // docs.
    val p = plan(graft.text.Dedup.ngramJaccard(spark, Sf01))
    assert(!p.contains("hashpartitioning(doc_a") && !p.contains("hashpartitioning(doc_b"),
      s"qd4 re-grew a pair-keyed exchange (arrays shuffled per pair):\n${p.take(1600)}")
    // and the kernel must consume the join output in the same stage —
    // the wide (sa, sb) pair rows exist only inside the iterator
    assert(p.contains("graft_sorted_inter"), s"qd4 lost the kernel:\n${p.take(1200)}")
  }

  test("qv3 cell assignment is a packed-kernel projection — no fan-out, no groupBy shuffle") {
    graft.functions.VectorExprs.register(spark)
    import spark.implicits._
    val e = Tables.embeddings(spark, Sf01)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val seeds = Seq((0, Array.fill(64)(0.5))).toDF("cell", "sv")
      .select(org.apache.spark.sql.functions.struct(col("cell"), col("sv")).as("s"))
      .agg(org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.collect_list(col("s"))).as("ps"))
      .selectExpr("flatten(transform(ps, x -> x.sv)) AS sf")
    val p = plan(graft.vector.Similarity.cellAssign(e, seeds))
    assert(p.contains("graft_argmin_dist2"),
      s"qv3 assignment must scan the packed seed row with the codegen kernel:\n${p.take(1200)}")
    // no per-cell fan-out, no groupBy(vec_id) shuffle: the only Exchange
    // is the packed seeds' own single-row aggregation
    assert(!p.contains("hashpartitioning(vec_id"),
      s"assignment re-grew the per-vector groupBy shuffle:\n${p.take(1200)}")
  }

  test("q28 labels derive from the cached grid origin — no raw events scan") {
    val p = plan(graft.timeseries.TsQueries.q28WindowLabels(spark, Sf01))
    assert(!p.contains("events.parquet"), s"q28 re-scans raw events:\n${p.take(800)}")
  }

  test("qd12 corpus side meets the eval set map-side (broadcast, no corpus sort-merge)") {
    val p = plan(graft.text.Dedup.decontaminate(spark, Sf01))
    assert(p.contains("BroadcastHashJoin"), s"eval shingle set must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle-sort:\n${p.take(800)}")
  }

  test("qa15 z keys compute map-side: one zcell exchange with partial agg, broadcast bounds") {
    val p = plan(Relational.zorderLayout(spark, Sf01))
    assert(p.contains("partial_count"), "zcell rollup must partial-agg")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "min/max bounds must broadcast")
    // exactly one data exchange (zcell) + the single-partition bounds agg
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n${p.take(1200)}")
  }

  test("qv5/qv6 ADC scans broadcast the distance tables — no shuffle above the codes scan") {
    val p5 = plan(graft.vector.Similarity.pqAnn(spark, Sf01))
    assert(p5.contains("BroadcastNestedLoopJoin") || p5.contains("BroadcastHashJoin"),
      s"distance maps must broadcast:\n${p5.take(800)}")
    val p6 = plan(graft.vector.Similarity.ivfPqAnn(spark, Sf01))
    assert(p6.contains("BroadcastHashJoin"), s"qv6 dmaps must broadcast:\n${p6.take(800)}")
  }

  test("round-8 operators keep their scale shapes (q53/q54/qe13/qv13)") {
    // Other suites may have .cache()d these results in the SHARED
    // session (getOrCreate): a cached InMemoryRelation renders its
    // stored final plan alongside the fresh one and double-counts the
    // patterns below. Clearing the DataFrame cache only touches
    // CacheManager entries — StageCache's localCheckpoints are
    // RDD-level persists and are untouched.
    spark.catalog.clearCache()
    // q53: the seasonal-naive lag subtree is derived exactly once (the
    // Σbase-over-series sum is a whole-partition window, not a
    // groupBy+self-join that would re-run the lag)
    val p53 = plan(graft.timeseries.Forecast.reconcile(spark, Sf01))
    assert("lag\\(y".r.findAllIn(p53).size == 1,
      s"q53 must compute the lag window once:\n${p53.take(900)}")
    // q54 (r9 conditional-agg collapse): the lag window lives in the
    // shared cached stage — the query plan itself derives NO lag pass —
    // and the |series|-scale mean/coef joins carry no hard-coded
    // broadcast hint (a plain join; AQE picks the strategy from
    // runtime bytes)
    val d54 = graft.timeseries.Forecast.refitBacktest(spark, Sf01)
    val p54 = plan(d54)
    assert(!p54.contains("lag(y"),
      s"q54 must read the cached lag stage, not re-derive it:\n${p54.take(900)}")
    assert(!p54.contains("CartesianProduct"), s"q54 cartesian:\n${p54.take(900)}")
    assert(!d54.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "q54 must not hard-code a broadcast on |series|-scale frames")
    // …and at THIS scale AQE's runtime size gate still lands on
    // broadcast-hash for the tiny dim stages
    d54.collect()
    assert(plan(d54).contains("BroadcastHashJoin"),
      s"AQE should broadcast the 5-series dims at sf0.01:\n${plan(d54).take(900)}")
    // qe13: exactly two aggregations' exchanges — the user-mask rollup
    // and the single global conditional-sum row
    val p13 = plan(graft.analytics.Events.audienceOverlap(spark, Sf01))
    val ex13 = "Exchange ".r.findAllIn(p13).size
    assert(ex13 == 2, s"qe13 expected 2 exchanges, got $ex13:\n${p13.take(900)}")
    // qv13: every Lloyd round is broadcast + kernel — never a pairwise join
    val pkm = plan(graft.vector.Similarity.kmeansFit(spark, Sf01))
    assert(pkm.contains("graft_argmin_dist2") && pkm.contains("BroadcastNestedLoopJoin"),
      s"qv13 must assign via the broadcast kernel:\n${pkm.take(900)}")
    assert(!pkm.contains("SortMergeJoin") && !pkm.contains("CartesianProduct"),
      s"qv13 pairwise join crept in:\n${pkm.take(900)}")
  }

  test("qv11 SQ8 scan is a stateless recon projection — broadcast query side, rank is the only exchange above it") {
    val p = plan(graft.vector.Similarity.sq8Ann(spark, Sf01))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query sample must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join in the ADC scan:\n${p.take(800)}")
  }

  test("qt11 packs shards with ONE data-scaled exchange — the prefix rollup reuses it") {
    // r17: the two-pass prefix sum still pays exactly one corpus-scale
    // shuffle — the (source, lang, __bkt) exchange under the local
    // cumsum — because the per-bucket totals aggregate the WINDOW's own
    // output, making the rollup subtree share that shuffle stage (AQE
    // exchange reuse, visible in the final adaptive plan). The only
    // other hash exchange is the |groups|·|buckets|-row rollup prefix.
    // No global barrier anywhere: bounds and prefix ride broadcasts.
    val df = graft.text.TextOps.packShards(spark, Sf01)
    df.collect() // finalize THIS adaptive plan so stage reuse is applied
    val full = df.queryExecution.executedPlan.toString()
    assert(full.contains("isFinalPlan=true"), full.take(300))
    // count within the FINAL section only (the adaptive toString echoes
    // the pre-reuse initial plan below it)
    val p = full.split("== Initial Plan ==").head
    // a ReusedExchange line echoes the reused exchange's text — count
    // only the lines that EXECUTE a shuffle
    val hashEx = p.split("\n")
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(hashEx <= 2, // the bucketed data exchange + the bounded rollup exchange
      s"expected at most 2 distinct hash exchanges after reuse, got $hashEx:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the rollup must REUSE the data exchange, not re-shuffle the corpus:\n$p")
    // (the 1-row min/max bounds agg legitimately folds through a
    // SinglePartition exchange — the repo's scalar-broadcast pattern —
    // so no bare no-SinglePartition assert here; the data-scaled side
    // is covered by the two asserts above)
  }

  test("q45/q47 are window chains over ONE series exchange — no joins, no extra shuffle") {
    for (df <- Seq(graft.timeseries.Intervals.cusum(spark, Sf01),
                   graft.timeseries.Intervals.medianFilter(spark, Sf01))) {
      val p = plan(df)
      assert(!p.contains("Join"), s"pure window chain must not join:\n${p.take(800)}")
      // the shared filled-stage build is cached upstream; the operator
      // itself adds exactly one hashpartitioning(series) exchange
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges == 1, s"expected 1 series exchange, got $exchanges:\n${p.take(1200)}")
    }
  }

  test("q50 mask is one (series, win) window chain — ≤ 3 exchanges, ≤ 1 join") {
    val p = plan(graft.timeseries.Postprocess.anomalyMask(spark, Sf01))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
      .r.findAllIn(p).size
    assert(exchanges <= 3, s"q50 re-grew its flag-build shuffles ($exchanges):\n${p.take(2000)}")
    assert(joins <= 1, s"q50 re-grew its flag joins ($joins):\n${p.take(2000)}")
  }

  test("q10 inverts in the plan: building it launches no job and scans no driver-made rows") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.timeseries.{Detect, TsCore}
    // the split's own builders may run jobs: build it before counting
    val (bank, test) = TsCore.bankAndTest(spark, Sf01)
    val sc = spark.sparkContext
    val group = "planspec-q10-build"
    val jobs = new ConcurrentLinkedQueue[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(js.jobId)
          case Some(g) if g == s"$group-drain" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    val q10 = try {
      sc.setJobGroup(group, "build q10")
      val df = Detect.gaussianScoreBuild(spark, Sf01)
      df.queryExecution.executedPlan
      // the bus delivers events in order: once this job's start arrives,
      // every job the build launched has been seen
      sc.setJobGroup(s"$group-drain", "drain the listener bus")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      df
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.isEmpty, s"building q10 launched jobs $jobs (a driver-side fit)")
    // every RDD the plan scans is one of the cached bank/test stages —
    // no createDataFrame round-trip of driver-computed rows
    def rddScans(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
    val extra = rddScans(q10) -- rddScans(bank) -- rddScans(test)
    assert(extra.isEmpty, s"q10 scans driver-made RDDs $extra:\n${plan(q10).take(1500)}")
  }

  test("q10's bank aggregate runs inside whole-stage codegen") {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.timeseries.{Detect, TsCore}
    // every aggregate node of the executed plan, with whether a
    // WholeStageCodegen stage fuses it (an InputAdapter ends the stage)
    def aggs(p: SparkPlan, fused: Boolean): Seq[(BaseAggregateExec, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => aggs(a.executedPlan, fused = false)
      case q: QueryStageExec => aggs(q.plan, fused = false)
      case w: WholeStageCodegenExec => aggs(w.child, fused = true)
      case i: InputAdapter => aggs(i.child, fused = false)
      case a: BaseAggregateExec => (a, fused) +: a.children.flatMap(aggs(_, fused))
      case other => other.children.flatMap(aggs(_, fused))
    }
    def fusion(df: org.apache.spark.sql.DataFrame): Seq[(BaseAggregateExec, Boolean)] = {
      df.collect() // the final adaptive plan exists once the query has run
      val found = aggs(df.queryExecution.executedPlan, fused = false)
      assert(found.nonEmpty, plan(df).take(1500))
      found
    }
    val bank = TsCore.bankAndTest(spark, Sf01)._1
    val found = fusion(Detect.gaussMoments(bank))
    assert(found.forall(_._2), s"an aggregate of q10's fit left whole-stage codegen:\n" +
      found.filterNot(_._2).map(_._1.simpleString(400)).mkString("\n"))
    // the gate discriminates: the 9 avg + 45 covar_samp form (198 buffer
    // slots) does not fuse
    val upper = for { i <- 0 to 8; j <- i to 8 } yield covar_samp(col(s"f$i"), col(s"f$j"))
    val wide = bank.groupBy("pos").agg(avg("f0"), (1 to 8).map(i => avg(s"f$i")) ++ upper: _*)
    assert(!fusion(wide).forall(_._2), plan(wide).take(1500))
  }

  test("knnRef spreads an under-split probe side on (pos, id) before the kernel") {
    import graft.timeseries.{Detect, TsCore}
    val bank = TsCore.bankAndTest(spark, Sf01)._1.coalesce(1)
    val p = plan(Detect.knnRef(spark, bank, k = 1, eps = 0.0))
    assert(p.contains("graft_knn"), p.take(1500))
    assert("""hashpartitioning\(pos#\d+L?, id#\d+, \d+\)""".r.findFirstIn(p).isDefined,
      s"the one-partition bank reaches the kNN kernel unspread:\n${p.take(2000)}")
  }

  test("bank scorers scan the packed bank once per patch — no graft_min_dist2 pass") {
    import graft.timeseries.{Detect, ModelStore}
    val dir = java.nio.file.Files.createTempDirectory("planspec-model").toString
    ModelStore.save(spark, Sf01, dir)
    val patches = graft.timeseries.TsCore.bankAndTest(spark, Sf01)._2
    val streamDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "stream")).toString
    val stream = spark.readStream.schema(patches.schema.add("ts", "timestamp"))
      .parquet(streamDir)
    for ((name, df) <- Seq(
        // q23's scan sits behind its cached window-score stage
        "q23" -> Detect.windowScores(spark, Sf01, denoiseThr = 0.15),
        "loadAndScore" -> ModelStore.loadAndScore(spark, dir, patches),
        "bankScoreStream" -> graft.streaming.ScoreStream.bankScoreStream(spark, dir, stream))) {
      val p = if (df.isStreaming) df.queryExecution.analyzed.toString else plan(df)
      assert(p.contains("graft_argmin_dist2"), s"$name lost the scan kernel:\n${p.take(1500)}")
      assert(!p.contains("graft_min_dist2"), s"$name scans the bank twice:\n${p.take(1500)}")
    }
  }

  test("q18/q02 fills use growing frames — no UnboundedFollowing re-aggregation") {
    import graft.timeseries.{Impute, TsCore}
    for ((name, df) <- Seq(
        "q18" -> Impute.imputeLinear(spark, Sf01),
        "q02" -> TsCore.fillWeekWalk(TsCore.spine(spark, Sf01)))) {
      val p = plan(df)
      assert(p.contains("Window"), s"$name lost its window:\n${p.take(1200)}")
      assert(!p.toLowerCase.contains("unboundedfollowing"),
        s"$name re-aggregates the tail per row:\n${p.take(1200)}")
    }
  }

  test("qt13/qt14 probe sides meet broadcast tables — the doc stream never sort-merges") {
    val p13 = plan(graft.text.TextOps.boilerplate(spark, Sf01))
    assert(p13.contains("BroadcastHashJoin"), s"boiler set must broadcast:\n${p13.take(800)}")
    val p14 = plan(graft.text.TextOps.unigramNll(spark, Sf01))
    assert(p14.contains("BroadcastHashJoin"), s"LM must broadcast:\n${p14.take(800)}")
  }

  test("round-6 part-12+ operators keep their scale shapes") {
    // qe9: quintile boundaries are plan literals — no percentile agg,
    // no ntile/global-rank window anywhere in the scoring plan
    val p9 = plan(graft.analytics.Events.rfm(spark, Sf01))
    assert(!p9.contains("percentile") && !p9.contains("ntile"),
      s"qe9 must score via literal boundaries:\n${p9.take(1200)}")
    // qa16: base and delta meet in ONE co-partitioned full-outer join
    val p16 = plan(graft.analytics.Relational.mergeUpsert(spark, Sf01))
    assert(p16.contains("FullOuter"), s"qa16 lost the full-outer merge:\n${p16.take(1200)}")
    assert(!p16.contains("BroadcastNestedLoopJoin") && !p16.contains("CartesianProduct"),
      s"qa16 must join on the key:\n${p16.take(1200)}")
    // qe10: the as-of pass is a single user_id window chain — no range
    // join, no nested-loop
    val p10 = plan(graft.analytics.Events.attribution(spark, Sf01))
    assert(!p10.contains("BroadcastNestedLoopJoin") && !p10.contains("CartesianProduct"),
      s"qe10 must stay a window pass:\n${p10.take(1200)}")
    // q49: trig tables are literals — no Generate (explode) fan-out; the
    // |series|-row means frame joins with no static broadcast hint
    // (AQE's runtime gate picks the strategy)
    val d49 = graft.timeseries.Forecast.periodogram(spark, Sf01)
    val p49 = plan(d49)
    assert(!p49.contains("Generate"), s"q49 must not explode:\n${p49.take(1200)}")
    assert(!d49.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "q49 must not hard-code a broadcast on the |series|-scale means")
    // qv8: the |labels|-row centroid table broadcasts back for scoring
    val pv8 = plan(graft.vector.Similarity.centroidOutlier(spark, Sf01))
    assert(pv8.contains("BroadcastHashJoin"), s"qv8 centroids must broadcast:\n${pv8.take(1200)}")
    assert(pv8.contains("partial_sum"), s"qv8 centroid agg must map-side combine:\n${pv8.take(1200)}")
  }

  test("round-6 part-23+ operators keep their scale shapes") {
    // q51/q52/qe11/qe12/qd15/qt18: no accidental cartesian anywhere,
    // and the rollup-heavy ops keep map-side partial aggregation
    for ((nm, df) <- Seq(
      "q51" -> graft.timeseries.Metrics.pointAdjust(spark, Sf01),
      "q52" -> graft.timeseries.Forecast.strength(spark, Sf01),
      "qe11" -> graft.analytics.Events.cohortLtv(spark, Sf01),
      "qe12" -> graft.analytics.Events.survival(spark, Sf01),
      "qd15" -> graft.text.Dedup.novelty(spark, Sf01),
      "qt18" -> graft.text.TextOps.sourceScorecard(spark, Sf01))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$nm grew a cartesian:\n${p.take(1000)}")
    }
    // q52 is a pure window+agg chain over the filled stage — no explode
    val p52 = plan(graft.timeseries.Forecast.strength(spark, Sf01))
    assert(!p52.contains("Generate"), s"q52 must not explode:\n${p52.take(1000)}")
    // qp10 folds every counter map-side before its single-row exchange
    val p10 = plan(graft.analytics.Events.qualityAudit(spark, Sf01))
    assert(p10.contains("partial_sum"), s"qp10 must partial-agg:\n${p10.take(1000)}")
  }

  test("per-series joins carry no broadcast hint and shuffle when the size gate forbids one") {
    val big = Tables.lineitem(spark, Sf01).select(col("l_orderkey"), col("l_quantity"))
    val dim = Tables.orders(spark, Sf01)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    // data-scaled → NO static hint: the planner + AQE size-gate decide
    val scaled = big.join(dim, "l_orderkey")
    assert(!scaled.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "data-scaled dims must not carry a broadcast hint")
    // q04/q42 join their |series|-scale bounds the same way
    for ((nm, df) <- Seq(
      "q04" -> graft.timeseries.TsQueries.q04QuantileScale(spark, Sf01),
      "q42" -> graft.timeseries.Forecast.rescaledMetrics(spark, Sf01))) {
      assert(!df.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
        s"$nm still hard-codes a broadcast on a |series|-scale frame")
    }
    // the 100 TB side of the policy: when the size gate says the dim is
    // too big to ship (threshold disabled simulates a million-meter
    // frame), the join becomes a SHUFFLE join — no OOM-bound broadcast
    // anywhere
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeThrKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(thrKey)
    val savedAqe = spark.conf.getOption(aqeThrKey)
    try {
      spark.conf.set(thrKey, "-1")
      spark.conf.set(aqeThrKey, "-1")
      val big2 = big.join(dim, "l_orderkey")
      big2.collect()
      val p = plan(big2)
      assert(!p.contains("BroadcastHashJoin"),
        s"an unhinted join must not broadcast when the size gate forbids it:\n${p.take(900)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"an unhinted join must fall back to a shuffle join:\n${p.take(900)}")
    } finally {
      saved.fold(spark.conf.unset(thrKey))(v => spark.conf.set(thrKey, v))
      savedAqe.fold(spark.conf.unset(aqeThrKey))(v => spark.conf.set(aqeThrKey, v))
    }
  }

  test("grouped aggregation is whole-stage codegen'd with partial agg") {
    val df = Tables.lineitem(spark, Sf01)
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    // map-side combine: a partial_sum before the exchange
    assert(plan(df).contains("partial_sum"), plan(df))
    val cg = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen"), cg.take(2000))
  }

  test("round-10 part-2 ops keep their scale shapes (q62/q63/qv17)") {
    spark.catalog.clearCache()
    // q62: the lag+cuts frame is session-cached — the conditional fit
    // and error passes read the materialization, so the query plan
    // derives NO per-series lag window of its own (its two windows are
    // the PSI chain's mn/mx and bin-total passes over filled)
    val p62 = plan(graft.timeseries.Forecast.refitTrigger(spark, Sf01))
    assert(!p62.contains("lag(y"),
      s"q62 must read the cached lag frame, not rebuild it:\n${p62.take(900)}")
    // q63: one test-split aggregation over the cached residual spine —
    // the plan carries exactly one rank window (the order-statistic
    // q-hat) and no lag pass
    val p63 = plan(graft.timeseries.Forecast.intervalScore(spark, Sf01))
    assert(!p63.contains("lag("),
      s"q63 must read the cached residual spine:\n${p63.take(900)}")
    assert("row_number".r.findAllIn(p63).size == 1,
      s"q63's only window is the q-hat order statistic:\n${p63.take(900)}")
    // qv17: ONE probe-rank window feeds every swept level (the fan is
    // an explode over the scored stream, not a per-level re-rank of
    // candidates — the only other rank windows are the per-level top-k
    // and the exact baseline)
    val p17 = plan(graft.vector.Similarity.probeSweep(spark, Sf01))
    assert("AS crank#".r.findAllIn(p17).size == 1,
      s"qv17 must rank probes once:\n${p17.take(900)}")
  }

  test("round-10 forecast ops keep their scale shapes (q59/q60)") {
    spark.catalog.clearCache()
    // q59: the trend+detr base serves from the session-cached stage and
    // the eval frame is checkpointed — the query plan itself derives NO
    // window pass (a Window operator here would mean the prefix-sum
    // trend chain is being rebuilt per consumer)
    val p59 = plan(graft.timeseries.Forecast.decomposeForecast(spark, Sf01))
    assert(!p59.contains("Window"),
      s"q59 must read the cached decomposition base, not rebuild it:\n${p59.take(900)}")
    // q60: every lag column for every horizon comes out of ONE
    // per-series window pass (the unrolled decode loop is projection
    // arithmetic, not extra sorts) — the l1 lag is defined exactly once
    val p60 = plan(graft.timeseries.Forecast.recursiveForecast(spark, Sf01))
    assert("AS l1#".r.findAllIn(p60).size == 1,
      s"q60 must materialize its lag frame in one window pass:\n${p60.take(900)}")
  }

  test("qt24 chunking is a shuffle-free per-row projection") {
    val p = plan(graft.text.TextOps.chunkDocs(spark, Sf01))
    assert(!p.contains("Exchange"),
      s"qt24 must not shuffle — split/slice/join stay inside the row:\n${p.take(900)}")
    assert(p.startsWith("*("), // the whole plan sits in codegen stages
      p.take(400))
  }

  test("qv18 hybrid: posting join broadcasts the query terms, no cartesian blowup") {
    val p = plan(graft.vector.Similarity.hybridSearch(spark, Sf01))
    // the lexical branch must probe posting lists with a BROADCAST of
    // the tiny query-term table — a shuffle join here means the whole
    // tf table is exchanged per query batch
    assert(p.contains("BroadcastHashJoin"),
      s"query terms must broadcast into the posting join:\n${p.take(900)}")
    // the only cartesians are the broadcast scalar/stat frames and
    // qv1's bounded query fan — never two row-scale inputs
    assert(!p.contains("CartesianProduct"),
      s"unexpected cartesian in:\n${p.take(900)}")
    // the stop-term valve is IN the executed plan (not just documented):
    // eligible query terms carry df <= max(floor, n_docs/share), so each
    // term's posting list is bounded at max(20, N/100) rows
    assert(p.contains("greatest"),
      s"qv18's df-cap stop-term filter is missing from the plan:\n${p.take(1500)}")
  }

  test("qv18 stop-term valve: eligible terms win, fallback only when starved") {
    import spark.implicits._
    import graft.vector.Similarity
    // n_docs=10000 -> cap = max(20, 100) = 100. Query doc 1 has three
    // under-cap terms and a stop term with the HIGHEST tf/dlen — the
    // valve must demote it below all eligible terms. Query doc 2 has
    // only two eligible terms, so the best over-cap term backfills.
    def row(doc: Long, tok: String, tf: Long, df: Long) =
      (doc, tok, tf, 100L, df, 10000L, 50.0)
    val post = Seq(
      row(1, "rare1", 5, 50), row(1, "rare2", 4, 80), row(1, "rare3", 3, 99),
      row(1, "stop1", 60, 5000),
      row(2, "rareA", 5, 60), row(2, "rareB", 4, 70),
      row(2, "stopA", 50, 4000), row(2, "stopB", 60, 6000)
    ).toDF("doc_id", "tok", "tf", "dlen", "df", "n_docs", "avgdlen")
    val got = Similarity.hybridQueryTermsFrom(post, nTerms = 3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "rare1"), (1L, "rare2"), (1L, "rare3"),
      (2L, "rareA"), (2L, "rareB"), (2L, "stopA")),
      s"got $got")
    // the real sf0.1 corpus is the degenerate all-stop-words case by
    // construction (31 near-universal tokens): the fallback keeps the
    // lexical branch ALIVE — queries still get nTerms terms each
    val qt = Similarity.hybridQueryTerms(spark, Sf01)
    assert(qt.groupBy("qid").count().filter(col("count") =!= 3).count() === 0)
    assert(qt.count() > 0)
  }

  test("qv24 fallback ceiling: over-half-corpus terms refused even when starved") {
    import spark.implicits._
    import graft.vector.Similarity
    // n_docs=10000 -> eligible cap 100, share-2 ceiling max(100, 5000).
    // Doc 2 is starved of eligible terms: stopA (df 4000) may backfill,
    // stopB (df 6000) is over the ceiling and must be REFUSED. Doc 3
    // has ONLY ultra-hot terms — under the guard its lexical branch
    // goes (loudly, by contract) empty; permissive share=1 admits both.
    def row(doc: Long, tok: String, tf: Long, df: Long) =
      (doc, tok, tf, 100L, df, 10000L, 50.0)
    val post = Seq(
      row(2, "rareA", 5, 60), row(2, "rareB", 4, 70),
      row(2, "stopA", 50, 4000), row(2, "stopB", 60, 6000),
      row(3, "hot1", 10, 6000), row(3, "hot2", 20, 7000)
    ).toDF("doc_id", "tok", "tf", "dlen", "df", "n_docs", "avgdlen")
    val guarded = Similarity.hybridQueryTermsFrom(post, nTerms = 3,
        fallbackMaxDfShare = Similarity.Bm25FallbackMaxDfShare).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(guarded === Set((2L, "rareA"), (2L, "rareB"), (2L, "stopA")),
      s"got $guarded")
    val permissive = Similarity.hybridQueryTermsFrom(post, nTerms = 3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(permissive === guarded ++ Set((3L, "hot1"), (3L, "hot2")),
      s"got $permissive")
    // a refused lexical branch degrades, not breaks: the fused result
    // still answers from the dense branch (registered qv24's contract)
    val d = Similarity.hybridSearch(spark, Sf001,
      fallbackMaxDfShare = Similarity.Bm25FallbackMaxDfShare)
    assert(d.count() > 0)
    assert(d.filter(col("vec_rank") > 0).count() > 0)
  }

  test("qd20 span removal: map-side-combined packed-key agg, no cartesian") {
    // the registered qd20 is session-cached (a flat LogicalRDD once
    // checkpointed) — gate the BUILDER's plan, which is what executes
    // on the first materialization
    val p = plan(graft.text.Dedup.dedupSpansFrom(
      spark.read.parquet(s"$Sf01/documents.parquet").select("doc_id", "text"),
      n = 3, minSpan = 4))
    // the occurrence count AND the first-occurrence keeper ride ONE
    // h-keyed exchange: the partial agg must carry partial_min of the
    // packed (doc*2^31+p) key so hot shingles collapse map-side
    assert(p.contains("partial_min") && (p.contains("partial_count") || p.contains("Partial")),
      s"qd20's keeper key lost its map-side combine:\n${p.take(900)}")
    assert(p.contains("2147483648"),
      s"packed first-occurrence key missing from the plan:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  test("qd22 star edges: map-side-combined hub agg, equi-join only") {
    // the registered qd22 is session-cached — gate the BUILDER's plan
    val bands = spark.read.parquet(s"$Sf01/documents.parquet")
      .select(col("doc_id"), (col("doc_id") % 7).as("band"), (col("n_chars") % 13).as("sig"))
    val p = plan(graft.text.Dedup.lshStarEdgesFrom(bands))
    // ONE (band, sig) exchange computes hub + bucket size with map-side
    // partials; the edge agg is likewise partial+final
    assert(p.contains("partial_min") && p.contains("partial_count"),
      s"hub aggregate lost its map-side combine:\n${p.take(900)}")
    // hubs meet the band table on an equi-key (broadcast at test scale,
    // co-partitioned with exchange reuse at 100 TB) — never a
    // cartesian/theta join, and no band-table self-join anywhere
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      p.take(900))
  }

  test("qd6 default edge source: star hub reduction both union arms, no band self-join") {
    // the default cluster chain's edge builder (clusterEdges ∘
    // lshStarEdgesFrom, gated uncached — the registered qd6 checkpoints
    // its stages to LogicalRDDs): every path from the band table to an
    // edge must pass through the map-side-combined hub aggregate; the
    // clique's bands⋈bands self-join has no aggregate between scan and
    // join. DedupStarSpec adds the behavioral half: building qd6 and
    // qc1's funnel on a fresh corpus never instantiates the clique
    // pair stage at all.
    val bands = spark.read.parquet(s"$Sf01/documents.parquet")
      .select(col("doc_id"), (col("doc_id") % 7).as("band"), (col("n_chars") % 13).as("sig"))
    val e = graft.text.Dedup.lshStarEdgesFrom(bands).select("doc_a", "doc_b")
    val p = plan(e.unionByName(
      e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    assert(p.contains("partial_min") && p.contains("partial_count"),
      s"hub aggregate lost its map-side combine:\n${p.take(900)}")
    assert(p.contains("Union"), p.take(900))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      p.take(900))
  }

  test("qc5 chunk->index: one md5 exchange, no cartesian, shuffle-free chunk stage") {
    val p = plan(graft.text.TextOps.chunkIndex(spark, Sf01))
    // dedup is the chunk_md5 window's exchange; the chunk projection
    // below it must not add its own (qt24's shuffle-free contract)
    assert(p.contains("hashpartitioning(chunk_md5"),
      s"qc5 lost its md5-keyed dedup exchange:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"), p.take(900))
    // the cell rollup partial-aggregates map-side
    assert(p.contains("partial_count") || p.contains("Partial"), p.take(900))
  }

  test("qd19 global dup spans: one occurrence-count shuffle with partial agg, no sort-merge") {
    val p = plan(graft.text.Dedup.globalDupSpans(spark, Sf01))
    // the occ >= 2 count must partial-aggregate map-side — a hot
    // shingle repeated 10^6 times reaches the reduce side as one row
    // per map partition, which is what makes this viable at 100 TB
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"occurrence count lost its map-side combine:\n${p.take(900)}")
    // the join back is co-partitioned on h (both sides hash by it):
    // shuffle-hash or broadcast, never a third full sort pass of the
    // row-scale shingle stream just to merge-join
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  test("qv19 rank metrics: eval-sized gold broadcasts into the system ranking") {
    val p = plan(graft.vector.Similarity.rankMetrics(spark, Sf01))
    assert(p.contains("BroadcastHashJoin"),
      s"|queries|*k gold rows must broadcast, not shuffle the ranking:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  test("qt25 BPE: the corpus-scale word count partial-aggregates; rounds are vocab-scale") {
    // checkpoint=false keeps the full 2-round lineage in ONE plan (the
    // production checkpoints hide it behind an ExistingRDD scan): the
    // round-2 winner subtree then contains round 1's rewrite join
    val df = graft.text.TextOps.bpeMergesFrom(
      graft.text.TextOps.bpeWordFreq(spark, Sf01), rounds = 2, checkpoint = false)
    val p = plan(df)
    // the ONLY corpus-scale op is the word-frequency hash agg — it must
    // map-side combine (one row per hot word per map partition)
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"word count lost its map-side combine:\n${p.take(900)}")
    // the winner row enters the merge rewrite as a broadcast, and the
    // word table never cartesians against anything row-scale
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"winner must broadcast into the rewrite:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  /** r16: the per-source cap (qc1's funnel stage + qt21) rides a
    * group-limited rank — a partial WindowGroupLimit BELOW the exchange
    * truncates every map task to cap rows per source, so a mega-domain
    * never concentrates its full row set into one sorted partition (the
    * r15 weak #2 scale-killer). No per-source window may run any other
    * function (the old shape was a running SUM over each source's
    * entire row set).
    */
  private def assertGroupLimitedSourceCap(p: String, who: String): Unit = {
    assert(p.contains("WindowGroupLimit"),
      s"$who: cap threshold must be a group-limited rank:\n${p.take(1200)}")
    assert(p.contains(", Partial"),
      s"$who: the map-side partial group limit is the scale property:\n${p.take(1200)}")
    val srcWindows = p.split("\n").filter(_.contains("windowspecdefinition(source"))
    assert(srcWindows.nonEmpty && srcWindows.forall(_.contains("row_number()")),
      s"$who: every per-source window must be the group-limited row_number, got:\n" +
        srcWindows.mkString("\n"))
  }

  test("qt21/qc1 per-source cap: partial group-limit below the exchange, no running rank") {
    assertGroupLimitedSourceCap(
      plan(graft.text.TextOps.domainCap(spark, Sf01)), "qt21")
    // the funnel's cached/checkpointed registration hides its build
    // plan behind an ExistingRDD scan, so assert on the builder itself
    assertGroupLimitedSourceCap(
      plan(graft.text.TextOps.corpusFlagsBuild(spark, Sf01, 20, 50L)), "qc1")
    // and the threshold side enters the flags/audit join as a broadcast
    assert(plan(graft.text.TextOps.domainCap(spark, Sf01)).contains("BroadcastHashJoin"),
      "the |sources|-row threshold must broadcast")
    // qa3's top-N per segment is the same low-cardinality-key shape
    // (5 segments, customers data-scaled): the adjacent rnk<=N filter
    // must keep compiling to the partial group limit — a refactor that
    // separates filter from window would silently restore the
    // single-reducer-per-segment sort
    val pa3 = plan(Relational.topCustomersPerSegment(spark, Sf01))
    assert(pa3.contains("WindowGroupLimit") && pa3.contains(", Partial"),
      s"qa3 lost its partial group limit:\n${pa3.take(1200)}")
  }

  /** r17: qt11/qm4's running sums are the two-pass distributed prefix
    * sum (PrefixSum.runningSum) — the r16 weak marks. The single-window
    * form partitioned a data-scaled child by the BARE low-cardinality
    * key (source×lang / media_type), folding a mega-group in one sorted
    * task; now every window over those keys must also carry the range
    * bucket (the rollup's exclusive prefix orders by it, the local
    * cumsum partitions by it), and the |groups|·|buckets|-row prefix
    * table must broadcast back, never shuffle the corpus.
    */
  private def assertBucketedRunningSum(p: String, partHead: String, who: String): Unit = {
    val wins = p.split("\n").filter(_.contains(s"windowspecdefinition($partHead"))
    assert(wins.nonEmpty,
      s"$who: expected prefix-sum windows keyed by $partHead:\n${p.take(1200)}")
    wins.foreach(l => assert(l.contains("__bkt"),
      s"$who: a running window partitions by the bare low-cardinality key " +
        s"(the single-task-per-group r16 shape):\n$l"))
    assert(p.contains("BroadcastHashJoin"),
      s"$who: the bucket-prefix rollup must broadcast back:\n${p.take(1200)}")
  }

  /** r17: qv26's sub-seed pick must stay the group-limited rank (a
    * 10⁸-member hot cell ships O(nSplit × tasks) rows, never its
    * sorted self) and the reassignment must ride the codegen argmin
    * kernel over broadcast packed seeds — qt21/qa3's discipline
    * applied to the split operator.
    */
  test("qv26 split: partial group-limited sub-seed pick + broadcast argmin reassignment") {
    val p = plan(graft.vector.Similarity.hotCellSplit(spark, Sf01))
    assert(p.contains("WindowGroupLimit") && p.contains(", Partial"),
      s"qv26 sub-seed pick lost its partial group limit:\n${p.take(1200)}")
    assert(p.contains("graft_argmin_dist2"),
      s"qv26 reassignment must use the codegen kernel:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"),
      s"hot set / packed sub-seeds must broadcast:\n${p.take(1200)}")
  }

  test("qt11/qm4 shard packing: two-pass prefix sum, no data-scaled sequential window") {
    assertBucketedRunningSum(
      plan(graft.text.TextOps.packShards(spark, Sf01)), "source", "qt11")
    assertBucketedRunningSum(
      plan(graft.multimodal.BinaryMeta.shardManifest(spark, Sf01)), "media_type", "qm4")
  }

  test("qz24 salted agg: phase 1 exchanges on (key, salt) — the hot key fans out") {
    // the two-phase kernel's whole point: the FIRST exchange hashes on
    // (l_orderkey, salt), spreading a mega-order over `salts` reducers
    // with map-side partials; the second combines |keys|·salts partial
    // rows on the key alone. Lose the salt from the first exchange and
    // the hot key serializes again.
    val p = plan(Relational.saltedLineAgg(spark, SparkEntry.ZipfDir))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(1500))
    val saltedEx = "hashpartitioning\\(l_orderkey#\\d+L?, salt#\\d+".r
    val keyEx = "hashpartitioning\\(l_orderkey#\\d+L?, \\d+\\)".r
    assert(saltedEx.findFirstIn(p).isDefined,
      s"phase-1 exchange must carry the salt:\n${p.take(2000)}")
    assert(keyEx.findFirstIn(p).isDefined,
      s"phase-2 exchange must combine on the bare key:\n${p.take(2000)}")
  }
}
