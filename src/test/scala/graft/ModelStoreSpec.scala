package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.timeseries.{Detect, ModelStore, TsCore}
import graft.sources.Ingest

class ModelStoreSpec extends SparkSuite {

  test("model save/load round-trip reproduces the pipeline's scores") {
    val path = Files.createTempDirectory("graft-model").toString
    ModelStore.save(spark, Sf01, path)
    val (_, test) = TsCore.bankAndTest(spark, Sf01)
    val reloaded = ModelStore.loadAndScore(spark, path, test)
    val direct = Detect.pipeline(spark, Sf01)
    val joined = reloaded.as("a").join(direct.as("b"),
      col("a.series") === col("b.series") && col("a.win") === col("b.win"))
    assert(reloaded.count() === direct.count())
    assert(joined.filter(abs(col("a.score") - col("b.score")) > 1e-9).count() === 0,
      "reloaded-bank scores must equal in-session pipeline scores")
    assert(joined.filter(col("a.pred") =!= col("b.pred")).count() === 0)
    // scoring must run the packed-bank codegen kernel, not a
    // |patches|×|bank|-row join + per-(series,win,pos) rank
    val p = reloaded.queryExecution.executedPlan.toString
    assert(p.contains("graft_argmin_dist2"), s"kernel missing:\n${p.take(1200)}")
    assert(!p.contains("row_number"), "pairwise-join rank shape crept back")
  }

  test("the persisted threshold equals the one q23 applies, bit-for-bit") {
    val path = Files.createTempDirectory("graft-model-thr").toString
    ModelStore.save(spark, Sf01, path)
    val saved = ModelStore.threshold(spark, path).head().getDouble(0)
    // q23 flags the RAW window scores above their (1 − contam) quantile,
    // interpolated the way util.Quantiles (and DuckDB) interpolates
    val raw = Detect.windowScores(spark, Sf01, denoiseThr = 0.15)
      .select("score").collect().map(_.getDouble(0)).sorted
    val r = (raw.length - 1) * (1.0 - 0.1)
    val (lo, hi) = (math.floor(r).toInt, math.ceil(r).toInt)
    val applied = if (lo == hi) raw(lo) else (1.0 - (r - lo)) * raw(lo) + (r - lo) * raw(hi)
    assert(java.lang.Double.doubleToLongBits(saved) === java.lang.Double.doubleToLongBits(applied),
      s"saved threshold $saved, q23 applies $applied")
    assert(Detect.pipeline(spark, Sf01).filter(col("pred") === 1).count() ===
      raw.count(_ > applied))
  }

  test("forecast model save/load reproduces in-session predictions bit-for-bit") {
    import graft.timeseries.Forecast
    val path = Files.createTempDirectory("graft-fc").toString
    ModelStore.saveForecast(spark, Sf01, path)
    val base = Forecast.featureBase(spark, Sf01).filter(col("t") >= col("tsplit"))
    val reloaded = ModelStore.loadAndForecast(spark, path, base)
      .select(col("series"), col("t"), col("p").as("pr"))
    val live = base.join(Forecast.featureCoefs(spark, Sf01), "series")
      .withColumn("p", Forecast.featurePred)
      .select(col("series"), col("t"), col("p").as("pl"))
    val j = reloaded.join(live, Seq("series", "t")).cache()
    assert(j.count() > 0 && j.count() === live.count())
    // raw-double coefficients round-trip through parquet exactly →
    // identical IEEE apply chain → exact equality, no tolerance
    assert(j.filter(col("pr") =!= col("pl")).count() === 0)
    j.unpersist()
  }

  test("GBT model save/load reproduces in-session predictions bit-for-bit") {
    import graft.timeseries.{Forecast, MllibForecast}
    val path = Files.createTempDirectory("graft-gbt").toString
    ModelStore.saveGbt(spark, Sf01, path)
    val base = Forecast.featureBase(spark, Sf01).filter(col("t") >= col("tsplit"))
    val reloaded = ModelStore.loadAndGbtForecast(spark, path, base)
      .select(col("series"), col("t"), col("p").as("pr"))
    val live = MllibForecast.gbtApply(
        MllibForecast.gbtModel(spark, Sf01, 20, 2, 42L).get,
        MllibForecast.gbtStats(spark, Sf01), base)
      .select(col("series"), col("t"), col("p").as("pl"))
    val j = reloaded.join(live, Seq("series", "t")).cache()
    assert(j.count() > 0 && j.count() === live.count())
    // MLlib's writer serializes split thresholds and leaf doubles
    // exactly; stats come from the shared session-cached realization →
    // identical IEEE apply chain → exact equality, no tolerance
    assert(j.filter(col("pr") =!= col("pl")).count() === 0)
    j.unpersist()
  }

  test("imputer model save/load reproduces in-session span imputations bit-for-bit") {
    import graft.timeseries.Impute
    val path = Files.createTempDirectory("graft-imp").toString
    ModelStore.saveImputer(spark, Sf01, path)
    val pts = Impute.imputePoints(spark, Sf01)
    val reloaded = ModelStore.loadAndImpute(spark, path, pts)
      .select(col("series"), col("win"), col("pos"), col("v_imp"))
    val live = pts.join(Impute.imputerCoefs(spark, Sf01), Seq("series", "o"))
      .withColumn("p", Impute.imputePred)
      .select(col("series"), col("win"), col("pos"), col("p"))
    val j = reloaded.join(live, Seq("series", "win", "pos")).cache()
    assert(j.count() > 0 && j.count() === live.count())
    assert(j.filter(col("v_imp") =!= col("p")).count() === 0)
    j.unpersist()
  }

  test("conformal calibration save/load matches q58's reported intervals exactly") {
    import graft.timeseries.Forecast
    val path = Files.createTempDirectory("graft-cb").toString
    ModelStore.saveConformal(spark, Sf01, path)
    val saved = ModelStore.conformalBounds(spark, path)
      .select(col("series"), col("n_cal").as("nc_s"), (col("qhatq") / 10000d).as("qh_s"))
    val live = Forecast.conformalIntervals(spark, Sf01)
      .select(col("series"), col("n_cal"), col("qhat"))
    val j = saved.join(live, "series").cache()
    assert(j.count() > 0 && j.count() === live.count())
    // the artifact is the exact int-grid order statistic — no tolerance
    assert(j.filter(col("nc_s") =!= col("n_cal") || col("qh_s") =!= col("qhat")).count() === 0)
    j.unpersist()
  }

  test("SQ8 index save/load reconstructs the in-session quantizer bit-for-bit") {
    import graft.vector.Similarity
    val path = Files.createTempDirectory("graft-sq8").toString
    ModelStore.saveSq8Index(spark, Sf001, path)
    val reloaded = ModelStore.sq8Recon(spark, path)
      .select(col("vec_id"), col("rv").as("rv_saved"))
    val live = Similarity.sq8Recon(spark, Sf001)
    val j = reloaded.join(live, "vec_id").cache()
    assert(j.count() > 0 && j.count() === live.count())
    // same uint8 codes + same grid arithmetic → exact array equality
    assert(j.filter(col("rv_saved") =!= col("rv")).count() === 0)
    j.unpersist()
  }

  test("IVF index save/serve reproduces the in-session qv3 exactly") {
    import graft.vector.Similarity
    val path = Files.createTempDirectory("graft-ivf").toString
    ModelStore.saveIvfIndex(spark, Sf001, path)
    val want = Similarity.ivfAnn(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(want.nonEmpty)
    graft.functions.VectorExprs.register(spark)
    val q = spark.read.parquet(s"$Sf001/embeddings.parquet")
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 100000L)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("av"))
      .withColumn("na", sqrt(expr("graft_dot(av, av)")))
    val got = ModelStore.ivfServe(spark, path, q).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    // saved centroids + cell-partitioned lists + the same probe/rank
    // arithmetic → exact equality with the in-session index
    assert(got === want)
  }

  test("split IVF index save/serve reproduces the in-session post-split probe exactly") {
    import graft.vector.Similarity
    val path = Files.createTempDirectory("graft-ivfsplit").toString
    val zd = SparkEntry.ZipfDir
    // qv26's lifecycle round-trip: audit → splitToClean → persist →
    // serve. The saved index is genuinely split (more cells than
    // configured) yet ivfServe reads it with zero structural knowledge
    // of the split — same layout, same probe/rank arithmetic.
    ModelStore.saveSplitIvfIndex(spark, zd, path)
    assert(spark.read.parquet(s"$path/ivfcentroids").count() > 16L,
      "the persisted zipf index must carry the split cells")
    val assign = Similarity.splitToClean(spark, zd)
    val want = Similarity.ivfAnnFrom(spark, zd, assign, 2, 5).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(want.nonEmpty)
    graft.functions.VectorExprs.register(spark)
    val q = spark.read.parquet(s"$zd/embeddings.parquet")
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 100000L)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("av"))
      .withColumn("na", sqrt(expr("graft_dot(av, av)")))
    val got = ModelStore.ivfServe(spark, path, q).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === want)
  }

  test("orc round-trip preserves the grid") {
    val path = Files.createTempDirectory("graft-orc").toString
    val grid = TsCore.hourlyGrid(spark, Sf001)
    Ingest.writeOrc(grid, path)
    val back = Ingest.readOrc(spark, path)
    assert(back.count() === grid.count())
    assert(back.agg(sum("n")).head.getLong(0) === grid.agg(sum("n")).head.getLong(0))
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val o = spark.read.parquet(s"$Sf001/orders.parquet")
    val c = spark.read.parquet(s"$Sf001/customer.parquet")
    o.write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/ob").saveAsTable("orders_b")
    c.selectExpr("cast(c_custkey as bigint) c_custkey", "c_mktsegment")
      .write.mode("overwrite").bucketBy(4, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/cb").saveAsTable("customer_b")
    val j = spark.table("orders_b").join(spark.table("customer_b"),
      col("o_custkey") === col("c_custkey"))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${plan.take(800)}")
    assert(j.count() > 0)
  }
}
