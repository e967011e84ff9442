package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.timeseries.{Detect, Forecast, Impute, ModelStore, Postprocess, TsCore}

/** Benchmark harness for the reference pipeline. It calls the library's
  * public stage functions in order and times each call from outside.
  *
  * Usage (key=value arguments):
  *   corpus=<dir>  work=<dir>  seconds=<s>  minReps=<n>  callsPerRep=<n>
  *   nBatches=<n>  trace=0|1  cpus=<n>
  *
  * Every rep runs in a fresh session, because the library caches shared
  * stages per session. A rep is:
  *   - pipeline: the nine stage calls, each forced;
  *   - set-up for serving: ModelStore.save fits and persists the detection
  *     model (on the stages the pipeline just cached);
  *   - serve: `callsPerRep` closed-loop ModelStore.loadAndScore calls, one
  *     4-series batch patch table each.
  * The first rep is an untimed warm-up. It fits first, cuts the corpus's
  * test patches into `nBatches` batch tables, and writes each call's
  * output (the batch scores, then the nine stage outputs) under
  * `work/check` for the DuckDB comparison. Timed reps follow; another
  * starts while the last one's duration still fits in `seconds` (at least
  * `minReps`), and every timed call's output hash must equal the warm-up's.
  * With trace=1, even timed reps carry a SparkListener and a log4j appender
  * (odd reps measure the tracing overhead).
  *
  * The oracle SQL is written to `work/oracle_sql.json` before the first
  * session starts and `work/serve.ready` marks the batch scores, so the
  * DuckDB checks run during the warm-up; timed reps wait for
  * `work/oracle.done`, so nothing else competes with them. Results go to
  * `work/result.json`.
  */
object Harness {

  /** The pipeline layers in call order, with the registered query whose
    * DuckDB oracle checks the stage's output. */
  val Pipeline: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("tscore.grid", TsCore.hourlyGrid _, "q01_resample"),
    ("tscore.fill", TsCore.filled _, "q02_fill_forward"),
    ("tscore.inject", TsCore.injected _, "q05_anomaly_inject"),
    ("tscore.patches", TsCore.patches _, "q08_patchify"),
    ("detect.weight", (s, d) => Detect.nearestDistWeight(s, d), "q12_knn_dist_weight"),
    ("detect.score", (s, d) => Detect.pipeline(s, d), "q23_detect_pipeline"),
    ("postprocess.mask", (s, d) => Postprocess.anomalyMask(s, d), "q50_anomaly_mask"),
    ("impute.linear", Impute.imputeLinear _, "q18_impute_linear"),
    ("forecast.impact", Forecast.cleaningImpact _, "q38_cleaning_impact"))
  val Save = "modelstore.save"
  val Score = "modelstore.score"

  final class Failed(msg: String) extends RuntimeException(msg)

  /** One rep's set-up seconds (session start and ModelStore.save),
    * pipeline seconds, live heap, its calls in order, and (when traced) the
    * per-call counts. */
  final case class Rep(setupS: Double, pipelineS: Double, heapMb: Double, calls: Seq[Call],
                       traced: Boolean, stats: Seq[LayerStats]) {
    def wallS: Double = setupS + calls.filter(_.layer != Save).map(_.wallS).sum
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val corpus = a("corpus")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val minReps = a("minReps").toInt
    val callsPerRep = a("callsPerRep").toInt
    val nBatches = a("nBatches").toInt
    val trace = a("trace") == "1"
    val model = s"$work/model"
    val errors = new ErrorCounter

    var seq = 0
    var attempted = 0
    var failed = 0
    /** Build and force one DataFrame; throws after counting a failure.
      * With a `sink`, the output is written there and the hash is taken
      * over what was written. */
    def timed(spark: SparkSession, layer: String, sink: Option[String] = None)
             (build: => DataFrame): Call = {
      seq += 1
      attempted += 1
      val group = s"$layer#$seq"
      val sc = spark.sparkContext
      sc.setJobGroup(group, layer, interruptOnCancel = false)
      try {
        val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
        val df = build
        val wb = System.currentTimeMillis(); val tb = System.nanoTime()
        val out = sink.fold(df) { p =>
          df.write.mode("overwrite").parquet(p)
          spark.read.parquet(p)
        }
        val r = out.select(xxhash64(out.columns.map(col).toIndexedSeq: _*).as("h"))
          .agg(max("h")).head()
        val t1 = System.nanoTime(); val w1 = System.currentTimeMillis()
        def nJobs = sc.statusTracker.getJobIdsForGroup(group).length
        if (nJobs == 0) org.apache.spark.BenchBus.drain(sc) // job events arrive asynchronously
        if (nJobs == 0)
          throw new Failed(s"$layer launched no job: served from a stale session?")
        System.err.println(f"[perfbench] $layer%-18s ${(t1 - t0) / 1e9}%8.3f s  " +
          f"build ${(tb - t0) / 1e9}%7.3f s  jobs $nJobs")
        Call(layer, w0, wb, w1, (tb - t0) / 1e9, (t1 - t0) / 1e9,
          if (r.isNullAt(0)) 0L else r.getLong(0))
      } catch {
        case e: Failed => failed += 1; throw e
        case e: Throwable =>
          failed += 1
          throw new Failed(s"$layer failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      } finally sc.clearJobGroup()
    }

    var prev: SparkSession = null
    def freshSession(): SparkSession = {
      if (prev != null) prev.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val s = Session.create(a("cpus"), s"$work/spark")
      require(prev == null || (s ne prev) && prev.sparkContext.isStopped, "session reused")
      prev = s
      s
    }

    val batchDirs = ArrayBuffer.empty[String]
    /** Cut the test patches of the corpus's first 4·nBatches series into
      * 4-series batch tables. */
    def writeBatches(spark: SparkSession): Unit = {
      val test = TsCore.bankAndTest(spark, corpus)._2
      val series = test.select("series").distinct().orderBy("series").collect().map(_.getString(0))
      series.grouped(4).take(nBatches).zipWithIndex.foreach { case (grp, i) =>
        val dir = s"$work/batches/b$i"
        test.filter(col("series").isin(grp.toIndexedSeq: _*)).coalesce(1)
          .write.mode("overwrite").parquet(dir)
        batchDirs += dir
      }
    }

    def rep(warm: Boolean, traced: Boolean): Rep = {
      val t0 = System.nanoTime()
      val spark = freshSession()
      val jt = new JobTrace
      if (traced) { spark.sparkContext.addSparkListener(jt); errors.ensureInstalled() }
      val sessionS = (System.nanoTime() - t0) / 1e9
      val calls = ArrayBuffer.empty[Call]
      def save(): Unit = calls += timed(spark, Save) {
        ModelStore.save(spark, corpus, model)
        spark.read.parquet(s"$model/bank")
      }
      def check(key: String) = if (warm) Some(s"$work/check/$key") else None
      def pipeline(): Unit = Pipeline.foreach { case (name, fn, key) =>
        calls += timed(spark, name, check(key))(fn(spark, corpus))
      }
      def serve(n: Int): Unit = for (i <- 0 until n) {
        val batch = spark.read.parquet(batchDirs(i % batchDirs.size))
        calls += timed(spark, Score, check(s"serve/b$i"))(ModelStore.loadAndScore(spark, model, batch))
      }
      if (warm) {
        // fit first, so the serve outputs exist early and their DuckDB
        // check overlaps the rest of the warm-up
        save()
        writeBatches(spark)
        serve(batchDirs.size)
        Files.createFile(Paths.get(s"$work/serve.ready"))
      }
      val p0 = System.nanoTime()
      pipeline()
      val pipelineS = (System.nanoTime() - p0) / 1e9
      if (!warm) {
        save()
        serve(callsPerRep)
      }
      // live heap at the end of a timed rep: the session's cached stages,
      // model, and Spark's bookkeeping of the rep's queries
      val heapMb = if (warm) 0.0 else LiveHeap.mb(spark.sparkContext)
      if (traced) org.apache.spark.BenchBus.drain(spark.sparkContext)
      Rep(sessionS + calls.find(_.layer == Save).get.wallS, pipelineS, heapMb, calls.toSeq,
        traced, if (traced) jt.stats(calls.toSeq) else Nil)
    }

    /** Hashes of each layer's outputs in call order. */
    def hashes(r: Rep): Map[String, Seq[Long]] =
      r.calls.groupBy(_.layer).map { case (l, cs) => l -> cs.map(_.hash) }

    def awaitOracle(): Unit = {
      val done = Paths.get(s"$work/oracle.done")
      val deadline = System.nanoTime() + 150L * 1000000000L
      while (!Files.exists(done)) {
        if (System.nanoTime() > deadline) throw new Failed("oracle run did not finish")
        Thread.sleep(20)
      }
    }

    var out: String = null
    try {
      Files.writeString(Paths.get(s"$work/oracle_sql.json.tmp"),
        Json.obj(Pipeline.map { case (_, _, key) => key -> Json.str(SparkEntry.oracleSql(key)) }))
      Files.move(Paths.get(s"$work/oracle_sql.json.tmp"), Paths.get(s"$work/oracle_sql.json"))
      val w0 = System.nanoTime()
      val ref = hashes(rep(warm = true, traced = trace))
      val warmupS = (System.nanoTime() - w0) / 1e9
      awaitOracle()
      val reps = ArrayBuffer.empty[Rep]
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      while (reps.size < minReps || elapsed + reps.last.wallS <= seconds) {
        val r = rep(warm = false, traced = trace && reps.size % 2 == 0)
        hashes(r).foreach { case (l, hs) =>
          hs.zipWithIndex.foreach { case (h, i) =>
            val want = ref(l)(i % ref(l).size)
            if (h != want) throw new Failed(s"$l output changed between reps (hash $h != $want)")
          }
        }
        reps += r
      }
      out = result(reps.toSeq, warmupS, attempted, failed, errors)
    } catch {
      case e: Failed =>
        System.err.println(s"[perfbench] ${e.getMessage}")
        out = Json.obj(Seq("error" -> Json.str(e.getMessage),
          "attempted" -> attempted.toString, "failed" -> failed.toString))
    } finally if (prev != null) prev.stop()
    Files.writeString(Paths.get(s"$work/result.json"), out)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def result(reps: Seq[Rep], warmupS: Double,
                     attempted: Int, failed: Int, errors: ErrorCounter): String = {
    val traced = reps.filter(_.traced)
    val untraced = reps.filterNot(_.traced)
    val layerNames = Seq(Save) ++ Pipeline.map(_._1) ++ Seq(Score)
    // per-layer metric = median over the traced calls of that layer
    val layers = layerNames.map { l =>
      val pairs = traced.flatMap(r => r.calls.zip(r.stats)).filter(_._1.layer == l)
      def m(f: ((Call, LayerStats)) => Double) = Json.num(median(pairs.map(f)))
      l -> Json.obj(Seq(
        "wall_s" -> m(_._1.wallS), "build_s" -> m(_._1.buildS),
        "jobs" -> m(_._2.jobs.toDouble), "builder_jobs" -> m(_._2.builderJobs.toDouble),
        "task_s" -> m(_._2.taskS), "idle_s" -> m(_._2.idleS),
        "shuffle_mb" -> m(_._2.shuffleMb), "skew" -> m(_._2.skew),
        "failed_tasks" -> m(_._2.failedTasks.toDouble)))
    }
    def pipe(rs: Seq[Rep]) = median(rs.map(_.pipelineS))
    val layerSum = median(traced.map(r =>
      r.calls.filter(c => Pipeline.exists(_._1 == c.layer)).map(_.wallS).sum / r.pipelineS))
    Json.obj(Seq(
      "reps" -> reps.size.toString,
      "setup_s" -> Json.arr(reps.map(_.setupS)),
      "pipeline_s" -> Json.arr(reps.map(_.pipelineS)),
      "warmup_s" -> Json.num(warmupS),
      "heap_peak_mb" -> Json.num(median(reps.map(_.heapMb))),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "log_errors" -> errors.errors.get.toString,
      "log_errors_accumulator" -> errors.accumulator.get.toString,
      "traced_pipeline_s" -> Json.num(pipe(traced)),
      "untraced_pipeline_s" -> Json.num(pipe(untraced)),
      "layer_sum_frac" -> Json.num(layerSum),
      "layers" -> Json.obj(layers)))
  }
}

/** The benchmark's session: the same settings as graft.Bench's session,
  * with spill and warehouse directories under the benchmark's work dir. */
object Session {
  def create(cpus: String, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.shuffle.checksum.enabled", "false")
      .config("spark.storage.memoryMapThreshold", "134217728")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
