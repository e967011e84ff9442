package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** The driver's bench scale (TESTDATA.md): the basename whose runs
    * update the untagged driver-facing BENCH_DETAIL.json.
    */
  private val CanonicalBenchSf = "sf0.1"

  /** Warm up the JVM/codegen paths and parquet footers before timing —
    * session fixed costs, not query work; no query stage is precomputed.
    * All warmers run over synthetic range() data with plans unrelated
    * to any registered query: what they warm is the ENGINE — Janino
    * (the codegen compiler itself runs ~3× faster once JITed), the
    * hash-agg/distinct, window, sort-merge and broadcast join
    * machinery, and the sketch aggregates' generated classes. Without
    * this the first query to touch each path is billed seconds of
    * compiler warm-up that no steady-state deployment would pay.
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    spark.range(100000).selectExpr("sum(id * 2)").collect()
    val r = spark.range(200000).selectExpr("id", "id % 97 as k", "cast(id % 31 as double) as v")
    r.groupBy("k").agg(org.apache.spark.sql.functions.countDistinct("v"),
      org.apache.spark.sql.functions.sum("v")).count()
    r.selectExpr("k", "sum(v) over (partition by k order by id rows between unbounded preceding and current row) as rs").count()
    r.as("a").join(r.as("b"), "k").count()
    r.join(org.apache.spark.sql.functions.broadcast(r.limit(100)), "id").count()
    r.agg(org.apache.spark.sql.functions.approx_count_distinct(col("v"), 0.04),
      org.apache.spark.sql.functions.expr("approx_percentile(v, array(0.5), 1000)")).count()
    r.distinct().count()
    // the graft_* codegen kernels compile their generated Java at first
    // use — engine compile cost, so warm it on synthetic arrays too
    graft.functions.VectorExprs.register(spark)
    r.selectExpr("id", "array(cast(id as double), v) as a",
        "array(v, cast(id as double)) as b")
      .selectExpr("sum(graft_dot(a, b))", "sum(graft_l2(a, b))",
        "sum(graft_argmin_dist2(a, b))",
        "sum(graft_sorted_inter(array(id, id + 97), array(id, id + 31)))").count()
    Seq("lineitem", "orders", "events", "documents", "embeddings", "part",
        "customer", "nation", "region", "supplier")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count())
  }

  /** Fixed synthetic calibration workload — PURE ENGINE WORK
    * (codegen'd hash agg + count-distinct, per-key sort window, a 1:1
    * sort-merge join), data-independent and identical every run, timed
    * AFTER the warmers in each rep's fresh session. Its wall time is a
    * host-speed probe: the bench box swings ~2× across sessions for
    * identical code (r14: suite totals 47→91→47 s with per-key mins
    * reproducing exactly), so cross-session per-key comparisons divide
    * by the calib ratio first — see TESTDATA.md §bench-calibration for
    * the normalization rule. Deliberately NOT a registered query and
    * NOT derived from any table: it must move only when the HOST does.
    */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val r = spark.range(8000000L).selectExpr("id",
      "id % 9973 as k", "cast((id * 2654435761) % 1000003 as double) as v")
    r.groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v"),
        org.apache.spark.sql.functions.countDistinct("v"))
      .selectExpr("max(k)").collect()
    r.selectExpr("k", "sum(v) over (partition by k order by v, id " +
        "rows between 100 preceding and current row) as rs")
      .selectExpr("max(rs)").collect()
    r.as("a").join(r.selectExpr("id", "v as v2").as("b"), "id")
      .selectExpr("max(v + v2)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Min-of-N profile (r10 calibration: single full runs carry ~±25%
    // environmental noise whose spikes land on DIFFERENT queries each
    // run, so any single-run per-query number is unusable for
    // round-over-round regression judgment; the per-query MIN across
    // runs is the code's actual shape). Each rep gets a FRESH
    // SparkSession: StageCache / fitted-model / quantile memoizations
    // are all session-keyed, so every rep rebuilds its shared stages
    // and the min keeps the same billing semantics as N independent
    // driver runs — only the JVM/JIT warmth carries over, which is
    // exactly what the warm-up block pre-pays anyway.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // Dev aid: SPARK_GRAFT_ONLY="qp2_approx_distinct,q09_knn_score"
    // times just those queries (driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Sorted name order, not Map hash order: the per-family shared
    // stage builds (grid→fill→patches→bank, tokens/shingles, IVF/PQ
    // index) are billed to the FIRST query of each family — which is
    // their natural owner — and adding a query no longer reshuffles
    // which sibling pays a build.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val runTimes = (1 to reps).map { rep =>
      val spark = Session.create()
      warmUp(spark, sfDir)
      calibs += calibrate(spark)
      import org.apache.spark.sql.functions.{col, xxhash64}
      val times = names.flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        // hash-reduce every output column: count() alone would let Spark
        // prune the computed columns and under-report the work
        try {
          val df = fn(spark, sfDir)
          df.select(xxhash64(df.columns.map(col): _*).as("h")).agg(Map("h" -> "max")).count()
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          // A throwing query must NOT report its (tiny) time-to-fail as
          // a benchmark number — r7's testdata schema change made every
          // events query fail analysis in ~0.1 s and the suite still
          // "passed". Skip it in this rep; only a query failing in
          // EVERY rep lands in the `errors` array.
          System.err.println(s"[bench] rep $rep $name FAILED: ${e.getMessage.take(300)}")
          None
        }
      }.toMap
      spark.stop()
      times
    }
    val failed = names.map(_._1).filter(n => runTimes.forall(!_.contains(n)))
    // per-query min over the reps that succeeded; suite total = sum of
    // mins (the min-profile); `runs` carries each rep's own total so the
    // line also records the run-to-run spread
    val results = names.map(_._1).filterNot(failed.contains).map { n =>
      n -> runTimes.flatMap(_.get(n)).min
    }
    // The driver records only the LAST 2000 bytes of output; the full
    // query names at nanosecond precision overflow that window and the
    // recorded JSON line truncates unparseably (BENCH_r03/r04 "parsed":
    // null). Short keys (the unique pre-underscore prefix, matching
    // SURVEY §2 numbering) at millisecond precision keep the whole line
    // near 1 KB so the driver parses it.
    // value width caps at 3 chars ("9.9" / "99" / "999") — ENFORCED,
    // not assumed: %.1f rounds 9.95..10 up to the 4-char "10.0" and
    // %.0f is 4 chars from 999.5, so the bands pre-round and clamp
    // (ContractSpec models the worst-case line against the 2000-byte
    // window, including the reps/runs envelope).
    // Locale.ROOT, not the f-interpolator: f"%.1f" uses the JVM default
    // locale, and a comma-decimal locale (de_DE…) would emit "9,9" —
    // invalid JSON, the same driver parse failure by another road.
    def num(fmt: String, x: Double): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(x))
    // keys drop the uniform leading 'q' as well ("q01"→"01",
    // "qv19"→"v19" — prefixes stay unique): at 180 registered queries
    // the full prefixes plus sbt's trailing "[success] Total time"
    // line (which shares the driver's last-2000-bytes capture) left
    // zero margin. SURVEY §2 numbering = 'q' + bench key.
    // The stdout map is CAPPED at the 150 slowest queries (name-sorted
    // for stable diffs; `"more":N` records the omission): at 193 keys
    // the full map no longer fits the 2000-byte window with the
    // envelope and the error tail. The omitted tail is the sub-0.1 s
    // queries — zero regression signal at this precision — and the
    // COMPLETE map lands in BENCH_DETAIL.json (ms precision, written
    // below) for per-query round-over-round comparison.
    val kept = results.sortBy { case (k, v) => (-v, k) }.take(150).sortBy(_._1)
    val qs = kept.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_').drop(1) + "\":" +
        (if (v < 9.95) num("%.1f", v) else num("%.0f", math.min(v, 999.0)))
    }.mkString("{", ",", "}")
    val more = if (results.size > kept.size) s""","more":${results.size - kept.size}""" else ""
    val total = results.map(_._2).sum
    // full-precision sidecar: every query at ms precision + each rep's
    // per-query time, for regression analysis past the stdout cap
    val detail = new StringBuilder()
    detail.append(s"""{"sf":"${sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)}",""")
    detail.append(s""""total_min_profile":${num("%.3f", total)},""")
    detail.append(results.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + num("%.3f", v)
    }.mkString("\"queries\":{", ",", "},"))
    detail.append(runTimes.map(m => num("%.3f", m.values.sum)).mkString("\"runs\":[", ",", "],"))
    // per-rep host-speed probes (calibrate() above): the normalizer for
    // cross-session per-key deltas — rule in TESTDATA.md
    detail.append(calibs.map(c => num("%.3f", c)).mkString("\"calib\":[", ",", "],"))
    detail.append(s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    // sf-tagged filename so an sf0.001 smoke run can't silently
    // overwrite sf1 soak evidence; the untagged name stays as the
    // driver-facing copy ONLY for the canonical bench sf — and the skip
    // is LOGGED so a renamed bench dir can't quietly strand stale
    // evidence under the untagged name (ADVICE r13)
    val detailSf = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")
    val detailPaths = Seq(s"BENCH_DETAIL_$detailSf.json") ++
      (if (detailSf == CanonicalBenchSf) Seq("BENCH_DETAIL.json") else {
        System.err.println(s"[bench] sf dir '$detailSf' != canonical " +
          s"'$CanonicalBenchSf' — BENCH_DETAIL.json (untagged) intentionally not updated")
        Nil
      })
    detailPaths.foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (detail.toString + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $p not written: ${e.getMessage}")
      }
    }
    // same adaptive width cap as the per-query values: 0.1 s precision
    // under 100 s, whole seconds above (the spread signal survives; the
    // 2000-byte window is the driver's hard truncation point)
    val runs = runTimes.map { m =>
      val t = m.values.sum
      if (t < 99.95) num("%.1f", t) else num("%.0f", math.min(t, 999.0))
    }.mkString("[", ",", "]")
    // errors capped at 2 names + a total count — at 189 keys even the
    // 4-name model overflowed the budget; `nerr` keeps the signal (how
    // many failed) without the bytes. reps is derivable from the runs
    // array length, so it isn't emitted.
    val errs =
      if (failed.isEmpty) ""
      else failed.take(2).map(n => "\"" + n.takeWhile(_ != '_').drop(1) + "\"")
        .mkString(""","errors":[""", ",", s"""],"nerr":${failed.size}""")
    val sfTag = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val totalStr =
      if (total < 999.9995) num("%.3f", total) else num("%.1f", math.min(total, 9999.9))
    // min-of-reps calib on the driver-facing line too (same 3-char
    // width bands as the per-query values), so a BENCH_r{N}.json is
    // host-normalizable even without the BENCH_DETAIL sidecar
    val calibStr = {
      val c = calibs.min
      if (c < 9.95) num("%.1f", c) else num("%.0f", math.min(c, 999.0))
    }
    // stderr, not stdout: the driver contract is ONE JSON line on stdout
    val suppressed = graft.util.LogHygiene.suppressKnownBenignWindowWarn()
    if (suppressed.get > 0)
      System.err.println(graft.util.LogHygiene.summaryLine(suppressed))
    println(s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":$qs$more,"runs":$runs,"calib":$calibStr$errs,"sf":"$sfTag"}""")
  }
}
