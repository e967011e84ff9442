package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.timeseries._

class DetectSpec extends SparkSuite {

  test("knn scores are nonnegative and cover all test windows") {
    val s = Detect.knnScore(spark, Sf01).cache()
    assert(s.count() > 0)
    assert(s.filter(col("score") < 0).count() === 0)
  }

  test("gaussian mahalanobis distances are nonnegative") {
    val g = Detect.gaussianScore(spark, Sf01).cache()
    assert(g.count() > 0)
    assert(g.filter(col("mdist") < 0).count() === 0)
  }

  test("gauss-jordan inverse: A·A⁻¹ = I on a random SPD matrix") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // BᵀB + d·I is SPD like the regularized covariance (d = 0.01) and
    // q56's ridge normal equations (d = 0.001)
    def spd(n: Int, d: Double): Array[Array[Double]] = {
      val b = Array.fill(n, n)(rnd.nextDouble() - 0.5)
      Array.tabulate(n, n) { (i, j) =>
        (0 until n).map(k => b(k)(i) * b(k)(j)).sum + (if (i == j) d else 0.0)
      }
    }
    // Ols.gaussJordan over a one-row frame holding the augmented matrix
    def eliminate(aug: Array[Array[Double]]): Seq[IndexedSeq[Double]] =
      Ols.gaussJordan(Seq(Tuple1(aug.toSeq.map(_.toSeq))).toDF("a"), "a", aug.length)
        .head().getSeq[collection.Seq[Double]](0).map(_.toIndexedSeq)
    // q10's shape: [A | I] → [I | A⁻¹]
    val a = spd(9, 0.01)
    val out = eliminate(Array.tabulate(9, 18)((i, j) =>
      if (j < 9) a(i)(j) else if (j - 9 == i) 1.0 else 0.0))
    for (i <- 0 until 9; j <- 0 until 9) {
      val prod = (0 until 9).map(k => a(i)(k) * out(k)(j + 9)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(prod - expect) < 1e-8, s"($i,$j): $prod")
    }
    // q56's shape: [S | b] (6×7) → the last column solves S·x = b
    val s = spd(6, 0.001)
    val rhs = Array.fill(6)(rnd.nextDouble() - 0.5)
    val x = eliminate(Array.tabulate(6, 7)((i, j) => if (j < 6) s(i)(j) else rhs(i))).map(_(6))
    for (i <- 0 until 6) {
      val ax = (0 until 6).map(k => s(i)(k) * x(k)).sum
      assert(math.abs(ax - rhs(i)) < 1e-8, s"row $i: $ax vs ${rhs(i)}")
    }
    // a single-patch position's NULL covar_samp propagates to NULLs (the
    // oracle's behaviour) instead of failing the step's division
    val withNull = spark.sql(
      "SELECT array(array(CAST(NULL AS DOUBLE), 0.0, 1.0, 0.0), array(0.0, 1.0, 0.0, 1.0)) AS a")
    assert(Ols.gaussJordan(withNull, "a", 2).head().getSeq[collection.Seq[java.lang.Double]](0)
      .forall(_.forall(_ == null)))
  }

  /** The elimination as n chained selects, one per step — the form
    * Ols.gaussJordan's single `aggregate` expression replaced, kept as
    * its bit-equality reference.
    */
  private def gaussJordanSteps(df: DataFrame, a: String, n: Int): DataFrame =
    (0 until n).foldLeft(df) { (cur, k) =>
      val akk = col(a)(k)(k)
      cur.withColumn(a, transform(col(a), (r, i) => transform(r, (x, j) => {
        val akj = col(a)(k)(j)
        when(i === k, akj / akk).otherwise(x - r(k) * (akj / akk))
      })))
    }

  test("gauss-jordan: the one-expression elimination equals the per-step fold bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def spd(n: Int, d: Double): Array[Array[Double]] = {
      val b = Array.fill(n, n)(rnd.nextDouble() * 4 - 2)
      Array.tabulate(n, n) { (i, j) =>
        (0 until n).map(k => b(k)(i) * b(k)(j)).sum + (if (i == j) d else 0.0)
      }
    }
    def bits(df: DataFrame): Seq[Seq[Seq[java.lang.Long]]] =
      df.orderBy("id").collect().toSeq.map(_.getSeq[collection.Seq[java.lang.Double]](1).toSeq
        .map(_.toSeq.map(v => if (v == null) null else Long.box(java.lang.Double.doubleToRawLongBits(v)))))
    def same(rows: Seq[Array[Array[Double]]], n: Int): Unit = {
      val df = rows.zipWithIndex.map { case (m, id) => (id, m.toSeq.map(_.toSeq)) }.toDF("id", "a")
      assert(bits(Ols.gaussJordan(df, "a", n)) === bits(gaussJordanSteps(df, "a", n)),
        s"${n}×${rows.head.head.length} elimination diverged from the per-step fold")
    }
    // q10's [Σ + 0.01·I | I] (9×18) and q56's [S | sy] (6×7)
    same(Seq.fill(12) {
      val a = spd(9, 0.01)
      Array.tabulate(9, 18)((i, j) => if (j < 9) a(i)(j) else if (j - 9 == i) 1.0 else 0.0)
    }, 9)
    same(Seq.fill(12) {
      val s = spd(6, 0.001)
      Array.tabulate(6, 7)((i, j) => if (j < 6) s(i)(j) else rnd.nextDouble() - 0.5)
    }, 6)
    // the NULL-propagation case
    val withNull = spark.sql("SELECT 0 AS id, " +
      "array(array(CAST(NULL AS DOUBLE), 0.0, 1.0, 0.0), array(0.0, 1.0, 0.0, 1.0)) AS a")
    assert(bits(Ols.gaussJordan(withNull, "a", 2)) === bits(gaussJordanSteps(withNull, "a", 2)))
  }

  test("q10's sufficient-statistics fit agrees with avg / covar_samp on the sf0.01 bank") {
    val (bank, _) = TsCore.bankAndTest(spark, Sf01)
    val upper = for { i <- 0 to 8; j <- i to 8 } yield (i, j)
    val ref = bank.groupBy("pos").agg(count(lit(1)).as("n"), (0 to 8).map(i => avg(s"f$i").as(s"rm$i")) ++
      upper.map { case (i, j) => covar_samp(col(s"f$i"), col(s"f$j")).as(s"rc${i}_$j") }: _*)
    val rows = Detect.gaussMoments(bank).join(ref, "pos").collect()
    assert(rows.length === 24 && rows.forall(_.getAs[Long]("n") > 1))
    // the one-pass formula cancels in p_ij − t_i·t_j/n; its error is
    // relative to the scale of the two variances, √(Σ_ii·Σ_jj)
    val Tol = 1e-12
    val errs: Seq[Double] = rows.toSeq.flatMap { r =>
      def d(c: String) = r.getAs[Double](c)
      (0 to 8).map(i => math.abs(d(s"m$i") - d(s"rm$i")) / math.max(math.abs(d(s"rm$i")), 1.0)) ++
        upper.map { case (i, j) =>
          // a zero-padded edge feature is constant (Σ_ii = 0): both
          // forms give exactly 0 there
          val e = math.abs(d(s"c${i}_$j") - d(s"rc${i}_$j"))
          if (e == 0) 0.0 else e / math.sqrt(d(s"rc${i}_$i") * d(s"rc${j}_$j"))
        }
    }
    assert(errs.max <= Tol, s"sufficient-statistics fit off by ${errs.max} (scaled)")
  }

  test("q10: a single-patch position yields a NULL mdist, as covar_samp's NULL does") {
    import spark.implicits._
    def row(series: String, win: Long, pos: Long, v: Double) =
      (series, win, pos, v, v * v, 1.0 - v, v / 2, 0.5, v * 3, 2.0 - v, v + 1, v * v * v)
    val cols = Seq("series", "win", "pos") ++ Detect.FeatCols
    val bank = Seq(row("a", 0, 0, 0.1), row("b", 0, 0, 0.7), row("c", 0, 0, 0.4),
      row("a", 0, 1, 0.3)).toDF(cols: _*)
    val test = Seq(row("a", 5, 0, 0.2), row("a", 5, 1, 0.2)).toDF(cols: _*)
    val got = Detect.gaussianScoreOf(bank, test).collect()
      .map(r => r.getAs[Long]("pos") -> Option(r.getAs[java.lang.Double]("mdist"))).toMap
    assert(got.keySet === Set(0L, 1L))
    assert(got(0L).isDefined, "a fitted position must score")
    assert(got(1L).isEmpty, s"single-patch position scored ${got(1L)}")
  }

  test("lof weights hover around 1 for inliers") {
    val l = Detect.lofWeight(spark, Sf01).cache()
    assert(l.count() > 0)
    val med = l.agg(expr("percentile(lof, 0.5)")).head.getDouble(0)
    assert(med > 0.8 && med < 1.5, s"median LOF $med")
  }

  /** The kernel's bit-equality reference: the pairwise self-join of
    * each position's patches against its first `maxRef` window ids
    * (every (a, b ≠ a) pair, with its full distance).
    */
  private def pairwiseRef(bank: DataFrame, maxRef: Int): DataFrame = {
    val withId = bank.withColumn("id", concat_ws("#", col("series"), col("win")))
    val ref = withId
      .withColumn("rr", row_number().over(Window.partitionBy("pos").orderBy("id")))
      .filter(col("rr") <= maxRef).drop("rr")
    pairs(withId, ref)
  }

  private def pairs(withId: DataFrame, ref: DataFrame): DataFrame = {
    val a = renamed(withId, "a_")
    val b = renamed(ref, "b_")
    a.join(b, col("a_pos") === col("b_pos") && col("a_id") =!= col("b_id"))
      .select(col("a_pos").as("pos"), col("a_id").as("id"), col("b_id").as("nid"),
        sqrt(dist2("a_", "b_")).as("d"))
  }

  /** Squared L2 distance between two patch-feature rows (prefixed cols). */
  private def dist2(l: String, r: String): Column =
    Detect.FeatCols.map(f => (col(s"$l$f") - col(s"$r$f")) * (col(s"$l$f") - col(s"$r$f")))
      .reduce(_ + _)

  private def renamed(df: DataFrame, p: String): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$p$c"))

  /** The reference trimmed to k: eps added, then row_number by (d, nid). */
  private def trimmedRef(bank: DataFrame, maxRef: Int, k: Int, eps: Double): DataFrame =
    pairwiseRef(bank, maxRef).withColumn("d", col("d") + eps)
      .withColumn("rn", row_number().over(
        Window.partitionBy("pos", "id").orderBy(col("d"), col("nid"))))
      .filter(col("rn") <= k)
      .select("pos", "id", "nid", "d")

  test("default (capped) LOF is bit-identical to exact LOF when maxRef >= n") {
    // the default caps the reference set at MaxRef; the local bank is
    // far below that, so the default must EQUAL the uncapped LOF
    // bit-for-bit
    val (bank, _) = TsCore.bankAndTest(spark, Sf01)
    val exact = Detect.lofFrom(
        Detect.knnRef(spark, bank, k = 6, eps = 1e-6, maxRef = Int.MaxValue), 6)
      .withColumnRenamed("lof", "lof_exact")
    val default = Detect.lofWeight(spark, Sf01)
    val j = exact.join(default, Seq("id", "pos"))
    assert(j.count() === exact.count())
    assert(j.filter(col("lof") =!= col("lof_exact")).count() === 0,
      "capped(maxRef >= n) must be exactly the uncapped LOF")
  }

  test("default (capped) q12 nearest-dist is bit-identical to exact when maxRef >= n") {
    // q12 caps the reference set like q11; the local bank is far below
    // the cap, so it must EQUAL the uncapped nearest distance (k=1: the
    // one neighbour row per patch) bit-for-bit
    val (bank, _) = TsCore.bankAndTest(spark, Sf01)
    val exact = Detect.knnRef(spark, bank, k = 1, eps = 0.0, maxRef = Int.MaxValue)
      .select(col("id"), col("pos"), graft.util.Num.r4(col("d")).as("w_exact"))
    val default = Detect.nearestDistWeight(spark, Sf01)
    val j = exact.join(default, Seq("id", "pos"))
    assert(j.count() === exact.count())
    assert(j.filter(col("w_nearest") =!= col("w_exact")).count() === 0,
      "capped(maxRef >= n) must be exactly the uncapped nearest-dist weight")
  }

  test("packed graft_knn kernel is bit-identical to the pairwise window trim") {
    val (bank, _) = TsCore.bankAndTest(spark, Sf01)
    for ((k, eps, maxRef) <- Seq((6, 1e-6, 10000), (1, 0.0, 10000), (6, 1e-6, 40))) {
      // the reference implementation: materialize the full pair stream,
      // add eps, window-trim to k by (d, nid) — exactly what q11/q12
      // shipped before the kernel
      val want = trimmedRef(bank, maxRef, k, eps)
      val got = Detect.knnRef(spark, bank, k, eps, maxRef)
      assert(got.count() === want.count(), s"(k=$k eps=$eps maxRef=$maxRef)")
      assert(got.except(want).count() === 0 && want.except(got).count() === 0,
        s"kernel k-NN stream diverged from the window trim (k=$k eps=$eps maxRef=$maxRef)")
    }
  }

  test("graft_knn planted exact ties: equal distances break on UTF8 nid order") {
    import spark.implicits._
    // five candidates, four at IDENTICAL distance from the probe (same
    // feature row) — selection at k=3 must keep the lexicographically
    // smallest nids; also covers the k-boundary replace-on-tie branch.
    // Windows live in one position; series names chosen so UTF8 order
    // differs from arrival order.
    def row(series: String, v: Double) =
      (series, 1L, 0L, v, v, v, v, v, v, v, v, v)
    val bank = Seq(
      row("zz", 1.0), row("aa", 1.0), row("mm", 1.0), row("bb", 1.0),
      row("probe", 0.0)
    ).toDF("series", "win", "pos", "f0", "f1", "f2", "f3", "f4", "f5", "f6", "f7", "f8")
    val got = Detect.knnRef(spark, bank, maxRef = Int.MaxValue, k = 3, eps = 1e-6)
      .filter(col("id") === "probe#1")
      .orderBy("d", "nid").collect().map(r => r.getString(2))
    assert(got.toSeq === Seq("aa#1", "bb#1", "mm#1"),
      s"tie-break must keep the smallest nids: ${got.toSeq}")
    // and the window-trim reference implementation agrees exactly
    val want = trimmedRef(bank, Int.MaxValue, 3, 1e-6)
      .filter(col("id") === "probe#1")
      .orderBy("d", "nid").collect().map(r => r.getString(2))
    assert(want.toSeq === got.toSeq)
  }

  test("capped LOF approximates uncapped and bounds the reference set") {
    val (bank, _) = TsCore.bankAndTest(spark, Sf01)
    def lof(maxRef: Int) =
      Detect.lofFrom(Detect.knnRef(spark, bank, k = 6, eps = 1e-6, maxRef = maxRef), 6)
    val full = lof(Int.MaxValue)
    val capped = lof(40)
    assert(capped.count() === full.count(), "every patch still scored under the cap")
    val joined = full.withColumnRenamed("lof", "lof_full")
      .join(capped, Seq("id", "pos"))
    val corrPairs = joined.agg(org.apache.spark.sql.functions.corr("lof_full", "lof"))
      .head.getDouble(0)
    assert(corrPairs > 0.5, s"capped LOF should track uncapped (corr=$corrPairs)")
  }

  test("greedy coreset picks spread-out points") {
    // 2 tight clusters + 1 outlier: k=2 must include the outlier
    val pts = Array(
      Array(0.0, 0.0), Array(0.01, 0.0), Array(0.0, 0.01),
      Array(10.0, 10.0))
    val sel = Coreset.greedy(pts, 2)
    assert(sel.length === 2)
    assert(sel.contains(3), s"outlier not selected: ${sel.mkString(",")}")
  }

  test("coreset operator returns ~10% of denoised bank") {
    val c = Coreset.coreset(spark, Sf01).cache()
    val n = c.count()
    assert(n > 0)
    val (bank, _) = TsCore.bankAndTest(spark, Sf01)
    val bn = bank.count()
    assert(n <= bn * 0.15 && n >= bn * 0.05, s"coreset $n of bank $bn")
  }

  test("q13 coreset: the farthest-first certificate bounds its radius (r <= 2·OPT)") {
    // Sf01's kept bank is below driverCap, so q13 is ONE farthest-first
    // (Gonzalez) pass over it. Each pick after the first was the kept
    // point farthest from the earlier picks, so with p the kept point
    // farthest from the selection S, r = d(p, S) is at most the minimum
    // pairwise distance of S ∪ {p}: k+1 points pairwise ≥ r apart, two of
    // which share an optimal center, so OPT ≥ r/2.
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    val kept = Coreset.keptBank(spark, Sf01, 0.15).collect()
    val feats = kept.map(r => key(r) -> (0 until 9).map(i => r.getDouble(2 + i)).toArray).toMap
    def d(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val sel = Coreset.coreset(spark, Sf01).collect().map(r => feats(key(r)))
    assert(sel.length >= 2 && sel.length < feats.size, s"${sel.length} of ${feats.size}")
    val (far, r) = feats.values.map(f => f -> sel.map(d(f, _)).min).maxBy(_._2)
    val cert = sel :+ far
    val minPair = (for (i <- cert.indices; j <- i + 1 until cert.length)
      yield d(cert(i), cert(j))).min
    assert(r <= minPair + 1e-9, s"coverage radius $r exceeds the certificate $minPair")
  }

  test("JL-projected coreset preserves k-center structure (~2-approx coverage radius)") {
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    // sf0.01: sf0.001's spine has no complete day windows → empty bank
    val kept = Coreset.keptBank(spark, Sf01, 0.15).collect()
    val feats = kept.map(r => key(r) -> (0 until 9).map(i => r.getDouble(2 + i)).toArray).toMap
    def d(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // coverage radius of a selected set, measured in the ORIGINAL space
    def radius(sel: Set[(String, Long)]): Double = {
      val selF = sel.toArray.map(feats)
      feats.values.map(f => selF.map(s => d(f, s)).min).max
    }
    val exact = Coreset.coreset(spark, Sf01).collect().map(key).toSet
    val proj = Coreset.coresetProjected(spark, Sf01, projDim = 8).collect().map(key).toSet
    assert(proj.size === exact.size, "same coreset budget")
    val (r0, rp) = (radius(exact), radius(proj))
    // greedy in JL-projected space stays within the distortion bound of
    // the exact greedy's 2-approx coverage (small slack for the 9→8 map)
    assert(rp <= 2.5 * r0 + 1e-9, s"projected radius $rp vs exact $r0")
  }

  test("pipeline flags roughly the contamination share of windows") {
    val p = Detect.pipeline(spark, Sf01).cache()
    val n = p.count()
    val flagged = p.filter(col("pred") === 1).count()
    assert(n > 0 && flagged > 0 && flagged < n)
  }

  test("q50 anomaly mask == driver composition of q29 ∪ q14 ∪ extended q15") {
    import graft.timeseries.Postprocess
    type K = (String, Long)
    val top = Postprocess.highestPatchFlags(spark, Sf01).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).groupBy(_._1)
      .map { case (k, g) => k -> g.map(_._2).toSet }
    val wins = top.keySet
    val consec = Postprocess.consecRuns(spark, Sf01).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
      .filter(t => wins(t._1)).groupBy(_._1)
      .map { case (k, g) => k -> g.map(_._2).toSet }
    val spikes = Postprocess.zscoreOutliers(spark, Sf01).collect()
      .filter(_.getInt(4) == 1)
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
      .filter(t => wins(t._1)).groupBy(_._1)
      .map { case (k, g) => k -> g.map(_._2).toSet }
    val want = wins.flatMap { k =>
      val t = top.getOrElse(k, Set.empty[Long])
      val c = consec.getOrElse(k, Set.empty[Long])
      val ext = spikes.getOrElse(k, Set.empty[Long]).diff(t ++ c)
        .flatMap(p => (math.max(0L, p - 4) to math.min(p + 4, 22L)))
      (0L until 24L).map { pos =>
        (k._1, k._2, pos, if (t(pos)) 1 else 0, if (c(pos)) 1 else 0,
          if (ext(pos)) 1 else 0,
          if (t(pos) || c(pos) || ext(pos)) 1 else 0)
      }
    }.toSet
    val got = Postprocess.anomalyMask(spark, Sf01).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6))).toSet
    assert(got === want)
    // every mask row belongs to a scored window; some masks have signal
    assert(got.exists(_._7 == 1) && got.forall(g => wins((g._1, g._2))))
  }

  test("q51 point adjust == driver recompute; adjusted recall >= raw recall") {
    import graft.timeseries.{Metrics, Postprocess, TsCore}
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val flags = Postprocess.zscoreOutliers(spark, Sf01).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getInt(4)).toMap
    val pts = TsCore.scaled(spark, Sf01).select("series", "win", "pos", "is_anom").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val want = pts.groupBy(_._1).map { case (s, g) =>
      val anom = g.filter(_._4 == 1)
      // segments: consecutive pos runs per window
      val segs = anom.groupBy(_._2).toSeq.flatMap { case (w, ps) =>
        val sorted = ps.map(_._3).sorted
        sorted.zipWithIndex.groupBy { case (p, i) => p - i }.values
          .map(run => (w, run.map(_._1).toSet))
      }
      val tp = segs.map { case (w, poss) =>
        val hit = poss.exists(p => flags((s, w, p)) == 1)
        if (hit) poss.size.toLong
        else poss.count(p => flags((s, w, p)) == 1).toLong
      }.sum
      val nTrue = anom.length.toLong
      val fp = g.filter(_._4 == 0).count(t => flags((t._1, t._2, t._3)) == 1).toLong
      val fn = nTrue - tp
      s -> (tp, fn, fp,
        if (tp + fp > 0) r4(tp.toDouble / (tp + fp)) else null,
        if (tp + fn > 0) r4(tp.toDouble / (tp + fn)) else null,
        if (tp * 2 + fp + fn > 0) r4(tp * 2.0 / (tp * 2 + fp + fn)) else null)
    }
    val got = Metrics.pointAdjust(spark, Sf01).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4),
        if (r.isNullAt(5)) null else r.getDouble(5),
        if (r.isNullAt(6)) null else r.getDouble(6))).toMap
    assert(got.keySet === want.keySet)
    for ((s, v) <- want) assert(got(s) === v, s"series $s")
    // adjustment only adds true-positives: recall >= the raw point recall
    for ((s, g) <- pts.groupBy(_._1)) {
      val anom = g.filter(_._4 == 1)
      if (anom.nonEmpty) {
        val rawTp = anom.count(t => flags((t._1, t._2, t._3)) == 1)
        val rawRecall = rawTp.toDouble / anom.length
        assert(got(s)._5.asInstanceOf[Double] >= r4(rawRecall) - 1e-9, s"series $s")
      }
    }
  }

  test("detection has signal: auroc above chance") {
    val a = Metrics.auroc(spark, Sf01).head()
    val auroc = a.getDouble(a.fieldIndex("auroc"))
    assert(auroc > 0.5, s"auroc $auroc should beat chance on injected anomalies")
  }
}
