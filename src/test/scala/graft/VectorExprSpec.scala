package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorExprs

class VectorExprSpec extends SparkSuite {

  test("native graft_dot equals the higher-order-function fold exactly") {
    VectorExprs.register(spark)
    val e = spark.read.parquet(s"$Sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = e.select(
      expr("graft_dot(v, v)").as("native"),
      expr("aggregate(zip_with(v, v, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)").as("hof"))
    // bit-identical: same ascending-index accumulation order
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("graft_dot participates in whole-stage codegen") {
    VectorExprs.register(spark)
    val e = spark.read.parquet(s"$Sf001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val plan = e.select(expr("graft_dot(v, v)")).queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage;
    // the expression must sit inside one, not fall back to interpreted eval
    assert(plan.linesIterator.exists(l => l.contains("graft_dot") && l.trim.startsWith("*(")),
      plan.take(500))
  }

  test("extensions class registers the function at session level") {
    val ext = new GraftExtensions()
    // structural smoke: applying to a fresh extensions object must not throw
    ext.apply(new org.apache.spark.sql.SparkSessionExtensions)
    // a session built with the extension (on the same context) resolves
    // every kernel name without VectorExprs.register
    import org.apache.spark.sql.SparkSession
    val base = spark // the suite's session owns the context the new session shares
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally { SparkSession.setDefaultSession(base); SparkSession.setActiveSession(base) }
    assert(s ne base, "the builder must build a new session, not reuse the suite's")
    val missing = VectorExprs.Registrations.map(_._1)
      .filterNot(s.sessionState.functionRegistry.functionExists)
    assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
    assert(s.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d))").head.getDouble(0) === 11.0)
  }

  test("graft_l2 equals the zip_with fold exactly") {
    VectorExprs.register(spark)
    val e = spark.read.parquet(s"$Sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val shifted = e.selectExpr("v", "transform(v, x -> x + 0.5d) AS w")
    val both = shifted.select(
      expr("graft_l2(v, w)").as("native"),
      expr("aggregate(zip_with(v, w, (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (a, x) -> a + x)").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("bank-scan kernels: min/argmin vs brute force, first-index ties (200 random instances)") {
    VectorExprs.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val random = (1 to 200).map { _ =>
      val dim = 1 + rnd.nextInt(5)
      val m = 1 + rnd.nextInt(8)
      // small integer coordinates force frequent exact distance ties
      val bank = Array.fill(m * dim)(rnd.nextInt(3).toDouble)
      val p = Array.fill(dim)(rnd.nextInt(3).toDouble)
      (bank, p, dim)
    }
    val NaN = Double.NaN
    // inputs that drive the partial-distance exit: each row of a 4-dim
    // bank against p = 0
    val edges = Seq(
      // rows whose zero prefix stays under the best (1.0): one passes it
      // on its last term, one ties it, one beats it; the last row exits
      // on its first term
      Array(1.0, 0, 0, 0, 0, 0, 0, 1.5, 0, 0, 0, 1, 0, 0, 0, 0.5, 3, 0, 0, 0),
      // an exact full-sum tie after a better row: the first index keeps it
      Array(2.0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0, 1, 0, 0, 0),
      // a row that reaches best = 0 stops every later row at its first term
      Array(0.0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0),
      // a NaN coordinate before any best, one after, and one past the exit
      Array(NaN, 0, 0, 0, 0, 2, 0, 0, 0, 0, NaN, 0, 3, 0, 0, NaN, 0, 0, 0, 1),
      // every row NaN: no row is ever < best
      Array(0.0, NaN, 0, 0, NaN, 0, 0, 0),
      // the empty bank
      Array.empty[Double]
    ).map(b => (b, Array(0.0, 0, 0, 0), 4)) :+
      // a NaN query coordinate poisons every row
      ((Array(1.0, 0, 0, 0, 2, 0), Array(0.0, NaN), 2))
    // an RDD source keeps the projection out of ConvertToLocalRelation's
    // interpreted pass, so the planner's choice of codegen decides the path
    def df = spark.sparkContext.parallelize(random ++ edges, 3).toDF("bank", "p", "dim")
      .selectExpr("bank", "p", "dim",
        "graft_argmin_dist2(bank, p) AS kidx",
        // the single-pass route of Detect.bankScored: the argmin row's
        // distance re-read over its slice
        "graft_l2(slice(bank, int(graft_argmin_dist2(bank, p)) * dim + 1, dim), p) AS kslice")
    def check(codegen: Boolean): Unit = {
      val scan = df // planned under the current settings
      val p = scan.queryExecution.executedPlan.toString
      val fused = p.linesIterator
        .exists(l => l.contains("graft_argmin_dist2") && l.trim.startsWith("*("))
      assert(fused === codegen, p.take(800))
      val rows = scan.collect()
      assert(rows.length === random.length + edges.length)
      rows.foreach { r =>
        val bank = r.getAs[scala.collection.Seq[Double]]("bank")
        val p = r.getAs[scala.collection.Seq[Double]]("p")
        val dim = r.getAs[Int]("dim")
        val d2s = bank.grouped(dim).map(b =>
          b.zip(p).map { case (x, y) => (y - x) * (y - x) }.sum).toVector
        // rows that can win: a NaN or infinite full sum never is < best
        val finite = d2s.zipWithIndex.filter(_._1 < Double.PositiveInfinity)
        val label = s"bank=${bank.mkString(",")} p=${p.mkString(",")} codegen=$codegen"
        if (finite.isEmpty) {
          assert(r.isNullAt(r.fieldIndex("kidx")) && r.isNullAt(r.fieldIndex("kslice")), label)
        } else {
          val bruteMin = finite.map(_._1).min
          val bruteIdx = finite.find(_._1 == bruteMin).get._2 // FIRST index on ties
          assert(r.getAs[Long]("kidx") === bruteIdx.toLong, label)
          assert(java.lang.Double.doubleToRawLongBits(r.getAs[Double]("kslice")) ===
            java.lang.Double.doubleToRawLongBits(bruteMin),
            s"slice re-read must equal the brute-force min bit-for-bit: $label")
        }
      }
    }
    check(codegen = true)
    val key = "spark.sql.codegen.factoryMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "NO_CODEGEN")
    try check(codegen = false)
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("ANN quality: LSH and IVF recall against the exact top-k baseline") {
    import graft.vector.Similarity
    val exact = Similarity.cosineTopK(spark, Sf01, k = 5)
      .select(col("qid"), col("vec_id")).cache()
    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val hit = approx.select(col("qid"), col("vec_id")).join(exact, Seq("qid", "vec_id")).count()
      hit.toDouble / exact.count()
    }
    // IVF probes 2 of 16 cells → expected recall ≈ 1/8 even on random
    // embeddings (nearest vectors cluster into the probed cells)
    val rIvf = recall(Similarity.ivfAnn(spark, Sf01))
    assert(rIvf > 0.05, s"IVF recall@5 $rIvf")
    // 8-hyperplane LSH on RANDOM embeddings has ~(1/2)^8 bucket-collision
    // probability, so recall is near zero BY DESIGN on this synthetic
    // data; assert instead that bucketed candidates are more similar
    // than random pairs (positive mean cosine)
    val lsh = Similarity.lshAnn(spark, Sf01)
    if (lsh.count() > 0) {
      val meanCos = lsh.agg(avg("cos")).head.getDouble(0)
      assert(meanCos > 0.0, s"same-bucket mean cosine $meanCos")
    }
  }

  test("qv1 bounds its broadcast query side (deterministic lowest qids)") {
    import graft.vector.Similarity
    val q = Similarity.cosineTopK(spark, Sf001, k = 3, maxQueries = 2)
      .select("qid").distinct().collect().map(_.getLong(0))
    assert(q.length <= 2, s"cap of 2 queries, got ${q.length}")
    assert(q.forall(_ < 200), "cap keeps the lowest qids")
  }

  test("graft_dot NULL edges match the HOF fold (mismatched lengths, null elements)") {
    VectorExprs.register(spark)
    // length mismatch → zip_with pads with null → null product → null sum;
    // a null element propagates the same way. The kernel must agree so
    // DotRewrite stays value-preserving on arbitrary user arrays.
    val df = spark.sql(
      """SELECT
        |  graft_dot(array(1d, 2d), array(3d)) AS mism,
        |  aggregate(zip_with(array(1d, 2d), array(3d), (x, y) -> x * y), 0d, (s, v) -> s + v) AS mism_hof,
        |  graft_dot(array(1d, cast(null as double)), array(3d, 4d)) AS nel,
        |  aggregate(zip_with(array(1d, cast(null as double)), array(3d, 4d), (x, y) -> x * y), 0d, (s, v) -> s + v) AS nel_hof,
        |  graft_l2(array(1d, 2d), array(3d)) AS l2m,
        |  graft_l2(array(1d, cast(null as double)), array(3d, 4d)) AS l2n
        |""".stripMargin).head()
    assert(df.isNullAt(0) && df.isNullAt(1), "length mismatch: both NULL")
    assert(df.isNullAt(2) && df.isNullAt(3), "null element: both NULL")
    assert(df.isNullAt(4), "graft_l2 length mismatch: NULL")
    assert(df.isNullAt(5), "graft_l2 null element: NULL")
  }

  test("graft_knn fails LOUDLY on packing bugs (parallel-array / dim mismatch)") {
    // a null return would be silently dropped by the downstream explode,
    // reading as "fewer neighbours" (ADVICE r13) — these must throw
    VectorExprs.register(spark)
    val one = spark.range(1)
    def boom(sql: String): Unit = {
      val e = intercept[Exception](one.selectExpr(sql).collect())
      def hasState(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[IllegalStateException] || hasState(t.getCause))
      assert(hasState(e), s"expected IllegalStateException, got $e")
    }
    // ids length != flat.len/dim
    boom("graft_knn('q', array(1.0d, 2.0d), array('a', 'b'), array(1.0d, 2.0d), 1, 0.0d)")
    // flat not a multiple of dim
    boom("graft_knn('q', array(1.0d, 2.0d), array('a'), array(1.0d, 2.0d, 3.0d), 1, 0.0d)")
    // zero-dim query against a nonempty bank
    boom("graft_knn('q', cast(array() as array<double>), array('a'), array(1.0d), 1, 0.0d)")
    // and the legal empty-bank case still yields an empty result
    val ok = one.selectExpr(
      "graft_knn('q', array(1.0d), cast(array() as array<string>), " +
        "cast(array() as array<double>), 1, 0.0d) AS r").collect()
    assert(ok.head.getSeq[Any](0).isEmpty)
  }

  test("bank-scan kernels return null on an empty bank") {
    VectorExprs.register(spark)
    import spark.implicits._
    val df = Seq((Array.empty[Double], Array(1.0, 2.0)))
      .toDF("bank", "p")
      .selectExpr("graft_argmin_dist2(bank, p) AS i",
        "graft_l2(slice(bank, int(graft_argmin_dist2(bank, p)) * 2 + 1, 2), p) AS s")
      .collect()
    assert(df.head.isNullAt(0) && df.head.isNullAt(1))
  }

  test("graft_sorted_inter equals size(array_intersect) on 300 random sorted sets") {
    VectorExprs.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cases = (0 until 300).map { _ =>
      val a = (0 until rnd.nextInt(60)).map(_ => rnd.nextInt(40).toLong).distinct.sorted.toArray
      val b = (0 until rnd.nextInt(60)).map(_ => rnd.nextInt(40).toLong).distinct.sorted.toArray
      (a, b)
    }
    val both = cases.toDF("a", "b").select(
      expr("graft_sorted_inter(a, b)").as("kernel"),
      size(array_intersect(col("a"), col("b"))).as("ref"))
    assert(both.filter(col("kernel") =!= col("ref")).count() === 0)
    // empty/null edges
    val e = spark.sql(
      """SELECT graft_sorted_inter(cast(array() as array<bigint>), array(1L, 2L)) AS z,
        |       graft_sorted_inter(cast(null as array<bigint>), array(1L)) AS nl
        |""".stripMargin).head()
    assert(e.getInt(0) === 0 && e.isNullAt(1))
  }

  test("qv14 MIPS top-k equals cosine NN over norm-augmented vectors (the reduction)") {
    // MIPS(q, x) = argmax ⟨q,x⟩ reduces exactly to L2-NN over
    // x̃ = [x, √(M²−‖x‖²)], q̃ = [q, 0]: ‖q̃−x̃‖² = ‖q‖² + M² − 2⟨q,x⟩.
    // Prove the reduction reproduces qv14's exact top-k on real data.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    graft.functions.VectorExprs.register(spark)
    val e = graft.util.Tables.embeddings(spark, Sf01)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", expr("graft_dot(v, v)"))
    val m2 = e.agg(max("n2")).head.getDouble(0)
    val aug = e.withColumn("va", concat(col("v"), array(sqrt(lit(m2) - col("n2")))))
    val q = aug.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        concat(col("v"), array(lit(0.0))).as("qa"))
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("vec_id"))
    val viaL2 = aug.crossJoin(broadcast(q)).filter(col("qid") =!= col("vec_id"))
      .withColumn("d2", expr("graft_l2(qa, va)"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
      .select(col("qid"), col("vec_id"), col("rnk"))
    val direct = graft.vector.Similarity.mipsTopK(spark, Sf01)
      .select(col("qid"), col("vec_id"), col("rnk").as("rnk_d"))
    val j = viaL2.join(direct, Seq("qid", "vec_id"), "full_outer")
    // same (qid, vec_id) membership and same ranks (ties are broken by
    // vec_id in both orderings, and the augmented-L2 order flips the
    // dot order sign-exactly)
    assert(j.filter(col("rnk").isNull || col("rnk_d").isNull ||
      col("rnk") =!= col("rnk_d")).count() === 0)
  }

  test("qv16 range search == driver brute-force radius scan; consistent with qv1") {
    import org.apache.spark.sql.functions._
    val tau = 0.3
    val got = graft.vector.Similarity.rangeSearch(spark, Sf01, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val all = spark.read.parquet(s"$Sf01/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nrm = all.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val expected = (for {
      (qid, qv) <- all if qid % 100 == 0 && qid < 100000L
      (vid, bv) <- all if vid != qid
      cos = dot(qv, bv) / (nrm(qid) * nrm(vid))
      if cos >= tau
    } yield (qid, vid) -> math.floor(cos * 10000d + 0.5d) / 10000d).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    // every qv1 top-k row at or above the radius must be in the range set
    val fromTopK = graft.vector.Similarity.cosineTopK(spark, Sf01).collect()
      .filter(_.getDouble(2) >= tau + 1e-4)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromTopK.subsetOf(got.keySet))
  }

  test("qv13 k-means inertia matches MLlib KMeans trained from the same seeds") {
    // the charter's MLlib interop proof: graft's relational Lloyd loop
    // and org.apache.spark.mllib.clustering.KMeans, started from the
    // IDENTICAL initial centers (the nCells lowest vec_ids) for the
    // same number of rounds, must land on the same clustering cost
    // (graft quantizes centroid components to 1e-6 and per-point d² to
    // 1e-4 — sub-0.1% of the cost — hence the tolerance, not equality)
    import org.apache.spark.mllib.clustering.{KMeans => MlKMeans, KMeansModel}
    import org.apache.spark.mllib.linalg.Vectors
    import org.apache.spark.sql.functions.{col, sum}
    val nCells = 16
    val e = graft.util.Tables.embeddings(spark, Sf01)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val seeds = e.orderBy("vec_id").limit(nCells).collect()
      .map(r => Vectors.dense(r.getSeq[Double](1).toArray))
    assert(seeds.length === nCells)
    val data = e.select("v").rdd.map(r => Vectors.dense(r.getSeq[Double](0).toArray)).cache()
    val model = new MlKMeans().setK(nCells).setMaxIterations(2).setEpsilon(0.0)
      .setInitialModel(new KMeansModel(seeds)).run(data)
    val mlCost = model.computeCost(data)
    val ours = graft.vector.Similarity.kmeansFit(spark, Sf01, nCells, iters = 2)
      .agg(sum("inertia")).head().getDouble(0)
    assert(math.abs(mlCost - ours) / mlCost < 0.01,
      s"mllib cost $mlCost vs graft inertia $ours")
    data.unpersist()
  }

  test("qv17 probe sweep: recall monotone in nprobe; the nprobe=2 point IS qv4") {
    import graft.vector.Similarity
    val curve = Similarity.probeSweep(spark, Sf01).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(curve.map(_._1).toSeq === Seq(1, 2, 4, 8))
    // nested candidate sets → recall can never drop as probes widen
    for (Seq((p1, (_, _, r1)), (p2, (_, _, r2))) <- curve.sliding(2).map(_.toSeq))
      assert(r2 >= r1, s"recall dropped $r1 -> $r2 from nprobe $p1 -> $p2")
    // the swept curve's nprobe=2 point must reproduce qv4's single-point
    // eval exactly (same index, same probes, same exact baseline)
    val qv4 = Similarity.annEval(spark, Sf01).head
    val (n2, h2, r2) = curve.toMap.apply(2)
    assert((n2, h2, r2) ===
      ((qv4.getLong(0), qv4.getLong(1), qv4.getDouble(2))),
      "sweep level 2 diverged from qv4's dedicated eval")
  }
}
