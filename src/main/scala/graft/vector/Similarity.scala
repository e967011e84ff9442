package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Num, Tables}

/** Embedding similarity search: brute-force cosine top-k baseline, a
  * random-hyperplane LSH bucketed variant, and an IVF-style
  * centroid-probe variant (the 100 TB scale paths: LSH/IVF turn the
  * all-pairs problem into equi-joins on bucket / cell keys).
  *
  * Dot products use `zip_with` + `aggregate` higher-order functions —
  * codegen'd, array-local, no explode of the big side.
  */
object Similarity {

  /** Embeddings with double-cast vectors and precomputed norms. Dots go
    * through the native codegen'd kernel (graft.functions.DotProduct) —
    * same ascending-index summation as the DuckDB oracle.
    */
  private[graft] def vecs(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
  }

  private val dotAB: Column = expr("graft_dot(av, bv)")

  /** Deterministic query-side bound shared by the ANN family (same
    * rationale as qv1's maxQueries): the 1%-query sample grows with
    * the collection, so the broadcast side (query vectors / PQ
    * distance tables) is capped to the lowest `MaxQueries` qids —
    * non-binding at every test SF, mirrored in every oracle.
    */
  val MaxQueries: Int = 1000
  private def qFilter: Column =
    col("vec_id") % 100 === 0 && col("vec_id") < lit(100L * MaxQueries)

  /** Hot-label cap for [[embedNearDup]]'s blocked self-join — the
    * qd2/qd4/qd11 sizing rule: (10⁴)² = 10⁸ pairs is the largest
    * within-block clique one task group absorbs in minutes, and at
    * 100 TB a majority-class label (the NORM for labeled corpora) would
    * otherwise go quadratic silently.
    */
  val EmbedMaxLabel: Long = 10000L

  /** qd5: embedding-cosine near-duplicate pairs, blocked by label.
    *
    * Hot-label guard (qd11's refusal pattern): the within-label join is
    * Σ|label|² — one tiny agg over the label counts (|labels| rows,
    * map-side combined on the join's own key) fails LOUDLY past
    * `maxLabel` naming the remedies, instead of dying hours into the
    * self-join. Session-cached so the eager guard action runs once per
    * (session, dir, thr, maxLabel); `Long.MaxValue` disables the guard
    * (no guard job, same pairs).
    */
  def embedNearDup(spark: SparkSession, sfDir: String, thr: Double = 0.25,
                   maxLabel: Long = EmbedMaxLabel): DataFrame =
    graft.util.StageCache.cached(spark, sfDir, s"embedneardup_${thr}_$maxLabel") {
      embedNearDupBuild(spark, sfDir, thr, maxLabel)
    }

  private def embedNearDupBuild(spark: SparkSession, sfDir: String, thr: Double,
                                maxLabel: Long): DataFrame = {
    require(maxLabel >= 1, s"maxLabel=$maxLabel")
    val e = vecs(spark, sfDir)
    if (maxLabel != Long.MaxValue) {
      val hot = e.groupBy("label").agg(count(lit(1)).as("m"))
        .filter(col("m") > maxLabel)
        .orderBy(col("m").desc).limit(1).collect()
      require(hot.isEmpty, {
        val r = hot.head
        s"embedNearDup: hot label ${r.get(0)} holds ${r.getLong(1)} vectors " +
          s"(> maxLabel=$maxLabel); the within-label pairwise join would be " +
          "quadratic in it. Use the IVF-celled semantic path " +
          "(semanticDedup, qd11 — cells grow with the collection so " +
          "blocks stay bounded) or pass a higher maxLabel explicitly."
      })
    }
    val a = e.select(col("vec_id").as("vec_a"), col("label"), col("v").as("av"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("label"), col("v").as("bv"), col("nrm").as("nb"))
    a.join(b, Seq("label")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .filter(col("cos") >= thr)
      .select(col("vec_a"), col("vec_b"), Num.r4(col("cos")).as("cos"))
  }

  /** qv1: brute-force cosine top-k — every 100th vector is a query; the
    * query side is broadcast against the full collection.
    *
    * `maxQueries` bounds the broadcast: the 1%-sample query side grows
    * with the collection (1 TB of queries at 100 TB), so the baseline
    * caps it at maxQueries × 64 dims × 8 B ≈ 0.5 MB — deterministic
    * (lowest qids), mirrored in the oracle, and non-binding at test
    * scales. A production brute-force pass over more queries should
    * flip the join: broadcast nothing, shuffle queries instead.
    */
  def cosineTopK(spark: SparkSession, sfDir: String, k: Int = 10, maxQueries: Int = 1000): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < lit(100L * maxQueries))
      .select(col("vec_id").as("qid"), col("v").as("av"), col("nrm").as("na"))
    val b = e.select(col("vec_id"), col("v").as("bv"), col("nrm").as("nb"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    b.crossJoin(broadcast(q)).filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), Num.r4(col("cos")).as("cos"), col("rnk"))
  }

  /** qv14: maximum-inner-product search (MIPS) top-k — the retrieval
    * objective of recommender / dense-retrieval scorers where vector
    * MAGNITUDE carries signal (un-normalized dot, unlike qv1's cosine).
    * Exact baseline in qv1's shape: broadcast capped query sample,
    * codegen graft_dot scan, per-query top-k via the partial
    * WindowGroupLimit push-down — the reference side never shuffles
    * more than ≤k rows per partition per query.
    *
    * Scale path: MIPS reduces EXACTLY to L2/cosine NN by norm
    * augmentation (x̃ = [x, √(M²−‖x‖²)], q̃ = [q, 0] — Bachrach et al.
    * RecSys 2014 / FAISS IndexFlatIP, public), so qv3/qv6's IVF(-PQ)
    * machinery serves MIPS unchanged over augmented vectors;
    * VectorExprSpec proves the reduction reproduces this exact top-k.
    */
  /** qv16: RANGE search — all neighbors within a similarity radius
    * (FAISS range_search, public): every collection vector with
    * cos ≥ τ of a query, no k cap. The dedup/recall workloads that
    * consume it ("everything ≥ 0.95 of this doc") can't be expressed
    * as top-k: the per-query match count is data-dependent. Exact
    * baseline shape: broadcast capped query sample + one codegen
    * graft_dot scan + a filter — NO window, no shuffle at all; the
    * output is O(matches). Scale path: IVF probes bound the scan by
    * the triangle inequality (a cell whose centroid is farther than
    * the radius + cell spread can't contain a match), the same cell
    * machinery qv3 runs — within-cell arithmetic identical to this
    * scan.
    */
  def rangeSearch(spark: SparkSession, sfDir: String, tau: Double = 0.3,
                  maxQueries: Int = 1000): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < lit(100L * maxQueries))
      .select(col("vec_id").as("qid"), col("v").as("av"), col("nrm").as("na"))
    val b = e.select(col("vec_id"), col("v").as("bv"), col("nrm").as("nb"))
    b.crossJoin(broadcast(q)).filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .filter(col("cos") >= tau)
      .select(col("qid"), col("vec_id"), Num.r4(col("cos")).as("cos"))
  }

  def mipsTopK(spark: SparkSession, sfDir: String, k: Int = 10,
               maxQueries: Int = 1000): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < lit(100L * maxQueries))
      .select(col("vec_id").as("qid"), col("v").as("av"))
    val b = e.select(col("vec_id"), col("v").as("bv"))
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("vec_id"))
    b.crossJoin(broadcast(q)).filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", dotAB)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), Num.r4(col("dot")).as("dot"), col("rnk"))
  }

  /** qv15: attribute-FILTERED vector search — exact cosine top-k where
    * each query only ranks collection vectors sharing its label (the
    * tenant / language / category predicate every production vector
    * store bolts onto ANN; FAISS IDSelector, pgvector WHERE, public).
    * PRE-filtering strategy: the predicate is an equi-join key, so the
    * broadcast hash join on `label` prunes the candidate stream BEFORE
    * any distance math — each collection row dots only against its own
    * label's queries, |labels|× less kernel work than qv1's unfiltered
    * scan, and top-k lists can never be starved by filtered-out
    * neighbors (the post-filter failure mode ANN engines document).
    * Scale: same capped broadcast query sample as qv1; the collection
    * side never shuffles (label join against the broadcast + per-query
    * WindowGroupLimit).
    */
  def filteredTopK(spark: SparkSession, sfDir: String, k: Int = 10,
                   maxQueries: Int = 1000): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < lit(100L * maxQueries))
      .select(col("vec_id").as("qid"), col("label"), col("v").as("av"), col("nrm").as("na"))
    val b = e.select(col("vec_id"), col("label"), col("v").as("bv"), col("nrm").as("nb"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    b.join(broadcast(q), Seq("label")).filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("label"), col("vec_id"), Num.r4(col("cos")).as("cos"), col("rnk"))
  }

  /** qv7: kNN label propagation — auto-label the query sample by
    * majority vote of its k nearest labeled neighbors (cosine), the
    * semi-supervised labeling pass run over an embedded corpus before
    * training a classifier on it. Queries are the ANN family's capped
    * sample with labels held out (scored against `true_label` for a
    * built-in quality readout); reference is everything else. Ties
    * break deterministically: neighbors by (cos desc, vec_id), votes
    * by (count desc, label asc). Same plan shape as qv1 — broadcast
    * capped query side, the reference side never shuffles before its
    * per-query top-k; at scale the candidate bound comes from qv3/qv6's
    * probes instead of the brute cross.
    */
  def knnLabel(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    require(k >= 1, s"k=$k: need at least one neighbor to vote")
    val e = vecs(spark, sfDir)
    val q = e.filter(qFilter)
      .select(col("vec_id").as("qid"), col("label").as("true_label"),
        col("v").as("av"), col("nrm").as("na"))
    val b = e.filter(not(qFilter))
      .select(col("vec_id"), col("label"), col("v").as("bv"), col("nrm").as("nb"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    val top = b.crossJoin(broadcast(q))
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
    val wv = Window.partitionBy("qid").orderBy(col("votes").desc, col("label"))
    top.groupBy("qid", "true_label", "label").agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
      .select(col("qid"), col("true_label"), col("label").as("pred_label"),
        col("votes"),
        when(col("true_label") === col("pred_label"), 1).otherwise(0).as("correct"))
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * the shared hashed-uniform family over key p·64+d, mirrored in the
    * oracle. Exact dyadic rationals (k/2^31 − 1/2), so the driver-side
    * Double equals the engine-side formula bit-for-bit.
    */
  private def planeW(p: Int, d: Int): Double =
    Num.hashedUniform(p.toLong * 64L + d.toLong)

  /** Per-vector LSH bucket id from sign bits of nPlanes projections —
    * a pure COLUMN over the vector, not a separate table.
    *
    * The nPlanes×64 plane weights are a few KB of constants — they ride
    * along as literal arrays inside the projection expressions (no
    * broadcast join, no shuffle), and each projection is one codegen'd
    * `graft_dot` pass over the vector. The bucket id is computed inline
    * on the scan (no self-join to a bucket table); at 100 TB this is
    * embarrassingly parallel with zero shuffle before the bucket join
    * itself. (The naive alternative — posexplode(v) × explode(planes)
    * → two groupBys — pushes 512 rows/vector through two shuffles.)
    */
  private def bucketCol(nPlanes: Int, dim: Int = 64): Column =
    (0 until nPlanes).map { p =>
      val pw = array((0 until dim).map(d => lit(planeW(p, d))): _*)
      when(call_function("graft_dot", col("v"), pw) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** qv2: LSH-bucketed ANN — candidates share the full bucket id; at
    * scale the bucket join replaces the quadratic scan entirely.
    */
  def lshAnn(spark: SparkSession, sfDir: String, nPlanes: Int = 8, k: Int = 5): DataFrame = {
    val e = vecs(spark, sfDir).withColumn("bucket", bucketCol(nPlanes))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("bucket"), col("v").as("av"), col("nrm").as("na"))
    val b = e.select(col("vec_id"), col("bucket"), col("v").as("bv"), col("nrm").as("nb"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    b.join(broadcast(q), Seq("bucket")).filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), Num.r4(col("cos")).as("cos"), col("rnk"))
  }

  /** qv4: ANN quality evaluation — recall@k of the IVF index against
    * the exact top-k baseline, in one query. The evaluation harness a
    * production ANN deployment runs before trusting the index at scale.
    */
  def annEval(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val exact = cosineTopK(spark, sfDir, k).select(col("qid"), col("vec_id"))
    val approx = ivfAnn(spark, sfDir, k = k)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("recall", Num.r4(col("n_hit") / col("n_exact")))
  }

  /** The qv3 assignment stage: nearest packed seed per vector via ONE
    * codegen'd argmin scan — exposed for the PlanSpec gate (the
    * checkpoint in ivfAnn hides this subtree behind a LogicalRDD).
    */
  private[graft] def cellAssign(e: DataFrame,
                                packedSeeds: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v")).crossJoin(broadcast(packedSeeds))
      .select(col("vec_id"), expr("int(graft_argmin_dist2(sf, v))").as("cell"))

  /** qv3: IVF-style ANN — cells seeded by the first nCells vec_ids, one
    * assignment pass, centroid = cell mean, queries probe the nProbe
    * nearest centroids and rank candidates in those cells. The cell
    * equi-join is the scale path; the centroid table broadcasts.
    */
  /** The seeded cell-assignment stage (vec_id, cell), shared by qv3
    * and qd11 through StageCache: cells are seeded by the first nCells
    * vec_ids and every vector joins its nearest seed (L2, ties → lower
    * cell). The nCells seed vectors pack into ONE flattened row sorted
    * by cell and broadcast; graft_argmin_dist2 scans them per vector in
    * a single codegen'd loop, keeping the FIRST index on exact ties —
    * i.e. the lowest cell, the same tie-break as min(struct(d2, cell)).
    * Zero shuffle on the collection side (the former shape fanned every
    * vector out ×nCells and shuffled 800k rows back through a groupBy).
    * The cached form is two narrow columns — trivial at any scale —
    * and every consumer (centroid build, candidate join, semantic
    * dedup) reads it instead of re-scanning the collection through the
    * kernel.
    */
  private[graft] def cellAssignment(spark: SparkSession, sfDir: String,
                                    nCells: Int): DataFrame =
    graft.util.StageCache.cached(spark, sfDir, s"ivfcells_$nCells") {
      val e = vecs(spark, sfDir)
      val seedIds = e.select("vec_id").orderBy("vec_id").limit(nCells)
        .withColumn("cell", row_number().over(Window.orderBy("vec_id")) - 1)
      val seeds = e.join(broadcast(seedIds), "vec_id").select(col("cell"), col("v").as("sv"))
      val packedSeeds = seeds
        .select(struct(col("cell"), col("sv")).as("s"))
        .agg(array_sort(collect_list(col("s"))).as("ps"))
        .select(flatten(expr("transform(ps, x -> x.sv)")).as("sf"))
      cellAssign(e, packedSeeds)
    }

  /** The IVF probe stage (qid, cell): nearest nProbe cell centroids per
    * query — shared by qv3 (exact re-rank) and qv6 (ADC re-rank).
    */
  /** The per-cell centroid table (cell, cv) — ONE definition shared by
    * the in-session probes and the persisted index (ModelStore
    * saveIvfIndex), so a saved index can never drift from the live one.
    */
  private[graft] def ivfCentroids(spark: SparkSession, sfDir: String,
                                  nCells: Int): DataFrame =
    centroidsFromAssign(vecs(spark, sfDir), cellAssignment(spark, sfDir, nCells))

  /** The per-cell centroid build over an EXPLICIT assignment — the
    * seam [[ivfCentroids]] (seeded assignment) and the post-split
    * lifecycle ([[splitToClean]]'s final assignment, ModelStore's
    * split-index persistence) share, so a split index's centroids are
    * by construction the same arithmetic as the live ones.
    */
  private[graft] def centroidsFromAssign(e: DataFrame, assign: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
      .join(broadcast(assign.select("vec_id", "cell")), "vec_id")
      .groupBy("cell", "d").agg(avg("x").as("c"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("dc"))
      .select(col("cell"), expr("transform(dc, s -> s.c)").as("cv"))

  /** The collection with its cell assignment attached — what
    * saveIvfIndex lays out cell-partitioned (the inverted lists).
    */
  private[graft] def vecsWithCell(spark: SparkSession, sfDir: String,
                                  nCells: Int): DataFrame =
    vecs(spark, sfDir)
      .join(cellAssignment(spark, sfDir, nCells), "vec_id")
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))

  /** The probe ranking WITH the rank kept (crank = the candidate
    * cell's probe level) — the one definition of "which cells does a
    * query probe, in what order"; qv3/qv6 drop the rank, qv17 sweeps
    * over it.
    */
  private[graft] def ivfProbeRanks(spark: SparkSession, sfDir: String,
                                   nCells: Int, maxProbe: Int): DataFrame = {
    val e = vecs(spark, sfDir)
    val centArr = ivfCentroids(spark, sfDir, nCells)
    val q = e.filter(qFilter)
    val wP = Window.partitionBy("qid").orderBy(col("d2"), col("cell"))
    q.select(col("vec_id").as("qid"), col("v"))
      .crossJoin(broadcast(centArr))
      .withColumn("d2", expr("graft_l2(v, cv)"))
      .withColumn("crank", row_number().over(wP)).filter(col("crank") <= maxProbe)
      .select("qid", "cell", "crank")
  }

  private[graft] def ivfProbes(spark: SparkSession, sfDir: String,
                               nCells: Int, nProbe: Int): DataFrame =
    ivfProbeRanks(spark, sfDir, nCells, nProbe).select("qid", "cell")

  def ivfAnn(spark: SparkSession, sfDir: String, nCells: Int = 16, nProbe: Int = 2, k: Int = 5): DataFrame = {
    val e = vecs(spark, sfDir)
    val assign = cellAssignment(spark, sfDir, nCells)
    val q = e.filter(qFilter)
    val probes = ivfProbes(spark, sfDir, nCells, nProbe)
    val cands = probes.join(assign, "cell").filter(col("qid") =!= col("vec_id"))
    val qv = q.select(col("vec_id").as("qid"), col("v").as("av"), col("nrm").as("na"))
    val bv = e.select(col("vec_id"), col("v").as("bv"), col("nrm").as("nb"))
    val wR = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    cands.join(broadcast(qv), "qid").join(bv, "vec_id")
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(wR))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), Num.r4(col("cos")).as("cos"), col("rnk"))
  }

  /** qv17: IVF probe-sweep tuning curve — recall@k as a function of
    * nProbe, in ONE plan (the recall-vs-cost curve every ANN
    * deployment publishes before pinning its probe count; the FAISS
    * tuning methodology, public). q27's sweep discipline applied to
    * the index: candidates are gathered ONCE for the largest swept
    * probe level with their cell's probe rank attached, fanned to the
    * swept levels they are visible at (bounded ×|sweep| over the
    * candidate stream — the level sets NEST, so level p is exactly
    * "cell rank ≤ p"), ranked per (level, query) and joined against
    * the exact top-k. Monotone nondecreasing recall by construction;
    * the nProbe=2 point reproduces qv4's single-point eval exactly
    * (VectorExprSpec-adjacent anchor in the spec).
    *
    * Scale shape: queries are the bounded deterministic sample (the
    * family's qFilter contract), so the candidate stream is
    * |sample| × the probed cells' contents — the sweep's price is the
    * largest level's scan, paid once, not per level; everything above
    * it is one fan + one window + one hash agg.
    */
  def probeSweep(spark: SparkSession, sfDir: String, nCells: Int = 16,
                 probes: Seq[Int] = Seq(1, 2, 4, 8), k: Int = 5): DataFrame = {
    require(probes.nonEmpty && probes.distinct == probes &&
      probes.forall(p => p >= 1 && p <= nCells),
      s"probes=$probes must be distinct levels in [1, nCells=$nCells]: " +
        "a duplicated level would double-count both sides of the recall join")
    val maxP = probes.max
    val e = vecs(spark, sfDir)
    val assign = cellAssignment(spark, sfDir, nCells)
    val q = e.filter(qFilter)
    val probeRank = ivfProbeRanks(spark, sfDir, nCells, maxP)
    val qv = q.select(col("vec_id").as("qid"), col("v").as("av"), col("nrm").as("na"))
    val bv = e.select(col("vec_id"), col("v").as("bv"), col("nrm").as("nb"))
    // the largest level's candidates are scored ONCE; the explode fan
    // below replicates rows (not recomputation), so no checkpoint
    val scored = probeRank.join(assign, "cell").filter(col("qid") =!= col("vec_id"))
      .join(broadcast(qv), "qid").join(bv, "vec_id")
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .select("qid", "vec_id", "crank", "cos")
    val fan = scored.select(col("qid"), col("vec_id"), col("cos"),
        explode(array(probes.map(p =>
          when(col("crank") <= p, lit(p))): _*)).as("nprobe"))
      .filter(col("nprobe").isNotNull)
    val wR = Window.partitionBy("nprobe", "qid").orderBy(col("cos").desc, col("vec_id"))
    val topk = fan.withColumn("rnk", row_number().over(wR)).filter(col("rnk") <= k)
    val exact = cosineTopK(spark, sfDir, k).select(col("qid"), col("vec_id"))
      .withColumn("nprobe", explode(array(probes.map(lit): _*)))
    exact.join(topk.select(col("nprobe"), col("qid"), col("vec_id"), lit(1).as("hit")),
        Seq("nprobe", "qid", "vec_id"), "left")
      .groupBy("nprobe")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("nprobe"), col("n_exact"), col("n_hit"),
        Num.r4(col("n_hit") / col("n_exact")).as("recall"))
  }

  /** qv5: product-quantization ANN with asymmetric distance computation
    * (PQ/ADC — Jégou et al. 2011, public). The 64-dim vectors split into
    * nSub=4 16-dim subspaces; each subspace trains a tiny nCode-entry
    * codebook (seeded by the first nCode vec_ids, one Lloyd refinement —
    * the same deterministic seeding as qv3) and every vector compresses
    * to nSub small codes. A query precomputes its distance table
    * (nSub × nCode subspace distances, r4-quantized so the fixed-order
    * 4-term ADC sum is bit-reproducible in both engines) and the
    * approximate distance to ANY vector is nSub table lookups.
    *
    * Scale shape: codebooks and assignments are one broadcast row per
    * subspace; the compressed collection is nSub longs per vector (vs
    * 64 doubles — the 16× compression is the point at 100 TB: the scan
    * side reads codes, never raw vectors); the query's distance tables
    * broadcast and the ADC scan is map-side with zero shuffle before
    * the per-query top-k. Candidate pruning composes with qv3's IVF
    * cells (IVF-PQ); here the ADC scan is exhaustive so accuracy
    * reflects quantization alone.
    */
  def pqAnn(spark: SparkSession, sfDir: String, nSub: Int = 4,
            nCode: Int = 16, k: Int = 5): DataFrame = {
    val (cw, dmaps) = pqIndex(spark, sfDir, nSub, nCode)
    val ad2 = (0 until nSub).map(m => expr(s"t$m[c$m]")).reduce(_ + _)
    val w = Window.partitionBy("qid").orderBy(col("ad2"), col("vec_id"))
    cw.crossJoin(broadcast(dmaps))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("ad2", ad2)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), Num.r4(col("ad2")).as("ad2"), col("rnk"))
  }

  /** The PQ index pair shared by qv5 (exhaustive ADC) and qv6 (IVF-PQ):
    * `cw` — the compressed collection (vec_id, c0..c{nSub-1}) — and
    * `dmaps` — per-query subspace distance tables (qid, t0..t{nSub-1}
    * maps of code → r4(d2)).
    */
  private[graft] def pqIndex(spark: SparkSession, sfDir: String, nSub: Int,
                             nCode: Int): (DataFrame, DataFrame) = {
    require(nSub >= 1 && 64 % nSub == 0, s"nSub=$nSub must divide the 64-dim embeddings")
    require(nCode >= 1, s"nCode=$nCode")
    val e = vecs(spark, sfDir)
    val subDim = 64 / nSub
    // (vec_id, m, sv): per-subspace slices; cached — feeds the initial
    // assignment, the Lloyd step, the code assignment and the queries
    val subs = graft.util.StageCache.cached(spark, sfDir, s"pqsubs_$nSub") {
      e.select(col("vec_id"), explode(array((0 until nSub).map(m =>
          struct(lit(m).as("m"), slice(col("v"), m * subDim + 1, subDim).as("sv"))): _*)).as("s"))
        .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    }
    val seedIds = e.select("vec_id").orderBy("vec_id").limit(nCode)
      .withColumn("code", row_number().over(Window.orderBy("vec_id")) - 1)
    // per-subspace packed seed row (seeds sorted by code → kernel's
    // first-index tie-break == ORDER BY d2, code)
    val seedPacked = subs.join(broadcast(seedIds), "vec_id")
      .select(col("m"), struct(col("code"), col("sv")).as("s"))
      .groupBy("m").agg(array_sort(collect_list(col("s"))).as("ps"))
      .select(col("m"), flatten(expr("transform(ps, x -> x.sv)")).as("sf"))
    val a0 = subs.join(broadcast(seedPacked), "m")
      .select(col("vec_id"), col("m"), col("sv"),
        expr("graft_argmin_dist2(sf, sv)").as("code"))
    // one Lloyd step: refined centroid = per-dim mean of assigned
    // subvectors, r4-quantized so downstream distances see identical
    // bits in both engines
    // the refined codebook is nSub × ≤nCode tiny rows but sits on a deep
    // two-branch lineage (assignment → seeds → subs); checkpointing it
    // stops every consumer (code assignment AND query distance tables)
    // from re-planning and re-compiling that whole subtree — at 100 TB
    // this is the codebook artifact a PQ index persists
    val cbArr = graft.util.StageCache.cached(spark, sfDir, s"pqcb_${nSub}_$nCode") {
      val cb = a0.select(col("m"), col("code"), posexplode(col("sv")).as(Seq("sd", "x")))
        .groupBy("m", "code", "sd").agg(Num.r4(avg("x")).as("c"))
      cb.groupBy("m", "code")
        .agg(array_sort(collect_list(struct(col("sd"), col("c")))).as("cs"))
        .select(col("m"), col("code"), expr("transform(cs, x -> x.c)").as("cv"))
    }
    // refined codebook packed per m; empty codes may drop out, so the
    // parallel `codeIds` array maps kernel indices back to code ids
    val cbPacked = cbArr.select(col("m"), struct(col("code"), col("cv")).as("s"))
      .groupBy("m").agg(array_sort(collect_list(col("s"))).as("ps"))
      .select(col("m"), flatten(expr("transform(ps, x -> x.cv)")).as("cf"),
        expr("transform(ps, x -> x.code)").as("codeIds"))
    // compressed collection: nSub codes per vector, pivoted wide
    val codes = subs.join(broadcast(cbPacked), "m")
      .select(col("vec_id"), col("m"),
        expr("element_at(codeIds, int(graft_argmin_dist2(cf, sv)) + 1)").as("code"))
    // the compressed collection (nSub codes per vector) — THE persisted
    // artifact of a PQ index; checkpointed so the ADC scan's plan is a
    // flat scan of codes, not the whole training chain
    val cwAggs = (0 until nSub).map(m => max(when(col("m") === m, col("code"))).as(s"c$m"))
    val cw = graft.util.StageCache.cached(spark, sfDir, s"pqcodes_${nSub}_$nCode") {
      codes.groupBy("vec_id").agg(cwAggs.head, cwAggs.tail: _*)
    }
    // per-query distance tables: one map per subspace, code → r4(d2)
    val dtab = subs.filter(qFilter)
      .join(broadcast(cbArr), "m")
      .select(col("vec_id").as("qid"), col("m"), col("code"),
        Num.r4(expr("graft_l2(sv, cv)")).as("d2"))
    val dmAggs = (0 until nSub).map(m =>
      map_from_entries(array_sort(collect_list(
        when(col("m") === m, struct(col("code"), col("d2")))))).as(s"t$m"))
    val dmaps = dtab.groupBy("qid").agg(dmAggs.head, dmAggs.tail: _*)
    (cw, dmaps)
  }

  /** qv6: IVF-PQ — the production ANN composition (Jégou et al. 2011
    * §IV): qv3's cell probes bound the candidate set, qv5's compressed
    * codes + per-query distance tables score it. Per query the scan
    * touches only the probed cells' members, each costing nSub map
    * lookups — at 100 TB the collection is visited through a
    * cell-partitioned codes table (bytes per vector) and nothing else;
    * the cached assignment, codebook and code stages are all shared
    * with qv3/qv5/qd11.
    */
  def ivfPqAnn(spark: SparkSession, sfDir: String, nCells: Int = 16,
               nProbe: Int = 2, nSub: Int = 4, nCode: Int = 16,
               k: Int = 5): DataFrame = {
    val (cw, dmaps) = pqIndex(spark, sfDir, nSub, nCode)
    val cands = ivfProbes(spark, sfDir, nCells, nProbe)
      .join(cellAssignment(spark, sfDir, nCells), "cell")
      .filter(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id")
    val ad2 = (0 until nSub).map(m => expr(s"t$m[c$m]")).reduce(_ + _)
    val w = Window.partitionBy("qid").orderBy(col("ad2"), col("vec_id"))
    cands.join(cw, "vec_id").join(broadcast(dmaps), "qid")
      .withColumn("ad2", ad2)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), Num.r4(col("ad2")).as("ad2"), col("rnk"))
  }

  /** The SQ8 artifact: per-dim 256-level uniform quantizer (the 64
    * (mn, scale) pairs — ONE tiny broadcast row from a posexplode agg,
    * map-side combined) applied and immediately reconstructed:
    * rv[d] = r6(mn[d] + code·scale[d]) with
    * code = clamp(floor((x − mn[d])/scale[d] + ½), 0, 255). The r6
    * quantization pins the reconstructed component bits the oracle
    * reproduces. Coding+reconstruction is a stateless projection on the
    * scan — no shuffle; at 100 TB the one-byte codes (8× smaller than
    * the doubles) are THE persisted artifact and `rv` is what a reader
    * materializes from them.
    */
  private[graft] def sq8Recon(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.StageCache.cached(spark, sfDir, "sq8recon") {
      // quantize → reconstruct through the SAME two shared pieces the
      // persisted index uses (codes are exact integral doubles, so the
      // int round-trip reproduces the former inline chain bit-for-bit —
      // ModelStoreSpec asserts it)
      val (params, codes) = sq8IndexFrames(spark, sfDir)
      sq8ReconFrom(params, codes)
    }

  /** The SQ8 index as PERSISTABLE frames — the artifact ModelStore
    * writes: `params` is ONE row (per-dim mn / sc grids), `codes` is
    * one uint8-per-dim row per vector (stored as int array — parquet
    * byte-packs it). [[sq8ReconFrom]] rebuilds exactly [[sq8Recon]]'s
    * `rv` from them (same grid arithmetic, same 1e-6 rounding), so a
    * reader of the saved index scores bit-identically to the
    * in-session quantizer.
    */
  /** The SQ8 grid params — ONE row (per-dim mn / sc), the single
    * definition every quantize/reconstruct path shares; session-cached
    * so a save (params + codes) scans the collection's min/max once.
    */
  private def sq8Params(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.StageCache.cached(spark, sfDir, "sq8params") {
      vecs(spark, sfDir).select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
        .withColumn("sc", when(col("mx") > col("mn"),
          (col("mx") - col("mn")) / 255d).otherwise(lit(1d)))
        .groupBy()
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("ms"),
          array_sort(collect_list(struct(col("pos"), col("sc")))).as("ss"))
        .select(expr("transform(ms, p -> p.mn)").as("mn"),
          expr("transform(ss, p -> p.sc)").as("sc"))
    }

  private[graft] def sq8IndexFrames(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val params = sq8Params(spark, sfDir)
    val codes = vecs(spark, sfDir).crossJoin(broadcast(params))
      .select(col("vec_id"), expr(
        "transform(v, (x, d) -> CAST(least(255d, greatest(0d, " +
          "floor((x - element_at(mn, d+1)) / element_at(sc, d+1) + 0.5d))) AS INT))").as("code"))
    (params, codes)
  }

  /** Reconstruct (vec_id, rv) from saved SQ8 params + codes — the
    * identical grid + 1e-6 rounding chain as [[sq8Recon]].
    */
  private[graft] def sq8ReconFrom(params: DataFrame, codes: DataFrame): DataFrame =
    codes.crossJoin(broadcast(params))
      .select(col("vec_id"), expr("transform(code, (c, d) -> " +
        Num.r6expr("element_at(mn, d+1) + CAST(c AS DOUBLE) * element_at(sc, d+1)") + ")").as("rv"))

  /** qv11: scalar-quantized (SQ8) ANN — the third classic
    * compression point next to qv5's PQ (FAISS ScalarQuantizer QT_8bit,
    * public): one byte per dimension on a per-dim uniform grid, queries
    * score EXACT query vector vs RECONSTRUCTED collection (asymmetric,
    * like ADC). Plan shape is qv1's: the capped query sample broadcasts,
    * the collection side is a stateless recon projection + the graft_l2
    * codegen kernel, and the only shuffle anywhere is the per-query
    * top-k rank. Where PQ distorts along codebook cells, SQ8 distorts
    * per-axis — qv4-style recall vs the exact baseline picks between
    * them.
    */
  def sq8Ann(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(qFilter).select(col("vec_id").as("qid"), col("v").as("av"))
    val w = Window.partitionBy("qid").orderBy(col("ad2"), col("vec_id"))
    sq8Recon(spark, sfDir).crossJoin(broadcast(q))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("ad2", expr("graft_l2(av, rv)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), Num.r4(col("ad2")).as("ad2"), col("rnk"))
  }

  /** qv12: two-stage refine ANN (FAISS IndexRefine / Matryoshka-prefix
    * retrieval, public): stage 1 ranks the collection per query on the
    * first `preDims` dimensions only (4× less arithmetic and — with
    * prefix-truncated storage — 4× less I/O than the full vector),
    * keeping the top `candK`; stage 2 re-scores ONLY those candidates
    * with the exact full-dim cosine and keeps the top k. The candidate
    * stage bounds the expensive exact work: per query, candK full-dim
    * dots instead of |collection|.
    *
    * Scale shape: both stages are qv1's broadcast-capped pattern — the
    * query sample broadcasts, the collection side never shuffles before
    * its per-query top-candK rank; the rerank touches candK rows per
    * query. At 100 TB stage 1 reads a 16-dim prefix column (stored
    * separately, parquet-pruned), and candK tunes the recall/cost knob
    * the qv4-style eval measures.
    */
  def refineAnn(spark: SparkSession, sfDir: String, preDims: Int = 16,
                candK: Int = 50, k: Int = 5): DataFrame = {
    require(preDims >= 1 && preDims <= 64, s"preDims=$preDims")
    require(candK >= k, s"candK=$candK must cover k=$k")
    val e = vecs(spark, sfDir)
    val q = e.filter(qFilter)
      .select(col("vec_id").as("qid"), col("v").as("av"), col("nrm").as("na"),
        slice(col("v"), 1, preDims).as("ap"))
    val b = e.select(col("vec_id"), col("v").as("bv"), col("nrm").as("nb"),
      slice(col("v"), 1, preDims).as("bp"))
    val wc = Window.partitionBy("qid").orderBy(col("pd2"), col("vec_id"))
    val cands = b.crossJoin(broadcast(q)).filter(col("qid") =!= col("vec_id"))
      .withColumn("pd2", expr("graft_l2(ap, bp)"))
      .withColumn("crnk", row_number().over(wc))
      .filter(col("crnk") <= candK)
    val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    cands
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), Num.r4(col("cos")).as("cos"), col("rnk"))
  }

  /** qv13: distributed k-means index training — the Lloyd loop that
    * BUILDS the IVF structures qv3/qv6/qd11 probe (they use seeded
    * assignment + at most one refinement; this is the real trainer).
    * Each round is: ONE broadcast of the packed centroid row + a
    * stateless graft_argmin_dist2 assignment on the scan, then a
    * (cell, pos) hash-agg whose map-side partials reduce every
    * partition to ≤ nCells×64 cells — the classic scalable k-means
    * round (no pairwise joins, no driver data beyond the centroids).
    * Centroid components accumulate as 1e-6 scaled int64 and quantize
    * r6 (exact, order-free — raw float means flip bits with partition
    * order), so every round is bit-reproducible in both engines.
    *
    * Output: per-cell member count and inertia (Σ r4-quantized min-d2
    * as exact scaled ints) — the convergence report a training job
    * logs per round. Deterministic seeding: the nCells lowest vec_ids,
    * cell = seed rank (ref: standard Lloyd 1982 / FAISS Clustering,
    * public).
    */
  def kmeansFit(spark: SparkSession, sfDir: String, nCells: Int = 16,
                iters: Int = 2): DataFrame = {
    require(nCells >= 1 && iters >= 0, s"nCells=$nCells iters=$iters")
    // driver memory bound: each round holds nCells×dim doubles on the
    // driver (the same artifact MLlib's KMeans keeps) — 64k cells × 64
    // dims ≈ 32 MB; far below row-scale data
    val e = vecs(spark, sfDir)
    def packed(cent: DataFrame): DataFrame = cent
      .select(struct(col("cell"), col("cv")).as("s"))
      .groupBy().agg(array_sort(collect_list(col("s"))).as("ps"))
      .select(flatten(expr("transform(ps, x -> x.cv)")).as("cf"),
        expr("transform(ps, x -> x.cell)").as("cellIds"))
    var cent: DataFrame = e.orderBy("vec_id").limit(nCells)
      .withColumn("cell", (row_number().over(Window.orderBy("vec_id")) - 1).cast("long"))
      .select(col("cell"), col("v").as("cv"))
    // Each round MATERIALIZES its ≤ nCells×dim centroid rows on the
    // driver and re-literalizes them (LocalRelation) — the MLlib/FAISS
    // contract: centers are the driver-resident artifact of k-means,
    // broadcast each round. Without this, round i's plan embeds every
    // prior round's full-collection assignment subtree — linear
    // re-derivation per round and Catalyst plans that grow without
    // bound in `iters`. Values are unchanged: the centroid components
    // are already exact r6-quantized doubles when collected.
    import spark.implicits._
    for (_ <- 0 until iters) {
      val assigned = e.crossJoin(broadcast(packed(cent)))
        .select(col("vec_id"), col("v"),
          expr("element_at(cellIds, int(graft_argmin_dist2(cf, v)) + 1)").as("cell"))
      val next = centroids(assigned, Seq("cell")).select("cell", "cv")
        .as[(Long, Seq[Double])].collect().toSeq
      cent = spark.createDataset(next).toDF("cell", "cv")
    }
    // one scan per vector: the nearest centroid's index, then its
    // squared distance re-read over that centroid's slice (bit-equal to
    // the scan's minimum)
    e.crossJoin(broadcast(packed(cent)))
      .withColumn("j", expr("int(graft_argmin_dist2(cf, v))"))
      .select(
        expr("element_at(cellIds, j + 1)").as("cell"),
        Num.q4(expr("graft_l2(slice(cf, j * size(v) + 1, size(v)), v)")).as("d2q"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), Num.r4(sum("d2q") / 10000d).as("inertia"))
  }

  /** qd11: semantic dedup — SemDeDup (Abbas et al. 2023,
    * arXiv:2303.09540, public) re-expressed relationally: embeddings
    * cluster into qv3's deterministic seeded cells (shared cached
    * assignment stage), and within a cell a vector is a semantic dup
    * when any lower-id vector has cosine ≥ thr; the lowest-id member of
    * each near-dup neighborhood survives. Comparisons never leave a
    * cell — the only shuffle is the cell equi-join (shuffle_hash so the
    * array payloads are never sort-buffered), never all-pairs. At
    * 100 TB nCells grows with the collection so per-cell candidate sets
    * stay bounded (the paper's k-means plays the seeded assignment's
    * role), and the output is the per-vector keep/drop verdict a
    * training-data pipeline filters the corpus by.
    *
    * Hot-cell guard: the within-cell join is Σ|cell|² — a skewed
    * embedding distribution (mass-duplicated vectors, a collapsed
    * encoder) concentrating a cell past `maxCell` would go quadratic
    * in ONE task group, so the call FAILS LOUDLY (one tiny agg over
    * the cached assignment — |cells| rows) naming the two remedies
    * (more cells, i.e. SemDeDup's own knob, or an explicit higher cap)
    * instead of silently dying hours into the join. qv10 is the
    * matching post-build audit (share/skew per cell).
    */
  def semanticDedup(spark: SparkSession, sfDir: String, nCells: Int = 16,
                    thr: Double = 0.3, maxCell: Long = 1L << 20): DataFrame =
    // session-cached (qd6/qd14's discipline): the hot-cell guard is an
    // eager Spark action at builder time, so without the cache EVERY
    // caller — including one that only wants the plan — pays the guard
    // job; with it the guard (and the build) run once per session
    graft.util.StageCache.cached(spark, sfDir, s"semdedup_${nCells}_${thr}_$maxCell") {
      semanticDedupBuild(spark, sfDir, nCells, thr, maxCell)
    }

  private def semanticDedupBuild(spark: SparkSession, sfDir: String, nCells: Int,
                                 thr: Double, maxCell: Long): DataFrame = {
    require(maxCell >= 1, s"maxCell=$maxCell")
    val e = vecs(spark, sfDir)
    val assign = cellAssignment(spark, sfDir, nCells)
    val hot = assign.groupBy("cell").agg(count(lit(1)).as("m"))
      .filter(col("m") > maxCell)
      .orderBy(col("m").desc).limit(1).collect()
    require(hot.isEmpty, {
      val r = hot.head
      s"semanticDedup: hot cell ${r.get(0)} holds ${r.getLong(1)} vectors " +
        s"(> maxCell=$maxCell); the within-cell pairwise join would be " +
        s"quadratic in it. Raise nCells (currently $nCells — SemDeDup's " +
        s"cluster-count knob) or pass a higher maxCell explicitly."
    })
    val withV = assign
      .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
    val a = withV.select(col("cell"), col("vec_id").as("vec_a"), col("v").as("av"), col("nrm").as("na"))
    val b = withV.select(col("cell"), col("vec_id").as("vec_b"), col("v").as("bv"), col("nrm").as("nb"))
    val dups = a.hint("shuffle_hash").join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b") && dotAB / (col("na") * col("nb")) >= thr)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(count(lit(1)).as("n_prior_dups"))
    withV.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_prior_dups"), lit(0L)).as("n_prior_dups"),
        col("n_prior_dups").isNull.as("keep"))
  }

  /** qv8: label-centroid outlier audit — the embedding-space
    * label-noise / cluster-purity check (Confident-Learning-style
    * signal): per label, the element-wise mean embedding; per vector,
    * its cosine to its own label's centroid; vectors below `minCos`
    * flag as suspect. Scale shape: centroids are a posexplode →
    * (label, pos) hash-agg — map-side partial combine collapses each
    * partition to |labels|×64 cells, so the shuffle is tiny and the
    * result (|labels| rows) broadcasts back for a stateless scoring
    * pass. Centroid components accumulate as 1e-6 scaled int64 (exact,
    * order-free — a raw float mean over millions of rows differs by
    * accumulation order) and the centroid is r6-quantized so both
    * engines score identical bits.
    */
  /** Per-group element-wise mean embedding (1e-6 scaled-int exact
    * accumulation, r6-quantized components) with its norm — shared by
    * qv8 (per-label), qv9 (per label × snapshot half) and each k-means
    * round (per cell).
    */
  private def centroids(e: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    e.select(kc :+ posexplode(col("v")).as(Seq("pos", "x")): _*)
      .withColumn("xq", Num.q6(col("x")))
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(Num.fromQ6(floor(sum("xq") / count(lit(1)) + 0.5d)).as("c"),
        count(lit(1)).as("ng"))
      .groupBy(kc: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("cs"),
        max("ng").as("n_vecs"))
      .select(kc ++ Seq(expr("transform(cs, p -> p.c)").as("cv"), col("n_vecs")): _*)
      .withColumn("cnrm", sqrt(expr("graft_dot(cv, cv)")))
  }

  def centroidOutlier(spark: SparkSession, sfDir: String, minCos: Double = 0.2): DataFrame = {
    val e = vecs(spark, sfDir)
    val cent = centroids(e, Seq("label")).select("label", "cv", "cnrm")
    e.join(broadcast(cent), "label")
      .withColumn("cos_c", expr("graft_dot(v, cv)") / (col("nrm") * col("cnrm")))
      .select(col("vec_id"), col("label"), Num.r4(col("cos_c")).as("cos_c"),
        when(Num.r4(col("cos_c")) < minCos, 1).otherwise(0).as("suspect"))
  }

  /** qv10: ANN index balance audit — per IVF cell: member count, share
    * and the skew factor n·|cells|/total (qp5's discipline applied to
    * the index): a hot cell slows every query probing it and starves
    * recall elsewhere, so this is the post-build gate before an index
    * ships. Derivative of the SHARED cached cell assignment (qv3/qv6/
    * qd11 reuse it) — one |cells|-row rollup with map-side partials,
    * plus a broadcast total.
    */
  def indexStats(spark: SparkSession, sfDir: String,
                 nCells: Int = 16, hotFactor: Double = 2.0): DataFrame = {
    require(hotFactor > 0, s"hotFactor=$hotFactor")
    val assign = cellAssignment(spark, sfDir, nCells)
    val counts = assign.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val total = counts.agg(sum("n_vecs").as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        Num.r4(col("n_vecs") / col("total")).as("share"),
        Num.r4(col("n_vecs") * nCells / col("total")).as("skew"))
      .withColumn("hot", when(col("skew") > hotFactor, 1).otherwise(0))
  }

  /** qv26: hot-cell SPLIT — the index-maintenance operator qv10's
    * audit exists to TRIGGER (FAISS IndexIVF's split/re-add lifecycle,
    * public; every guard refusal in this repo names "the IVF-celled
    * path / raise nCells" as the remedy — this is that remedy as an
    * executable op). A cell whose occupancy clears `hotFactor` under
    * qv10's own r4-rounded skew rule (the split set is EXACTLY the
    * audit's hot set) is split in place: `nSplit` sub-seeds are the
    * cell's own lowest vec_ids (qv3's deterministic seeding applied
    * WITHIN the cell), every member takes one Lloyd assignment to its
    * nearest sub-seed (L2, first-index tie-break — the shared codegen
    * argmin kernel), child 0 keeps the old cell id and child j lands at
    * nCells + hotRank·(nSplit−1) + (j−1) — FAISS add-list numbering:
    * existing cells never renumber, so probes/routing for cold cells
    * stay valid. Output is the POST-SPLIT occupancy report — one row
    * per occupied cell (untouched cells ride through with
    * old_cell = cell), share and skew recomputed against the
    * post-split cell count: directly comparable to qv10's pre-split
    * audit and the input to qv21's next growth review.
    *
    * Scale shape: hot detection is qv10's |cells|-row rollup over the
    * SHARED cached assignment; members join the ≤|cells|-row hot table
    * by broadcast; the sub-seed pick is a group-limited rank
    * (row_number with ADJACENT rn ≤ nSplit — qt21/qa3's partial
    * WindowGroupLimit discipline, so a 10⁸-member hot cell ships
    * O(nSplit × tasks) rows to its reducer, never its sorted self);
    * the packed per-cell sub-seed rows broadcast (≤ |hot|·nSplit
    * vectors) and reassignment is ONE stateless codegen argmin pass
    * over the hot cells' members. Nothing pairwise, nothing
    * data-scaled crosses the wire beyond the members' own re-keying.
    * A child whose Voronoi half captures no member is absent from the
    * report (occupancy = occupied cells).
    */
  def hotCellSplit(spark: SparkSession, sfDir: String, nCells: Int = 16,
                   hotFactor: Double = 2.0, nSplit: Int = 2): DataFrame = {
    require(nSplit >= 2, s"nSplit=$nSplit: a split needs at least 2 children")
    val stats = indexStats(spark, sfDir, nCells, hotFactor)
    // hot set = EXACTLY qv10's flag; hrank numbers hot cells by id over
    // the ≤|cells|-row audit (bounded window, same discipline as the
    // seed numbering in cellAssignment)
    val hot = stats.filter(col("hot") === 1)
      .select(col("cell").cast("int").as("cell"))
      .withColumn("hrank", row_number().over(Window.orderBy("cell")) - 1)
    val e = vecs(spark, sfDir)
    val children =
      splitMembers(e, cellAssignment(spark, sfDir, nCells), hot, nCells.toLong, nSplit)
      .groupBy(col("cell").cast("long").as("old_cell"), col("new_cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val untouched = stats.filter(col("hot") === 0)
      .select(col("cell").as("old_cell"), col("cell").as("new_cell"), col("n_vecs"))
    val post = children.unionByName(untouched)
    val tot = post.agg(sum("n_vecs").as("total"), count(lit(1)).as("n_cells_post"))
    post.crossJoin(broadcast(tot))
      .select(col("new_cell").as("cell"), col("old_cell"), col("n_vecs"),
        Num.r4(col("n_vecs") / col("total")).as("share"),
        Num.r4(col("n_vecs") * col("n_cells_post") / col("total")).as("skew"))
  }

  /** The split ROUND kernel shared by qv26's one-shot report and the
    * [[splitToClean]] fixpoint: for the members of the `hot` cells
    * ((cell, hrank) — a bounded broadcast), pick nSplit sub-seeds (the
    * cell's lowest vec_ids via a group-limited rank — partial
    * WindowGroupLimit, never a sorted mega-cell), broadcast the packed
    * per-cell sub-seed rows, and take ONE stateless codegen argmin
    * pass. Child 0 keeps the old cell id; child j lands at
    * base + hrank·(nSplit−1) + (j−1) — FAISS add-list numbering, so
    * existing cells never renumber. Returns one row per hot member:
    * (vec_id, cell = old, hrank, j, new_cell).
    */
  private def splitMembers(e: DataFrame, assign: DataFrame, hot: DataFrame,
                           base: Long, nSplit: Int): DataFrame = {
    val members = e.select("vec_id", "v")
      .join(assign.select("vec_id", "cell"), "vec_id")
      .join(broadcast(hot), Seq("cell"))
    val wSeed = Window.partitionBy("cell").orderBy("vec_id")
    val subSeeds = members.select("cell", "vec_id")
      .withColumn("rn", row_number().over(wSeed))
      .filter(col("rn") <= nSplit)
      .select(col("cell"), col("vec_id"), (col("rn") - 1).as("j"))
    // one packed sub-seed row per hot cell (cellAssign's flattened-row
    // trick, per cell instead of global) — broadcast into the members
    val seedVecs = subSeeds.join(e.select("vec_id", "v"), "vec_id")
      .select(col("cell"), struct(col("j"), col("v").as("sv")).as("s"))
      .groupBy("cell")
      .agg(array_sort(collect_list(col("s"))).as("ps"))
      .select(col("cell"), flatten(expr("transform(ps, x -> x.sv)")).as("sf"))
    members.join(broadcast(seedVecs), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("hrank"),
        expr("int(graft_argmin_dist2(sf, v))").as("j"))
      .withColumn("new_cell",
        when(col("j") === 0, col("cell").cast("long"))
          .otherwise(lit(base) + col("hrank") * (nSplit - 1) + col("j") - 1))
  }

  /** qv26's LIFECYCLE closed (VERDICT r17 next #3b): iterate the hot-cell
    * split until qv10's audit is CLEAN or `maxRounds` is exhausted —
    * qd24/ccFrom's run-until-clean discipline applied to index
    * maintenance (FAISS split/re-add until balanced). Returns the final
    * ASSIGNMENT (vec_id, cell): the artifact the serving path consumes
    * (ModelStore.saveSplitIvfIndex persists its centroids + inverted
    * lists; [[annEvalFrom]] evaluates its recall).
    *
    * Round arithmetic: EVERY round's hot set is qv10's rule (skew =
    * r4(n·nCells/total) > hotFactor) against the CONFIGURED cell
    * count — an absolute max-occupancy bound (no cell above
    * hotFactor× the original uniform share), which is FAISS's split
    * criterion and the only rule under which the fixpoint terminates:
    * auditing against the growing post-split cell count (the
    * descriptive denominator [[hotCellSplit]]'s one-shot report
    * publishes) would shrink the threshold with every split and chase
    * its own children. Round 1's hot set is therefore EXACTLY qv10's
    * flag. New children append after the current max cell id (cold
    * ids stable across every round). Each round's audit is a |cells|-row rollup
    * (bounded driver read — the model table the audit IS); the data-
    * scaled work per round is one broadcast argmin pass over the hot
    * cells' members only. A split that stops converging (a cell of
    * near-identical vectors splits into one full + empty child — the
    * duplicate-mass case qd5/semanticDedup exist to drain first) fails
    * LOUDLY after maxRounds instead of looping.
    */
  def splitToClean(spark: SparkSession, sfDir: String, nCells: Int = 16,
                   hotFactor: Double = 2.0, nSplit: Int = 2,
                   maxRounds: Int = 8): DataFrame = {
    require(nSplit >= 2 && maxRounds >= 1, s"nSplit=$nSplit maxRounds=$maxRounds")
    import spark.implicits._
    val e = vecs(spark, sfDir)
    var assign = cellAssignment(spark, sfDir, nCells)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    var round = 0
    while (round <= maxRounds) {
      val counts = assign.groupBy("cell").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val total = counts.map(_._2).sum.toDouble
      val hotIds = counts.filter { case (_, n) => Num.r4(n * nCells / total) > hotFactor }
        .map(_._1).sorted
      if (hotIds.isEmpty) return assign
      if (round == maxRounds)
        throw new IllegalStateException(
          s"splitToClean: ${hotIds.length} cell(s) still hot after $maxRounds rounds " +
            s"(cells ${hotIds.take(5).mkString(",")}…) — duplicate-mass cells cannot " +
            "be balanced by splitting; drain near-dups (qd5/semanticDedup) or raise nCells")
      val base = math.max(counts.map(_._1).max + 1L, nCells.toLong)
      val hotDf = hotIds.zipWithIndex.map { case (c, i) => (c, i) }.toSeq
        .toDF("cell", "hrank")
      val moved = splitMembers(e, assign, hotDf, base, nSplit)
        .select(col("vec_id"), col("new_cell").as("cell"))
      assign = assign.join(hotDf.select("cell"), Seq("cell"), "left_anti")
        .select("vec_id", "cell")
        .unionByName(moved)
        .localCheckpoint()
      round += 1
    }
    assign // unreachable
  }

  /** IVF probe/rank over an EXPLICIT assignment — qv3's exact probe and
    * rank arithmetic (same kernels, same tie-breaks) parameterized by
    * the cell table, so the post-split index answers queries through
    * the identical code shape the pre-split one did.
    */
  private[graft] def ivfProbesFrom(spark: SparkSession, sfDir: String,
                                   assign: DataFrame, nProbe: Int): DataFrame = {
    val e = vecs(spark, sfDir)
    val centArr = centroidsFromAssign(e, assign)
    val q = e.filter(qFilter)
    val wP = Window.partitionBy("qid").orderBy(col("d2"), col("cell"))
    q.select(col("vec_id").as("qid"), col("v"))
      .crossJoin(broadcast(centArr))
      .withColumn("d2", expr("graft_l2(v, cv)"))
      .withColumn("crank", row_number().over(wP)).filter(col("crank") <= nProbe)
      .select("qid", "cell")
  }

  private[graft] def ivfAnnFrom(spark: SparkSession, sfDir: String,
                                assign: DataFrame, nProbe: Int, k: Int): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(qFilter)
    val probes = ivfProbesFrom(spark, sfDir, assign, nProbe)
    val cands = probes.join(assign.select("vec_id", "cell"), "cell")
      .filter(col("qid") =!= col("vec_id"))
    val qv = q.select(col("vec_id").as("qid"), col("v").as("av"), col("nrm").as("na"))
    val bv = e.select(col("vec_id"), col("v").as("bv"), col("nrm").as("nb"))
    val wR = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    cands.join(broadcast(qv), "qid").join(bv, "vec_id")
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .withColumn("rnk", row_number().over(wR))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), Num.r4(col("cos")).as("cos"), col("rnk"))
  }

  /** Recall@k of an explicit-assignment probe against the exact top-k —
    * qv4's eval parameterized the same way; the spec gate for "the
    * split index SERVES": post-split recall at equal nProbe must not
    * drop below the pre-split probe (the point of splitting).
    */
  private[graft] def annEvalFrom(spark: SparkSession, sfDir: String,
                                 assign: DataFrame, nProbe: Int = 2,
                                 k: Int = 5): DataFrame = {
    val exact = cosineTopK(spark, sfDir, k).select(col("qid"), col("vec_id"))
    val approx = ivfAnnFrom(spark, sfDir, assign, nProbe, k)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("recall", Num.r4(col("n_hit") / col("n_exact")))
  }

  /** qv9: embedding drift monitor — per label, the centroid of the
    * "old" snapshot (even vec_ids) vs the "new" one (odd vec_ids):
    * cosine between the two centroids + the L2 mean-shift norm, the
    * qp7-for-embeddings retraining gate (a re-embedded or upstream-
    * shifted corpus moves the per-class means long before downstream
    * eval catches it). Same two-pass scale shape as qv8 — one
    * map-side-combined (label, half, pos) agg to 2×|labels|×64 cells,
    * then a |labels|-row self-join; NOTHING row-wise crosses the wire
    * twice. In production the halves are yesterday's and today's
    * snapshot tables.
    */
  def centroidDrift(spark: SparkSession, sfDir: String, minCos: Double = 0.98): DataFrame = {
    val e = vecs(spark, sfDir).withColumn("half", (col("vec_id") % 2).cast("int"))
    val cent = centroids(e, Seq("label", "half"))
    val a = cent.filter(col("half") === 0)
      .select(col("label"), col("cv").as("av"), col("cnrm").as("na"), col("n_vecs").as("n_old"))
    val b = cent.filter(col("half") === 1)
      .select(col("label"), col("cv").as("bv"), col("cnrm").as("nb"), col("n_vecs").as("n_new"))
    a.join(b, "label")
      .withColumn("cos_ab", dotAB / (col("na") * col("nb")))
      .select(col("label"), col("n_old"), col("n_new"),
        Num.r4(col("cos_ab")).as("cos_ab"),
        Num.r4(sqrt(expr("graft_l2(av, bv)"))).as("l2_shift"),
        when(Num.r4(col("cos_ab")) < minCos, 1).otherwise(0).as("drifted"))
  }

  /** BM25 constants (Robertson et al., the k1/b everyone ships). */
  val Bm25K1: Double = 1.2
  val Bm25B: Double = 0.75
  /** RRF smoothing constant (Cormack et al. 2009's k=60). */
  val RrfK: Int = 60
  /** qv18's stop-term valve (qd3/qd18's df-cap discipline, ON by
    * default): a query term is ELIGIBLE for candidate generation while
    * df ≤ max(Bm25MaxDfFloor, n_docs / Bm25MaxDfShare) — exact integer
    * arithmetic, identical in both engines. Term selection PREFERS
    * eligible terms (eligibility ranks above TF-IDF in the per-query
    * ordering) and falls back to over-cap terms only when the query has
    * fewer than nTerms eligible ones — a query made of stop words must
    * still retrieve, the graceful degradation every lexical engine
    * ships. Sizing rule: on a Zipfian corpus virtually every document
    * has ≥ nTerms rare terms, so the posting equi-join output is
    * ≤ |Q|·nTerms·max(20, N/100) — linear in corpus size with a 1%
    * constant — and only degenerate all-stop-word queries pull a wide
    * posting list (bounded by nTerms·|Q_degenerate|·N, with BM25's IDF
    * already near-zeroing those terms' contributions). The floor keeps
    * tiny corpora from demoting everything. The synthetic test corpus
    * is the degenerate case BY CONSTRUCTION (31 near-universal tokens,
    * min df = 5%·N), so it exercises exactly the fallback path while
    * the planted-postings spec exercises the eligible path.
    */
  val Bm25MaxDfFloor: Long = 20L
  val Bm25MaxDfShare: Long = 100L
  /** qv24's fallback HARD CEILING divisor: when a query lacks eligible
    * terms, over-cap terms may backfill only while df ≤ n_docs /
    * Bm25FallbackMaxDfShare — terms hotter than that are REFUSED
    * outright (the query's lexical branch degrades to fewer or zero
    * candidates and the dense branch carries it), because joining a
    * posting list that covers half the corpus per degenerate query is
    * exactly the Σdf blowup the valve exists to prevent, and BM25's IDF
    * has already near-zeroed such terms. Share=1 (ceiling = n_docs)
    * admits everything — qv18/qv22's permissive default, which keeps
    * retrieval alive on all-stop-word corpora; qv24 registers the
    * guarded serving configuration with this divisor.
    */
  val Bm25FallbackMaxDfShare: Long = 2L

  /** qv18: HYBRID retrieval — BM25 keyword search fused with dense
    * cosine search by reciprocal-rank fusion (RRF, Cormack et al.
    * 2009) — the lexical+dense fusion Elasticsearch / Vespa /
    * OpenSearch ship as their RAG retrieval default. Queries are
    * qv1's 1% doc sample (doc_id ≙ vec_id — the documents' own
    * embeddings); each query's terms are its top-`nTerms` TF-IDF
    * tokens (qt7's exact quantized ranking), so the whole thing runs
    * from the two base tables with no free-text input.
    *
    * Lexical branch: candidates come ONLY from the query terms'
    * posting lists (an equi-join on tok — never a scan of all pairs);
    * per-term BM25 contributions are 1e-6-quantized and summed as
    * exact int64 so the score is accumulation-order-free; rank ties
    * break on doc_id. Dense branch: the qv1 chain at `depth`. Fusion:
    * full-outer on (qid, doc) with rrf = Σ 1/(60+rank) over the lists
    * that contain the doc — small-int divisions, bit-identical in
    * both engines.
    *
    * Scale shape: query terms (≤ nTerms·|Q| rows with their df)
    * broadcast into the posting join; posting volume is bounded by
    * Σ df(term), and the WIRED stop-term valve (df ≤
    * max(Bm25MaxDfFloor, n_docs/Bm25MaxDfShare), ON by default,
    * oracle-mirrored, PlanSpec-gated) caps each term's contribution at
    * max(20, N/100) rows — qd18's df-cap discipline, so even a skewed
    * corpus where a common token tops a doc's TF-IDF cannot blow up
    * candidate generation. The dense branch swaps to qv3/qv6's IVF
    * under the same fusion ([[hybridSearchIvf]]). Ref context: the
    * reference has no retrieval module; this is engine scope
    * (training-data curation / RAG-serving needs).
    */
  /** The BM25 lexical index — postings carrying every stat the scorer
    * reads (tf, dlen, df) with the two corpus constants DENORMALIZED
    * onto each row (n_docs, avgdlen), so a serving join needs no side
    * lookup (a streaming consumer can't cross-join a static scalar
    * frame). ONE session-cached materialization feeds the query-term
    * ranking and the posting join; ModelStore.saveBm25Index persists
    * this exact frame as the serving artifact.
    */
  private[graft] def bm25Postings(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.StageCache.cached(spark, sfDir, "bm25post") {
      bm25PostingsPlan(spark, sfDir)
    }

  /** The raw (uncached) postings build — separated so PlanDump can show
    * its physical plan, which the cached frame hides behind a
    * LogicalRDD.
    */
  private[graft] def bm25PostingsPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = graft.text.TextCore.tokens(spark, sfDir)
    // ONE tf aggregation (r19; guide §2.4). The old build derived dlen
    // and df from `tf` as separate DataFrame subtrees, and because the
    // cached tokens sit behind a LogicalRDD the planner saw three
    // INDEPENDENT agg chains: the (doc_id, tok) aggregation ran three
    // times (6 Exchanges; plans/r19/_bm25post_build_before.txt). The
    // checkpoint materializes tf once for its two consumers below.
    // dlen rides a per-doc window over the SAME rows instead of an
    // agg + join — window groups are bounded by document length, so
    // (unlike a per-token window) this cannot buffer a stop word's
    // corpus-wide posting list at 100 TB. df stays an agg + join on
    // tok: the join STREAMS the hot token's postings through the
    // probe side instead of buffering them (and broadcasts locally).
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val withDlen = tf.withColumn("dlen",
      sum("tf").over(Window.partitionBy("doc_id")))
    val dfr = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nd = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    // avgdlen from exact integer totals; int64/int64 → one double div.
    // nullif guards the EMPTY corpus: count() is 0 (not null) there, so
    // a bare 0/0 throws under ANSI — and only SOMETIMES surfaces,
    // because this broadcast subquery races AQE's empty-relation
    // propagation of the posting join it feeds (flaky EmptyInputSpec
    // failure). avgdlen=null on an empty corpus is fine: there are no
    // posting rows for it to score.
    val stats = nd.crossJoin(toks.agg(count(lit(1)).as("n_tok_total")))
      .select(col("n_docs"),
        (col("n_tok_total") / nullif(col("n_docs"), lit(0L))).as("avgdlen"))
    withDlen.join(dfr, "tok").crossJoin(broadcast(stats))
  }

  /** ONE definition of the quantized per-term BM25 contribution (the
    * int64 summand) — read by the batch ranker and the streaming
    * scorer, so the two paths are bit-identical by construction.
    * Expects a row with tf, dlen, df, n_docs, avgdlen (the postings
    * schema).
    */
  private[graft] def bm25Contrib: Column = {
    val idf =
      log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val w = idf * ((col("tf") * lit(Bm25K1 + 1)) /
      (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * (col("dlen") / col("avgdlen")))))
    Num.q6(w)
  }

  /** The qv18 query-term table: each query doc's top-nTerms tokens by
    * qt7's exact quantized TF-IDF ranking — shared by hybridSearch and
    * the streaming-parity spec (which replays these terms as the live
    * query stream).
    *
    * Default asymmetry note (r15): BATCH entry points (this one,
    * hybridSearch, hybridSearchIvf) default to the permissive
    * `fallbackMaxDfShare = 1`; the STREAMING twin
    * `ScoreStream.bm25ScoreStream` defaults to the GUARDED
    * [[Bm25FallbackMaxDfShare]] serving ceiling. A batch-vs-stream
    * comparison must pass the same share on both sides (qv24/qv25 are
    * the guarded batch registrations; StreamingSpec anchors the pair).
    */
  private[graft] def hybridQueryTerms(spark: SparkSession, sfDir: String,
                                      nTerms: Int = 3,
                                      maxQueries: Int = MaxQueries,
                                      fallbackMaxDfShare: Long = 1L): DataFrame =
    hybridQueryTermsFrom(
      bm25Postings(spark, sfDir)
        .filter(col("doc_id") % 100 === 0 && col("doc_id") < lit(100L * maxQueries)),
      nTerms, fallbackMaxDfShare)

  /** The qv18 term selector over any postings-shaped frame (doc_id,
    * tok, tf, dlen, df, n_docs) — the spec's seam for planting mixed-df
    * vocabularies that exercise the eligible path AND the fallback.
    */
  private[graft] def hybridQueryTermsFrom(post: DataFrame,
                                          nTerms: Int = 3,
                                          fallbackMaxDfShare: Long = 1L): DataFrame = {
    require(fallbackMaxDfShare >= 1L,
      s"fallbackMaxDfShare must be >= 1, got $fallbackMaxDfShare")
    // the stop-term valve: ELIGIBLE (under-cap) terms rank above any
    // over-cap term regardless of TF-IDF; over-cap terms surface only
    // when the query lacks nTerms eligible ones — Bm25MaxDfFloor's
    // sizing rule and fallback contract. The fallback band itself has a
    // hard ceiling at n_docs/fallbackMaxDfShare (never below the
    // eligible cap): at share=1 the ceiling is n_docs and every term is
    // admissible (the permissive default); at qv24's share=2 a term
    // covering over half the corpus is refused rather than joined.
    val eligCap = greatest(lit(Bm25MaxDfFloor),
      floor(col("n_docs") / Bm25MaxDfShare).cast("long"))
    val elig = (col("df") <= eligCap).cast("int")
    val ceil = greatest(eligCap,
      floor(col("n_docs") / fallbackMaxDfShare).cast("long"))
    val wq = Window.partitionBy("doc_id")
      .orderBy(col("elig").desc, col("tfidf").desc, col("tok"))
    post
      .filter(col("df") <= ceil)
      .withColumn("elig", elig)
      .withColumn("tfidf",
        Num.r4(col("tf") / col("dlen") * log(col("n_docs") / col("df"))))
      .withColumn("trm", row_number().over(wq))
      .filter(col("trm") <= nTerms)
      .select(col("doc_id").as("qid"), col("tok"))
  }

  /** Per-(query, doc) exact int64 BM25 sums over the postings — the
    * shared scoring join (batch ranks it; the stream twin runs the
    * same join windowed).
    */
  private[graft] def bm25ScoreOf(postings: DataFrame, qterms: DataFrame): DataFrame =
    postings.join(broadcast(qterms.select("qid", "tok")), "tok")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy("qid", "doc_id")
      .agg(sum(bm25Contrib).as("bm25q"))

  def hybridSearch(spark: SparkSession, sfDir: String, k: Int = 10,
                   nTerms: Int = 3, depth: Int = 20,
                   maxQueries: Int = MaxQueries,
                   fallbackMaxDfShare: Long = 1L): DataFrame = {
    val dense = cosineTopK(spark, sfDir, depth, maxQueries)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rnk").as("vec_rank"))
    rrfFuse(hybridLex(spark, sfDir, nTerms, depth, maxQueries, fallbackMaxDfShare),
      dense, k)
  }

  /** qv22: qv18's hybrid retrieval with the dense branch swapped to the
    * qv3 IVF index — the SERVING configuration (exact brute-force dense
    * search is the eval gold standard, an IVF probe is what actually
    * answers queries at scale). Same lexical branch, same RRF fusion;
    * only the dense candidate generator changes: nProbe cells' inverted
    * lists instead of the full collection, so the dense branch's scan is
    * ~nProbe/nCells of the corpus per query. At nProbe = nCells every
    * cell is probed and the IVF ranking IS the exact one — TextSpec
    * anchors qv22(nProbe=nCells) ≡ qv18 exactly (qv17's discipline).
    */
  def hybridSearchIvf(spark: SparkSession, sfDir: String, k: Int = 10,
                      nTerms: Int = 3, depth: Int = 20, nCells: Int = 16,
                      nProbe: Int = 2, maxQueries: Int = MaxQueries,
                      fallbackMaxDfShare: Long = 1L): DataFrame = {
    // the ANN family's qFilter contract caps the sample at MaxQueries;
    // within it, per-query IVF retrieval is independent across qids, so
    // restricting the dense branch's OUTPUT by qid is identical to
    // restricting its query set — and keeps the shared cell-assignment
    // and probe stages cache-reusable across maxQueries settings
    require(maxQueries <= MaxQueries,
      s"maxQueries=$maxQueries exceeds the ANN family cap $MaxQueries")
    val dense = ivfAnn(spark, sfDir, nCells, nProbe, depth)
      .filter(col("qid") < lit(100L * maxQueries))
      .select(col("qid"), col("vec_id").as("doc_id"), col("rnk").as("vec_rank"))
    rrfFuse(hybridLex(spark, sfDir, nTerms, depth, maxQueries, fallbackMaxDfShare),
      dense, k)
  }

  /** The shared lexical ranking branch of qv18/qv22: BM25-score the
    * posting-join candidates, keep each query's top `depth`.
    */
  private[graft] def hybridLex(spark: SparkSession, sfDir: String,
                               nTerms: Int, depth: Int,
                               maxQueries: Int,
                               fallbackMaxDfShare: Long = 1L): DataFrame = {
    val wl = Window.partitionBy("qid").orderBy(col("bm25q").desc, col("doc_id"))
    bm25ScoreOf(bm25Postings(spark, sfDir),
        hybridQueryTerms(spark, sfDir, nTerms, maxQueries, fallbackMaxDfShare))
      .withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= depth)
      .select(col("qid"), col("doc_id"), col("lex_rank"))
  }

  /** The shared RRF fusion of qv18/qv22 — full-outer on (qid, doc),
    * rrf = Σ 1/(RrfK+rank) over the lists containing the doc, exact
    * small-int divisions in both engines.
    */
  private[graft] def rrfFuse(lex: DataFrame, dense: DataFrame, k: Int): DataFrame = {
    val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id"))
    lex.join(dense, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)))
      .withColumn("rnk", row_number().over(wf))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0)).as("vec_rank"),
        Num.r6(col("rrf")).as("rrf"), col("rnk"))
  }

  /** 1e-6 scaled-int nDCG discount table 1/log2(i+1), i = 1..k —
    * computed ONCE here (plan-build time) and injected into BOTH
    * engines' plans as the same integer literals, so no per-row libm
    * log2 ever runs in either engine: cross-engine ulp drift can't
    * exist when the discounts are shared integers (q49's trig-table /
    * bandPw discipline).
    */
  private[graft] def ndcgDiscMicro(k: Int): Seq[Long] =
    (1 to k).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Ideal DCG in the same 1e-6 units: gold grades are rel = k+1-rank,
    * so the ideal ordering scores Σ_{i=1..k} (k+1-i)·disc(i) — an exact
    * integer constant per k.
    */
  private[graft] def idcgMicro(k: Int): Long =
    ndcgDiscMicro(k).zipWithIndex.map { case (d, i) => (k - i).toLong * d }.sum

  /** The qv19 eval core over any (sys: qid, vec_id, rnk) ranking vs a
    * graded gold (qid, vec_id, rel) — separated so the spec can drive
    * the identity case (a system ≡ gold scores ndcg = rr = 1 exactly).
    */
  private[graft] def rankMetricsOf(sys: DataFrame, gold: DataFrame, k: Int): DataFrame = {
    val disc = ndcgDiscMicro(k)
    val discCol = disc.zipWithIndex.foldLeft(lit(0L)) { case (acc, (d, i)) =>
      when(col("rnk") === (i + 1), lit(d)).otherwise(acc)
    }
    sys.join(broadcast(gold), Seq("qid", "vec_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .groupBy("qid")
      .agg(sum(col("rel") * discCol).as("dcg_micro"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hit"),
        max(when(col("rel") > 0, expr("CAST(1000000 AS BIGINT) div rnk"))
          .otherwise(0L)).as("rr_micro"))
      .select(col("qid"), col("n_hit"),
        Num.r4(col("dcg_micro") / lit(idcgMicro(k))).as("ndcg"),
        Num.r4(Num.fromQ6(col("rr_micro"))).as("rr"))
  }

  /** qv19: retrieval ranking-QUALITY metrics — per-query nDCG@k, MRR
    * and hit count of the IVF index's ranking against the exact-cosine
    * gold standard (Järvelin & Kekäläinen 2002 nDCG / TREC MRR — the
    * standard IR eval; public). qv4 asks "how many of the true top-k
    * came back"; this asks "in what ORDER" — what a RAG serving stack
    * actually tunes. Gold relevance is graded by exact rank
    * (rel = k+1-rnk); DCG terms are rel × a shared scaled-int discount
    * literal (exact int64 sums, order-free), nDCG one double division
    * of exact integers, and MRR's reciprocal exact integer division
    * (1e6 div first-hit rank — max over the monotone per-rank values).
    * Reference's detection eval is metrics.py; this is its retrieval
    * sibling over the shared qv1/qv3 stages. Both inputs are
    * |queries|·k rows — eval-sized; the heavy lifting stays in the
    * cached index stages.
    */
  def rankMetrics(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val gold = cosineTopK(spark, sfDir, k)
      .select(col("qid"), col("vec_id"), (lit(k + 1) - col("rnk")).cast("long").as("rel"))
    val sys = ivfAnn(spark, sfDir, k = k).select("qid", "vec_id", "rnk")
    rankMetricsOf(sys, gold, k)
  }

  /** qv23: the retrieval ABLATION a serving stack publishes before
    * shipping hybrid — per-query nDCG@k / MRR / hits against the
    * exact-cosine gold for BOTH the bare IVF probe (qv3's ranking,
    * qv19's system) and the BM25-fused hybrid over the SAME index
    * (qv22's ranking), in one output keyed by `system`. Answers "does
    * the lexical branch recover ranking quality the IVF probe loses,
    * or fight the dense signal?" — the go/no-go number for enabling
    * fusion in production. Pure composition: the shared gold
    * broadcasts into both eval joins (qv19's machinery, the
    * plan-literal discount table — no per-row log2); both systems ride
    * the session-cached qv3/qv18 stages.
    */
  def hybridEval(spark: SparkSession, sfDir: String, k: Int = 5,
                 nCells: Int = 16, nProbe: Int = 2): DataFrame = {
    val gold = cosineTopK(spark, sfDir, k)
      .select(col("qid"), col("vec_id"), (lit(k + 1) - col("rnk")).cast("long").as("rel"))
    val ivf = ivfAnn(spark, sfDir, nCells, nProbe, k).select("qid", "vec_id", "rnk")
    val hyb = hybridSearchIvf(spark, sfDir, k = k, nCells = nCells, nProbe = nProbe)
      .select(col("qid"), col("doc_id").as("vec_id"), col("rnk"))
    rankMetricsOf(ivf, gold, k).withColumn("system", lit("ivf"))
      .unionByName(rankMetricsOf(hyb, gold, k).withColumn("system", lit("hybrid")))
  }

  /** qv21: index UPSERT audit — a delta batch of new vectors (the
    * vec_id % `mod` = `rem` tenth, ~10%) assigns into the cells of an
    * index trained WITHOUT them (seeds = the base split's own lowest
    * ids), and the per-cell report says what the upsert did to the
    * index: base size, arrivals, growth — the maintenance decision
    * input every serving ANN deployment tracks (FAISS add() /
    * pgvector INSERT path: new vectors take nearest-cell assignment
    * without retraining; retrain/split triggers come from exactly
    * this skew report). One broadcast packed-seed row + one
    * stateless codegen argmin pass over the full collection + a
    * |cells|-row partial agg; a cell with NO base members still
    * reports its arrivals (growth null, not a crash).
    */
  def indexUpsert(spark: SparkSession, sfDir: String, nCells: Int = 16,
                  mod: Int = 10, rem: Int = 7): DataFrame = {
    require(nCells >= 1 && mod >= 2 && rem >= 0 && rem < mod,
      s"nCells=$nCells mod=$mod rem=$rem")
    val e = vecs(spark, sfDir)
    val base = e.filter(col("vec_id") % mod =!= rem)
    val seedIds = base.select("vec_id").orderBy("vec_id").limit(nCells)
      .withColumn("cell", row_number().over(Window.orderBy("vec_id")) - 1)
    val seeds = base.join(broadcast(seedIds), "vec_id")
      .select(col("cell"), col("v").as("sv"))
    val packed = seeds.select(struct(col("cell"), col("sv")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("ps"))
      .select(flatten(expr("transform(ps, x -> x.sv)")).as("sf"))
    cellAssign(e, packed)
      .withColumn("is_delta", (col("vec_id") % mod) === rem)
      .groupBy("cell")
      .agg(sum(when(col("is_delta"), 0L).otherwise(1L)).as("n_base"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_added"))
      .select(col("cell"), col("n_base"), col("n_added"),
        (col("n_base") + col("n_added")).as("n_total"),
        when(col("n_base") > 0,
          Num.r4(col("n_added") / col("n_base"))).as("growth"))
  }

  /** qv20: DIMENSION-truncation recall sweep — recall@k of cosine over
    * the first d embedding components vs the full-dimension exact
    * top-k, for every d in one plan (the Matryoshka-representation
    * serving question, Kusupati et al. NeurIPS 2022 / the OpenAI
    * text-embedding-3 "dimensions" parameter — public: how few stored
    * dims buy how much recall, the index-size-vs-quality curve a
    * deployment publishes next to qv17's probe-count curve).
    *
    * Shape: the broadcast query fan and the collection scan happen
    * ONCE; every level slices the SAME in-row arrays (5 codegen
    * graft_dot prefix products per pair — no per-level rescan), levels
    * fan out through one explode, one (dim, qid) window ranks them
    * all, and the |queries|·k gold top-k broadcasts into the hit join.
    * The d = max(dims) level reproduces qv1's exact ranking
    * bit-for-bit (same kernel on the full-length slice — spec anchor,
    * recall exactly 1).
    */
  def dimSweep(spark: SparkSession, sfDir: String, k: Int = 10,
               dims: Seq[Int] = Seq(4, 8, 16, 32, 64),
               maxQueries: Int = MaxQueries): DataFrame = {
    require(dims.nonEmpty && dims == dims.sorted && dims.distinct == dims &&
      dims.head >= 1, s"dims must be distinct ascending positive: $dims")
    val e = vecs(spark, sfDir)
    // prefix norms attach PER VECTOR (one pass per side), not per pair:
    // the pair stream then pays one prefix dot per level instead of
    // three — identical doubles either way (same sqrt of the same
    // kernel dot), so the oracle computes them per pair unchanged
    def withNorms(base: DataFrame, vc: String, pfx: String): DataFrame =
      base.select(col("vec_id") +: col("v").as(vc) +: dims.map(d =>
        sqrt(expr(s"graft_dot(slice($vc, 1, $d), slice($vc, 1, $d))"))
          .as(s"${pfx}_$d")): _*)
    val q = withNorms(
      e.filter(col("vec_id") % 100 === 0 && col("vec_id") < lit(100L * maxQueries)),
      "av", "na").withColumnRenamed("vec_id", "qid")
    val b = withNorms(e, "bv", "nb")
    val levels = array(dims.map { d =>
      struct(lit(d).as("dim"),
        (expr(s"graft_dot(slice(av, 1, $d), slice(bv, 1, $d))") /
          (col(s"na_$d") * col(s"nb_$d"))).as("cos"))
    }: _*)
    val w = Window.partitionBy("dim", "qid").orderBy(col("cos").desc, col("vec_id"))
    val ranked = b.crossJoin(broadcast(q)).filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), explode(levels).as("lv"))
      .select(col("qid"), col("vec_id"), col("lv.dim").as("dim"), col("lv.cos").as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
    val gold = cosineTopK(spark, sfDir, k, maxQueries)
      .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    ranked.join(broadcast(gold), Seq("qid", "vec_id"), "left")
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("dim"), col("n"), col("n_hit"),
        Num.r4(col("n_hit") / col("n")).as("recall"))
  }
}
