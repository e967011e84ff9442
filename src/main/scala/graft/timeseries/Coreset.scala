package graft.timeseries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Greedy k-center coreset of the denoised memory bank (reference:
  * src/anomaly_detection/sampler.py GreedyCoresetSampler /
  * ApproximateGreedyCoresetSampler).
  *
  * Scale: greedy k-center is inherently sequential, but the standard
  * two-level composition keeps it cluster-safe: each partition reduces
  * its points to a local coreset (same ratio) via mapPartitions, the
  * driver then runs the final greedy over ≤ `driverCap` candidates.
  * The result is a 2-approximation of the single-level coreset, and the
  * selected set stays small enough to broadcast into the scorer.
  * Determinism: start point = argmax distance from the candidate mean;
  * all ties break on lowest (id, pos).
  */
object Coreset {

  /** Local greedy k-center over an indexed feature array; returns selected
    * indices in selection order.
    */
  private[graft] def greedy(feats: Array[Array[Double]], k: Int): Array[Int] = {
    val n = feats.length
    if (n == 0 || k <= 0) return Array.empty
    val dim = feats(0).length
    val mean = new Array[Double](dim)
    for (f <- feats; i <- 0 until dim) mean(i) += f(i) / n
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val minDist = Array.fill(n)(Double.MaxValue)
    val chosen = Array.fill(n)(false)
    var cur = 0
    var best = -1.0
    for (i <- 0 until n) { val d = d2(feats(i), mean); if (d > best) { best = d; cur = i } }
    val out = new Array[Int](math.min(k, n))
    var s = 0
    while (s < out.length) {
      out(s) = cur
      chosen(cur) = true
      var nxt = -1; var bd = -1.0
      for (i <- 0 until n) {
        val d = d2(feats(i), feats(cur))
        if (d < minDist(i)) minDist(i) = d
        if (!chosen(i) && minDist(i) > bd) { bd = minDist(i); nxt = i }
      }
      // all remaining are duplicates of selected points → take the first
      if (nxt < 0) nxt = chosen.indexOf(false)
      cur = if (nxt >= 0) nxt else cur
      s += 1
    }
    out
  }

  /** Denoised bank candidates: (id, pos, f0..f8) sorted by (id, pos). */
  private[graft] def keptBank(spark: SparkSession, sfDir: String,
                              denoiseThr: Double): DataFrame =
    Detect.keptBank(spark, sfDir, denoiseThr).drop("wgt").orderBy("id", "pos")

  /** Two-level greedy over a (id, pos, <dim feature cols>) frame:
    * per-partition local greedy down to `driverCap` candidates, then
    * the final driver-side greedy. Selection runs on columns 2..dim+1.
    */
  private def greedySelect(spark: SparkSession, kept: DataFrame, dim: Int,
                           frac: Double, driverCap: Int): DataFrame = {
    import spark.implicits._
    val nKept = kept.count()
    val candidates: Array[Row] =
      if (nKept <= driverCap) kept.collect()
      else {
        // two-level: local greedy per partition down to the driver cap
        val perPart = math.max(1, driverCap / kept.rdd.getNumPartitions)
        kept.rdd.mapPartitions { it =>
          val rows = it.toArray
          val feats = rows.map(r => (0 until dim).map(i => r.getDouble(2 + i)).toArray)
          greedy(feats, math.min(perPart, rows.length)).iterator.map(rows)
        }.collect()
      }
    val feats = candidates.map(r => (0 until dim).map(i => r.getDouble(2 + i)).toArray)
    val k = math.max(1, math.ceil(candidates.length * frac).toInt)
    val sel = greedy(feats, k)
    val out = sel.zipWithIndex.map { case (idx, ord) =>
      (candidates(idx).getString(0), candidates(idx).getLong(1), ord)
    }
    out.toSeq.toDF("id", "pos", "sel_order")
  }

  /** q13: coreset over the denoised bank (patches whose nearest-distance
    * weight is below the 1−threshold quantile; ref softpatch.py
    * _fill_memory_bank denoising, threshold=0.15). Returns the selected
    * patches with selection order. Driver-side greedy over candidates;
    * two-level pre-reduction when candidates exceed `driverCap`.
    */
  def coreset(spark: SparkSession, sfDir: String, frac: Double = 0.1,
              denoiseThr: Double = 0.15, driverCap: Int = 200000): DataFrame =
    greedySelect(spark, keptBank(spark, sfDir, denoiseThr),
      Detect.FeatCols.length, frac, driverCap)

  /** Deterministic JL projection weight for (component p, input dim d):
    * the shared hashed-uniform family (util.Num.hashedUniform) over key
    * 2²⁰ + p·256 + d. The 2²⁰ offset makes the JL key space DISJOINT
    * from the LSH hyperplanes' p·64+d keys (all < 2¹¹) — without it the
    * two families alias (JL p=1 would reuse LSH plane-4 weights) — while
    * keeping key < 2³¹ so the hash product stays < 2⁶³
    * (Num.hashedUniform's overflow contract). Scaled by √(12/projDim)
    * so E‖Px−Py‖² = ‖x−y‖² (uniform[−.5,.5) has variance 1/12).
    */
  private[graft] def jlWeight(p: Int, d: Int, projDim: Int): Double =
    graft.util.Num.hashedUniform((1L << 20) + p.toLong * 256L + d.toLong) *
      math.sqrt(12.0 / projDim)

  /** q13 approximate variant (ref sampler.py:44-56
    * ApproximateGreedyCoresetSampler: random-project features before the
    * greedy pass): each candidate's feature vector is mapped through a
    * projDim×dim JL matrix of deterministic hashed weights — one
    * codegen'd `graft_dot` per output component, map-side, no shuffle —
    * and both greedy levels run in the projected space. Irrelevant at
    * 9 dims but essential for wide banks: greedy's O(n·k) distance work
    * drops by dim/projDim while k-center structure is preserved within
    * the JL distortion (≈2-approx; asserted in DetectSpec).
    */
  def coresetProjected(spark: SparkSession, sfDir: String, projDim: Int = 8,
                       frac: Double = 0.1, denoiseThr: Double = 0.15,
                       driverCap: Int = 200000): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val dim = Detect.FeatCols.length
    val kept = keptBank(spark, sfDir, denoiseThr)
      .withColumn("farr", array(Detect.FeatCols.map(col): _*))
    val projCols = (0 until projDim).map { p =>
      val pw = array((0 until dim).map(d => lit(jlWeight(p, d, projDim))): _*)
      call_function("graft_dot", col("farr"), pw).as(s"p$p")
    }
    val projected = kept.select((Seq(col("id"), col("pos")) ++ projCols): _*)
    greedySelect(spark, projected, projDim, frac, driverCap)
  }
}
