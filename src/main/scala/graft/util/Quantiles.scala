package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

/** Distributed exact interpolated quantiles — the 100 TB replacement for
  * the single-group `percentile()` aggregate, whose buffer funnels every
  * value onto one reducer. Here the values go through a range-partitioned
  * sort (spread across the cluster) + `zipWithIndex`; only the ≤ 2·|qs|
  * boundary order statistics ever reach the driver.
  *
  * Interpolation parity: the value at rank r = (n−1)·q is
  * `(1 − frac)·lo + frac·hi` with `frac = r − floor(r)` — the exact IEEE
  * operation sequence DuckDB's `quantile_cont` evaluates (verified
  * bit-for-bit over 2000 randomized cases for every quantile used in this
  * repo), so thresholds computed here can be compared against
  * oracle-side `quantile_cont` values without ulp drift. (Spark's own
  * `percentile()` uses `(hi_idx − r)·lo + (r − lo_idx)·hi`, which CAN
  * differ in the last ulp; r4 rounding absorbed that, but matching the
  * oracle's sequence removes the risk entirely.)
  */
object Quantiles {

  /** Memo of computed quantiles, keyed by (session, canonicalized
    * logical plan of the input, column, quantile). The detection family
    * asks for the SAME thresholds over the SAME cached stages repeatedly
    * (the denoise cut in Detect.pipeline / ModelStore.save /
    * Coreset.keptBank, the contamination cut in q16/q23) — each
    * recomputation is a full range-sort job chain.
    */
  private val memo = new SessionMemo[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Double), Option[Double]]

  /** Exact interpolated quantiles of `df(c)` (nulls ignored, like
    * `percentile()`); `None` per quantile on empty input (mirroring the
    * aggregate's NULL so the sparse-SF edge behaves identically).
    */
  def exact(df: DataFrame, c: String, qs: Seq[Double]): Map[Double, Option[Double]] = {
    val planKey = df.queryExecution.analyzed.canonicalized
    val keyOf = (q: Double) => (planKey, c, q)
    // one computeExact pass for every quantile not memoized yet
    lazy val computed =
      computeExact(df, c, qs.filterNot(q => memo.contains(df.sparkSession, keyOf(q))))
    qs.map(q => q -> memo.getOrElseUpdate(df.sparkSession, keyOf(q))(computed(q))).toMap
  }

  private def computeExact(df: DataFrame, c: String,
                           qs: Seq[Double]): Map[Double, Option[Double]] = {
    // Range-partition (NOT sort) + per-partition counts + targeted
    // single-partition rank-selects. The old shape (global sort →
    // count → zipWithIndex → filter) paid a full per-partition sort
    // plus two more whole-data passes; here the shuffle only *ranges*
    // the values, one pass counts each partition, and then each target
    // order statistic is a job over exactly ONE partition
    // (sc.runJob(partitions = p)) that sorts just that partition's
    // ~n/P values. Exactness is unchanged — rank r's partition and
    // local offset are fully determined by the range-partition counts.
    val spark = df.sparkSession
    val vals = df.select(col(c).cast("double").as("v")).na.drop()
    val p = spark.sessionState.conf.numShufflePartitions
    val ranged = vals.repartitionByRange(p, col("v")).rdd.map(_.getDouble(0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one pass: per-partition sizes (also materializes the persist)
      val sizes = new Array[Long](ranged.getNumPartitions)
      spark.sparkContext.runJob(ranged, (it: Iterator[Double]) => {
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
      }).zipWithIndex.foreach { case (s, i) => sizes(i) = s }
      val offsets = sizes.scanLeft(0L)(_ + _) // offsets(i) = rows before partition i
      val n = offsets.last
      if (n == 0) return qs.map(_ -> None).toMap
      val targets = qs.flatMap { q =>
        val r = (n - 1) * q
        Seq(math.floor(r).toLong, math.ceil(r).toLong)
      }.toSet
      // group target ranks by owning partition; one tiny job per partition
      val byPart = targets.groupBy { t =>
        var i = java.util.Arrays.binarySearch(offsets, t)
        if (i < 0) i = -i - 2 else {
          // t lands on a boundary: skip over empty partitions
          while (i < sizes.length && sizes(i) == 0) i += 1
        }
        i
      }
      val picked = scala.collection.mutable.Map[Long, Double]()
      byPart.foreach { case (part, ts) =>
        val locals = ts.map(t => (t - offsets(part)).toInt -> t)
        val res = spark.sparkContext.runJob(ranged, (it: Iterator[Double]) => {
          val arr = it.toArray
          java.util.Arrays.sort(arr)
          locals.toSeq.map { case (li, t) => t -> arr(li) }
        }, Seq(part))
        res.head.foreach { case (t, v) => picked(t) = v }
      }
      qs.map { q =>
        val r = (n - 1) * q
        val lo = math.floor(r).toLong
        val hi = math.ceil(r).toLong
        val v = if (hi == lo) picked(lo)
                else (1.0 - (r - lo)) * picked(lo) + (r - lo) * picked(hi)
        q -> Some(v)
      }.toMap
    } finally ranged.unpersist(blocking = false)
  }

  def exactOne(df: DataFrame, c: String, q: Double): Option[Double] =
    exact(df, c, Seq(q))(q)

  /** The quantile as a literal Column (null on empty input) — drop-in for
    * the `crossJoin(broadcast(agg(percentile(...))))` threshold pattern:
    * the threshold becomes a plan literal instead of a single-reducer agg.
    */
  def exactLit(df: DataFrame, c: String, q: Double): Column =
    exactOne(df, c, q).map(lit).getOrElse(lit(null).cast("double"))
}
