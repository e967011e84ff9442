package graft.util

import org.apache.spark.sql.SparkSession

/** A memo keyed by (SparkSession, key) — the one home of the session
  * caches (StageCache's stages, Quantiles' thresholds, Tables' scan
  * probes, MllibForecast's fitted GBT). The key holds the session
  * REFERENCE (identity equality: two live sessions never collide), and
  * every lookup sweeps entries whose SparkContext has stopped. A cached
  * DataFrame strongly references its own session, so weak references
  * could never reclaim it; eviction on session stop is the only correct
  * collection point (a session abandoned without stop() keeps its
  * entries until the JVM exits). Builders nest — a StageCache stage
  * builds other stages — so a miss builds outside the map and publishes
  * with putIfAbsent (computeIfAbsent forbids reentrant updates); when two
  * builders race, the first to publish wins and both return its value.
  */
private[graft] final class SessionMemo[K, V <: AnyRef] {
  private val entries = new java.util.concurrent.ConcurrentHashMap[(SparkSession, K), V]()

  def get(spark: SparkSession, key: K): Option[V] = {
    val it = entries.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    Option(entries.get((spark, key)))
  }

  def getOrElseUpdate(spark: SparkSession, key: K)(build: => V): V =
    get(spark, key).getOrElse {
      val v = build
      val prev = entries.putIfAbsent((spark, key), v)
      if (prev == null) v else prev
    }

  /** Presence without a sweep (a probe for specs). */
  def contains(spark: SparkSession, key: K): Boolean = entries.containsKey((spark, key))
}
