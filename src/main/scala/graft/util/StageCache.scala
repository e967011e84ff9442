package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.SQLMetric

/** Session-scoped cache of shared pipeline stages, keyed by
  * (session, input dir, stage name). Queries compose the same upstream
  * stages (grid→fill→inject→features for time series, shingle→minhash
  * for dedup); materializing each stage once per session turns the
  * multi-pass pipelines into cache hits — the DataFrame analogue of a
  * staged intermediate table. Entries live in a [[SessionMemo]], which
  * releases a stopped session's localCheckpoint RDD graphs.
  */
object StageCache extends AdaptiveSparkPlanHelper {

  /** A cached stage and the SQL metrics of the plan that builds it. */
  private final case class Entry(df: DataFrame, metrics: Seq[SQLMetric])

  private val cache = new SessionMemo[(String, String), Entry]

  /** Test probe: has this stage been built in this session? Lets specs
    * assert NEGATIVE structure — e.g. that the default cluster chain
    * never builds the clique pair stage — which a plan string cannot
    * show once stages checkpoint to LogicalRDDs.
    */
  private[graft] def contains(spark: SparkSession, sfDir: String, name: String): Boolean =
    cache.contains(spark, (sfDir, name))

  def cached(spark: SparkSession, sfDir: String, name: String)
            (build: => DataFrame): DataFrame =
    cache.getOrElseUpdate(spark, (sfDir, name)) {
      // localCheckpoint (not persist): materializes the stage AND
      // truncates lineage, so downstream plans reference a flat
      // LogicalRDD instead of re-embedding the whole upstream tree —
      // without this, multi-self-join queries (pipeline, LOF) blow up
      // Catalyst plan size (explainString OOMs before any task runs).
      // LAZY (eager = false): no count job materializes the stage; the
      // first consumer's job computes and persists its partitions
      // inline. Under AQE, building the checkpoint still runs every
      // shuffle and broadcast stage of the staged plan while the
      // DataFrame is being built — only the final result job is
      // deferred. Measured with a SparkListener at sf0.01 (local[4]):
      // building the uncached Detect.gaussianScoreBuild launches 0 jobs,
      // the lazy cached Detect.gaussianScore launches 2 (its aggregate
      // shuffle and its broadcast), and localCheckpoint(eager = true)
      // launches 3. So laziness saves one job per stage, not the
      // stage's upstream work; the plan is a flat LogicalRDD either
      // way. On a cluster this would be a reliable checkpoint / staged
      // table.
      //
      // The entry also pins the build plan's SQL metrics. The first
      // consumer's stages compute the stage's partitions in parallel;
      // when one of them is a result job (a broadcast collect) it
      // checkpoints the RDD on completion and clears its lineage — the
      // last reference to those metrics. A sibling map stage still
      // running on the same partitions then reports updates to
      // accumulators the driver has already collected ("DAGScheduler:
      // Failed to update accumulator … non-existent accumulator", and
      // the stage's metrics are lost). The metrics are a few longs per
      // operator; the plan itself (and its broadcasts) is not held.
      val df = build
      val staged = df.localCheckpoint(eager = false)
      Entry(staged, collectWithSubqueries(df.queryExecution.executedPlan) {
        case p => p.metrics.values.toSeq
      }.flatten)
    }.df
}
