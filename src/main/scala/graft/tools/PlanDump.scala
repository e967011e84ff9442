package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.text.TextCore
import graft.util.Tables

/** Optimization-round evidence tool: dump `.explain("formatted")` for the
  * named queries to plans/<tag>/<query>_<suffix>.txt (the judge checks
  * plan claims against these files — it cannot run Spark itself).
  *
  * usage: PlanDump <tag> <suffix> <query> [query ...]
  *   e.g. PlanDump r18 before qc1_corpus_build qd18_containment
  * env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01),
  *      SPARK_GRAFT_CPUS (default all cores — match the bench session).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.create()
    val dir = Paths.get(s"plans/$tag")
    Files.createDirectories(dir)
    names.foreach { name =>
      try {
        val df = plan(spark, sfDir, name)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // literal sketches (inlined bloom filters) dump hundreds of KB of
        // hex — cap each line so the evidence file stays reviewable
        val capped = txt.split("\n", -1).map(l =>
          if (l.length > 600) l.take(600) + s"...(+${l.length - 600} chars)" else l
        ).mkString("\n")
        Files.writeString(dir.resolve(s"${name}_$suffix.txt"), capped)
        println(s"[plandump] wrote plans/$tag/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Pseudo-entries for session-cached stage BUILDS whose plans the
    * registered queries hide behind localCheckpoint LogicalRDDs.
    */
  private[graft] def stagePlans(spark: SparkSession, sfDir: String): Map[String, () => DataFrame] = {
    def docs = Tables.spread(Tables.documents(spark, sfDir), "doc_id")
    Map(
      "_tokens_build" -> (() => TextCore.tokensPlan(spark, sfDir)),
      "_shingles3_narrow" -> (() => TextCore.shinglesNarrow(docs, 3)),
      "_shingles3_windowed" -> (() => TextCore.shinglesWindowed(TextCore.tokensPlan(spark, sfDir), 3)),
      "_bm25post_build" -> (() => graft.vector.Similarity.bm25PostingsPlan(spark, sfDir)),
      "_qp2_exact_build" -> (() => graft.analytics.Events.approxDistinctExactPlan(spark, sfDir)))
  }

  /** A [[stagePlans]] pseudo-entry or a registered query, by name. */
  private[graft] def plan(spark: SparkSession, sfDir: String, name: String): DataFrame =
    stagePlans(spark, sfDir).get(name).map(_()).getOrElse(graft.SparkEntry.queries(name)(spark, sfDir))
}
