package graft.tools

import java.nio.file.{Files, Paths}

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
    // pseudo-entries for session-cached stage BUILDS whose plans the
    // registered queries hide behind localCheckpoint LogicalRDDs
    def stagePlans(n: String): Option[org.apache.spark.sql.DataFrame] = n match {
      case "_tokens_build" => Some(
        graft.util.Tables.spread(graft.util.Tables.documents(spark, sfDir), "doc_id")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.posexplode(
              org.apache.spark.sql.functions.split(
                org.apache.spark.sql.functions.col("text"), " ")).as(Seq("i", "tok")))
          .filter(org.apache.spark.sql.functions.col("tok") =!= ""))
      case "_shingles3_narrow" => Some(graft.text.TextCore.shinglesNarrow(
        graft.util.Tables.spread(graft.util.Tables.documents(spark, sfDir), "doc_id"), 3))
      case "_shingles3_windowed" => Some(graft.text.TextCore.shinglesWindowed(
        graft.text.TextCore.tokens(spark, sfDir), 3))
      case "_bm25post_build" => Some(
        graft.vector.Similarity.bm25PostingsPlan(spark, sfDir))
      case "_qp2_exact_build" => Some(
        graft.analytics.Events.approxDistinctExactPlan(spark, sfDir))
      case _ => None
    }
    names.foreach { name =>
      try {
        val df = stagePlans(name).getOrElse(
          graft.SparkEntry.queries(name)(spark, sfDir))
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
}
