package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The committed HOT corpus (`hotdata/` — VERDICT r16 "next #4"): a
  * small deterministic corpus with ONE planted over-cap group per
  * guarded family, so the guards' DETECTION ARITHMETIC (which groups
  * exceed which cap, and what pair product they would have cliqued
  * into) is oracle-checked by the driver every round via
  * [[graft.text.HotReport.hotBlockReport]] (qh2), not just
  * spec-planted. The plant, per family:
  *
  *   - qd2 LSH buckets + qd4 length blocks: doc_ids 100..199 carry ONE
  *     byte-identical 30-token text → all 4 band signatures collide
  *     (four (band, sig) buckets of m=100) and one (en, n_chars/20)
  *     block of m=100; the other 500 docs are GenZipf base text
  *     (real heavy-tailed background, blocks stay far under cap);
  *   - qd5 labels + qd11 IVF cells: vec_ids 100..199 share label 0 and
  *     ONE tight archetype (σ=0.05 around a fixed Gaussian) → a 100-
  *     strong label group and one ~100-strong seeded cell. Background
  *     vectors are isotropic with labels round-robin 1..9 (≤ 56 each —
  *     deterministically under any cap ≥ 60); the 16 seed vectors
  *     (vec_ids 0..15) are isotropic and mutually well-separated, so
  *     the archetype clique lands in whichever seed cell is nearest —
  *     ONE cell, never smeared across near-identical seeds.
  *
  * Everything is a pure function of the id (seeded java.util.Random),
  * so the committed parquet is pinned to the generator the same way
  * zipfdata is (HotReportSpec). Layout matches the driver's (one
  * parquet FILE per table).
  */
object GenHot {
  val NDocs = 600L
  /** The planted clique: ids in [PlantLo, PlantHi). */
  val PlantLo = 100L
  val PlantHi = 200L

  /** One fixed 30-token text from GenZipf's cold-tail vocabulary —
    * every planted doc carries it byte-identically.
    */
  val PlantedText: String =
    (0 until 30).map(j => GenZipf.word(2200 + j)).mkString(" ")

  def genDoc(id: Long): (String, String, String) =
    if (id >= PlantLo && id < PlantHi) (PlantedText, "en", "hot")
    else {
      val lang = Seq("en", "de", "fr")((id % 3).toInt)
      (GenZipf.genBase(id, lang), lang, s"bg${id % 5}")
    }

  /** Planted archetype: one fixed Gaussian direction (same seeding
    * discipline as GenZipf's archetypes, distinct salt).
    */
  private lazy val plantArch: Array[Double] = {
    val rng = new java.util.Random(0x1107A7C4L)
    Array.fill(64)(rng.nextGaussian())
  }

  def genVec(id: Long): (Array[Float], Int) = {
    val rng = new java.util.Random(id * 2654435761L + 0x407C0DEL)
    if (id >= PlantLo && id < PlantHi)
      (Array.tabulate(64)(i => (plantArch(i) + 0.05 * rng.nextGaussian()).toFloat), 0)
    else
      (Array.fill(64)(rng.nextGaussian().toFloat), 1 + (id % 9).toInt)
  }

  /** The documents frame — the shared seam HotReportSpec pins the
    * committed parquet against.
    */
  def hotDocuments(spark: SparkSession): DataFrame = {
    val g = udf((id: Long) => genDoc(id))
    spark.range(NDocs).select(col("id").as("doc_id"))
      .withColumn("z", g(col("doc_id")))
      .select(col("doc_id"), col("z._1").as("text"), col("z._2").as("lang"),
        col("z._3").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def hotEmbeddings(spark: SparkSession): DataFrame = {
    val g = udf((id: Long) => genVec(id))
    spark.range(NDocs).select(col("id").as("vec_id"))
      .withColumn("z", g(col("vec_id")))
      .select(col("vec_id"), col("z._1").as("embedding"),
        col("z._2").cast("int").as("label"))
  }

  def main(args: Array[String]): Unit = {
    val dst = args.headOption.getOrElse("/root/repo/hotdata")
    val spark = graft.Session.create()
    def wr(df: DataFrame, t: String): Unit = {
      val tmp = s"$dst/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$dst/$t.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    wr(hotDocuments(spark).orderBy("doc_id"), "documents")
    wr(hotEmbeddings(spark).orderBy("vec_id"), "embeddings")
    println(s"wrote hot corpus: $dst  ($NDocs docs / $NDocs vectors, " +
      s"planted clique ids [$PlantLo, $PlantHi))")
    spark.stop()
  }
}
