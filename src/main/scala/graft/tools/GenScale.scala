package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the sf1 soak (VERDICT r10 #3):
  * replicates the driver's sf0.1 tables `copies`× with disjoint key
  * spaces so every operator sees 10× the data in the shape it scales
  * by — MORE series (each copy's events re-key to fresh event_type
  * suffixes ~1..~9: the millions-of-meters axis), MORE users, MORE
  * documents (texts get a per-copy marker token so the near-dup
  * structure grows linearly, not quadratically in exact clones) and
  * MORE vectors (embeddings deterministically perturbed per copy).
  * Dimension leaves (region/nation) stay shared, star-join foreign
  * keys re-point inside each copy. Output is NOT checked in (target/)
  * — it exists to run the full oracle-parity suite and the bench one
  * scale up.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/target/testdata/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.create()

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // single FILE per table (the driver's layout — tools/check.py's
    // DuckDB views read '<dir>/<t>.parquet' as one file, not a glob)
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
    def rep(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = rd(t)
      wr((0 until copies).map(i => f(base, i)).reduce(_ unionByName _), t)
    }
    val (ck, sk, pk, ok, ek, uk, dk, vk) =
      (100000L, 10000L, 100000L, 1000000L, 1000000L, 1000000L, 100000L, 100000L)

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    rep("customer")((d, i) => d.withColumn("c_custkey", col("c_custkey") + i * ck))
    rep("supplier")((d, i) => d.withColumn("s_suppkey", col("s_suppkey") + i * sk))
    rep("part")((d, i) => d.withColumn("p_partkey", col("p_partkey") + i * pk))
    rep("orders")((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + i * ok)
      .withColumn("o_custkey", col("o_custkey") + i * ck))
    rep("lineitem")((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + i * ok)
      .withColumn("l_partkey", col("l_partkey") + i * pk)
      .withColumn("l_suppkey", col("l_suppkey") + i * sk))
    rep("events")((d, i) => d
      .withColumn("event_id", col("event_id") + i * ek)
      .withColumn("user_id", col("user_id") + i * uk)
      .withColumn("event_type",
        if (i == 0) col("event_type") else concat(col("event_type"), lit(s"~$i"))))
    rep("documents")((d, i) => {
      val t = if (i == 0) col("text") else concat(col("text"), lit(s" zcopy$i"))
      d.withColumn("doc_id", col("doc_id") + i * dk)
        .withColumn("text", t)
        .withColumn("n_chars", length(t).cast("long"))
    })
    rep("embeddings")((d, i) => d
      .withColumn("vec_id", col("vec_id") + i * vk)
      .withColumn("embedding",
        if (i == 0) col("embedding")
        else expr(s"transform(embedding, (x, j) -> cast(x + ((vec_id * 131 + j * 31 + $i) % 17 - 8) * 0.003 as float))")))
    println(s"wrote $copies x $src -> $dst")
    spark.stop()
  }
}
