package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Shared text primitives for the LLM-data-pipeline operators.
  * Tokenization = whitespace split (empties dropped, original order
  * kept); all hashes derive from md5 prefixes so the DuckDB oracle can
  * reproduce them exactly (`conv(substr(md5(x),1,8),16,10)` ==
  * `CAST('0x' || substr(md5(x),1,8) AS BIGINT)`).
  */
object TextCore {

  /** 32-bit integer hash of a string, identical in Spark and DuckDB.
    * Deliberately 32-bit where the value feeds further integer mixing
    * (minhash's (j*31+17)*h + j*7919, simhash's bit extraction): the
    * products must stay below 2^63 — DuckDB raises on int64 overflow
    * while Spark wraps, so a wider hash would break oracle parity.
    */
  def strHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 60-bit integer hash (15 hex chars < 2^60 < 2^63) for identity
    * joins where collision rate matters at scale (qd4's shingle
    * intersection): no downstream arithmetic, so the full width is
    * safe in both engines.
    */
  def strHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** SQL-expression forms of the two hashes for IN-ROW use (streaming
    * higher-order functions can't call Column helpers inside
    * transform(...)); one definition so a width change can never leave
    * a streaming twin hashing differently from its batch operator.
    */
  def strHashExpr(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 8), 16, 10) AS BIGINT)"

  def strHash60Expr(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  /** (doc_id, i, tok) — whitespace tokens with their original index.
    * Session-cached: six text operators start from this explode. The
    * documents scan is spread first (Tables.spread): the split+explode
    * is the text family's hottest per-row work and the test corpora are
    * single-row-group files whose scan cannot split.
    */
  def tokens(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.StageCache.cached(spark, sfDir, "tokens")(tokensPlan(spark, sfDir))

  /** The uncached [[tokens]] plan (the dev mains dump and profile it). */
  private[graft] def tokensPlan(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spread(Tables.documents(spark, sfDir), "doc_id")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "tok")))
      .filter(col("tok") =!= "")

  /** (doc_id, i, sh) — word n-gram shingles; `i` is the leading token's
    * raw split index (posexplode numbering, empties counted).
    *
    * r18: built NARROW from the documents scan via array slices instead
    * of the old lead-window over [[tokens]] — same rows bit for bit
    * (TextSpec property-gates the two forms), but the per-doc
    * exchange + sort the window paid is gone: shingle construction is
    * now a stateless projection, so the only shuffles left in any
    * shingle consumer are its own aggregations. [[shinglesWindowed]]
    * keeps the reference form for the gate.
    */
  def shingles(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame =
    graft.util.StageCache.cached(spark, sfDir, s"shingles$n") {
      shinglesNarrow(Tables.spread(Tables.documents(spark, sfDir), "doc_id"), n)
    }

  /** The narrow shingle projection over any (doc_id, text) frame.
    *
    * Shape note: the per-doc kept-token array is built with ONE
    * filter(transform(...)) pass (higher-order functions are
    * interpreted — CodegenFallback — so they run once per DOC, O(L)),
    * and the per-SHINGLE work is a codegen posexplode + n−1
    * GetArrayItem lookups + concat_ws. The first cut of this builder
    * nested transform/slice/array_join HOFs per shingle and paid ~1 ms
    * of interpreted eval per row (27 s of task CPU to shingle 600
    * docs); this form is the same rows at codegen speed.
    */
  private[graft] def shinglesNarrow(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n=$n")
    docs
      // kept tokens (with raw split positions) as one ordered array
      .select(col("doc_id"), expr(
        "filter(transform(split(text, ' '), (t, p) -> struct(p as i, t as tok))," +
          " s -> s.tok != '')").as("kept"))
      .select(col("doc_id"), col("kept"), posexplode(col("kept")).as(Seq("k", "s")))
      .filter(col("k") + (n - 1) < size(col("kept")))
      .select(col("doc_id"), col("s.i").as("i"),
        concat_ws(" ", (0 until n).map {
          case 0 => col("s.tok")
          case j => col("kept")(col("k") + j)("tok")
        }: _*).as("sh"))
  }

  /** The pre-r18 window-lead shingle builder — kept ONLY as the
    * reference implementation TextSpec property-gates [[shinglesNarrow]]
    * against (bit-identical rows on random corpora); no query path
    * reads it.
    */
  private[graft] def shinglesWindowed(toks: DataFrame, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("i")
    val parts = (0 until n).map {
      case 0 => col("tok")
      case k => lead("tok", k).over(w)
    }
    toks
      .withColumn("sh", concat_ws(" ", parts: _*))
      .withColumn("lastTok", lead("tok", n - 1).over(w))
      .filter(col("lastTok").isNotNull)
      .select("doc_id", "i", "sh")
  }
}
