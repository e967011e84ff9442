package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Heavy-tailed (Zipfian) replacement corpus for the `documents` table
  * (VERDICT r12 "next #1"): the driver's synthetic corpus draws from 31
  * near-uniform tokens (measured 27,165 tokens / 31 distinct at
  * sf0.01, min df = 5%·N), so every document-frequency-gated branch —
  * qv18/qv22/qv24's eligible-term path, qt13's df≥5% boilerplate gate,
  * qd18's rare-shingle postings, qt12's OOV counts, qt14/qt17's
  * unseen-token smoothing — is parity-green but never exercised on its
  * design path. Real text is Zipf-distributed by nature (the shape
  * every df-gated operator exists to survive); this generator rewrites
  * ONLY the `text`/`n_chars` columns, keeping doc_id/lang/source so
  * all label-joined structure is preserved, with:
  *
  *   - a ~3000-word Zipfian (s=1.07) content vocabulary of 6-char
  *     syllable words (cannot collide with any ≤4-char stopword);
  *   - per-language stopword HEADS: ~35% of draws come from the doc's
  *     language's own stopword pool (TextOps.Stopwords — one shared
  *     definition), so qt3/qt8 language-ID sees real signal and en
  *     stop_ratio drives qt2 quality;
  *   - near-dup structure: every 50th doc is its predecessor's text
  *     with every 20th token replaced (3-shingle Jaccard ≈ 0.74 —
  *     inside MinHash-LSH's detection band);
  *   - cross-doc boilerplate: every 8th doc carries one of TWO fixed
  *     12-token passages (each lands in ~1/16 of docs — above qt13's
  *     5% df gate, and real spans for qd13/qd19/qd20).
  *
  * Everything is a pure function of doc_id (seeded java.util.Random
  * per doc), so output is deterministic under any partitioning.
  * Output layout matches the driver's (one parquet FILE per table);
  * non-document tables are copied verbatim unless --docs-only.
  */
object GenZipf {
  val VocabSize = 3000
  val ZipfS = 1.07
  /** 75 consonant-vowel syllables; word(i) = 3 syllables = 6 chars. */
  private val Syll: Array[String] =
    (for (c <- "bcdfghjklmnprst"; v <- "aeiou") yield s"$c$v").toArray

  def word(i: Int): String =
    Syll(i % 75) + Syll((i / 75) % 75) + Syll((i / 5625) % 75)

  /** Cumulative Zipf weights over ranks 1..vocabSize — memoized per
    * size (the default-3000 committed corpus and the one-off
    * large-vocabulary BPE corpus share this machinery; at the default
    * size every draw is bit-identical to the pre-parametrized code).
    */
  private val cumCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  private def cumFor(vocabSize: Int): Array[Double] =
    cumCache.computeIfAbsent(vocabSize, v => {
      val a = new Array[Double](v)
      var t = 0.0
      var r = 0
      while (r < v) { t += 1.0 / math.pow(r + 1.0, ZipfS); a(r) = t; r += 1 }
      a
    })

  private def drawZipf(u: Double, vocabSize: Int): Int = {
    val cum = cumFor(vocabSize)
    val x = u * cum(vocabSize - 1)
    var lo = 0; var hi = vocabSize - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cum(m) < x) lo = m + 1 else hi = m }
    lo
  }

  private def rngFor(docId: Long, salt: Long): java.util.Random =
    new java.util.Random(docId * 2654435761L + salt)

  /** Base text: Zipfian content draws with per-language stopword heads. */
  def genBase(docId: Long, lang: String, vocabSize: Int = VocabSize): String = {
    val rng = rngFor(docId, 0x9E3779B9L)
    val stop = graft.text.TextOps.Stopwords.getOrElse(lang,
      graft.text.TextOps.Stopwords("en"))
    val n = 10 + rng.nextInt(90)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      if (rng.nextDouble() < 0.35)
        sb.append(stop(math.min(stop.size - 1, drawZipf(rng.nextDouble(), vocabSize) % stop.size)))
      else sb.append(word(drawZipf(rng.nextDouble(), vocabSize)))
      i += 1
    }
    sb.toString
  }

  /** Near-dup: every 20th token of `prev` replaced with a fresh draw —
    * a replaced token kills its 3 overlapping 3-shingles, so 5% token
    * churn keeps shingle-level Jaccard ≈ 0.74, inside MinHash-LSH's
    * (16 perms, 4-row bands) detection range.
    */
  def perturb(docId: Long, prev: String, vocabSize: Int = VocabSize): String = {
    val rng = rngFor(docId, 0xC0FFEEL)
    prev.split(" ").zipWithIndex.map { case (t, i) =>
      if (i % 20 == 19) word(drawZipf(rng.nextDouble(), vocabSize)) else t
    }.mkString(" ")
  }

  /** Two fixed 12-token passages from the cold tail (ranks 2600+). */
  val Passages: Seq[String] =
    (0 until 2).map(p => (0 until 12).map(j => word(2600 + p * 12 + j)).mkString(" "))

  def insertPassage(docId: Long, text: String): String = {
    val toks = text.split(" ")
    val at = math.min(5, toks.length)
    val p = Passages(((docId / 8) % Passages.length).toInt)
    (toks.take(at) ++ Array(p) ++ toks.drop(at)).mkString(" ")
  }

  /** The rewritten documents frame for any driver-layout documents
    * table — the shared seam GenZipf's main and the specs both use.
    */
  def zipfDocuments(docs: DataFrame, vocabSize: Int = VocabSize): DataFrame = {
    val baseU = udf((id: Long, lang: String) => genBase(id, lang, vocabSize))
    val pertU = udf((id: Long, prev: String) => perturb(id, prev, vocabSize))
    val passU = udf((id: Long, t: String) => insertPassage(id, t))
    // near-dups read the PREDECESSOR's base text via lag inside
    // 50-blocks (doc_id%50==49 always has doc_id-1 in its block), so
    // generation stays parallel and deterministic
    val w = Window.partitionBy(floor(col("doc_id") / 50)).orderBy("doc_id")
    val withBase = docs.withColumn("zbase", baseU(col("doc_id"), col("lang")))
      .withColumn("zprev", lag("zbase", 1).over(w))
      .withColumn("znear",
        when(col("doc_id") % 50 === 49 && col("zprev").isNotNull,
          pertU(col("doc_id"), col("zprev"))).otherwise(col("zbase")))
      .withColumn("ztext",
        when(col("doc_id") % 8 === 5, passU(col("doc_id"), col("znear")))
          .otherwise(col("znear")))
    withBase.select(
      docs.columns.map {
        case "text" => col("ztext").as("text")
        case "n_chars" => length(col("ztext")).cast("long").as("n_chars")
        case c => col(c)
      }: _*)
  }

  /** Heavy-tailed replacement for the `embeddings` table (VERDICT r15
    * "next #3"): the driver's synthetic embeddings are near-isotropic
    * with near-uniform labels, so the embedding-space pair-blockers —
    * qd11's cell guard, qd5's label guard — stay parity-green without
    * ever seeing the skew they exist for. Real embedding collections
    * are the opposite: labels are Zipfian (a majority class is the
    * norm) and vectors mass-duplicate around a few archetypes
    * (template documents, collapsed encoder modes). Per vec_id (pure
    * function → deterministic under any partitioning):
    *   - label: Zipf(s=1.07) rank over the base table's 10 labels
    *     (rank 0 = the majority class);
    *   - vector: with prob 1/2 a Zipf-drawn ARCHETYPE (one of
    *     [[NumArchetypes]] fixed gaussian vectors) plus small gaussian
    *     noise (σ=0.15 → within-archetype cosine ≈ 0.98: real near-dup
    *     mass for qd5/qd11, skewed occupancy for qv3's seeded cells),
    *     otherwise an isotropic gaussian (cosine ≈ 0 background).
    * vec_id and dimensionality are preserved; values stay float32.
    */
  val NumArchetypes = 6

  private def archetype(a: Int, dim: Int): Array[Double] = {
    val rng = rngFor(-1000L - a, 0xA5C3E7L)
    Array.fill(dim)(rng.nextGaussian())
  }

  /** The NumArchetypes × dim archetype table, built once per dim
    * (ADVICE r16: archetype() is a pure function of (a, dim), so
    * recomputing dim Gaussian draws per archetype-branch ROW doubled
    * the rewrite's RNG work for 6 distinct vectors; output unchanged).
    */
  private val archCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
  private def archetypes(dim: Int): Array[Array[Double]] =
    archCache.computeIfAbsent(dim,
      d => Array.tabulate(NumArchetypes)(a => archetype(a, d)))

  def genVec(vecId: Long, dim: Int): (Array[Float], Int) = {
    val rng = rngFor(vecId, 0x5EEDFACEL)
    val label = drawZipf(rng.nextDouble(), 10)
    val vec =
      if (rng.nextDouble() < 0.5) {
        val base = archetypes(dim)(drawZipf(rng.nextDouble(), NumArchetypes))
        Array.tabulate(dim)(i => (base(i) + 0.15 * rng.nextGaussian()).toFloat)
      } else Array.fill(dim)(rng.nextGaussian().toFloat)
    (vec, label)
  }

  /** The rewritten embeddings frame for any driver-layout embeddings
    * table — same seam shape as [[zipfDocuments]].
    */
  def zipfEmbeddings(emb: DataFrame): DataFrame = {
    val genU = udf((id: Long, dim: Int) => genVec(id, dim))
    emb.withColumn("z", genU(col("vec_id"), size(col("embedding"))))
      .select(col("vec_id"), col("z._1").as("embedding"),
        col("z._2").cast("int").as("label"))
  }

  /** Heavy-tailed replacement for the `events` table (VERDICT r16
    * "next #3"): the driver's events are near-uniform over users and
    * event types (top user 86 of 10k events at sf0.01 — skew ≈ 1.3),
    * so qp5's skew profiler and qe15's burst/rate-limit flag are
    * parity-green but structurally idle — the exact blind spot qz16
    * closed for qv10. Real event streams are the opposite: user
    * activity is Zipfian with a bot/crawler head (one principal
    * holding a double-digit share of all traffic is the norm in any
    * web/API log) and event types are Zipf-distributed. Per event_id
    * (pure function → deterministic under any partitioning):
    *
    *   - user_id: Zipf(s=1.07) rank over the base table's own user
    *     range — rank 0 IS the bot (~20% of all events at 150 users);
    *   - event_type: Zipf(s=1.07) over the base table's distinct
    *     types (sorted — deterministic rank order).
    *
    * event_id/ts/value/props are preserved, so the time axis (and the
    * session/burst structure qe1/qe15 derive from it) stays the
    * driver's: the bot's ~20% share lands on every day of the span,
    * which is what makes its trailing-window peak clear qe15's
    * rate-limit threshold while staying a REAL stream shape.
    */
  def genEvent(eventId: Long, nUsers: Int, types: IndexedSeq[String]): (Long, String) = {
    val rng = rngFor(eventId, 0xB07B07L)
    (drawZipf(rng.nextDouble(), nUsers).toLong,
      types(drawZipf(rng.nextDouble(), types.size)))
  }

  /** The rewritten events frame for any driver-layout events table —
    * same seam shape as [[zipfDocuments]]/[[zipfEmbeddings]]. The user
    * range and type set come from the base table (two bounded driver
    * reads: |types| is categorical, the user range is one scalar agg).
    */
  def zipfEvents(ev: DataFrame): DataFrame = {
    val types = ev.select("event_type").distinct().orderBy("event_type")
      .collect().map(_.getString(0)).toIndexedSeq
    val nUsers = ev.agg(max("user_id")).collect().head.getLong(0).toInt + 1
    val genU = udf((id: Long) => genEvent(id, nUsers, types))
    ev.withColumn("z", genU(col("event_id")))
      .select(ev.columns.map {
        case "user_id" => col("z._1").as("user_id")
        case "event_type" => col("z._2").as("event_type")
        case c => col(c)
      }: _*)
  }

  /** Heavy-tailed replacement for the RELATIONAL fact tables (VERDICT
    * r17 "next #1"): the driver's lineitem/orders draw keys uniformly,
    * so the skew-safe relational machinery — qa11's salted two-phase
    * agg, the fact-fact join AQE's skew-join split exists for — is
    * parity-green but structurally idle (on uniform keys the salted
    * phases are structurally identical and no join partition ever
    * clears the skew factor). Real fact tables are the opposite: one
    * mega-customer / mega-order dominating its key is the norm in any
    * sales/telemetry warehouse. Per row (pure function of the
    * ORIGINAL key → deterministic under any partitioning):
    *
    *   - orders.o_custkey: Zipf(s=1.07) rank over the base table's own
    *     dense custkey range, seeded by o_orderkey — rank 0 is the
    *     mega-customer (~16% of all orders at 1500 customers);
    *   - lineitem.l_orderkey: Zipf(s=1.07) rank over the base table's
    *     dense orderkey range, seeded by the ORIGINAL l_orderkey — an
    *     order's lines move as a group (per-order line structure is
    *     preserved) and rank 0 is the mega-order (~13% of all lines at
    *     15000 orders). Every drawn key exists on the other side
    *     (dense ranges), so referential integrity holds.
    *
    * All other columns ride through unchanged; (l_orderkey,
    * l_linenumber) is intentionally no longer unique — a fact table
    * keyed by a hot entity never is.
    */
  def genCustkey(orderKey: Long, nCust: Int): Long = {
    val rng = rngFor(orderKey, 0xFAC75L)
    drawZipf(rng.nextDouble(), nCust).toLong
  }

  def genOrderkey(origOrderKey: Long, nOrders: Int): Long = {
    val rng = rngFor(origOrderKey, 0x0BDE5L)
    drawZipf(rng.nextDouble(), nOrders).toLong
  }

  /** The rewritten (lineitem, orders) pair for any driver-layout fact
    * tables — same seam shape as the other zipf rewrites. The two key
    * ranges are one bounded scalar agg each (dense 0-based keys, like
    * [[zipfEvents]]'s user range).
    */
  def zipfFacts(li: DataFrame, ord: DataFrame): (DataFrame, DataFrame) = {
    val nOrders = ord.agg(max("o_orderkey")).collect().head.getLong(0).toInt + 1
    val nCust = ord.agg(max("o_custkey")).collect().head.getLong(0).toInt + 1
    val custU = udf((ok: Long) => genCustkey(ok, nCust))
    val okeyU = udf((ok: Long) => genOrderkey(ok, nOrders))
    val zli = li.select(li.columns.map {
      case "l_orderkey" => okeyU(col("l_orderkey")).as("l_orderkey")
      case c => col(c)
    }: _*)
    val zord = ord.select(ord.columns.map {
      case "o_custkey" => custU(col("o_orderkey")).as("o_custkey")
      case c => col(c)
    }: _*)
    (zli, zord)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val dst = if (args.length > 1) args(1) else "/root/repo/target/testdata/zipf0.01"
    val docsOnly = args.contains("--docs-only")
    // one-off large-vocabulary corpora (e.g. --vocab=50000 for the
    // 32k-round BPE measurement); the committed gate corpus stays at
    // the default
    val vocab = args.collectFirst { case a if a.startsWith("--vocab=") =>
      a.stripPrefix("--vocab=").toInt }.getOrElse(VocabSize)
    val spark = graft.Session.create()
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // single FILE per table — the driver's layout (tools/check.py's
    // DuckDB views read '<dir>/<t>.parquet' as one file)
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
    wr(zipfDocuments(rd("documents"), vocab).orderBy("doc_id"), "documents")
    if (!docsOnly) {
      wr(zipfEmbeddings(rd("embeddings")).orderBy("vec_id"), "embeddings")
      wr(zipfEvents(rd("events")).orderBy("event_id"), "events")
      val (zli, zord) = zipfFacts(rd("lineitem"), rd("orders"))
      wr(zli.orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"), "lineitem")
      wr(zord.orderBy("o_orderkey"), "orders")
      Seq("region", "nation", "customer", "supplier", "part")
        .foreach(t => wr(rd(t), t))
    }
    // corpus shape evidence: distinct vocabulary + df profile
    val toks = spark.read.parquet(s"$dst/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val dfr = toks.distinct().groupBy("tok").agg(count(lit(1)).as("df"))
    val st = dfr.agg(count(lit(1)), min("df"), expr("median(df)"), max("df")).collect().head
    println(s"wrote zipf corpus: $src -> $dst  " +
      s"vocab=${st.getLong(0)} df(min/med/max)=${st.getLong(1)}/${st.getDouble(2)}/${st.getLong(3)}")
    spark.stop()
  }
}
