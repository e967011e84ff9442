package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Num, Tables}
import graft.text.TextCore._

/** Text analysis operators: token counting, quality scoring, language
  * ID, and rolling-hash fingerprints. All are per-document map/agg work
  * — embarrassingly parallel, no cross-document shuffles.
  */
object TextOps {

  /** BPE-ish pre-tokenizer: letter runs, single digits, single symbols. */
  val TokenPat = "[a-z]+|[0-9]|[^a-z0-9 ]"

  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "dans", "est"),
    "es" -> Seq("el", "los", "las", "y", "una", "del", "por", "con", "para", "es"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "mit", "von", "zu", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "有", "和", "人", "这", "中", "大"))

  /** Language priority for deterministic argmax ties. */
  val LangPrio: Seq[String] = Seq("en", "fr", "es", "de", "zh")

  /** qt1: token counts — whitespace tokens and BPE-ish regex tokens. */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"),
      size(filter(split(col("text"), " "), t => t =!= "")).as("n_ws"),
      size(expr(s"regexp_extract_all(text, '$TokenPat', 0)")).as("n_tok"),
      length(col("text")).as("len"))

  /** qt2: heuristic quality score from length, punctuation/digit ratios,
    * and English stopword density.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val stopHits = tokens(spark, sfDir)
      .withColumn("hit", when(col("tok").isInCollection(Stopwords("en")), 1).otherwise(0))
      .groupBy("doc_id")
      .agg(sum("hit").as("n_stop"), count(lit(1)).as("n_ws"), avg(length(col("tok"))).as("mean_wlen"))
    val base = Tables.documents(spark, sfDir).select(col("doc_id"),
      length(col("text")).as("len"),
      (length(col("text")) - length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))).as("n_punct"),
      (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digit"))
    base.join(stopHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        Num.r4(col("n_punct") / col("len")).as("punct_ratio"),
        Num.r4(col("n_digit") / col("len")).as("digit_ratio"),
        Num.r4(coalesce(col("n_stop") / col("n_ws"), lit(0.0))).as("stop_ratio"),
        Num.r4(coalesce(col("mean_wlen"), lit(0.0))).as("mean_wlen"),
        Num.r4(least(lit(1.0), coalesce(col("n_ws"), lit(0L)) / 100.0) * 0.3 +
          least(lit(1.0), coalesce(col("n_stop") / col("n_ws"), lit(0.0)) * 5.0) * 0.4 +
          (lit(1.0) - least(lit(1.0), col("n_punct") / col("len") * 10.0)) * 0.3).as("quality"))
  }

  /** qt3: stopword-profile language ID — argmax marker hits with a
    * deterministic priority order on ties.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    // Single pass over tokens: one conditional-sum column per language,
    // then an in-row argmax (greatest-with-tiebreak) — no unions, no
    // second shuffle.
    val hitCols = LangPrio.map(lg =>
      sum(when(col("tok").isInCollection(Stopwords(lg)), 1).otherwise(0)).as(s"h_$lg"))
    val hits = tokens(spark, sfDir).groupBy("doc_id").agg(hitCols.head, hitCols.tail: _*)
    // encode (hits desc, prio asc) into one comparable: hits*8 + (7−prio);
    // the max is unique because priorities are distinct.
    val packed = hits.select(col("doc_id") +: LangPrio.zipWithIndex.map {
      case (lg, prio) => (col(s"h_$lg") * 8 + (7 - prio)).as(s"p_$lg")
    }: _*)
    val withBest = packed.withColumn("best", greatest(LangPrio.map(lg => col(s"p_$lg")): _*))
    val pred = LangPrio.foldRight(lit("??")) { case (lg, acc) =>
      when(col(s"p_$lg") === col("best"), lit(lg)).otherwise(acc)
    }
    withBest.select(col("doc_id"), pred.as("pred_lang"),
      floor(col("best") / 8).cast("long").as("hits"))
  }

  /** qt6: corpus n-gram frequency table — top bigrams per language
    * (count → rank, the vocabulary-building primitive).
    */
  def topBigrams(spark: SparkSession, sfDir: String, topN: Int = 5): DataFrame = {
    val docs = graft.util.Tables.documents(spark, sfDir).select("doc_id", "lang")
    val w = Window.partitionBy("doc_id").orderBy("i")
    val bigrams = tokens(spark, sfDir)
      .withColumn("nxt", lead("tok", 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("bigram", concat_ws(" ", col("tok"), col("nxt")))
      .join(docs, "doc_id")
    val counts = bigrams.groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
    val wr = Window.partitionBy("lang").orderBy(col("n").desc, col("bigram"))
    counts.withColumn("rnk", row_number().over(wr)).filter(col("rnk") <= topN)
      .select("lang", "rnk", "bigram", "n")
  }

  /** qt5: semi-structured extraction — parse the events.props JSON
    * payload and aggregate the extracted field per event type
    * (get_json_object is codegen'd; no UDF, no schema inference pass).
    */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count("k").as("n"), Num.r4(avg("k")).as("avg_k"),
        min("k").as("min_k"), max("k").as("max_k"))

  /** qt4: winnowing-style fingerprint — the 3 smallest 5-gram rolling
    * hashes per document (bottom-k sketch).
    */
  def fingerprint(spark: SparkSession, sfDir: String, n: Int = 5, k: Int = 3): DataFrame = {
    // bottom-k per doc via a bounded array sort, not a full window
    // sort: the groupBy carries one array per doc (shingles/doc is
    // bounded), where row_number would sort-shuffle every shingle row.
    // Dedup happens on the HASH via collect_set — ONE long-keyed shuffle
    // with map-side partial dedup, instead of a distinct over the
    // shingle strings followed by a second shuffle. (The fingerprint is
    // the bottom-k of the hash SET — a within-doc hash collision counts
    // once, which is also the sketch a 100 TB pipeline wants.)
    shingles(spark, sfDir, n)
      .select(col("doc_id"), strHash(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(slice(array_sort(collect_set(col("h"))), 1, k).as("hs"))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("i", "h")))
      .select(col("doc_id"), (col("i") + 1).as("rnk"), col("h"))
  }

  /** qt9: repetition metrics — repetitious-document quality signals
    * INSPIRED BY Gopher (Rae et al. 2021 §A1.1), not a reimplementation:
    * the paper's duplicate n-gram signals are CHARACTER-fraction based
    * and its top signal is the top n-gram's char share, while these are
    * OCCURRENCE fractions (dup-token count / tokens, top single token's
    * occurrence share, dup-3-gram occurrences / 3-gram occurrences) —
    * so the paper's filter thresholds do NOT transfer verbatim;
    * calibrate cuts on your own corpus. Filtering on such signals is how
    * training pipelines drop boilerplate and degenerate pages; each
    * metric is per-document map/agg work over the shared token/shingle
    * stages — no cross-document shuffle.
    */
  /** qt10: composite quality filter — the keep/drop decision a training
    * pipeline actually ships: fixed-order rules over the shared token
    * stage, each doc tagged with the FIRST failing rule (or 'pass').
    * Rules: too_short (under minTok tokens), low_stopword (en docs with
    * a stopword ratio under minStopRatio — a natural-language-ness
    * check, lang-gated because the marker list is English), repetitive
    * (duplicate-token fraction over maxDupFrac), top_token (single most
    * frequent token over maxTopFrac of the doc). Signals are quantized
    * (Num.r4) BEFORE the threshold compare so the decision is
    * bit-deterministic across engines and partitionings. One token-stage
    * shuffle + a per-doc agg; the reason column makes drop-rate audits a
    * groupBy away — embarrassingly parallel at 100 TB.
    */
  def qualityFilter(spark: SparkSession, sfDir: String,
                    minTok: Long = 25L, minStopRatio: Double = 0.01,
                    maxDupFrac: Double = 0.65, maxTopFrac: Double = 0.2): DataFrame = {
    val tf = tokens(spark, sfDir).groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val per = tf.groupBy("doc_id").agg(
      sum("tf").as("n_tok"), count(lit(1)).as("n_uniq"), max("tf").as("top_tf"),
      sum(when(col("tok").isInCollection(Stopwords("en")), col("tf")).otherwise(0L)).as("n_stop"))
    Tables.documents(spark, sfDir).select("doc_id", "lang")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        Num.r4(coalesce(col("n_stop") / col("n_tok"), lit(0.0))).as("stop_ratio"),
        Num.r4(coalesce((col("n_tok") - col("n_uniq")) / col("n_tok"), lit(0.0))).as("dup_frac"),
        Num.r4(coalesce(col("top_tf") / col("n_tok"), lit(0.0))).as("top_frac"))
      .withColumn("reason",
        qualityVerdict(minTok, minStopRatio, maxDupFrac, maxTopFrac))
      .select(col("doc_id"), col("lang"), col("reason"),
        (col("reason") === "pass").as("keep"))
  }

  /** qt10's fixed-order rule cascade over (n_tok, stop_ratio, dup_frac,
    * top_frac, lang) — ONE definition shared by the batch operator and
    * streaming.qualityFilterStream so the keep/drop decision can never
    * diverge between the two.
    */
  private[graft] def qualityVerdict(minTok: Long, minStopRatio: Double,
                                    maxDupFrac: Double, maxTopFrac: Double): Column =
    when(col("n_tok") < minTok, "too_short")
      .when(col("lang") === "en" && col("stop_ratio") < minStopRatio, "low_stopword")
      .when(col("dup_frac") > maxDupFrac, "repetitive")
      .when(col("top_frac") > maxTopFrac, "top_token")
      .otherwise("pass")

  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = tokens(spark, sfDir).groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val tokStats = tf.groupBy("doc_id").agg(
      sum("tf").as("n_tok"), count(lit(1)).as("n_uniq"), max("tf").as("top_tf"))
    val g3 = shingles(spark, sfDir, 3).groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
    val g3Stats = g3.groupBy("doc_id").agg(
      sum("c").as("n_3g"),
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_3g_dup"))
    Tables.documents(spark, sfDir).select("doc_id")
      .join(tokStats, Seq("doc_id"), "left")
      .join(g3Stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        Num.r4(coalesce((col("n_tok") - col("n_uniq")) / col("n_tok"), lit(0.0))).as("dup_tok_frac"),
        Num.r4(coalesce(col("top_tf") / col("n_tok"), lit(0.0))).as("top_tok_frac"),
        Num.r4(coalesce(col("n_3g_dup") / col("n_3g"), lit(0.0))).as("dup_3gram_frac"))
  }

  /** qt8: language-ID evaluation — confusion matrix of the heuristic
    * classifier (qt3) against the gold label. The model-quality report
    * a filtering pipeline checks before trusting lang-based routing.
    */
  def langIdEval(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))

  /** qt7: TF-IDF top terms per document — tf = term freq / doc length,
    * idf = ln(N / df). Ranking uses the QUANTIZED score (ties → token
    * asc) so both engines' libm ln() ulp differences can't flip ranks.
    * Three shuffles: (doc, tok) counts, per-tok df, top-k window.
    */
  def tfidf(spark: SparkSession, sfDir: String, topN: Int = 5): DataFrame = {
    val tf = tokens(spark, sfDir).groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dlen = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nRow = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
    tf.join(dlen, "doc_id").join(df, "tok").crossJoin(broadcast(nRow))
      .withColumn("tfidf",
        Num.r4(col("tf") / col("dlen") * log(col("n_docs") / col("df"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topN)
      .select("doc_id", "rnk", "tok", "tfidf")
  }

  /** qt12: vocabulary coverage / OOV-rate report — how well a fixed
    * top-V vocabulary covers each document (the tokenizer-coverage
    * check run before committing to a vocab). The vocab is the corpus'
    * top `vocabSize` tokens (count desc, token asc — deterministic);
    * it broadcasts (vocabularies are ≤ a few hundred thousand entries
    * regardless of corpus size) and each doc's OOV count is a map-side
    * broadcast left-anti-style join over the shared cached token stage
    * — the corpus never shuffles except the per-doc count.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String, vocabSize: Int = 32): DataFrame = {
    require(vocabSize >= 1, s"vocabSize=$vocabSize")
    val toks = tokens(spark, sfDir)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_toks"), col("n_oov"),
        Num.r4(col("n_oov") / col("n_toks")).as("oov_rate"))
  }

  /** qt11: token-budget shard packing — the step that turns a filtered
    * corpus into training shards. Docs stream in (source, lang, doc_id)
    * order; a doc's shard is its EXCLUSIVE prefix token count div
    * budget, so shards are contiguous runs that may overflow by at most
    * one document (deterministic, single-pass — unlike greedy
    * reset-on-overflow packing, which is inherently sequential).
    *
    * Scale shape (r17): the per-(source, lang) running token count is
    * [[graft.util.PrefixSum.runningSum]]'s two-pass distributed prefix
    * sum — doc_id range buckets, one partial-agg pass to a
    * |groups|·|buckets|-row rollup, the sequential exclusive prefix
    * over THAT, broadcast back, local cumsum per bucket. The old form
    * (`sum.over(partitionBy(source, lang).orderBy(doc_id))`, unbounded
    * frame) concentrated a mega-source's entire doc stream into ONE
    * sorted window task at 100 TB; now no window partition exceeds
    * ~1/nBuckets of its group, and output is bit-identical (PlanSpec
    * pins the bucketed shape).
    */
  def packShards(spark: SparkSession, sfDir: String, budget: Long = 2048L): DataFrame = {
    require(budget >= 1, s"budget=$budget: shard token budget must be positive")
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n_toks"))
    graft.util.PrefixSum.runningSum(base, Seq("source", "lang"), "doc_id", "n_toks", "cum")
      .select(col("doc_id"), col("source"), col("lang"), col("n_toks"),
        floor((col("cum") - col("n_toks")) / lit(budget)).cast("long").as("shard"))
  }

  /** qt13: boilerplate n-gram coverage — fraction of each document made
    * of corpus-frequent bigrams (repeated headers/footers/templates; the
    * cross-document cleaning signal CCNet/RefinedWeb-style pipelines cut
    * on, complementing qt9's WITHIN-document repetition). Boilerplate =
    * bigrams whose doc-frequency ≥ dfFrac of the corpus, capped to the
    * topK most frequent (deterministic ties by bigram). The candidate
    * set is bounded by corpus shape, not size — each qualifying bigram
    * occupies ≥ dfFrac·nDocs docs, so |candidates| ≤ avg bigrams-per-doc
    * / dfFrac (~20k at 1k-token docs and 5%) — safely broadcast even at
    * 100 TB; the rank cap is a window over that bounded set only. Per
    * doc: one map-side broadcast probe + one groupBy(doc_id).
    */
  def boilerplate(spark: SparkSession, sfDir: String, dfFrac: Double = 0.05,
                  topK: Int = 500, maxFrac: Double = 0.5): DataFrame = {
    require(dfFrac > 0.0 && dfFrac <= 1.0, s"dfFrac=$dfFrac: must be in (0, 1]")
    require(topK >= 1, s"topK=$topK: boilerplate cap must be positive")
    val w = Window.partitionBy("doc_id").orderBy("i")
    val bgs = tokens(spark, sfDir)
      .withColumn("nxt", lead("tok", 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("bg", concat_ws(" ", col("tok"), col("nxt")))
      .select("doc_id", "bg")
    val nd = Tables.documents(spark, sfDir).agg(count(lit(1)).as("nd"))
    val wr = Window.orderBy(col("df").desc, col("bg"))
    val boiler = bgs.distinct().groupBy("bg").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .filter(col("df") >= ceil(lit(dfFrac) * col("nd")))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= topK)
      .select("bg")
    val cover = bgs.join(broadcast(boiler).withColumn("hit", lit(1)), Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_boiler"))
    val frac = coalesce(Num.r4(col("n_boiler") / col("n_bg")), lit(0.0))
    Tables.documents(spark, sfDir).select("doc_id")
      .join(cover, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bg"), lit(0L)).as("n_bg"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        frac.as("boiler_frac"),
        when(frac <= maxFrac, 1).otherwise(0).as("keep"))
  }

  /** qt14: unigram language-model scoring — per-document mean negative
    * log-likelihood under a per-language unigram LM estimated from the
    * corpus itself (the perplexity-style quality filter of CCNet
    * [Wenzek et al. 2020], with the KenLM 5-gram swapped for the
    * largest model whose estimation is a pure grouped count). High nll
    * = tokens rare for the claimed language — a drop signal. The LM is
    * broadcast here (small at test scale); at web scale the vocab's
    * long tail outgrows a broadcast, and the probe is already a plain
    * (lang, tok) equi-join that degrades gracefully to a shuffled hash
    * join — or cap the LM to top-V per lang (qt12's pattern) with a
    * floor log-prob for OOV. Per-token log-probs are quantized to the
    * 1e-4 grid BEFORE the per-doc sum so accumulation is exact-integer
    * and engine-order-free.
    */
  def unigramNll(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val tk = tokens(spark, sfDir).join(docs, "doc_id")
    val cnts = tk.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    val tots = cnts.groupBy("lang").agg(sum("cnt").as("tot"))
    val lm = cnts.join(tots, "lang")
      .withColumn("lpq", Num.q4(log(col("cnt") / col("tot"))))
      .select("lang", "tok", "lpq")
    val perDoc = tk.join(broadcast(lm), Seq("lang", "tok"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tok"), sum("lpq").as("slp"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(Num.r4(-(col("slp") / 10000d / col("n_tok"))), lit(0.0)).as("nll"))
  }

  /** qt15: exact line-level dedup across the corpus — the C4 / RefinedWeb
    * "drop any line that occurs verbatim in multiple documents" transform
    * (Raffel et al. 2020 §2.2 dedup three-sentence spans; Penedo et al.
    * 2023 §3.3 exact substrings). This corpus has no newlines, so a
    * "line" is a fixed run of `segWords` consecutive words (last segment
    * may be shorter). Unlike qt13 (a coverage REPORT), this REWRITES the
    * corpus: segments appearing in >= `minDocs` distinct docs are cut and
    * each doc's cleaned text is rebuilt from its kept segments in order.
    *
    * Scale shape: one posexplode (x n_words/segWords), a two-level
    * hash-agg for distinct-doc counts (map-side partial on (seg, doc)),
    * one shuffle join segs<->counts on the segment value — the duplicate
    * set is corpus-sized at 100 TB, so it is NOT broadcast — then a
    * per-doc array_sort over only that doc's segments. No window, no
    * global sort, no pairwise anything.
    */
  def lineDedup(spark: SparkSession, sfDir: String,
                segWords: Int = 3, minDocs: Int = 2): DataFrame = {
    require(segWords >= 1 && minDocs >= 2, s"segWords=$segWords minDocs=$minDocs")
    val segs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(ws) / ${segWords}.0) as int) - 1)," +
          s" i -> concat_ws(' ', slice(ws, i * $segWords + 1, $segWords)))"))
        .as(Seq("seg_idx", "seg")))
    val counts = segs.groupBy("seg").agg(countDistinct("doc_id").as("nd"))
    segs.join(counts, "seg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("nd") < minDocs, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN nd < " + minDocs +
            " THEN struct(seg_idx, seg) END)), p -> p.seg)")).as("clean_text"))
  }

  /** qt17: per-language INTERPOLATED bigram-LM mean NLL per doc — the
    * sharper CCNet-style perplexity filter one order up from qt14's
    * unigram LM: p(w2|w1) = λ·c(w1w2)/c(w1·) + (1−λ)·c(·w2)/N, both
    * terms estimated on the corpus bigram stream (the interpolation
    * floor keeps unseen-in-context words finite — unsmoothed bigrams
    * would NLL→∞ on any novel continuation). Same scale discipline as
    * qt14: per-position log-probs quantized to 1e-4 PRE-sum
    * (order-free exact), LM table grouped-count built with map-side
    * partials and broadcast to the per-doc stream (shuffle-join it
    * instead when a 100 TB vocab outgrows the broadcast).
    */
  def bigramNll(spark: SparkSession, sfDir: String, lambda: Double = 0.7): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda=$lambda")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val w = Window.partitionBy("doc_id").orderBy("i")
    val bgs = tokens(spark, sfDir)
      .withColumn("nxt", lead("tok", 1).over(w))
      .filter(col("nxt").isNotNull)
      .join(docs, "doc_id")
      .select(col("doc_id"), col("lang"), col("tok").as("w1"), col("nxt").as("w2"))
    val bcnt = bgs.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("cb"))
    val wcnt = bcnt.groupBy("lang", "w1").agg(sum("cb").as("cw"))
    val ucnt = bcnt.groupBy("lang", "w2").agg(sum("cb").as("c2"))
    val tot = ucnt.groupBy("lang").agg(sum("c2").as("nb"))
    val lm = bcnt.join(wcnt, Seq("lang", "w1")).join(ucnt, Seq("lang", "w2"))
      .join(tot, "lang")
      .withColumn("lpq", Num.q4(
        log(lit(lambda) * (col("cb") / col("cw")) + lit(1.0 - lambda) * (col("c2") / col("nb")))))
      .select("lang", "w1", "w2", "lpq")
    val perDoc = bgs.join(broadcast(lm), Seq("lang", "w1", "w2"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_bg"), sum("lpq").as("slp"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bg"), lit(0L)).as("n_bg"),
        coalesce(Num.r4(-(col("slp") / 10000d / col("n_bg"))), lit(0.0)).as("nll2"))
  }

  /** qt18: per-source scorecard — the one-page ingest dashboard a data
    * team reviews per crawl/source before mixing: volume (docs, tokens,
    * mean chars), language spread, and the exact-duplicate rate (docs
    * whose md5 appears more than once corpus-wide — qd1's signal rolled
    * up to the source grain). Composition of the shared token stage +
    * one md5 group pass; every aggregate is a map-side-partial rollup
    * to |sources| rows.
    */
  def sourceScorecard(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("h"))
    val tk = tokens(spark, sfDir).groupBy("doc_id").agg(count(lit(1)).as("n_toks"))
    val dupH = d.groupBy("h").agg(count(lit(1)).as("nh"))
    d.join(tk, Seq("doc_id"), "left")
      .join(dupH, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n_toks"), lit(0L))).as("total_toks"),
        Num.r4(sum("n_chars") / count(lit(1))).as("avg_chars"),
        countDistinct("lang").as("n_langs"),
        sum(when(col("nh") > 1, 1L).otherwise(0L)).as("n_exact_dup"))
      .withColumn("dup_rate", Num.r4(col("n_exact_dup") / col("n_docs")))
  }

  /** The PII patterns qt19 scans for — deliberately restricted to regex
    * constructs (character classes, bounded repetition, no backrefs or
    * lookarounds) on which Java's engine and DuckDB's RE2 agree, so the
    * oracle counts the identical non-overlapping matches. Shared with
    * DocOracle.qt19.
    */
  private[text] val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}",
    "ipv4"  -> "([0-9]{1,3}\\.){3}[0-9]{1,3}")

  /** qt19: PII scan — the scrub gate a training-data pipeline runs
    * before anything ships (C4/RefinedWeb-class pipelines filter or
    * redact exactly these): per document, non-overlapping match counts
    * for email / phone / IPv4 shapes plus the combined flag. Stateless
    * single-pass codegen projection over the documents scan — no
    * shuffle, no join, embarrassingly parallel at 100 TB; the per-doc
    * verdict is what the redaction/drop step and the per-source audit
    * both key on. Core split out so specs can drive synthetic docs with
    * known plants.
    */
  def piiScan(spark: SparkSession, sfDir: String): DataFrame =
    piiScanCore(Tables.documents(spark, sfDir))

  private[graft] def piiScanCore(docs: DataFrame): DataFrame = {
    val cnts = piiPatterns.map { case (name, pat) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as(s"n_$name")
    }
    docs.select(col("doc_id") +: cnts: _*)
      .withColumn("has_pii",
        when(piiPatterns.map(p => col(s"n_${p._1}")).reduce(_ + _) > 0, 1).otherwise(0))
  }

  /** Placeholder each PII pattern redacts to — shared with the qt23
    * oracle so both engines rewrite identically.
    */
  private[text] val piiPlaceholders: Map[String, String] =
    Map("email" -> "<EMAIL>", "phone" -> "<PHONE>", "ipv4" -> "<IP>")

  /** qt23: PII REDACTION — the rewrite half of qt19's scan (scan gates,
    * redact ships): every match of the shared engine-agreeing pattern
    * list is replaced with its typed placeholder, and the doc carries
    * its replacement count. Patterns chain in a FIXED order over the
    * progressively redacted string in both engines, so cross-pattern
    * interactions (an IPv4 swallowed by an email's domain) resolve
    * identically — the count is per-stage, which is why it can differ
    * from qt19's independent per-pattern counts by design.
    *
    * Scale shape: qt19's — a stateless zero-shuffle codegen projection;
    * the corpus rewrite is embarrassingly parallel and composes with
    * any downstream writer.
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame =
    piiRedactCore(Tables.documents(spark, sfDir))

  private[graft] def piiRedactCore(docs: DataFrame): DataFrame = {
    val start: (Column, Column) = (col("text"), lit(0L))
    val (red, n) = piiPatterns.foldLeft(start) { case ((t, acc), (name, pat)) =>
      (regexp_replace(t, pat, piiPlaceholders(name)),
        acc + size(regexp_extract_all(t, lit(pat), lit(0))).cast("long"))
    }
    docs.select(col("doc_id"), red.as("text_redacted"), n.as("n_redact"))
  }

  /** The character alphabet qt16 histograms over — this corpus is
    * lowercase words + spaces, so 26 letters + ' ' covers it; anything
    * else lands in the `other` bucket. Shared with DocOracle.qt16 so
    * both engines score the identical distribution.
    */
  private[text] val entropyAlphabet: Seq[String] = ('a' to 'z').map(_.toString) :+ " "

  /** qt16: per-document character-distribution Shannon entropy — the
    * cheap gibberish / low-diversity quality signal (compressed or
    * repeated-char junk scores low, natural text high). ZERO-shuffle
    * scale shape: instead of explode(chars) → groupBy(doc, char) — a
    * corpus×chars shuffle at 100 TB — each alphabet char's count is
    * `length(text) - length(replace(text, c, ''))`, a stateless
    * 27-term codegen projection; entropy terms -(p·log2 p) are
    * quantized to the 1e-6 grid pre-sum (≤ 28 terms, exact-integer,
    * order-free, same discipline as qt14's log-probs). Output stays
    * embarrassingly parallel: no join, no window, no aggregation.
    */
  def charEntropy(spark: SparkSession, sfDir: String, minBits: Double = 3.0): DataFrame = {
    val n = col("n_chars")
    def cnt(c: String): Column = // translate deletes every occurrence — non-regex, codegen'd
      (length(col("text")) - length(translate(col("text"), c, ""))).cast("long")
    val counts = entropyAlphabet.map(cnt) :+
      (length(col("text")).cast("long") - entropyAlphabet.map(cnt).reduce(_ + _))
    def termQ(k: Column): Column = when(k > 0, Num.q6(-(k / n) * log(2.0, k / n))).otherwise(0L)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("n_chars"))
      .select(col("doc_id"), col("n_chars"),
        counts.map(c => when(c > 0, 1).otherwise(0)).reduce(_ + _).as("n_distinct"),
        Num.r4(Num.fromQ6(counts.map(termQ).reduce(_ + _))).as("entropy"))
      .withColumn("low_diversity", when(col("entropy") < minBits, 1).otherwise(0))
  }

  /** qt20: temperature-scaled training-mix weights — the data-mixture
    * design step of every multi-source LLM corpus (α-sampling,
    * Conneau & Lample XLM arXiv:1901.07291 §3.1 / mT5 arXiv:2010.11934
    * §3, public): per source, the natural token share p_s = n_s/N is
    * flattened to w_s ∝ p_s^α (α < 1 upsamples the tail) and the
    * oversample factor w_s/p_s tells the sampler how many effective
    * epochs of each source a training run draws.
    *
    * Determinism: p_s is an exact long/long division; each p_s^α term
    * quantizes to the 1e-6 grid before the |sources|-term normalizer
    * accumulates as exact ints (engine grouping order can't flip a
    * bit). Scale shape: one rollup over the shared token stage
    * (map-side partials → |sources| rows) + two one-row scalar
    * broadcasts — nothing else moves.
    */
  def mixWeights(spark: SparkSession, sfDir: String, alpha: Double = 0.7): DataFrame =
    mixShares(spark, sfDir, alpha)
      .select(col("source"), col("n_docs"), col("n_tok"),
        Num.r4(col("p_nat")).as("p_nat"),
        Num.r4(col("pa_q").cast("double") / col("z")).as("w_mix"),
        when(col("p_nat") > 0,
          Num.r4((col("pa_q").cast("double") / col("z")) / col("p_nat"))).as("oversample"))

  /** qt20's share frame with the raw quantities kept (pa_q, z, tot) —
    * ONE definition read by the qt20 report and qc4's budget planner,
    * mirrored by the one share-CTE text both oracles start from
    * (SparkEntry.MixSharesSql).
    */
  private[graft] def mixShares(spark: SparkSession, sfDir: String,
                               alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha: the mixing exponent flattens, not inverts")
    val nt = tokens(spark, sfDir).groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val per = Tables.documents(spark, sfDir).select("doc_id", "source")
      .join(nt, Seq("doc_id"), "left")
      .groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("nt"), lit(0L))).as("n_tok"))
    val tot = per.agg(sum("n_tok").as("tot"))
    val sh = per.crossJoin(broadcast(tot))
      .withColumn("p_nat", col("n_tok").cast("double") / col("tot"))
      .withColumn("pa_q", Num.q6(pow(col("p_nat"), alpha)))
    val z = sh.agg(sum("pa_q").as("z"))
    sh.crossJoin(broadcast(z))
  }

  /** qc4: token-BUDGET feasibility plan — can the corpus actually fill
    * a B-token training mix at qt20's temperature weights? (The
    * planning pass run before materializing a mixture: a weight scheme
    * that oversamples a small source past its volume either repeats
    * data or starves the budget.) Per source: the mix weight, its
    * token target w·B (B defaults to half the corpus — derived from
    * the data, scale-free), the available volume, the bindable
    * allocation min(avail, target), the fill rate and a binding flag.
    * All |sources|-row arithmetic over the shared mixShares frame; the
    * only data-scale work is qt20's own token count. Deterministic
    * cross-engine: target = floor((pa_q/z)·B) on exact-int-derived
    * doubles, identical operand order in the oracle.
    */
  def budgetPlan(spark: SparkSession, sfDir: String,
                 alpha: Double = 0.7): DataFrame =
    budgetPlanFrom(mixShares(spark, sfDir, alpha))

  /** The qc4 plan projection over any (source, n_tok, pa_q, z, tot)
    * share frame — separated so the spec can plant a SKEWED mix where
    * a rare source actually binds (the synthetic corpus is too
    * uniform to exercise that branch at alpha = 0.7).
    */
  private[graft] def budgetPlanFrom(sh: DataFrame): DataFrame = {
    val wRaw = col("pa_q").cast("double") / col("z")
    val budget = floor(col("tot") / 2.0).cast("long")
    val target = floor(wRaw * budget.cast("double")).cast("long")
    sh.select(col("source"), Num.r4(wRaw).as("w_mix"),
        target.as("target_toks"), col("n_tok").as("avail_toks"),
        least(col("n_tok"), target).as("alloc_toks"))
      .withColumn("fill", when(col("target_toks") > 0,
        Num.r4(col("alloc_toks") / col("target_toks"))))
      .withColumn("binding",
        when(col("alloc_toks") < col("target_toks"), 1L).otherwise(0L))
  }

  /** qc1: the corpus-build FUNNEL — the document pipeline's headline
    * experiment (q57's sibling): every doc runs the full curation
    * chain in its production order and the per-source manifest reports
    * the survivor count at each gate —
    *   1. quality (qt10's verdict cascade),
    *   2. decontamination (qd12: eval-split docs AND docs sharing a
    *      5-gram with the eval split drop),
    *   3. near-dup dedup (qd6's CC labels; keeper = lowest surviving
    *      doc_id per cluster, so a cluster whose canonical member was
    *      quality-filtered still keeps its best survivor),
    *   4. per-source cap (qt21's rule over the survivors).
    * The audit a corpus build reviews before materializing: where the
    * mass goes, per source, all-integer exact.
    *
    * Scale shape: pure composition of the session-cached stages the
    * individual operators own (tokens, shingles, CC labels) + one
    * doc_id join spine, one cluster keeper agg, one group-limited
    * per-source cap threshold ([[perSourceCapThreshold]] — r16: no
    * more full per-source running rank), one rollup. Nothing here adds
    * a shuffle the stages didn't already pay.
    */
  /** The per-document staged keep flags of the corpus-build funnel —
    * qc1 rolls them up per source, qc3's datasheet describes the final
    * survivor set. One frame so the two reports can never disagree on
    * which documents survived.
    */
  private[graft] def corpusFlags(spark: SparkSession, sfDir: String, cap: Int,
                                 evalMod: Long): DataFrame =
    // session-cached: the funnel's join/window chain is the cost both
    // qc1 and qc3 pay — one materialization (the staged per-doc flags
    // table a real build would persist between the report and the card)
    graft.util.StageCache.cached(spark, sfDir, s"corpusflags_${cap}_$evalMod") {
      corpusFlagsBuild(spark, sfDir, cap, evalMod)
    }

  private[graft] def corpusFlagsBuild(spark: SparkSession, sfDir: String, cap: Int,
                                      evalMod: Long): DataFrame = {
    require(cap >= 1, s"cap=$cap")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "lang", "n_chars")
    val q = qualityFilter(spark, sfDir).select(col("doc_id"), col("keep").as("q_keep"))
    val con = Dedup.decontaminate(spark, sfDir, 5, evalMod)
      .select(col("doc_id"), col("contaminated"))
    val st = docs.join(q, "doc_id")
      .join(con, Seq("doc_id"), "left")
      .join(Dedup.dupClusters(spark, sfDir), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("clean", when(col("doc_id") % evalMod === 0, lit(false))
        .otherwise(coalesce(!col("contaminated"), lit(true))))
      .withColumn("c_keep", col("q_keep") && col("clean"))
    val keepers = st.filter(col("c_keep"))
      .groupBy("cluster_id").agg(min("doc_id").as("keeper"))
    // two consumers below (the threshold probe and the final
    // projection) — checkpoint the staged flags once, like datasetCard
    val flagged = st.join(keepers, Seq("cluster_id"), "left")
      .withColumn("d_keep", col("c_keep") && col("doc_id") === col("keeper"))
      .localCheckpoint(eager = false)
    // per-source cap via threshold selection, NOT a running rank over
    // each source's full row set (r15 weak #2): the cap smallest kept
    // doc_ids per source reduce to ONE scalar threshold per source,
    // then final_keep is a stateless comparison. A source with no kept
    // docs has no threshold row (left join → null → never final-kept,
    // and d_keep is false there anyway).
    val thr = perSourceCapThreshold(flagged.filter(col("d_keep")), cap)
    flagged.join(broadcast(thr), Seq("source"), "left")
      .withColumn("final_keep",
        col("d_keep") && col("doc_id") <= coalesce(col("cap_thr"), lit(Long.MinValue)))
      .drop("cap_thr")
  }

  /** The per-source cap threshold: the cap-th smallest doc_id per
    * source (the max kept doc_id when a source holds fewer than cap)
    * over `kept` rows — qc1's funnel cap and qt21's domain cap both
    * ride it. The rn<=cap filter sits ADJACENT to the row_number so
    * Catalyst's InferWindowGroupLimit inserts a PARTIAL
    * WindowGroupLimit BELOW the exchange: every map task truncates to
    * ≤cap rows per source before shuffling, so a 100 TB mega-source
    * (domain skew is the real distribution: a handful of giant crawls)
    * ships O(cap × tasks) rows into its reducer — never its full
    * sorted self, which is what the old per-source running rank paid.
    * Output is |sources| rows, broadcast back for a stateless
    * `doc_id <= cap_thr` comparison. PlanSpec pins the group-limit
    * shape.
    */
  private[graft] def perSourceCapThreshold(kept: DataFrame, cap: Int): DataFrame =
    kept.select("source", "doc_id")
      .withColumn("rn",
        row_number().over(Window.partitionBy("source").orderBy("doc_id")))
      .filter(col("rn") <= cap)
      .groupBy("source").agg(max("doc_id").as("cap_thr"))

  def corpusBuild(spark: SparkSession, sfDir: String, cap: Int = 20,
                  evalMod: Long = 50L): DataFrame =
    corpusFlags(spark, sfDir, cap, evalMod)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("q_keep"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("c_keep"), 1L).otherwise(0L)).as("n_decontam"),
        sum(when(col("d_keep"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("final_keep"), 1L).otherwise(0L)).as("n_final"),
        sum(when(col("final_keep"), col("n_chars")).otherwise(0L)).as("final_chars"))

  /** qc6/qc7: the corpus build with its PRE-FLIGHT attached (VERDICT
    * r17 next #5) — the report-then-build operational pattern qh1/qh2
    * exist for, as ONE keyed op: before a corpus operator schedules the
    * funnel's guarded dedup stage, it consults
    * [[HotReport.hotBlockReport]] and the manifest every row ships
    * carries the verdict — `hot_groups` (over-cap group count across
    * all four guarded families) and `hot_families` (the sorted family
    * list), the go/no-go a build reviews next to where-the-mass-goes.
    * Empty verdict (0, "") ⟺ every guarded build in the funnel's
    * universe runs clean at these caps.
    *
    * Scale shape: qc1's manifest rollup + the pre-flight's |groups|-row
    * rollups (each the session-cached table its guard already pays),
    * reduced to ONE broadcast scalar row — no new data-scaled work.
    * Registered twice: qc6 at production caps on the driver corpus
    * (clean), qc7 at tightened caps on the committed `hotdata/` corpus,
    * where the planted cliques surface all four families in the
    * manifest while the build itself still runs (the caps are the
    * pre-flight's knobs, not the build's).
    */
  def corpusBuildPreflight(spark: SparkSession, sfDir: String, cap: Int = 20,
                           evalMod: Long = 50L,
                           maxBucket: Long = Dedup.LshMaxBucket,
                           maxBlock: Long = Dedup.NgramMaxBlock,
                           maxLabel: Long = graft.vector.Similarity.EmbedMaxLabel,
                           maxCell: Long = 1L << 20): DataFrame = {
    val manifest = corpusBuild(spark, sfDir, cap, evalMod)
    val pf = HotReport.hotBlockReport(spark, sfDir, maxBucket, maxBlock,
        maxLabel, maxCell)
      .agg(count(lit(1)).as("hot_groups"),
        array_join(array_sort(collect_set(col("family"))), ",").as("hot_families"))
    manifest.crossJoin(broadcast(pf))
  }

  /** qc3: the DATASHEET of the curated corpus — the data-composition
    * table a model card ships (Datasheets for Datasets, Gebru et al.
    * arXiv:1803.09010 §3.2; the "training data" section of every LLM
    * report, public): for the documents that SURVIVE qc1's full
    * funnel, the (source, lang) composition — doc/token/char volume
    * and each cell's share of the final corpus. Built over the same
    * per-doc staged frame as qc1 (one definition of "survived"), plus
    * the session-cached token stage for volumes.
    *
    * Scale shape: the funnel stages are the cost and they're shared;
    * the datasheet itself adds one |survivors| token join + a
    * (source, lang) rollup with map-side partials + two one-row
    * scalar broadcasts. Nothing new crosses an exchange at corpus
    * scale.
    */
  def datasetCard(spark: SparkSession, sfDir: String, cap: Int = 20,
                  evalMod: Long = 50L): DataFrame = {
    val fin = corpusFlags(spark, sfDir, cap, evalMod)
      .filter(col("final_keep"))
      .select("doc_id", "source", "lang", "n_chars")
    val nt = tokens(spark, sfDir).groupBy("doc_id").agg(count(lit(1)).as("nt"))
    // per checkpoints: the totals agg and the final share projection
    // both consume it — one survivor join + rollup, not two
    val per = fin.join(nt, Seq("doc_id"), "left")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("nt"), lit(0L))).as("n_tokens"),
        sum("n_chars").as("n_chars"))
      .localCheckpoint(eager = false)
    val tot = per.agg(sum("n_docs").as("td"), sum("n_tokens").as("tt"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        Num.r4(col("n_docs").cast("double") / col("td")).as("doc_share"),
        Num.r4(col("n_tokens").cast("double") / col("tt")).as("tok_share"))
  }

  /** qt21: per-source document cap — C4/Dolma-style corpus-balance
    * gate (public): no source may contribute more than `cap` documents;
    * beyond that, documents are dropped deterministically (keep the
    * `cap` lowest doc_ids — ingestion order). Output is the per-source
    * audit a corpus build reviews before materializing the kept set:
    * doc and char counts on both sides of the cap.
    *
    * Scale shape (r16): the cap-th-smallest doc_id per source comes
    * from [[perSourceCapThreshold]]'s group-limited rank (partial
    * WindowGroupLimit below the exchange — each map task pre-truncates
    * to cap rows per source), and kept/dropped is then a stateless
    * threshold comparison inside one hash aggregation. Domain skew is
    * the REAL distribution here (a handful of giant crawls): the old
    * per-source running rank sorted a mega-domain in ONE reducer; the
    * threshold form never moves more than O(cap × tasks) rows per
    * source.
    */
  def domainCap(spark: SparkSession, sfDir: String, cap: Int = 20): DataFrame = {
    require(cap >= 1, s"cap=$cap")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    // every source has >= 1 doc, so rn=1 <= cap always lands a
    // threshold row — the inner join drops nothing
    val kept = col("doc_id") <= col("cap_thr")
    docs.join(broadcast(perSourceCapThreshold(docs, cap)), Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("n_chars")).otherwise(0L)).as("kept_chars"),
        sum(when(!kept, col("n_chars")).otherwise(0L)).as("dropped_chars"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("kept_chars"), col("dropped_chars"))
  }

  /** qt22: DSIR importance-resampling weights — targeted data selection
    * (Xie et al., "Data Selection for Language Models via Importance
    * Resampling", arXiv:2302.03169, public): score every raw-corpus doc
    * by how much more likely its hashed n-gram bag is under a
    * target-domain model than under the raw model. Features are
    * unigrams + word bigrams hashed into `nBuckets` buckets (the
    * paper's hashed generative model); both bucket models get add-one
    * smoothing; the per-doc score is
    *   log w(x) = Σ_f [log p_target(b(f)) − log p_raw(b(f))]
    * and `selected` marks docs whose bag looks more target-like than
    * raw-like (the deterministic stand-in for the paper's Gumbel
    * resampling draw). Target corpus here = the `target` source's docs
    * (the "trusted domain" a curator points at); raw = every other doc.
    *
    * Determinism: each per-bucket log-ratio quantizes to the 1e-6 grid
    * before the per-doc sum accumulates as exact longs (qt14/qt17's
    * discipline) — engine grouping order can't flip a bit.
    *
    * Scale shape: the feature stream reuses the session-cached token
    * and bigram-shingle stages; the bucket models are ONE map-side-
    * combined agg down to `nBuckets` rows (target and raw counted in
    * the same pass as conditional sums), broadcast back as a tiny
    * log-ratio table; the only row-scale exchange is the per-doc
    * hash agg. No join grows with corpus size × corpus size — exactly
    * the shape DSIR needs to score a 100 TB crawl in one pass.
    */
  /** qt22's hashed feature stream: (doc_id, source, bucket).
    * Session-cached — the model fit and the per-doc scoring pass both
    * read it, and ModelStore.saveDsir + an in-session score would
    * otherwise re-run the explode+hash chain per consumer.
    */
  private def dsirFeatures(spark: SparkSession, sfDir: String,
                           nBuckets: Int): DataFrame =
    graft.util.StageCache.cached(spark, sfDir, s"dsirfeat_$nBuckets") {
      tokens(spark, sfDir).select(col("doc_id"), col("tok").as("f"))
        .unionByName(shingles(spark, sfDir, 2).select(col("doc_id"), col("sh").as("f")))
        .join(Tables.documents(spark, sfDir).select("doc_id", "source"), "doc_id")
        .select(col("doc_id"), col("source"), (strHash(col("f")) % nBuckets).as("b"))
    }

  /** qt22's trained model: DENSE per-bucket quantized log-ratio table
    * (b → lrq), one row for every bucket 0..nBuckets-1. Buckets no
    * corpus feature hashed into still get the smoothed prior ratio
    * log((1/(tt+B))/(1/(tr+B))) — in batch those rows never join, but
    * a STREAMING doc can hash a novel feature there, so the persisted
    * artifact must define every bucket ([[graft.timeseries.ModelStore.saveDsir]]).
    */
  def dsirModel(spark: SparkSession, sfDir: String, target: String = "src0",
                nBuckets: Int = 64): DataFrame =
    // session-cached (model-as-artifact discipline): the fit runs once;
    // saveDsir and every in-session scorer read the same realization
    graft.util.StageCache.cached(spark, sfDir, s"dsirmodel_${target}_$nBuckets") {
      dsirModelBuild(spark, sfDir, target, nBuckets)
    }

  private def dsirModelBuild(spark: SparkSession, sfDir: String, target: String,
                             nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets=$nBuckets")
    val cnt = dsirFeatures(spark, sfDir, nBuckets).groupBy("b").agg(
      sum(when(col("source") === target, 1L).otherwise(0L)).as("ct"),
      sum(when(col("source") =!= target, 1L).otherwise(0L)).as("cr"))
    // dense checkpoints (≤ nBuckets rows): the totals agg and the
    // log-ratio projection both consume it — the corpus-wide bucket
    // count runs once, not twice
    val dense = spark.range(nBuckets).select(col("id").as("b"))
      .join(cnt, Seq("b"), "left")
      .na.fill(0L, Seq("ct", "cr"))
      .localCheckpoint(eager = false)
    val tot = dense.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    dense.crossJoin(broadcast(tot)).select(col("b"),
      Num.q6(log((col("ct") + lit(1d)) / (col("tt") + lit(nBuckets.toDouble))) -
        log((col("cr") + lit(1d)) / (col("tr") + lit(nBuckets.toDouble)))).as("lrq"))
  }

  def dsirWeights(spark: SparkSession, sfDir: String, target: String = "src0",
                  nBuckets: Int = 64): DataFrame = {
    val feats = dsirFeatures(spark, sfDir, nBuckets)
    val perDoc = feats.filter(col("source") =!= target)
      .join(broadcast(dsirModel(spark, sfDir, target, nBuckets)), "b")
      .groupBy("doc_id").agg(count(lit(1)).as("n_feat"), sum("lrq").as("slr"))
    Tables.documents(spark, sfDir).select("doc_id", "source")
      .filter(col("source") =!= target)
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        Num.r4(Num.fromQ6(coalesce(col("slr"), lit(0L)))).as("log_w"),
        when(coalesce(col("slr"), lit(0L)) > 0, 1L).otherwise(0L).as("selected"))
  }

  /** qc2: deterministic epoch shuffle — the training reader's
    * data-order contract (Megatron/GPT-NeoX-style document shuffling,
    * public): for each epoch e, every kept doc gets a shard and an
    * in-shard position derived purely from hash(epoch, doc_id), so any
    * worker can recompute the exact read order of any shard of any
    * epoch without a stored permutation, and a resumed run replays
    * byte-identically. shard = h60(e ':' doc_id) mod nShards;
    * pos = rank of h within (epoch, shard), doc_id tie-break.
    *
    * Scale shape: one hash exchange on (epoch, shard) + a per-shard
    * sort — NO global sort, and shards are hash-balanced so no reducer
    * sees more than ~|corpus|/nShards rows. At 100 TB the writer is
    * `repartition(epoch, shard).sortWithinPartitions(pos)` with
    * nShards sized so one shard ≈ one output file; the window here IS
    * that shape (Exchange hashpartitioning(epoch, shard) + local sort).
    */
  def epochShuffle(spark: SparkSession, sfDir: String, nShards: Int = 8,
                   nEpochs: Int = 2): DataFrame = {
    require(nShards >= 1 && nEpochs >= 1, s"nShards=$nShards nEpochs=$nEpochs")
    val epochs = spark.range(nEpochs).select(col("id").as("epoch"))
    Tables.documents(spark, sfDir).select("doc_id")
      .crossJoin(broadcast(epochs))
      .withColumn("k", strHash60(concat_ws(":", col("epoch"), col("doc_id"))))
      .withColumn("shard", col("k") % nShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")).cast("long"))
      .select("epoch", "doc_id", "shard", "pos")
  }

  /** qt24: overlapping document chunking — the context-window prep
    * step every training / RAG-indexing pipeline runs before
    * tokenize-and-pack: each document splits into `chunkTok`-token
    * windows advancing by `stride` tokens (overlap = chunkTok −
    * stride), the final window always reaching the document's last
    * token. Emits one row per (doc, chunk) with its token span and
    * the md5 of the chunk text (the downstream chunk-level dedup /
    * lineage key — cf. qt15's line-hash discipline).
    *
    * Scale shape: PURE per-row map work — tokens stay inside the
    * row's array (split → slice → join; no explode of the token
    * stream, no shuffle anywhere), so the plan is a single
    * WholeStageCodegen project over the scan and throughput is the
    * parquet read. The chunk fan-out (≈ n_tok/stride rows per doc)
    * is generate-after-project, still shuffle-free.
    */
  def chunkDocs(spark: SparkSession, sfDir: String, chunkTok: Int = 64,
                stride: Int = 48): DataFrame =
    chunkFrom(Tables.documents(spark, sfDir), chunkTok, stride)

  /** qt27: CHUNK-level dedup audit — the lineage report a RAG-indexing
    * pipeline runs over qt24's chunks before embedding them (duplicate
    * chunks waste index space and skew retrieval; chunk_md5 is the
    * chunk's dedup key by construction): per document, its chunk
    * count, how many of its chunks occur ≥ 2 times ANYWHERE in the
    * corpus (the qd19 occurrence-count discipline one level up — a
    * chunk duplicated within one doc counts too), and the duplicate
    * fraction. ONE map-side-combinable hash shuffle keyed by chunk_md5
    * + a co-partitioned join back + a per-doc partial agg; the chunk
    * stage itself stays the shuffle-free per-row projection qt24
    * proved.
    */
  def chunkDedup(spark: SparkSession, sfDir: String, chunkTok: Int = 64,
                 stride: Int = 48): DataFrame = {
    val ch = chunkDocs(spark, sfDir, chunkTok, stride)
      .select(col("doc_id"), col("chunk_md5"))
    val occ = ch.groupBy("chunk_md5").agg(count(lit(1)).as("occ"))
    ch.join(occ, "chunk_md5")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup"),
        Num.r4(col("n_dup") / col("n_chunks")).as("dup_frac"))
  }

  /** qc5: chunk-dedup → ANN-index HANDOFF — the composition a RAG
    * ingestion pipeline actually runs: qt24's chunks are deduplicated
    * on their chunk_md5 lineage key (keep the first corpus occurrence —
    * min (doc_id, chunk_id), qd1/qd20's keeper rule; qt27 only REPORTS
    * the dup mass, this drops it) and only the kept chunks enter the
    * vector index, each landing in its parent document's IVF cell (the
    * embedding column is document-grain, so a chunk indexes under its
    * doc's vector — the same qv3 cell assignment the ANN family
    * serves from). Output per cell: chunks indexed, duplicate chunks
    * dropped before embedding, distinct contributing docs, drop share —
    * the capacity/skew audit an index build reports.
    *
    * Scale shape: the chunk stage is qt24's shuffle-free projection;
    * dedup is ONE hash exchange keyed by chunk_md5 (qt27's key) with a
    * per-key window over occurrence-sized groups; the cell attach is a
    * doc_id equi-join against the SHARED cached qv3 assignment (size
    * stats decide broadcast vs shuffle — the assignment is |vectors|
    * rows, unbounded at 100 TB); one |cells|-row agg with map-side
    * partials. Nothing all-pairs, nothing collected.
    */
  def chunkIndex(spark: SparkSession, sfDir: String, chunkTok: Int = 64,
                 stride: Int = 48, nCells: Int = 16): DataFrame = {
    val w = Window.partitionBy("chunk_md5").orderBy("doc_id", "chunk_id")
    val flagged = chunkDocs(spark, sfDir, chunkTok, stride)
      .select(col("doc_id"), col("chunk_id"), col("chunk_md5"))
      .withColumn("rn", row_number().over(w))
    val cells = graft.vector.Similarity.cellAssignment(spark, sfDir, nCells)
      .select(col("vec_id").as("doc_id"), col("cell"))
    flagged.join(cells, "doc_id")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_indexed"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"),
        countDistinct(when(col("rn") === 1, col("doc_id"))).as("n_docs"))
      .select(col("cell"), col("n_indexed"), col("n_dropped"), col("n_docs"),
        Num.r4(col("n_dropped") / (col("n_indexed") + col("n_dropped")))
          .as("drop_frac"))
  }

  /** The chunk projection itself, over any (doc_id, text, …carry)
    * frame — ONE definition read by batch qt24 and the streaming twin
    * (bit-parity by construction; it is a stateless per-row map, so it
    * runs unchanged on a stream). Extra columns listed in `carry`
    * (e.g. the stream's event time) pass through per chunk.
    */
  private[graft] def chunkFrom(docs: DataFrame, chunkTok: Int, stride: Int,
                               carry: Seq[String] = Nil): DataFrame = {
    require(chunkTok > 0 && stride > 0 && stride <= chunkTok,
      s"need 0 < stride <= chunkTok, got chunkTok=$chunkTok stride=$stride")
    val cc = carry.map(col)
    docs
      .select(col("doc_id") +: cc :+
        filter(split(col("text"), " "), t => t =!= "").as("toks"): _*)
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok") > 0)
      // last chunk start = the smallest multiple of stride reaching the
      // tail: ceil((n_tok - chunkTok)+ / stride) — exact int64 algebra
      .withColumn("n_chunks", expr(
        s"1 + ((greatest(n_tok - $chunkTok, CAST(0 AS BIGINT)) + ${stride - 1}) div $stride)"))
      .select(col("doc_id") +: cc ++: Seq(col("toks"), col("n_tok"),
        explode(expr("sequence(CAST(0 AS BIGINT), n_chunks - 1)")).as("chunk_id")): _*)
      .withColumn("start_tok", col("chunk_id") * stride)
      .select(col("doc_id") +: cc ++: Seq(col("chunk_id"), col("start_tok"),
        least(lit(chunkTok.toLong), col("n_tok") - col("start_tok")).as("n_tok_chunk"),
        md5(array_join(
          expr(s"slice(toks, CAST(chunk_id * $stride + 1 AS INT), $chunkTok)"), " "))
          .as("chunk_md5")): _*)
  }

  /** The BPE symbol-boundary sentinel of the wrapped-word encoding —
    * one definition read by the trainer, the encoder, the local hybrid
    * trainer and (as chr(1)) the oracle mirrors. Corpus tokens carrying
    * it are excluded up front ([[bpeWordFreq]]).
    */
  private[graft] val BpeSentinel: String = "\u0001"

  /** The qt25 merge miner over any (tok, freq) word-frequency frame —
    * separated so the spec can drive a planted corpus with hand-computed
    * merges and the exact lexicographic tie-break.
    *
    * Word encoding: every symbol is wrapped in \u0001 (␁) on BOTH sides
    * ("ab" → ␁a␁␁b␁), so the adjacent pair (l, r) occurs exactly where
    * the string ␁l␁␁r␁ does and `replace()` (left-to-right,
    * non-overlapping in both engines — the same greedy order reference
    * BPE implementations use) applies a merge with no token-boundary
    * false positives. After a merge the fused symbol no longer equals
    * either half, so overlapping occurrences ("aaa" under (a,a)) resolve
    * exactly as the sequential algorithm would: [aa, a].
    *
    * Each round localCheckpoints the (vocabulary-scale) word table:
    * the round's winner is derived FROM words and substituted INTO
    * words, so without a cut the plan would double per round.
    * `checkpoint = false` keeps the whole lineage in one inspectable
    * plan — PlanSpec's window into the shapes the checkpoints hide.
    */
  private[graft] def bpeMergesFrom(wordFreq: DataFrame, rounds: Int,
                                   checkpoint: Boolean = true): DataFrame =
    bpeTrain(wordFreq, rounds, checkpoint)._1.reduce(_ unionAll _)

  /** The full training result: per-round winner frames AND the final
    * segmented word table (tok, w, freq) — qt25 reports the former,
    * qt26's encoder reads the latter (every training word's final
    * symbol segmentation, still vocabulary-scale).
    */
  private[graft] def bpeTrain(wordFreq: DataFrame, rounds: Int,
                              checkpoint: Boolean = true): (Seq[DataFrame], DataFrame) = {
    require(rounds >= 1 && rounds <= 10,
      s"need 1 <= rounds <= 10, got $rounds (production round counts go " +
        "through bpeTrainLocal - one collect per VOCABULARY, not one Spark job per round)")
    def cut(df: DataFrame): DataFrame = if (checkpoint) df.localCheckpoint() else df
    // the word table's per-round cut stays a plan barrier but materializes
    // LAZILY: round r's winner job computes (and caches) words_{r-1} on
    // the way, so each merge round costs ONE eager job (the 1-row winner)
    // instead of two (r18; same rows — the cut is unchanged, only when it
    // runs moves)
    def cutLazy(df: DataFrame): DataFrame =
      if (checkpoint) df.localCheckpoint(eager = false) else df
    // NOTE split(tok, "") is CODEPOINT-atomic in Spark (UTF8String-based:
    // a supplementary char stays ONE element, of UTF-16 length 2), exactly
    // matching DuckDB's string_split(tok, '') - no unpaired-surrogate
    // symbols, no BMP-only assumption. TextSpec gates this with a planted
    // U+1D306 token. (java.lang.String#split("") would be code-UNIT level;
    // Spark's split is not that.)
    val S = BpeSentinel
    var words = wordFreq.select(col("tok"),
      concat(lit(S), array_join(split(col("tok"), ""), S + S), lit(S)).as("w"),
      col("freq").cast("long").as("freq"))
    val rows = (1 to rounds).map { r =>
      // w carries exactly one ␁ at each end, so substring is the exact
      // un-wrap (and avoids the deprecated two-param trim signature)
      val win = words
        .select(split(expr("substring(w, 2, length(w) - 2)"), S + S).as("syms"),
          col("freq"))
        .filter(size(col("syms")) >= 2) // sequence(1,0) would DESCEND in Spark
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), k -> " +
            "struct(element_at(syms, k) AS l, element_at(syms, k + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum("freq").as("freq"))
        .orderBy(col("freq").desc, col("lhs"), col("rhs"))
        .limit(1)
      val winC = cut(win) // 1 row; read twice (merge apply + report)
      // LEFT join on true, not crossJoin: a round with no pairs left
      // (tiny corpus fully merged) yields an EMPTY winner, and a cross
      // join would silently erase the word table the encoder reads —
      // the rewrite must be a no-op instead
      words = cutLazy(words
        .join(broadcast(winC.select(col("lhs").as("_l"), col("rhs").as("_r"))),
          lit(true), "left")
        .withColumn("srch", concat(lit(S), col("_l"), lit(S + S), col("_r"), lit(S)))
        .withColumn("repl", concat(lit(S), col("_l"), col("_r"), lit(S)))
        .withColumn("w", when(col("_l").isNull, col("w"))
          .otherwise(expr("replace(w, srch, repl)")))
        .select("tok", "w", "freq"))
      winC.select(lit(r).as("merge_round"), col("lhs"), col("rhs"), col("freq"))
    }
    (rows, words)
  }

  /** qt25: distributed BPE tokenizer TRAINING (Sennrich et al. 2016,
    * arXiv:1508.07909 — the byte-pair-encoding merge-mining loop behind
    * GPT/Llama vocabularies; public): `rounds` merge rules mined from
    * the corpus, each = the globally most frequent adjacent symbol
    * pair (ties broken lexicographically — deterministic), applied
    * greedily left-to-right before the next count, weighted by word
    * frequency with word boundaries never crossed (the standard
    * word-level formulation).
    *
    * Scale shape: the ONLY corpus-scale operation is the word-frequency
    * count — one map-side-combinable hash shuffle keyed by token (the
    * qd19 discipline: a 10⁹-occurrence word reaches the reduce side as
    * one row per map partition). Every merge round then runs on the
    * VOCABULARY-scale word table — |distinct words| ≪ corpus size and
    * essentially flat in corpus growth — so 100 TB costs the same
    * per-round work as 100 GB plus the one counting pass. The winner
    * row broadcasts into the merge application; nothing is all-pairs,
    * nothing collects to the driver.
    */
  def bpeMerges(spark: SparkSession, sfDir: String, rounds: Int = 4): DataFrame =
    bpeMergesFrom(bpeWordFreq(spark, sfDir), rounds)

  /** The one corpus-scale stage of qt25, split out so PlanSpec can gate
    * its shape composed with un-checkpointed merge rounds.
    *
    * Tokens containing the  sentinel are EXCLUDED here (a pushed
    * filter in the same scan, mirrored in the oracle's wf25 CTE): ␁ is
    * the symbol-boundary marker of the wrapped-word encoding, so a
    * corpus token carrying it would silently corrupt symbol boundaries
    * and merge counts in training, encoding and the streaming encoder.
    * Dropping such tokens (vanishingly rare — C0 control chars are not
    * text) is the documented precondition of the whole bpe* API.
    */
  private[graft] def bpeWordFreq(spark: SparkSession, sfDir: String): DataFrame =
    bpeWordFreqFrom(tokens(spark, sfDir))

  /** The same count over any (…, tok) token frame — the spec's seam for
    * the sentinel-exclusion precondition.
    */
  private[graft] def bpeWordFreqFrom(toks: DataFrame): DataFrame =
    toks.filter(!col("tok").contains(BpeSentinel))
      .groupBy("tok").agg(count(lit(1)).as("freq"))

  /** qt26: BPE ENCODING of the corpus with qt25's learned merges — the
    * apply side of the tokenizer lifecycle (train qt25 → encode qt26 →
    * pack qt11 / chunk qt24): per document, whitespace-token count,
    * total subword count after all merges, and subwords-per-character
    * (the compression a vocabulary actually buys, the number a
    * tokenizer evaluation reports).
    *
    * Scale shape: the encoder does NOT re-segment every token
    * occurrence — training already produced the final segmentation of
    * every DISTINCT word (the vocabulary-scale (tok, w) table), so
    * encoding is one tok-keyed equi-join of the token stream against
    * that table plus a per-doc partial agg. The join key is the
    * hash-partitioned token — no broadcast of the unbounded vocabulary,
    * no per-row merge replay. Every training-corpus word is in the
    * table by construction, so the inner join is lossless here; an
    * out-of-corpus encoder would apply the k merge rules in-row
    * instead (the streaming-twin shape).
    */
  def bpeEncode(spark: SparkSession, sfDir: String, rounds: Int = 4): DataFrame = {
    val (_, vocab) = bpeTrain(bpeWordFreq(spark, sfDir), rounds)
    val nsub = vocab.select(col("tok"),
      size(split(expr("substring(w, 2, length(w) - 2)"), "\u0001\u0001"))
        .cast("long").as("n_sub"))
    tokens(spark, sfDir).join(nsub, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("n_sub").as("n_subword"),
        sum(length(col("tok"))).as("n_char"))
      .select(col("doc_id"), col("n_tok"), col("n_subword"),
        Num.r4(col("n_subword") / col("n_char")).as("subword_per_char"))
  }

  /** qt28: PRODUCTION-ROUND-COUNT BPE training — the documented hybrid
    * for real vocabularies (a 32k-merge vocabulary is 32k merge rounds;
    * one Spark job per round cannot scale in ROUND COUNT even though
    * each round's work is tiny). The corpus-scale work stays exactly
    * qt25's: ONE map-side-combinable word-frequency shuffle. The merge
    * mining then runs over the VOCABULARY-scale (tok, freq) table held
    * locally — |distinct words| ≪ corpus size and essentially flat in
    * corpus growth (Heaps' law), the same table every practical BPE
    * trainer (e.g. HuggingFace tokenizers, SentencePiece's BPE mode)
    * holds in memory — so `rounds` costs zero additional Spark jobs.
    *
    * EXACT sequential semantics, bit-equal to qt25's distributed rounds
    * and the DuckDB oracle at any shared round count (TextSpec gates
    * equality on sf0.001 and on random corpora):
    *   - pair counts over ALL adjacent symbol positions, word-frequency
    *     weighted ("aaa" contributes (a,a) twice);
    *   - winner = (freq DESC, lhs, rhs) with the tie-break compared in
    *     UTF-8 BYTE order — what Spark's UTF8String and DuckDB both
    *     sort by (java.lang.String#compareTo is UTF-16 code-unit order,
    *     which diverges above the BMP, so it is NOT used);
    *   - merge applied greedily left-to-right, non-overlapping — the
    *     scan below IS what replace() does to the ␁-wrapped encoding;
    *   - a round with no pairs left emits nothing, like the empty bn$r.
    *
    * Driver-side bounds, loud: the collect is capped at `maxVocabRows`
    * (fail fast, never a silent truncation); `minFreq` is the standard
    * prune valve for heavy-tailed 100 TB vocabularies (typo/URL words
    * carry negligible pair mass) — it is part of the query semantics,
    * so the oracle mirrors it whenever it binds (default 1 = off).
    * Merge mining is INCREMENTAL: pair counts live in an ordered
    * structure (winner selection O(log P)) and each round re-registers
    * only the words containing the winning pair, so a 32k-merge
    * vocabulary costs Σ(touched-word lengths), not 32k full recounts —
    * TextSpec proves exact equality with a naive full-recount miner
    * over 5k random words × 300 rounds.
    */
  def bpeMergesLocal(spark: SparkSession, sfDir: String,
                     rounds: Int = 64): DataFrame =
    bpeTrainLocal(spark, bpeWordFreq(spark, sfDir), rounds)._1

  /** qt29: corpus ENCODING with qt28's production-round vocabulary —
    * the apply side of the hybrid trainer (train qt28 → encode qt29 →
    * serve bpeEncodeStream off ModelStore.saveBpeLocal): identical
    * output contract to qt26, but the segmentation table comes from the
    * locally-mined 64-round vocabulary (a vocabulary-scale local frame
    * the tok-keyed join broadcasts by size stats; the corpus side never
    * shuffles for it). Same oracle family as qt26 at the shared round
    * count.
    */
  def bpeEncodeLocal(spark: SparkSession, sfDir: String,
                     rounds: Int = 64): DataFrame = {
    val (_, vocab) = bpeTrainLocal(spark, bpeWordFreq(spark, sfDir), rounds)
    val nsub = vocab.select(col("tok"),
      size(split(expr("substring(w, 2, length(w) - 2)"), BpeSentinel + BpeSentinel))
        .cast("long").as("n_sub"))
    tokens(spark, sfDir).join(nsub, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("n_sub").as("n_subword"),
        sum(length(col("tok"))).as("n_char"))
      .select(col("doc_id"), col("n_tok"), col("n_subword"),
        Num.r4(col("n_subword") / col("n_char")).as("subword_per_char"))
  }

  /** The qt28 core over any (tok, freq) frame: returns (merges, final
    * vocabulary segmentation) — the latter in qt25's exact ␁-wrapped
    * (tok, w, freq) shape so [[bpeEncode]]'s join-side logic can reuse
    * it unchanged.
    */
  private[graft] def bpeTrainLocal(spark: SparkSession, wordFreq: DataFrame,
                                   rounds: Int, minFreq: Long = 1L,
                                   maxVocabRows: Int = 5000000): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds=$rounds")
    val S = BpeSentinel
    // limit(max+1) bounds driver memory BEFORE the require: when the
    // vocabulary fits, the limit never binds and the collect is the
    // complete deterministic table; when it does not, we fail loudly
    // with the sizing valve named instead of OOMing or truncating.
    val rows = wordFreq.filter(col("freq") >= minFreq)
      .select(col("tok"), col("freq").cast("long").as("freq"))
      .limit(maxVocabRows + 1).collect()
    require(rows.length <= maxVocabRows,
      s"bpeTrainLocal: vocabulary exceeds maxVocabRows=$maxVocabRows — " +
        s"raise the bound or prune with minFreq (currently $minFreq)")
    def cpSplit(tok: String): Array[String] =
      tok.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    // UTF-8 byte order = codepoint order = Spark/DuckDB string ORDER BY
    def byteLt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        if (x(i) != y(i)) return (x(i) & 0xff) < (y(i) & 0xff)
        i += 1
      }
      x.length < y.length
    }
    val words: Array[(String, Array[String], Long)] =
      rows.map(r => (r.getString(0), cpSplit(r.getString(0)), r.getLong(1)))
    // INCREMENTAL pair maintenance (the optimization the first cut
    // scaladoc'd as "known next"): per round only the words that
    // actually contain the winning pair are re-counted — everything
    // else keeps its contribution. Structures:
    //   cnt  pair -> weighted count (exact, freq-weighted, all
    //        adjacent positions — "aaa" contributes (a,a) twice)
    //   idx  pair -> word indices currently containing it
    //   ord  (count, lhs, rhs) ordered by (count DESC, lhs, rhs) in
    //        UTF-8 byte order — ord.head IS the round winner, so
    //        selection is O(log P) instead of an O(P) scan per round.
    // A 32k-merge vocabulary is then Σ(touched-word lengths) work, not
    // 32k full corpus-vocabulary recounts.
    val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val idx = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    implicit val pairOrd: Ordering[(Long, String, String)] =
      Ordering.fromLessThan { (a, b) =>
        if (a._1 != b._1) a._1 > b._1
        else if (a._2 != b._2) byteLt(a._2, b._2)
        else byteLt(a._3, b._3)
      }
    val ord = scala.collection.mutable.TreeSet.empty[(Long, String, String)]
    def bump(p: (String, String), delta: Long): Unit = {
      val old = cnt.getOrElse(p, 0L)
      if (old != 0L) ord.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw == 0L) cnt.remove(p)
      else { cnt(p) = nw; ord.add((nw, p._1, p._2)) }
    }
    def pairsOf(syms: Array[String]): Iterator[(String, String)] =
      if (syms.length < 2) Iterator.empty
      else (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))
    def register(wi: Int, syms: Array[String], f: Long, sign: Long): Unit = {
      pairsOf(syms).foreach(p => bump(p, sign * f))
      pairsOf(syms).toSet.foreach { p: (String, String) =>
        if (sign > 0) idx.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wi
        else idx.get(p).foreach { s => s -= wi; if (s.isEmpty) idx.remove(p) }
      }
    }
    words.zipWithIndex.foreach { case ((_, syms, f), wi) => register(wi, syms, f, 1L) }
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var round = 1
    while (round <= rounds && ord.nonEmpty) {
      val (f, l, r) = ord.head
      merges += ((round, l, r, f))
      val fused = l + r
      // only words containing (l, r) change — re-register just those
      idx.get((l, r)).map(_.toArray).getOrElse(Array.empty).foreach { wi =>
        val (tok, syms, fr) = words(wi)
        register(wi, syms, fr, -1L)
        // greedy left-to-right non-overlapping — replace()'s scan
        var i = 0
        val out = Array.newBuilder[String]
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += fused; i += 2
          } else { out += syms(i); i += 1 }
        }
        val ns = out.result()
        words(wi) = (tok, ns, fr)
        register(wi, ns, fr, 1L)
      }
      round += 1
    }
    import spark.implicits._
    val mergesDf = merges.result()
      .toDF("merge_round", "lhs", "rhs", "freq")
    val vocabDf = words.toSeq
      .map { case (tok, syms, f) => (tok, S + syms.mkString(S + S) + S, f) }
      .toDF("tok", "w", "freq")
    (mergesDf, vocabDf)
  }
}
