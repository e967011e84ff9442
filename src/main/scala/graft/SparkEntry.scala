package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.Relational
import graft.timeseries.{TsOracle, TsQueries}
import graft.util.Num.{fromQ6sql, meanQ4sql, q4sql, q6sql, r4sql, sumQ4sql}

/** Driver contract — see SURVEY.md §2 for the inventory. Every
  * implemented operator registers ONE `ops` entry: its builder and its
  * oracle, a DuckDB `Sql` with IDENTICAL column names/types (floats
  * rounded to 4 dp) or a `NoOracle` naming the spec test that gates it.
  * `queries` and `oracleSql` are the driver's views of that table.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** The committed heavy-tailed gate corpus (GenZipf output over the
    * sf0.01 documents table: vocab 2,151, df min/med/max = 1/2/484 vs
    * n_docs 500 — real Zipf shape). The driver's synthetic corpus is
    * degenerate (31 near-universal tokens), so every df-gated design
    * path — eligible-term selection, boilerplate/OOV gates,
    * rare-shingle postings, LSH near-dup bands — passes parity there
    * without ever RUNNING. The qz* keys below pin those paths in the
    * OFFICIAL correctness gate by running on this corpus regardless of
    * the sf dir the driver passes (ZipfCorpusSpec anchors the
    * committed parquet bit-for-bit to the generator).
    */
  val ZipfDir = "/root/repo/zipfdata"

  /** The committed planted-hot-group corpus (tools.GenHot) — qh2 runs
    * the guard-family report on it so the over-cap detection
    * arithmetic is oracle-checked every round (HotReportSpec anchors
    * the parquet to the generator).
    */
  val HotDir = "/root/repo/hotdata"

  /** Point an oracle at a committed corpus dir: DuckDB resolves CTE
    * names before views, so leading table CTEs shadow the driver's
    * sf-dir views for the whole statement.
    */
  private def onCorpus(dir: String, tables: Seq[String])(sql: String): String = {
    val cte = tables
      .map(t => s"$t AS (SELECT * FROM read_parquet('$dir/$t.parquet'))")
      .mkString(", ")
    // RECURSIVE must stay glued to WITH (DuckDB, like Postgres, allows
    // it only there; non-recursive CTEs are fine under it). Keywords
    // are matched at a WHITESPACE word boundary so a CTE named e.g.
    // "recursive_x" (or "withx") can never be mis-split, and any
    // whitespace (space/newline) after the keyword is accepted.
    def eatKeyword(s: String, kw: String): Option[String] =
      if (s.length > kw.length && s.regionMatches(true, 0, kw, 0, kw.length) &&
          s.charAt(kw.length).isWhitespace) Some(s.drop(kw.length).trim)
      else None
    val t = sql.trim
    eatKeyword(t, "WITH") match {
      case Some(rest) => eatKeyword(rest, "RECURSIVE") match {
        case Some(body) => s"WITH RECURSIVE $cte, $body"
        case None => s"WITH $cte, $rest"
      }
      case None => s"WITH $cte $t"
    }
  }

  private def onZipf(sql: String): String =
    onCorpus(ZipfDir, Seq("documents", "embeddings", "events"))(sql)

  /** The relational side of the zipf gate (r18): qz24/qz25 shadow the
    * fact tables (rewritten — mega-order/mega-customer) and the dims
    * they join (committed verbatim).
    */
  private def onZipfFacts(sql: String): String =
    onCorpus(ZipfDir, Seq("lineitem", "orders", "customer", "nation", "region"))(sql)

  private def onHot(sql: String): String =
    onCorpus(HotDir, Seq("documents", "embeddings"))(sql)

  /** qc6/qc7: qc1's funnel manifest with the qh pre-flight verdict
    * attached — both halves composed as independently-scoped
    * subqueries (each keeps its own WITH chain), the pre-flight
    * reduced to one scalar row exactly like the Spark side's broadcast.
    */
  private def preflightSql(funnel: String, hot: String): String =
    s"""SELECT f.*, h.hot_groups, h.hot_families
        FROM ($funnel) f CROSS JOIN
        (SELECT CAST(count(*) AS BIGINT) AS hot_groups,
                coalesce(string_agg(DISTINCT family, ',' ORDER BY family), '')
                  AS hot_families
         FROM ($hot) hh) h"""


  /** Shared with the qz18/qz19/qz20 zipf-events twins (one SQL
    * definition per operator — the qz gate re-points it at the
    * heavy-tailed corpus, never forks it).
    */
  /** Shared with qz25 (one SQL definition per operator — the zipf gate
    * re-points qa2's star join at the skewed committed facts).
    */
  private val Qa2Sql =
    s"""SELECT r_name, n_name,
       ${r4sql(sumQ4sql("l_extendedprice * (1.0 - l_discount)"))} AS revenue,
       count(*) AS n_items
       FROM lineitem
       JOIN orders   ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation   ON c_nationkey = n_nationkey
       JOIN region   ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name"""

  /** qt20/qc4's share CTEs (tk … sh, z), the oracle twin of
    * TextOps.mixShares: per-source token counts, the natural share
    * p_nat, its 1e-6-quantized α-power pa_q (α = 0.7) and the
    * normalizer z, with `tot` carried in `sh` as the Spark frame does.
    */
  private val MixSharesSql = s"""
      WITH tk AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ), nt AS (
        SELECT doc_id, count(*) AS nt FROM tk WHERE tok <> '' GROUP BY doc_id
      ), per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(coalesce(nt, 0)) AS BIGINT) AS n_tok
        FROM documents d LEFT JOIN nt USING (doc_id) GROUP BY source
      ), tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot FROM per),
      sh AS (
        SELECT source, n_docs, n_tok, tot,
               CAST(n_tok AS DOUBLE) / tot AS p_nat,
               ${q6sql("pow(CAST(n_tok AS DOUBLE) / tot, 0.7)")} AS pa_q
        FROM per, tot
      ), z AS (SELECT CAST(sum(pa_q) AS BIGINT) AS z FROM sh)"""

  private val Qp5Sql = s"""
      WITH ev AS (
        SELECT user_id FROM events
      ), counts AS (
        SELECT user_id, count(*) AS cnt FROM ev GROUP BY user_id
      ), totals AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM counts
      )
      SELECT user_id, cnt,
             ${r4sql("cnt * 1.0 / total")} AS pct,
             ${r4sql("cnt * 1.0 * n_keys / total")} AS skew
      FROM (SELECT * FROM counts ORDER BY cnt DESC, user_id LIMIT 10), totals"""

  private val Qe15Sql = """
      WITH ev AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events
      ), c AS (
        SELECT user_id,
               count(*) OVER (PARTITION BY user_id ORDER BY tsec
                              RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW) AS nw
        FROM ev
      )
      SELECT user_id, count(*) AS n_events, CAST(max(nw) AS BIGINT) AS peak_rate,
             CAST(CASE WHEN max(nw) >= 8 THEN 1 ELSE 0 END AS BIGINT) AS flagged
      FROM c GROUP BY user_id"""

  private val Qe1Sql = """
      WITH ev AS (
        SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events
      ), lagd AS (
        SELECT user_id, event_id, tsec,
               lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS prev
        FROM ev
      ), flagged AS (
        SELECT *, CASE WHEN prev IS NULL OR tsec - prev > 1800 THEN 1 ELSE 0 END AS ns
        FROM lagd
      ), sess AS (
        SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
      )
      SELECT user_id, session_id, count(*) AS n_events,
             min(tsec) AS start_epoch, max(tsec) AS end_epoch,
             max(tsec) - min(tsec) AS duration_s
      FROM sess GROUP BY user_id, session_id"""

  private val Qe13Sql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val maskCols = types.map(t =>
      s"max(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS b_$t").mkString(",\n               ")
    val pairs = for { a <- types; b <- types if a < b } yield (a, b)
    val pairSelects = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS type_a, '$b' AS type_b,
               CAST(sum(b_$a) AS BIGINT) AS n_a, CAST(sum(b_$b) AS BIGINT) AS n_b,
               CAST(sum(b_$a * b_$b) AS BIGINT) AS n_both FROM masks"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
      WITH masks AS (
        SELECT user_id,
               $maskCols
        FROM events GROUP BY user_id
      ), prs AS (
      $pairSelects
      )
      SELECT type_a, type_b, n_a, n_b, n_both,
             n_a + n_b - n_both AS n_either,
             CASE WHEN n_a + n_b - n_both <> 0
                  THEN ${r4sql("CAST(n_both AS DOUBLE) / (n_a + n_b - n_both)")}
             END AS jaccard
      FROM prs"""
  }

  /** One registered operator: its DataFrame builder and its oracle. */
  final case class Op(build: (SparkSession, String) => DataFrame, oracle: Oracle)

  sealed trait Oracle
  /** DuckDB SQL with IDENTICAL column names/types (floats rounded to 4 dp). */
  final case class Sql(text: String) extends Oracle
  /** No SQL analogue: `test` in spec class `spec` gates the operator
    * instead (ContractSpec checks the named test exists). The driver
    * falls back to its rows-only check for these keys.
    */
  final case class NoOracle(reason: String, spec: String, test: String) extends Oracle

  // after the helper vals above: object initialisation runs top-down,
  // so an entry that reads a later val would capture null
  val ops: Map[String, Op] = Map(
    "qa1_pricing_summary" -> Op((s, d) => Relational.pricingSummary(s, d), Sql(
      s"""SELECT l_returnflag, l_linestatus,
         ${r4sql(sumQ4sql("l_quantity"))} AS sum_qty,
         ${r4sql(sumQ4sql("l_extendedprice"))} AS sum_base_price,
         ${r4sql(sumQ4sql("l_extendedprice * (1.0 - l_discount)"))} AS sum_disc_price,
         ${r4sql(sumQ4sql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)"))} AS sum_charge,
         ${r4sql(s"${sumQ4sql("l_quantity")} / count(*)")} AS avg_qty,
         ${r4sql(s"${sumQ4sql("l_extendedprice")} / count(*)")} AS avg_price,
         ${r4sql(s"${sumQ4sql("l_discount")} / count(*)")} AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""")),
    "qa2_revenue_join" -> Op((s, d) => Relational.revenueByNation(s, d), Sql(Qa2Sql)),
    "qa3_top_n" -> Op((s, d) => Relational.topCustomersPerSegment(s, d), Sql(
      s"""SELECT c_mktsegment, rnk, c_custkey, c_name, total_spend FROM (
           SELECT c_mktsegment, c_custkey, c_name,
                  ${r4sql(sumQ4sql("o_totalprice"))} AS total_spend,
                  row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY ${r4sql(sumQ4sql("o_totalprice"))} DESC, c_custkey) AS rnk
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_mktsegment, c_custkey, c_name
         ) WHERE rnk <= 3""")),
    "q01_resample" -> Op((s, d) => TsQueries.q01Resample(s, d), Sql(TsOracle.q01)),
    "q02_fill_forward" -> Op((s, d) => TsQueries.q02FillForward(s, d), Sql(TsOracle.q02)),
    "q03_sliding_window" -> Op((s, d) => TsQueries.q03SlidingWindow(s, d), Sql(TsOracle.q03(48, 24))),
    "q04_quantile_scale" -> Op((s, d) => TsQueries.q04QuantileScale(s, d), Sql(TsOracle.q04)),
    "q05_anomaly_inject" -> Op((s, d) => TsQueries.q05AnomalyInject(s, d), Sql(TsOracle.q05)),
    "q06_ewma" -> Op((s, d) => TsQueries.q06Ewma(s, d), Sql(TsOracle.q06)),
    "q07_patch_std" -> Op((s, d) => TsQueries.q07PatchStd(s, d), Sql(TsOracle.q07)),
    "q08_patchify" -> Op((s, d) => TsQueries.q08Patchify(s, d), Sql(TsOracle.q08)),
    "q09_knn_score" -> Op((s, d) => graft.timeseries.Detect.knnScore(s, d), Sql(TsOracle.q09)),
    "q10_gaussian_score" -> Op((s, d) => graft.timeseries.Detect.gaussianScore(s, d), Sql(TsOracle.q10)),
    // q11/q12 share Detect.knnRef, the one bank-kNN route, capped at
    // Detect.MaxRef windows per position — exact ≡ uncapped at every
    // test scale (positions hold ≪ MaxRef windows; DetectSpec asserts
    // bit-equality), so the exact DuckDB oracles below are the anchor
    "q11_lof_weight" -> Op((s, d) => graft.timeseries.Detect.lofWeight(s, d), Sql(TsOracle.q11())),
    "q12_knn_dist_weight" -> Op((s, d) => graft.timeseries.Detect.nearestDistWeight(s, d), Sql(TsOracle.q12)),
    "q13_coreset" -> Op((s, d) => graft.timeseries.Coreset.coreset(s, d),
      NoOracle("greedy k-center selection has no SQL analogue",
        "graft.DetectSpec", "q13 coreset: the farthest-first certificate bounds its radius (r <= 2·OPT)")),
    "q14_consec_runs" -> Op((s, d) => graft.timeseries.Postprocess.consecRuns(s, d), Sql(TsOracle.q14())),
    "q15_zscore_outliers" -> Op((s, d) => graft.timeseries.Postprocess.zscoreOutliers(s, d),
      Sql(TsOracle.q15())),
    "q16_threshold_metrics" -> Op((s, d) => graft.timeseries.Metrics.thresholdMetrics(s, d),
      Sql(TsOracle.q16())),
    "q17_auroc" -> Op((s, d) => graft.timeseries.Metrics.auroc(s, d), Sql(TsOracle.q17)),
    "q40_auroc_approx" -> Op((s, d) => graft.timeseries.Metrics.aurocApprox(s, d), Sql(TsOracle.q40())),
    "q23_detect_pipeline" -> Op((s, d) => graft.timeseries.Detect.pipeline(s, d), Sql(TsOracle.q23())),
    "q18_impute_linear" -> Op((s, d) => graft.timeseries.Impute.imputeLinear(s, d), Sql(TsOracle.q18)),
    "q19_impute_seasonal" -> Op((s, d) => graft.timeseries.Impute.imputeSeasonal(s, d), Sql(TsOracle.q19)),
    "q20_impute_knn" -> Op((s, d) => graft.timeseries.Impute.imputeKnn(s, d), Sql(TsOracle.q20())),
    "q21_seasonal_naive" -> Op((s, d) => graft.timeseries.Forecast.seasonalNaive(s, d), Sql(TsOracle.q21)),
    "q22_linreg_forecast" -> Op((s, d) => graft.timeseries.Forecast.olsForecast(s, d), Sql(TsOracle.q22)),
    "q24_stl_seasonal" -> Op((s, d) => graft.timeseries.Forecast.seasonalProfile(s, d), Sql(TsOracle.q24)),
    "qd1_dedup_exact" -> Op((s, d) => graft.text.Dedup.exact(s, d), Sql(graft.text.DocOracle.qd1)),
    "qd2_minhash_lsh" -> Op((s, d) => graft.text.Dedup.minhashLsh(s, d), Sql(graft.text.DocOracle.qd2())),
    "qd3_simhash" -> Op((s, d) => graft.text.Dedup.simhash(s, d), Sql(graft.text.DocOracle.qd3())),
    "qd6_dup_clusters" -> Op((s, d) => graft.text.Dedup.dupClusters(s, d), Sql(graft.text.DocOracle.qd6())),
    "qd4_ngram_jaccard" -> Op((s, d) => graft.text.Dedup.ngramJaccard(s, d), Sql(graft.text.DocOracle.qd4)),
    "qd5_embed_neardup" -> Op((s, d) => graft.vector.Similarity.embedNearDup(s, d),
      Sql(graft.text.DocOracle.qd5())),
    "qv1_cosine_topk" -> Op((s, d) => graft.vector.Similarity.cosineTopK(s, d),
      Sql(graft.text.DocOracle.qv1())),
    "qv16_range_search" -> Op((s, d) => graft.vector.Similarity.rangeSearch(s, d),
      Sql(graft.text.DocOracle.qv16())),
    "qv2_lsh_ann" -> Op((s, d) => graft.vector.Similarity.lshAnn(s, d), Sql(graft.text.DocOracle.qv2())),
    "qv3_ivf_ann" -> Op((s, d) => graft.vector.Similarity.ivfAnn(s, d), Sql(graft.text.DocOracle.qv3())),
    "qt1_token_count" -> Op((s, d) => graft.text.TextOps.tokenCount(s, d), Sql(graft.text.DocOracle.qt1)),
    "qt2_quality_score" -> Op((s, d) => graft.text.TextOps.qualityScore(s, d), Sql(graft.text.DocOracle.qt2)),
    "qt3_lang_id" -> Op((s, d) => graft.text.TextOps.langId(s, d), Sql(graft.text.DocOracle.qt3)),
    "qt4_fingerprint" -> Op((s, d) => graft.text.TextOps.fingerprint(s, d), Sql(graft.text.DocOracle.qt4())),
    "qm1_binary_meta" -> Op((s, d) => graft.multimodal.BinaryMeta.mediaFeatures(s, d),
      Sql(graft.multimodal.BinaryMeta.qm1OracleSql)),
    "q25_pointwise_metrics" -> Op((s, d) => graft.timeseries.PointwiseMetrics.pointwiseMetrics(s, d),
      Sql(TsOracle.q25())),
    "q26_mllib_forecast" -> Op((s, d) => graft.timeseries.MllibForecast.mllibForecast(s, d),
      NoOracle("MLlib's WLS/Cholesky solver internals have no SQL analogue",
        "graft.ForecastImputeSpec", "mllib forecast agrees with the closed-form normal equations")),
    "q27_threshold_sweep" -> Op((s, d) => graft.timeseries.Metrics.thresholdSweep(s, d), Sql(TsOracle.q27())),
    "q28_window_labels" -> Op((s, d) => TsQueries.q28WindowLabels(s, d), Sql(TsOracle.q28)),
    "q29_highest_patch" -> Op((s, d) => graft.timeseries.Postprocess.highestPatchFlags(s, d),
      Sql(TsOracle.q29())),
    "qa4_rollup" -> Op((s, d) => Relational.revenueRollup(s, d), Sql(s"""
      SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             ${r4sql(sumQ4sql("l_extendedprice * (1.0 - l_discount)"))} AS revenue,
             count(*) AS n
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),
    "qa5_semi_join" -> Op((s, d) => Relational.bigSpenderSegments(s, d), Sql("""
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
      GROUP BY c_mktsegment""")),
    "qa6_running_window" -> Op((s, d) => Relational.runningRevenue(s, d), Sql(s"""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ship_epoch,
             ${r4sql("""sum(l_extendedprice * (1.0 - l_discount))
                    OVER (PARTITION BY l_suppkey
                          ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                   l_extendedprice, l_discount
                          ROWS UNBOUNDED PRECEDING)""")} AS running_rev
      FROM lineitem""")),
    "qt5_json_extract" -> Op((s, d) => graft.text.TextOps.jsonExtract(s, d), Sql(s"""
      SELECT event_type, count(k) AS n,
             ${r4sql("avg(k)")} AS avg_k,
             min(k) AS min_k, max(k) AS max_k
      FROM (SELECT event_type,
                   CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
            FROM events)
      GROUP BY event_type""")),
    "qt6_top_bigrams" -> Op((s, d) => graft.text.TextOps.topBigrams(s, d), Sql("""
      WITH tk AS (
        SELECT doc_id, unnest(range(len(string_split(text, ' ')))) AS i,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
      ), toks AS (SELECT * FROM tk WHERE tok <> ''),
      bg AS (
        SELECT t.doc_id, t.tok || ' ' || lead(t.tok, 1) OVER (PARTITION BY t.doc_id ORDER BY t.i) AS bigram,
               lead(t.tok, 1) OVER (PARTITION BY t.doc_id ORDER BY t.i) AS nxt
        FROM toks t
      ), counts AS (
        SELECT d.lang, b.bigram, count(*) AS n
        FROM bg b JOIN documents d USING (doc_id)
        WHERE b.nxt IS NOT NULL
        GROUP BY d.lang, b.bigram
      )
      SELECT lang, rnk, bigram, n FROM (
        SELECT lang, bigram, n,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
        FROM counts
      ) WHERE rnk <= 5""")),
    "qa7_anti_join" -> Op((s, d) => Relational.partsNeverOrdered(s, d), Sql("""
      SELECT p_brand, count(*) AS n_unsold
      FROM part
      WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      GROUP BY p_brand""")),
    "qe1_sessionize" -> Op((s, d) => graft.analytics.Events.sessionize(s, d), Sql(Qe1Sql)),
    "qe2_funnel" -> Op((s, d) => graft.analytics.Events.funnel(s, d), Sql("""
      WITH ev AS (
        SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events
      ),
      s1 AS (SELECT user_id, min(tsec) AS t0 FROM ev WHERE event_type = 'signup' GROUP BY user_id),
      s2 AS (SELECT e.user_id, min(e.tsec) AS t0 FROM ev e JOIN s1 USING (user_id)
             WHERE e.event_type = 'view' AND e.tsec > s1.t0 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(e.tsec) AS t0 FROM ev e JOIN s2 USING (user_id)
             WHERE e.event_type = 'click' AND e.tsec > s2.t0 GROUP BY e.user_id),
      s4 AS (SELECT e.user_id, min(e.tsec) AS t0 FROM ev e JOIN s3 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.tsec > s3.t0 GROUP BY e.user_id)
      SELECT 1 AS stage, 'signup' AS event_type, (SELECT count(*) FROM s1) AS n_users
      UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
      UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
      UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)""")),
    "qp1_profile" -> Op((s, d) => graft.analytics.Events.profile(s, d), Sql((s"""
      SELECT 'l_quantity' AS column_name,
             CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             count(DISTINCT l_quantity) AS n_distinct,
             ${r4sql("min(l_quantity)")} AS min_v,
             ${r4sql("max(l_quantity)")} AS max_v FROM lineitem
      UNION ALL SELECT 'l_extendedprice',
             CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT l_extendedprice),
             ${r4sql("min(l_extendedprice)")},
             ${r4sql("max(l_extendedprice)")} FROM lineitem
      UNION ALL SELECT 'l_discount',
             CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT l_discount),
             ${r4sql("min(l_discount)")},
             ${r4sql("max(l_discount)")} FROM lineitem
      UNION ALL SELECT 'l_tax',
             CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT l_tax),
             ${r4sql("min(l_tax)")},
             ${r4sql("max(l_tax)")} FROM lineitem"""))),
    "qe3_retention" -> Op((s, d) => graft.analytics.Events.retention(s, d), Sql("""
      WITH ev AS (
        SELECT user_id,
               CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 604800) AS BIGINT) AS week
        FROM events
      ), coh AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id)
      SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
             count(DISTINCT e.user_id) AS n_users
      FROM ev e JOIN coh c USING (user_id)
      GROUP BY c.cohort_week, e.week - c.cohort_week""")),
    "qe4_asof_join" -> Op((s, d) => graft.analytics.Events.asofJoin(s, d), Sql(s"""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value FROM events
      ), b0 AS (
        SELECT user_id, tsec, event_id, value,
               row_number() OVER (PARTITION BY user_id, tsec ORDER BY event_id DESC) AS rn
        FROM ev WHERE event_type = 'view'
      ), b AS (
        SELECT user_id, tsec AS view_tsec, event_id AS view_event_id, value AS view_value
        FROM b0 WHERE rn = 1
      ), a AS (SELECT user_id, event_id, tsec FROM ev WHERE event_type = 'purchase')
      SELECT a.user_id, a.event_id, a.tsec, b.view_event_id, b.view_tsec,
             a.tsec - b.view_tsec AS gap_s,
             ${r4sql("b.view_value")} AS view_value
      FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.tsec > b.view_tsec""")),
    "qp2_approx_distinct" -> Op((s, d) => graft.analytics.Events.approxDistinct(s, d), Sql("""
      SELECT 'l_partkey' AS column_name, count(DISTINCT l_partkey) AS n_exact,
             CAST(1 AS INT) AS approx_ok FROM lineitem
      UNION ALL SELECT 'l_suppkey', count(DISTINCT l_suppkey), 1 FROM lineitem
      UNION ALL SELECT 'l_quantity', count(DISTINCT l_quantity), 1 FROM lineitem
      UNION ALL SELECT 'l_extendedprice', count(DISTINCT l_extendedprice), 1 FROM lineitem""")),
    "qa8_latest_row" -> Op((s, d) => Relational.latestRow(s, d), Sql(s"""
      WITH ev AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
               event_type, value FROM events
      )
      SELECT user_id, event_id, tsec, event_type,
             ${r4sql("value")} AS value
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY tsec DESC, event_id DESC) AS rn FROM ev)
      WHERE rn = 1""")),
    "q31_range_join" -> Op((s, d) => graft.timeseries.Intervals.rangeJoin(s, d), Sql(TsOracle.q31())),
    "q32_acf" -> Op((s, d) => graft.timeseries.Forecast.acf(s, d), Sql(TsOracle.q32())),
    "q33_level_shift" -> Op((s, d) => graft.timeseries.Intervals.levelShift(s, d), Sql(TsOracle.q33())),
    "q34_mad_outliers" -> Op((s, d) => graft.timeseries.Intervals.madOutliers(s, d), Sql(TsOracle.q34())),
    "qt7_tfidf" -> Op((s, d) => graft.text.TextOps.tfidf(s, d), Sql(graft.text.DocOracle.qt7())),
    "qa9_cube" -> Op((s, d) => Relational.revenueCube(s, d), Sql(s"""
      SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             ${r4sql(sumQ4sql("l_extendedprice * (1.0 - l_discount)"))} AS revenue,
             count(*) AS n
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),
    "qp3_approx_quantile" -> Op((s, d) => graft.analytics.Events.approxQuantiles(s, d), Sql(s"""
      SELECT 'l_quantity' AS column_name, CAST(0.25 AS DOUBLE) AS q,
             ${r4sql("quantile_cont(l_quantity, 0.25)")} AS exact_q,
             CAST(1 AS INT) AS approx_ok FROM lineitem
      UNION ALL SELECT 'l_quantity', CAST(0.5 AS DOUBLE),
             ${r4sql("quantile_cont(l_quantity, 0.5)")}, 1 FROM lineitem
      UNION ALL SELECT 'l_quantity', CAST(0.75 AS DOUBLE),
             ${r4sql("quantile_cont(l_quantity, 0.75)")}, 1 FROM lineitem
      UNION ALL SELECT 'l_extendedprice', CAST(0.25 AS DOUBLE),
             ${r4sql("quantile_cont(l_extendedprice, 0.25)")}, 1 FROM lineitem
      UNION ALL SELECT 'l_extendedprice', CAST(0.5 AS DOUBLE),
             ${r4sql("quantile_cont(l_extendedprice, 0.5)")}, 1 FROM lineitem
      UNION ALL SELECT 'l_extendedprice', CAST(0.75 AS DOUBLE),
             ${r4sql("quantile_cont(l_extendedprice, 0.75)")}, 1 FROM lineitem""")),
    "qd7_dedup_stats" -> Op((s, d) => graft.text.Dedup.dupStats(s, d), Sql(graft.text.DocOracle.qd7())),
    "q35_horizon_backtest" -> Op((s, d) => graft.timeseries.Forecast.horizonBacktest(s, d),
      Sql(TsOracle.q35())),
    "q39_direct_horizon" -> Op((s, d) => graft.timeseries.Forecast.directHorizonForecast(s, d),
      Sql(TsOracle.q39())),
    "q41_window_pairs" -> Op((s, d) => graft.timeseries.Forecast.windowPairs(s, d), Sql(TsOracle.q41())),
    "q42_rescaled_metrics" -> Op((s, d) => graft.timeseries.Forecast.rescaledMetrics(s, d),
      Sql(TsOracle.q42)),
    "q43_calendar_filter" -> Op((s, d) => graft.timeseries.TsQueries.q43CalendarFilter(s, d),
      Sql(TsOracle.q43())),
    "qm2_frame_sample" -> Op((s, d) => graft.multimodal.BinaryMeta.frameSample(s, d),
      Sql(graft.multimodal.BinaryMeta.qm2OracleSql())),
    "qm7_frame_neardup" -> Op((s, d) => graft.multimodal.BinaryMeta.frameNearDup(s, d),
      Sql(graft.multimodal.BinaryMeta.qm7OracleSql())),
    "qm8_media_clusters" -> Op((s, d) => graft.multimodal.BinaryMeta.mediaClusters(s, d),
      Sql(graft.multimodal.BinaryMeta.qm8OracleSql())),
    "qm9_imageio_decode" -> Op((s, d) => graft.multimodal.BinaryMeta.imageioFeatures(s, d),
      Sql(graft.multimodal.BinaryMeta.qm9OracleSql())),
    "qa10_stratified_sample" -> Op((s, d) => Relational.stratifiedSample(s, d), Sql("""
      SELECT lang, count(*) AS n_total,
             CAST(sum(CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                                % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      FROM documents GROUP BY lang""")),
    "qa11_salted_agg" -> Op((s, d) => Relational.saltedAgg(s, d), Sql("""
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor_v
      FROM events GROUP BY event_type""")),
    "qa12_pivot" -> Op((s, d) => Relational.eventPivot(s, d), Sql("""
      WITH ev AS (
        SELECT event_type,
               CAST(floor(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600) % 24 / 4) AS INT) AS slot
        FROM events
      )
      SELECT event_type,
             count(*) FILTER (WHERE slot = 0) AS h0,
             count(*) FILTER (WHERE slot = 1) AS h1,
             count(*) FILTER (WHERE slot = 2) AS h2,
             count(*) FILTER (WHERE slot = 3) AS h3,
             count(*) FILTER (WHERE slot = 4) AS h4,
             count(*) FILTER (WHERE slot = 5) AS h5
      FROM ev GROUP BY event_type""")),
    "qp4_group_quantiles" -> Op((s, d) => graft.analytics.Events.groupQuantiles(s, d), Sql(s"""
      SELECT event_type, CAST(0.25 AS DOUBLE) AS q,
             ${r4sql("quantile_cont(value, 0.25)")} AS v FROM events GROUP BY event_type
      UNION ALL SELECT event_type, CAST(0.5 AS DOUBLE),
             ${r4sql("quantile_cont(value, 0.5)")} FROM events GROUP BY event_type
      UNION ALL SELECT event_type, CAST(0.75 AS DOUBLE),
             ${r4sql("quantile_cont(value, 0.75)")} FROM events GROUP BY event_type
      UNION ALL SELECT event_type, CAST(0.95 AS DOUBLE),
             ${r4sql("quantile_cont(value, 0.95)")} FROM events GROUP BY event_type""")),
    "q36_xcorr" -> Op((s, d) => graft.timeseries.Intervals.crossCorr(s, d), Sql(TsOracle.q36())),
    "q37_seasonal_residual" -> Op((s, d) => graft.timeseries.Intervals.seasonalResidual(s, d),
      Sql(TsOracle.q37())),
    "q38_cleaning_impact" -> Op((s, d) => graft.timeseries.Forecast.cleaningImpact(s, d), Sql(TsOracle.q38)),
    "qv4_ann_eval" -> Op((s, d) => graft.vector.Similarity.annEval(s, d), Sql(graft.text.DocOracle.qv4())),
    "qv17_probe_sweep" -> Op((s, d) => graft.vector.Similarity.probeSweep(s, d),
      Sql(graft.text.DocOracle.qv17())),
    "qv18_hybrid_search" -> Op((s, d) => graft.vector.Similarity.hybridSearch(s, d),
      Sql(graft.text.DocOracle.qv18())),
    "qv22_hybrid_ivf" -> Op((s, d) => graft.vector.Similarity.hybridSearchIvf(s, d),
      Sql(graft.text.DocOracle.qv22())),
    "qv23_hybrid_eval" -> Op((s, d) => graft.vector.Similarity.hybridEval(s, d),
      Sql(graft.text.DocOracle.qv23())),
    "qv24_hybrid_guarded" -> Op((s, d) => graft.vector.Similarity.hybridSearch(s, d,
      fallbackMaxDfShare = graft.vector.Similarity.Bm25FallbackMaxDfShare),
      Sql(graft.text.DocOracle.qv24())),
    // the GUARDED SERVING configuration (what hybridServeStream mirrors):
    // IVF dense branch + qv24's fallback df ceiling, registered so the
    // thing that serves is the thing that's oracled and benched
    "qv25_hybrid_ivf_guarded" -> Op((s, d) => graft.vector.Similarity.hybridSearchIvf(s, d,
      fallbackMaxDfShare = graft.vector.Similarity.Bm25FallbackMaxDfShare), Sql(graft.text.DocOracle.qv22(
      fallbackShare = graft.vector.Similarity.Bm25FallbackMaxDfShare))),
    // the heavy-tailed OFFICIAL gate (see ZipfDir): df-gated design
    // paths running on a corpus whose shape actually engages them
    "qz1_hybrid_eligible" -> Op((s, _) => graft.vector.Similarity.hybridSearch(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qv18()))),
    "qz2_hybrid_ivf_guarded" -> Op((s, _) => graft.vector.Similarity.hybridSearchIvf(s, ZipfDir,
      fallbackMaxDfShare = graft.vector.Similarity.Bm25FallbackMaxDfShare), Sql(onZipf(graft.text.DocOracle.qv22(
      fallbackShare = graft.vector.Similarity.Bm25FallbackMaxDfShare)))),
    "qz3_containment" -> Op((s, _) => graft.text.Dedup.containment(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qd18()))),
    "qz4_boilerplate" -> Op((s, _) => graft.text.TextOps.boilerplate(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qt13()))),
    "qz5_vocab_coverage" -> Op((s, _) => graft.text.TextOps.vocabCoverage(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qt12()))),
    "qz6_minhash_lsh" -> Op((s, _) => graft.text.Dedup.minhashLsh(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qd2()))),
    "qz7_unigram_nll" -> Op((s, _) => graft.text.TextOps.unigramNll(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qt14))),
    "qz8_dsir_weights" -> Op((s, _) => graft.text.TextOps.dsirWeights(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qt22()))),
    // r15: the dedup GRAPH on the heavy-tailed corpus — star candidate
    // edges, the (now-default) star cluster chain, and the one-sided
    // incremental band probe, driver-official instead of builder-run
    "qz9_star_edges" -> Op((s, _) => graft.text.Dedup.lshStarEdges(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qd22()))),
    // qd23 ≡ qd6 closure — on the zipf corpus too, the parity gate
    // itself proves the star reduction loses no cluster
    "qz10_star_clusters" -> Op((s, _) => graft.text.Dedup.starClusters(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qd6()))),
    // incMod=2: the zipf planted pairs are (…8, …9) ids — a %5 split
    // can never separate one, so it would gate a structurally empty set
    "qz11_incremental_dedup" -> Op((s, _) => graft.text.Dedup.incrementalDedup(s, ZipfDir,
      incMod = 2L),
      Sql(onZipf(graft.text.DocOracle.qd9(incMod = 2)))),
    // r15: the other two guarded pair-blockers on heavy-tailed text —
    // qd4's length blocks and qd3's stop-chunk df cap, live on a corpus
    // whose length/fingerprint distributions actually skew
    "qz12_ngram_jaccard" -> Op((s, _) => graft.text.Dedup.ngramJaccard(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qd4))),
    "qz13_simhash" -> Op((s, _) => graft.text.Dedup.simhash(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qd3()))),
    // r16: the EMBEDDING-space pair-blockers on the corpus shape they
    // exist for — zipf labels (majority class = 37% of vectors) and
    // archetype-clustered vectors (within-archetype cos ≈ 0.98, top
    // seeded cell ≈ 4× uniform occupancy). qd11's cell guard and qd5's
    // label guard both run LIVE here (skew present, caps non-binding).
    "qz14_semantic_dedup" -> Op((s, _) => graft.vector.Similarity.semanticDedup(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qd11()))),
    "qz15_embed_neardup" -> Op((s, _) => graft.vector.Similarity.embedNearDup(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qd5()))),
    // r16: the embedding-index AUDITS on the distribution they audit
    // for — qv10's hot flag (cell skew > 2x uniform) actually FIRES on
    // the archetype-clustered cells (head cell 3.5x), and qv8's
    // centroid-outlier scan runs over majority-class label centroids;
    // on the driver's isotropic corpus both audits are parity-green
    // but structurally idle
    "qz16_index_stats" -> Op((s, _) => graft.vector.Similarity.indexStats(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qv10()))),
    "qz17_centroid_outlier" -> Op((s, _) => graft.vector.Similarity.centroidOutlier(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qv8()))),
    // qz18-qz20 (r17): the EVENTS side of the heavy-tailed gate — the
    // zipf events table (Zipf types, Zipf user activity with a ~20%
    // bot head) makes qp5's skew profiler, qe15's rate-limit flag and
    // qe1's dense-stream sessionization run their design paths
    // (ZipfCorpusSpec pins fires-on-zipf / idle-on-base)
    "qz18_skew_profile" -> Op((s, _) => graft.analytics.Events.skewProfile(s, ZipfDir), Sql(onZipf(Qp5Sql))),
    "qz19_burst_rate" -> Op((s, _) => graft.analytics.Events.burstRate(s, ZipfDir), Sql(onZipf(Qe15Sql))),
    "qz20_sessionize" -> Op((s, _) => graft.analytics.Events.sessionize(s, ZipfDir), Sql(onZipf(Qe1Sql))),
    // qh1/qh2 (r17): the guard family's report-mode pre-flight,
    // oracle-checked on BOTH committed corpora — clean on zipf at
    // production caps (0 rows), firing on hotdata's planted 100-strong
    // groups at tightened caps (>= 7 rows by construction)
    // qz22/qz23 (r17): the remaining structurally-idle families on
    // skew — qe13's overlap matrix SATURATES on the driver's uniform
    // events (every user touches all 5 types → every jaccard ≈ 1);
    // zipf types differentiate it. qm3's pHash pigeonhole had no zipf
    // row at all; the corpus's perturbed near-dups and passage
    // carriers give it real byte-level collisions.
    "qz22_audience_overlap" -> Op((s, _) => graft.analytics.Events.audienceOverlap(s, ZipfDir),
      Sql(onZipf(Qe13Sql))),
    "qz23_phash_neardup" -> Op((s, _) => graft.multimodal.BinaryMeta.phashNearDup(s, ZipfDir),
      Sql(onZipf(graft.multimodal.BinaryMeta.qm3OracleSql()))),
    "qh1_hot_report" -> Op((s, _) => graft.text.HotReport.hotBlockReport(s, ZipfDir), Sql(onZipf(graft.text.DocOracle.qhot(
      graft.text.Dedup.LshMaxBucket, graft.text.Dedup.NgramMaxBlock,
      graft.vector.Similarity.EmbedMaxLabel, 1L << 20)))),
    "qh2_hot_report_fires" -> Op((s, _) => graft.text.HotReport.hotBlockReport(s, HotDir,
      maxBucket = 50, maxBlock = 50, maxLabel = 70, maxCell = 70),
      Sql(onHot(graft.text.DocOracle.qhot(50, 50, 70, 70)))),
    // qz24/qz25 (r18): the RELATIONAL side of the heavy-tailed gate —
    // the committed zipf facts carry a mega-order (~13% of all
    // lineitem rows on ONE l_orderkey) and a mega-customer (~16% of
    // orders), so qa11's salted two-phase agg finally runs where the
    // salt fan-out MATTERS (qz24: hot group ~2000× the median) and
    // qa2's lineitem⋈orders leg is a genuinely skewed fact-fact join
    // (qz25: AQE's skew-join split engages — ZipfCorpusSpec pins the
    // split present on zipf / absent on base).
    "qz24_salted_agg" -> Op((s, _) => Relational.saltedLineAgg(s, ZipfDir), Sql(onZipfFacts("""
      SELECT l_orderkey, count(*) AS n_items,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey"""))),
    "qz25_skew_fact_join" -> Op((s, _) => Relational.revenueByNation(s, ZipfDir), Sql(onZipfFacts(Qa2Sql))),
    // qc6/qc7 (r18): the funnel manifest with the guard family's
    // pre-flight verdict attached — report-then-build as one keyed op;
    // clean at production caps on the driver corpus (qc6), all four
    // families surfaced on the planted hotdata corpus at qh2's caps
    // while the build itself still runs (qc7)
    "qc6_build_preflight" -> Op((s, d) => graft.text.TextOps.corpusBuildPreflight(s, d), Sql(preflightSql(graft.text.DocOracle.qc1(),
      graft.text.DocOracle.qhot(graft.text.Dedup.LshMaxBucket,
        graft.text.Dedup.NgramMaxBlock,
        graft.vector.Similarity.EmbedMaxLabel, 1L << 20)))),
    "qc7_preflight_fires" -> Op((s, _) => graft.text.TextOps.corpusBuildPreflight(s, HotDir,
      maxBucket = 50, maxBlock = 50, maxLabel = 70, maxCell = 70), Sql(onHot(preflightSql(graft.text.DocOracle.qc1(),
      graft.text.DocOracle.qhot(50, 50, 70, 70))))),
    "qv19_rank_metrics" -> Op((s, d) => graft.vector.Similarity.rankMetrics(s, d),
      Sql(graft.text.DocOracle.qv19())),
    "qv20_dim_sweep" -> Op((s, d) => graft.vector.Similarity.dimSweep(s, d),
      Sql(graft.text.DocOracle.qv20())),
    "qv21_index_upsert" -> Op((s, d) => graft.vector.Similarity.indexUpsert(s, d),
      Sql(graft.text.DocOracle.qv21())),
    "qv26_hot_cell_split" -> Op((s, d) => graft.vector.Similarity.hotCellSplit(s, d),
      Sql(graft.text.DocOracle.qv26())),
    // qz21: the split on the corpus whose head cell actually FIRES
    // qv10's hot flag (qz16) — ≥1 split row by construction
    "qz21_hot_cell_split" -> Op((s, _) => graft.vector.Similarity.hotCellSplit(s, ZipfDir),
      Sql(onZipf(graft.text.DocOracle.qv26()))),
    "qt8_langid_eval" -> Op((s, d) => graft.text.TextOps.langIdEval(s, d), Sql(graft.text.DocOracle.qt8)),
    "qd8_minhash_est" -> Op((s, d) => graft.text.Dedup.minhashEstimate(s, d),
      Sql(graft.text.DocOracle.qd8())),
    "qd9_incremental_dedup" -> Op((s, d) => graft.text.Dedup.incrementalDedup(s, d),
      Sql(graft.text.DocOracle.qd9())),
    "qt9_repetition" -> Op((s, d) => graft.text.TextOps.repetition(s, d), Sql(graft.text.DocOracle.qt9)),
    "qa13_mixture_sample" -> Op((s, d) => Relational.mixtureSample(s, d), Sql(graft.text.DocOracle.qa13())),
    "qe5_window_funnel" -> Op((s, d) => graft.analytics.Events.windowFunnel(s, d), Sql("""
      WITH ev AS (
        SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events
        WHERE event_type IN ('signup', 'view', 'click', 'purchase')
      ),
      u AS (SELECT DISTINCT user_id FROM ev),
      s1 AS (SELECT user_id, min(tsec) AS t0 FROM ev WHERE event_type = 'signup' GROUP BY user_id),
      s2 AS (SELECT e.user_id, min(e.tsec) AS t0 FROM ev e JOIN s1 USING (user_id)
             WHERE e.event_type = 'view' AND e.tsec > s1.t0 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(e.tsec) AS t0 FROM ev e JOIN s2 USING (user_id)
             WHERE e.event_type = 'click' AND e.tsec > s2.t0 GROUP BY e.user_id),
      s4 AS (SELECT e.user_id, min(e.tsec) AS t0 FROM ev e JOIN s3 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.tsec > s3.t0 GROUP BY e.user_id),
      lvl AS (
        SELECT u.user_id,
               CASE WHEN s4.t0 IS NOT NULL AND s4.t0 - s1.t0 <= 172800 THEN 4
                    WHEN s3.t0 IS NOT NULL AND s3.t0 - s1.t0 <= 172800 THEN 3
                    WHEN s2.t0 IS NOT NULL AND s2.t0 - s1.t0 <= 172800 THEN 2
                    WHEN s1.t0 IS NOT NULL THEN 1
                    ELSE 0 END AS level
        FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
               LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)
      )
      SELECT level, count(*) AS n_users FROM lvl GROUP BY level""")),
    "qt10_quality_filter" -> Op((s, d) => graft.text.TextOps.qualityFilter(s, d),
      Sql(graft.text.DocOracle.qt10())),
    "qd10_bloom_dedup" -> Op((s, d) => graft.text.Dedup.bloomIncrementalDedup(s, d),
      Sql(graft.text.DocOracle.qd10)),
    "qa14_incremental_agg" -> Op((s, d) => Relational.incrementalAgg(s, d), Sql(s"""
      SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
             ${sumQ4sql("l_quantity")} AS sum_qty,
             ${sumQ4sql("l_extendedprice*(1-l_discount)")} AS revenue,
             ${r4sql(s"${sumQ4sql("l_quantity")} / count(*)")} AS avg_qty
      FROM lineitem GROUP BY l_returnflag, l_linestatus""")),
    "qa15_zorder" -> Op((s, d) => Relational.zorderLayout(s, d), Sql(Relational.zorderOracle())),
    "qa16_merge_upsert" -> Op((s, d) => Relational.mergeUpsert(s, d), Sql(s"""
      WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 7 != 0
      ), delta AS (
        SELECT o_orderkey AS d_orderkey, o_custkey AS d_custkey,
               CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op,
               ${r4sql("o_totalprice*1.05")} AS d_price
        FROM orders WHERE o_orderkey % 3 = 0
      )
      SELECT coalesce(o_orderkey, d_orderkey) AS orderkey,
             coalesce(o_custkey, d_custkey) AS custkey,
             CASE WHEN op = 'U' THEN d_price
                  ELSE ${r4sql("o_totalprice")} END AS price,
             CASE WHEN op = 'U' THEN 'R' ELSE o_orderstatus END AS status,
             CASE WHEN o_orderkey IS NULL THEN 'insert'
                  WHEN op = 'U' THEN 'update' ELSE 'keep' END AS action
      FROM base FULL OUTER JOIN delta ON o_orderkey = d_orderkey
      WHERE op IS NULL OR op != 'D'""")),
    "qd11_semantic_dedup" -> Op((s, d) => graft.vector.Similarity.semanticDedup(s, d),
      Sql(graft.text.DocOracle.qd11())),
    "qd12_decontaminate" -> Op((s, d) => graft.text.Dedup.decontaminate(s, d),
      Sql(graft.text.DocOracle.qd12())),
    "qv5_pq_ann" -> Op((s, d) => graft.vector.Similarity.pqAnn(s, d), Sql(graft.text.DocOracle.qv5())),
    "qt12_vocab_coverage" -> Op((s, d) => graft.text.TextOps.vocabCoverage(s, d),
      Sql(graft.text.DocOracle.qt12())),
    "qd13_dup_spans" -> Op((s, d) => graft.text.Dedup.dupSpans(s, d), Sql(graft.text.DocOracle.qd13())),
    "q44_masked_pairs" -> Op((s, d) => graft.timeseries.Impute.maskedPairs(s, d),
      Sql(graft.timeseries.TsOracle.q44())),
    "q55_learned_impute" -> Op((s, d) => graft.timeseries.Impute.learnedImpute(s, d),
      Sql(graft.timeseries.TsOracle.q55())),
    "q56_feature_forecast" -> Op((s, d) => graft.timeseries.Forecast.featureForecast(s, d),
      Sql(graft.timeseries.TsOracle.q56())),
    "q57_learned_cleaning" -> Op((s, d) => graft.timeseries.Forecast.learnedCleaningImpact(s, d),
      Sql(graft.timeseries.TsOracle.q57())),
    "q58_conformal" -> Op((s, d) => graft.timeseries.Forecast.conformalIntervals(s, d),
      Sql(graft.timeseries.TsOracle.q58())),
    "q59_decompose_forecast" -> Op((s, d) => graft.timeseries.Forecast.decomposeForecast(s, d),
      Sql(graft.timeseries.TsOracle.q59())),
    "q60_recursive_forecast" -> Op((s, d) => graft.timeseries.Forecast.recursiveForecast(s, d),
      Sql(graft.timeseries.TsOracle.q60())),
    "q61_gbt_forecast" -> Op((s, d) => graft.timeseries.MllibForecast.gbtForecast(s, d),
      NoOracle("a boosted ensemble's split search has no SQL analogue",
        "graft.ForecastImputeSpec", "q61 GBT forecast beats the linear q22 corpus-wide (deterministic seed)")),
    "q62_refit_trigger" -> Op((s, d) => graft.timeseries.Forecast.refitTrigger(s, d),
      Sql(graft.timeseries.TsOracle.q62())),
    "q63_interval_score" -> Op((s, d) => graft.timeseries.Forecast.intervalScore(s, d),
      Sql(graft.timeseries.TsOracle.q63())),
    "q64_forecast_scorecard" -> Op((s, d) => graft.timeseries.Forecast.forecastScorecard(s, d),
      Sql(graft.timeseries.TsOracle.q64)),
    "q65_trailing_forecast" -> Op((s, d) => graft.timeseries.Forecast.trailingForecast(s, d),
      Sql(graft.timeseries.TsOracle.q65())),
    "qd17_dup_weight" -> Op((s, d) => graft.text.Dedup.dupWeight(s, d), Sql(graft.text.DocOracle.qd17())),
    "qd18_containment" -> Op((s, d) => graft.text.Dedup.containment(s, d), Sql(graft.text.DocOracle.qd18())),
    "qd19_global_dup_spans" -> Op((s, d) => graft.text.Dedup.globalDupSpans(s, d),
      Sql(graft.text.DocOracle.qd19())),
    "qd20_dedup_spans" -> Op((s, d) => graft.text.Dedup.dedupSpans(s, d), Sql(graft.text.DocOracle.qd20())),
    "qd21_dedup_fixpoint" -> Op((s, d) => graft.text.Dedup.dedupSpansFixpoint(s, d),
      Sql(graft.text.DocOracle.qd21())),
    // r16: the PRODUCTION run-until-clean span hygiene (the callable a
    // build materializes)
    "qd24_span_fixpoint" -> Op((s, d) => graft.text.Dedup.dedupSpansClean(s, d),
      NoOracle("the fixpoint's pass count is data-dependent; qd21 is its oracle twin",
        "graft.TextSpec", "qd24 dedupSpansClean: proven span-free fixpoint, loud when maxPasses binds")),
    // qd25 (r18): qd21's sibling — the pass-3 rebuilt TEXT itself,
    // oracle-mirrored by the same nested chain, covering qd24's output
    // wherever the fixpoint lands within 3 passes (TextSpec pins ≡)
    "qd25_span_corpus" -> Op((s, d) => graft.text.Dedup.dedupSpansCorpus(s, d),
      Sql(graft.text.DocOracle.qd25())),
    "qd22_lsh_star_edges" -> Op((s, d) => graft.text.Dedup.lshStarEdges(s, d),
      Sql(graft.text.DocOracle.qd22())),
    // qd23's oracle is LITERALLY qd6's clique-edge closure: the gate
    // itself proves the star reduction preserves every cluster.
    "qd23_star_clusters" -> Op((s, d) => graft.text.Dedup.starClusters(s, d),
      Sql(graft.text.DocOracle.qd6())),
    "qt21_domain_cap" -> Op((s, d) => graft.text.TextOps.domainCap(s, d), Sql("""
      WITH r AS (
        SELECT source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
      )
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(count(*) - sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
             CAST(sum(CASE WHEN rn <= 20 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
             CAST(sum(CASE WHEN rn > 20 THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
      FROM r GROUP BY source""")),
    "qt22_dsir_weights" -> Op((s, d) => graft.text.TextOps.dsirWeights(s, d),
      Sql(graft.text.DocOracle.qt22())),
    "qt23_pii_redact" -> Op((s, d) => graft.text.TextOps.piiRedact(s, d), Sql(graft.text.DocOracle.qt23())),
    "qt24_doc_chunks" -> Op((s, d) => graft.text.TextOps.chunkDocs(s, d), Sql(graft.text.DocOracle.qt24())),
    "qt25_bpe_merges" -> Op((s, d) => graft.text.TextOps.bpeMerges(s, d), Sql(graft.text.DocOracle.qt25())),
    "qt26_bpe_encode" -> Op((s, d) => graft.text.TextOps.bpeEncode(s, d), Sql(graft.text.DocOracle.qt26())),
    "qt27_chunk_dedup" -> Op((s, d) => graft.text.TextOps.chunkDedup(s, d), Sql(graft.text.DocOracle.qt27())),
    // qt28/qt29 = qt25/qt26's exact semantics at a production round
    // count: the SAME unrolled-CTE mirrors, 64 rounds
    "qt28_bpe_vocab" -> Op((s, d) => graft.text.TextOps.bpeMergesLocal(s, d),
      Sql(graft.text.DocOracle.qt25(rounds = 64))),
    "qt29_bpe_encode64" -> Op((s, d) => graft.text.TextOps.bpeEncodeLocal(s, d),
      Sql(graft.text.DocOracle.qt26(rounds = 64))),
    "qc4_budget_plan" -> Op((s, d) => graft.text.TextOps.budgetPlan(s, d), Sql(MixSharesSql + s""",
      plan4 AS (
        SELECT source,
               CAST(pa_q AS DOUBLE) / z AS w_raw,
               n_tok,
               CAST(floor((CAST(pa_q AS DOUBLE) / z) *
                          CAST(CAST(floor(tot / 2.0) AS BIGINT) AS DOUBLE)) AS BIGINT) AS target_toks
        FROM sh, z
      )
      SELECT source, ${r4sql("w_raw")} AS w_mix,
             target_toks, n_tok AS avail_toks,
             least(n_tok, target_toks) AS alloc_toks,
             CASE WHEN target_toks > 0 THEN
               ${r4sql("least(n_tok, target_toks) * 1.0 / target_toks")}
             END AS fill,
             CASE WHEN least(n_tok, target_toks) < target_toks THEN 1 ELSE 0 END AS binding
      FROM plan4""")),
    "qc5_chunk_index" -> Op((s, d) => graft.text.TextOps.chunkIndex(s, d), Sql(graft.text.DocOracle.qc5())),
    "qc1_corpus_build" -> Op((s, d) => graft.text.TextOps.corpusBuild(s, d), Sql(graft.text.DocOracle.qc1())),
    "qc2_epoch_shuffle" -> Op((s, d) => graft.text.TextOps.epochShuffle(s, d),
      Sql(graft.text.DocOracle.qc2())),
    "qc3_dataset_card" -> Op((s, d) => graft.text.TextOps.datasetCard(s, d), Sql(graft.text.DocOracle.qc3())),
    "qv6_ivfpq_ann" -> Op((s, d) => graft.vector.Similarity.ivfPqAnn(s, d), Sql(graft.text.DocOracle.qv6())),
    "qv11_sq8_ann" -> Op((s, d) => graft.vector.Similarity.sq8Ann(s, d), Sql(graft.text.DocOracle.qv11())),
    "qv12_refine_ann" -> Op((s, d) => graft.vector.Similarity.refineAnn(s, d),
      Sql(graft.text.DocOracle.qv12())),
    "qv13_kmeans" -> Op((s, d) => graft.vector.Similarity.kmeansFit(s, d), Sql(graft.text.DocOracle.qv13())),
    "qv14_mips" -> Op((s, d) => graft.vector.Similarity.mipsTopK(s, d), Sql(graft.text.DocOracle.qv14())),
    "qv15_filtered_topk" -> Op((s, d) => graft.vector.Similarity.filteredTopK(s, d),
      Sql(graft.text.DocOracle.qv15())),
    "qt19_pii_scan" -> Op((s, d) => graft.text.TextOps.piiScan(s, d), Sql(graft.text.DocOracle.qt19())),
    "qm3_phash_neardup" -> Op((s, d) => graft.multimodal.BinaryMeta.phashNearDup(s, d),
      Sql(graft.multimodal.BinaryMeta.qm3OracleSql())),
    "qe7_top_paths" -> Op((s, d) => graft.analytics.Events.topPaths(s, d), Sql("""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events
      ), r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS rn
        FROM ev
      ), p AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 3 GROUP BY user_id
      ), c AS (SELECT path, count(*) AS n_users FROM p GROUP BY path)
      SELECT path, n_users FROM c ORDER BY n_users DESC, path LIMIT 10""")),
    "qp5_skew_profile" -> Op((s, d) => graft.analytics.Events.skewProfile(s, d), Sql(Qp5Sql)),
    "qt11_pack_shards" -> Op((s, d) => graft.text.TextOps.packShards(s, d), Sql(graft.text.DocOracle.qt11())),
    "qe6_transitions" -> Op((s, d) => graft.analytics.Events.transitions(s, d), Sql(s"""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events
      ), st AS (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS dst
        FROM ev
      ), cnt AS (
        SELECT src, dst, count(*) AS n FROM st WHERE dst IS NOT NULL GROUP BY src, dst
      )
      SELECT src, dst, n,
             ${r4sql("n * 1.0 / sum(n) OVER (PARTITION BY src)")} AS p
      FROM cnt""")),
    "qe16_next_event" -> Op((s, d) => graft.analytics.Events.nextEventEval(s, d), Sql(s"""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events
      ), st0 AS (
        SELECT event_type AS src, tsec,
               lead(event_type) OVER w AS dst,
               lead(tsec) OVER w AS dtsec
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
      ), st AS (SELECT * FROM st0 WHERE dst IS NOT NULL),
      rng AS (
        SELECT min(tsec) + CAST(floor((max(tsec) - min(tsec)) * 0.7) AS BIGINT) AS tcut
        FROM st
      ), cnt AS (
        SELECT src, dst, count(*) AS n
        FROM st, rng WHERE dtsec < tcut GROUP BY src, dst
      ), model AS (
        SELECT src, dst AS pred_dst FROM (
          SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY n DESC, dst) AS rn
          FROM cnt) WHERE rn = 1
      )
      SELECT s.src, m.pred_dst, count(*) AS n_test,
             CAST(sum(CASE WHEN s.dst = m.pred_dst THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
             ${r4sql("CAST(sum(CASE WHEN s.dst = m.pred_dst THEN 1 ELSE 0 END) AS BIGINT) * 1.0 / count(*)")} AS acc
      FROM st s CROSS JOIN rng LEFT JOIN model m USING (src)
      WHERE s.dtsec >= rng.tcut
      GROUP BY s.src, m.pred_dst""")),
    "qe17_cuped" -> Op((s, d) => graft.analytics.Events.cuped(s, d), Sql(s"""
      WITH ev AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value FROM events
      ), b AS (
        SELECT CAST(floor((min(tsec) + max(tsec)) / 2.0) AS BIGINT) AS tmid FROM ev
      ), u AS (
        SELECT event_type, user_id, user_id % 2 AS arm,
          sum(CASE WHEN tsec < b.tmid THEN ${q4sql("value")} ELSE 0 END) AS xq,
          sum(CASE WHEN tsec >= b.tmid THEN ${q4sql("value")} ELSE 0 END) AS yq
        FROM ev, b GROUP BY event_type, user_id
      ), m AS (
        SELECT event_type, count(*) AS n,
               ${meanQ4sql("sum(xq)", "count(*)")} AS mx,
               ${meanQ4sql("sum(yq)", "count(*)")} AS my
        FROM u GROUP BY event_type
      ), s AS (
        SELECT u.event_type, max(m.n) AS n,
          sum(${q4sql("(u.xq/10000.0 - m.mx)*(u.xq/10000.0 - m.mx)")}) AS sxx,
          sum(${q4sql("(u.xq/10000.0 - m.mx)*(u.yq/10000.0 - m.my)")}) AS sxy,
          sum(${q4sql("(u.yq/10000.0 - m.my)*(u.yq/10000.0 - m.my)")}) AS syy,
          sum(CASE WHEN u.arm = 1 THEN 1 ELSE 0 END) AS n1,
          sum(CASE WHEN u.arm = 0 THEN u.xq ELSE 0 END) AS x0q,
          sum(CASE WHEN u.arm = 1 THEN u.xq ELSE 0 END) AS x1q,
          sum(CASE WHEN u.arm = 0 THEN u.yq ELSE 0 END) AS y0q,
          sum(CASE WHEN u.arm = 1 THEN u.yq ELSE 0 END) AS y1q
        FROM u JOIN m USING (event_type) GROUP BY u.event_type
      )
      SELECT event_type, CAST(n AS BIGINT) AS n, CAST(n1 AS BIGINT) AS n1,
        ${r4sql("y1q/10000.0/n1 - y0q/10000.0/(n - n1)")} AS effect_raw,
        ${r4sql("""(y1q/10000.0/n1 - y0q/10000.0/(n - n1)) -
               (CASE WHEN sxx > 0 THEN sxy / CAST(sxx AS DOUBLE) END) *
               (x1q/10000.0/n1 - x0q/10000.0/(n - n1))""")} AS effect_cuped,
        ${r4sql("CASE WHEN sxx > 0 THEN sxy / CAST(sxx AS DOUBLE) END")} AS theta,
        CASE WHEN sxx > 0 AND syy > 0 THEN
          ${r4sql("""least(CAST(1 AS DOUBLE), CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE) /
                 (CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)))""")}
        END AS var_reduction
      FROM s WHERE n1 > 0 AND n - n1 > 0""")),
    "qp11_expectations" -> Op((s, d) => graft.analytics.Events.expectations(s, d), Sql(s"""
      WITH r AS (
        SELECT count(*) AS n,
          sum(CASE WHEN l_returnflag IS NOT NULL THEN 1 ELSE 0 END) AS c1,
          sum(CASE WHEN l_quantity >= 0 THEN 1 ELSE 0 END) AS c2,
          sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS c3,
          sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS c4,
          sum(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END) AS c5,
          sum(CASE WHEN l_quantity <= 40 THEN 1 ELSE 0 END) AS c6,
          sum(CASE WHEN l_quantity <= 45 THEN 1 ELSE 0 END) AS c7
        FROM lineitem
      ), u AS (
        SELECT count(*) AS n,
               (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber
                                      FROM lineitem)) AS d
        FROM lineitem
      ), f AS (
        SELECT count(*) AS n,
               sum(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS h
        FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON l.l_orderkey = o.o_orderkey
      ), allc AS (
        SELECT 'complete_returnflag' AS check_name, ${r4sql("c1 * 1.0 / n")} AS metric, 1.0 AS threshold FROM r
        UNION ALL SELECT 'nonnegative_quantity', ${r4sql("c2 * 1.0 / n")}, 1.0 FROM r
        UNION ALL SELECT 'range_discount', ${r4sql("c3 * 1.0 / n")}, 1.0 FROM r
        UNION ALL SELECT 'members_returnflag', ${r4sql("c4 * 1.0 / n")}, 1.0 FROM r
        UNION ALL SELECT 'positive_price', ${r4sql("c5 * 1.0 / n")}, 1.0 FROM r
        UNION ALL SELECT 'quantity_le_40', ${r4sql("c6 * 1.0 / n")}, 1.0 FROM r
        UNION ALL SELECT 'mostly_quantity_le_45', ${r4sql("c7 * 1.0 / n")}, 0.85 FROM r
        UNION ALL SELECT 'unique_pk', ${r4sql("d * 1.0 / n")}, 1.0 FROM u
        UNION ALL SELECT 'ref_orders', ${r4sql("h * 1.0 / n")}, 1.0 FROM f
      )
      SELECT check_name, metric, threshold,
             CASE WHEN metric >= threshold THEN 1 ELSE 0 END AS passed
      FROM allc""")),
    "qm10_resize" -> Op((s, d) => graft.multimodal.BinaryMeta.resizePlanes(s, d),
      Sql(graft.multimodal.BinaryMeta.qm10OracleSql())),
    "q45_cusum" -> Op((s, d) => graft.timeseries.Intervals.cusum(s, d), Sql(TsOracle.q45())),
    "q46_episodes" -> Op((s, d) => graft.timeseries.Intervals.episodes(s, d), Sql(TsOracle.q46())),
    "q47_median_filter" -> Op((s, d) => graft.timeseries.Intervals.medianFilter(s, d), Sql(TsOracle.q47())),
    "qp7_drift" -> Op((s, d) => TsQueries.qp7Drift(s, d), Sql(TsOracle.qp7())),
    "q48_decompose" -> Op((s, d) => graft.timeseries.Forecast.decompose(s, d), Sql(TsOracle.q48())),
    "qe8_scd2" -> Op((s, d) => graft.analytics.Events.scd2(s, d), Sql("""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events
      )
      SELECT user_id, event_id, event_type, tsec AS valid_from,
             lead(tsec) OVER w AS valid_to,
             CASE WHEN lead(tsec) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)""")),
    "qv7_knn_label" -> Op((s, d) => graft.vector.Similarity.knnLabel(s, d), Sql(graft.text.DocOracle.qv7())),
    "qp8_corr_matrix" -> Op((s, d) => graft.analytics.Events.corrMatrix(s, d), Sql({
      val colScales = Seq("l_quantity" -> "1.0", "l_extendedprice" -> "0.001",
        "l_discount" -> "100.0", "l_tax" -> "100.0")
      val cols = colScales.map(_._1)
      val sc = colScales.toMap
      val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
      def ctr(c: String) = s"((l.$c - m.m_$c) * ${sc(c)})"
      def cq(e: String) = s"sum(${q4sql(e)})"
      s"""
      WITH m AS (
        SELECT count(*) AS n,
          ${cols.map(c => s"${sumQ4sql(c)} / count(*) AS m_$c").mkString(",\n          ")}
        FROM lineitem
      ), s AS (
        SELECT max(m.n) AS n,
          ${cols.map(c => s"${cq(s"${ctr(c)}*${ctr(c)}")} AS s_$c").mkString(",\n          ")},
          ${pairs.map { case (a, b) => s"${cq(s"${ctr(a)}*${ctr(b)}")} AS s_${a}_$b" }.mkString(",\n          ")}
        FROM lineitem l, m
      )
      ${pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
          CASE WHEN s_$a > 0 AND s_$b > 0 THEN
            ${r4sql(s"s_${a}_$b / sqrt(CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))")}
          END AS corr FROM s"""
      }.mkString("\n      UNION ALL ")}"""
    })),
    "qe9_rfm" -> Op((s, d) => graft.analytics.Events.rfm(s, d), Sql({
      def bkt(v: String, b: String) =
        (1 to 4).map(i => s"(CASE WHEN $v > $b[$i] THEN 1 ELSE 0 END)").mkString(" + ")
      s"""
      WITH o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
               ${q4sql("o_totalprice")} AS price_q4
        FROM orders
      ), mx AS (SELECT max(od) AS md FROM o),
      per AS (
        SELECT o_custkey, date_diff('day', max(od), (SELECT md FROM mx)) AS recency_d,
               count(*) AS frequency, CAST(sum(price_q4) AS BIGINT) AS mon_q4
        FROM o GROUP BY 1
      ), b AS (
        SELECT quantile_cont(recency_d, [0.2,0.4,0.6,0.8]) AS rb,
               quantile_cont(frequency, [0.2,0.4,0.6,0.8]) AS fb,
               quantile_cont(mon_q4,    [0.2,0.4,0.6,0.8]) AS mb
        FROM per
      ), scored AS (
        SELECT o_custkey, recency_d, frequency,
          ${r4sql("mon_q4/10000.0")} AS monetary,
          6 - (1 + ${bkt("recency_d", "rb")}) AS r_score,
          1 + ${bkt("frequency", "fb")} AS f_score,
          1 + ${bkt("mon_q4", "mb")} AS m_score
        FROM per, b
      )
      SELECT o_custkey, recency_d, frequency, monetary, r_score, f_score, m_score,
             r_score*100 + f_score*10 + m_score AS rfm
      FROM scored"""
    })),
    "qe10_attribution" -> Op((s, d) => graft.analytics.Events.attribution(s, d), Sql(s"""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value FROM events
      ), t0 AS (
        SELECT user_id, tsec, event_type,
               row_number() OVER (PARTITION BY user_id, tsec ORDER BY event_id DESC) AS rn
        FROM ev WHERE event_type IN ('click', 'view', 'signup')
      ), t AS (
        SELECT user_id, tsec AS t_t, event_type AS t_type FROM t0 WHERE rn = 1
      ), a AS (
        SELECT user_id, event_id, tsec, value FROM ev WHERE event_type = 'purchase'
      ), j AS (
        SELECT a.tsec, a.value, t.t_type, t.t_t,
               (t.t_t IS NOT NULL AND a.tsec - t.t_t <= 3600) AS hit
        FROM a ASOF LEFT JOIN t ON a.user_id = t.user_id AND a.tsec > t.t_t
      ), c AS (
        SELECT CASE WHEN hit THEN t_type ELSE 'direct' END AS channel, value,
               CASE WHEN hit THEN tsec - t_t END AS gap_s
        FROM j
      )
      SELECT channel, count(*) AS n_conv,
             ${r4sql(sumQ4sql("value"))} AS revenue,
             ${r4sql("CAST(sum(gap_s) AS DOUBLE) / count(*)")} AS avg_gap_s
      FROM c GROUP BY 1""")),
    "qt16_char_entropy" -> Op((s, d) => graft.text.TextOps.charEntropy(s, d),
      Sql(graft.text.DocOracle.qt16())),
    "q49_periodogram" -> Op((s, d) => graft.timeseries.Forecast.periodogram(s, d),
      Sql(graft.timeseries.Forecast.periodogramOracle())),
    "qv8_centroid_outlier" -> Op((s, d) => graft.vector.Similarity.centroidOutlier(s, d),
      Sql(graft.text.DocOracle.qv8())),
    "qd14_pagerank" -> Op((s, d) => graft.text.Dedup.pageRank(s, d), Sql(graft.text.DocOracle.qd14())),
    "qt17_bigram_nll" -> Op((s, d) => graft.text.TextOps.bigramNll(s, d), Sql(graft.text.DocOracle.qt17())),
    "qm4_shard_manifest" -> Op((s, d) => graft.multimodal.BinaryMeta.shardManifest(s, d), Sql("""
      WITH m AS (
        SELECT doc_id, 'text/' || lang AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
      ), c AS (
        SELECT doc_id, media_type, n_bytes,
               CAST(floor((sum(n_bytes) OVER (PARTITION BY media_type ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bytes) / 4096) AS BIGINT) AS shard
        FROM m
      )
      SELECT media_type, shard, count(*) AS n_items,
             CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1, 2""")),
    "qm5_modality_stats" -> Op((s, d) => graft.multimodal.BinaryMeta.modalityStats(s, d), Sql(s"""
      WITH m AS (
        SELECT 'text/' || lang AS media_type, text,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
      ), s AS (
        SELECT media_type, CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
               ${r4sql("avg(n_bytes)")} AS mean_bytes,
               CAST(count(DISTINCT text) AS BIGINT) AS n_distinct
        FROM m GROUP BY 1
      )
      SELECT media_type, n_items, total_bytes, mean_bytes, n_distinct,
             ${r4sql("CAST(n_items - n_distinct AS DOUBLE) / n_items")} AS dup_rate
      FROM s""")),
    "qm6_modal_coverage" -> Op((s, d) => graft.multimodal.BinaryMeta.modalCoverage(s, d), Sql(s"""
      WITH m AS (
        SELECT doc_id, 'text/' || lang AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
      ), e AS (
        SELECT vec_id AS doc_id, CAST(len(embedding) AS BIGINT) AS dim FROM embeddings
      ), j AS (
        SELECT coalesce(m.media_type, '(embedding_only)') AS media_type, m.n_bytes, e.dim
        FROM m FULL OUTER JOIN e USING (doc_id)
      )
      SELECT media_type, count(*) AS n_items,
        CAST(sum(CASE WHEN dim IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_embedding,
        CAST(sum(CASE WHEN n_bytes IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_payload,
        CAST(sum(CASE WHEN dim IS NOT NULL AND dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_mismatch,
        CAST(sum(CASE WHEN n_bytes IS NOT NULL AND dim = 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_complete,
        ${r4sql("""CAST(sum(CASE WHEN n_bytes IS NOT NULL AND dim = 64 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*)""")} AS pct_complete
      FROM j GROUP BY 1""")),
    "qt20_mix_weights" -> Op((s, d) => graft.text.TextOps.mixWeights(s, d), Sql(MixSharesSql + s"""
      SELECT source, n_docs, n_tok,
             ${r4sql("p_nat")} AS p_nat,
             ${r4sql("CAST(pa_q AS DOUBLE) / z")} AS w_mix,
             CASE WHEN p_nat > 0
                  THEN ${r4sql("(CAST(pa_q AS DOUBLE) / z) / p_nat")}
             END AS oversample
      FROM sh, z""")),
    "qp9_histogram" -> Op((s, d) => graft.analytics.Events.histProfile(s, d), Sql({
      def sub(c: String) = s"""
      SELECT '$c' AS column_name, bin,
             ${r4sql("mn + (mx - mn) * bin / 16")} AS lo,
             ${r4sql("mn + (mx - mn) * (bin + 1) / 16")} AS hi,
             count(*) AS n
      FROM (
        SELECT CASE WHEN mx = mn THEN 0
               ELSE least(CAST(floor(($c - mn) / (mx - mn) * 16) AS INT), 15) END AS bin,
               mn, mx
        FROM lineitem, (SELECT min($c) AS mn, max($c) AS mx FROM lineitem)
      ) GROUP BY bin, mn, mx"""
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(sub).mkString("\n      UNION ALL\n")
    })),
    "qa17_grouping_sets" -> Op((s, d) => Relational.groupingSets(s, d), Sql(s"""
      SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             ${r4sql(sumQ4sql("l_extendedprice * (1.0 - l_discount)"))} AS revenue,
             count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")),
    "qv9_centroid_drift" -> Op((s, d) => graft.vector.Similarity.centroidDrift(s, d),
      Sql(graft.text.DocOracle.qv9())),
    "q50_anomaly_mask" -> Op((s, d) => graft.timeseries.Postprocess.anomalyMask(s, d),
      Sql(graft.timeseries.TsOracle.q50())),
    "qe11_cohort_ltv" -> Op((s, d) => graft.analytics.Events.cohortLtv(s, d), Sql(s"""
      WITH ev AS (
        SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value
        FROM events
      ), firsts AS (
        SELECT user_id, CAST(floor(min(tsec) / 604800) AS BIGINT) AS cohort_week
        FROM ev GROUP BY user_id
      ), sizes AS (
        SELECT cohort_week, count(*) AS cohort_size FROM firsts GROUP BY cohort_week
      ), p AS (
        SELECT f.cohort_week,
               CAST(floor(e.tsec / 604800) AS BIGINT) - f.cohort_week AS age_weeks,
               e.user_id, e.value
        FROM ev e JOIN firsts f USING (user_id) WHERE e.event_type = 'purchase'
      ), roll AS (
        SELECT cohort_week, age_weeks, count(DISTINCT user_id) AS n_active,
               CAST(sum(${q4sql("value")}) AS BIGINT) AS rev_q4
        FROM p GROUP BY cohort_week, age_weeks
      )
      SELECT r.cohort_week, r.age_weeks, s.cohort_size, r.n_active,
             ${r4sql("r.rev_q4 / 10000.0")} AS revenue,
             ${r4sql("""(sum(r.rev_q4) OVER (PARTITION BY r.cohort_week ORDER BY r.age_weeks
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) / 10000.0""")} AS cum_revenue
      FROM roll r JOIN sizes s USING (cohort_week)""")),
    "qp10_quality_audit" -> Op((s, d) => graft.analytics.Events.qualityAudit(s, d), Sql({
      def sub(t: String, c: String) = s"""
      SELECT '$t' AS table_name, '$c' AS column_name, count(*) AS n,
             CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(sum(CASE WHEN isnan($c) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
             CAST(sum(CASE WHEN isinf($c) THEN 1 ELSE 0 END) AS BIGINT) AS n_inf,
             CAST(sum(CASE WHEN $c = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
             CAST(sum(CASE WHEN $c < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM $t"""
      (Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(sub("lineitem", _)) ++
        Seq(sub("events", "value"), sub("orders", "o_totalprice"))).mkString("\n      UNION ALL\n")
    })),
    "qd15_novelty" -> Op((s, d) => graft.text.Dedup.novelty(s, d), Sql(graft.text.DocOracle.qd15())),
    "qv10_index_stats" -> Op((s, d) => graft.vector.Similarity.indexStats(s, d),
      Sql(graft.text.DocOracle.qv10())),
    "qd16_canonical" -> Op((s, d) => graft.text.Dedup.canonical(s, d), Sql(graft.text.DocOracle.qd16())),
    "q51_point_adjust" -> Op((s, d) => graft.timeseries.Metrics.pointAdjust(s, d),
      Sql(graft.timeseries.TsOracle.q51())),
    "qt18_source_scorecard" -> Op((s, d) => graft.text.TextOps.sourceScorecard(s, d),
      Sql(graft.text.DocOracle.qt18)),
    "q52_strength" -> Op((s, d) => graft.timeseries.Forecast.strength(s, d),
      Sql(graft.timeseries.TsOracle.q52())),
    "q53_reconcile" -> Op((s, d) => graft.timeseries.Forecast.reconcile(s, d),
      Sql(graft.timeseries.TsOracle.q53)),
    "q54_refit_backtest" -> Op((s, d) => graft.timeseries.Forecast.refitBacktest(s, d),
      Sql(graft.timeseries.TsOracle.q54())),
    "qe12_survival" -> Op((s, d) => graft.analytics.Events.survival(s, d), Sql(s"""
      WITH ev AS (
        SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events
      ), mx AS (SELECT max(tsec) AS tmax FROM ev),
      s0 AS (
        SELECT user_id, min(tsec) AS s0 FROM ev WHERE event_type = 'signup' GROUP BY user_id
      ), p0 AS (
        SELECT s.user_id, s.s0, min(CASE WHEN e.tsec >= s.s0 THEN e.tsec END) AS p0
        FROM s0 s LEFT JOIN ev e ON e.user_id = s.user_id AND e.event_type = 'purchase'
        GROUP BY s.user_id, s.s0
      ), gaps AS (
        SELECT user_id,
               CASE WHEN p0 IS NOT NULL THEN CAST(floor((p0 - s0) / 86400) AS BIGINT)
                    ELSE CAST(floor((tmax - s0) / 86400) AS BIGINT) END AS d,
               CASE WHEN p0 IS NOT NULL THEN 1 ELSE 0 END AS converted
        FROM p0, mx
      ), byday AS (
        SELECT d, CAST(sum(converted) AS BIGINT) AS d_conv,
               CAST(sum(1 - converted) AS BIGINT) AS d_cens
        FROM gaps GROUP BY d
      ), risk AS (
        SELECT d, d_conv, d_cens,
               sum(d_conv + d_cens) OVER () -
               coalesce(sum(d_conv + d_cens) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM byday
      ), lg AS (
        SELECT d, d_conv, d_cens, CAST(n_risk AS BIGINT) AS n_risk,
               CASE WHEN d_conv > 0 AND d_conv < n_risk
                    THEN ${q6sql("ln(1.0 - d_conv / CAST(n_risk AS DOUBLE))")}
                    ELSE 0 END AS lq,
               CASE WHEN d_conv = n_risk THEN 1 ELSE 0 END AS died
        FROM risk
      )
      SELECT d AS day, n_risk, d_conv, d_cens,
             CASE WHEN max(died) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 THEN 0.0
                  ELSE ${r4sql(s"exp(${fromQ6sql("""sum(lq) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")})")}
             END AS surv
      FROM lg""")),
    "qe13_audience_overlap" -> Op((s, d) => graft.analytics.Events.audienceOverlap(s, d), Sql(Qe13Sql)),
    "qe14_dau_mau" -> Op((s, d) => graft.analytics.Events.dauMau(s, d), Sql(s"""
      WITH ev AS (
        SELECT CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400) AS BIGINT) AS day,
               user_id
        FROM events
      ), pairs AS (SELECT DISTINCT day, user_id FROM ev),
      dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY day),
      fan AS (SELECT day + i AS day, user_id FROM pairs, unnest(range(0, ${graft.analytics.Events.DauMauWindow})) AS u(i)),
      mau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM fan GROUP BY day)
      SELECT d.day, d.dau, m.mau,
             ${r4sql("CAST(d.dau AS DOUBLE) / m.mau")} AS stickiness
      FROM dau d JOIN mau m USING (day)""")),
    "qe15_burst_rate" -> Op((s, d) => graft.analytics.Events.burstRate(s, d), Sql(Qe15Sql)),
    "qp6_completeness" -> Op((s, d) => TsQueries.qp6Completeness(s, d), Sql(TsOracle.qp6)),
    "qt13_boilerplate" -> Op((s, d) => graft.text.TextOps.boilerplate(s, d),
      Sql(graft.text.DocOracle.qt13())),
    "qt14_unigram_nll" -> Op((s, d) => graft.text.TextOps.unigramNll(s, d), Sql(graft.text.DocOracle.qt14)),
    "qt15_line_dedup" -> Op((s, d) => graft.text.TextOps.lineDedup(s, d), Sql(graft.text.DocOracle.qt15())),
  )

  /** The driver contract's two views of `ops`. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.map { case (k, op) => k -> op.build }

  val oracleSql: Map[String, String] =
    ops.collect { case (k, Op(_, Sql(text))) => k -> text }
}
