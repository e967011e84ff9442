package graft.text

/** DuckDB oracle SQL for the document (dedup/text/vector) operators,
  * mirroring Dedup/TextOps/Similarity stage-for-stage. Hashes are
  * md5-prefix based so both engines agree exactly; floats are quantized
  * through `Num`'s SQL forms of the 1e-4, 1e-6 and 1e-8 grids.
  */
object DocOracle {
  import graft.util.Num.{fromQ6sql, fromQ8sql, q4sql, q6sql, r4sql => r4, r6sql}

  /** 32-bit hash identical to TextCore.strHash. */
  private def h(e: String): String = s"CAST('0x' || substr(md5($e), 1, 8) AS BIGINT)"

  /** 60-bit hash identical to TextCore.strHash60 (qd4 identity joins). */
  private def h60(e: String): String = s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Band-signature polynomial CASE — generated from the same 31^k
    * weights as Dedup.bandPw so Spark and the oracle stay in lockstep
    * for any bandRows (both sides require bandRows ≤ 7).
    */
  private def bandCase(bandRows: Int): String = {
    val arms = Dedup.bandPw(bandRows).zipWithIndex
      .map { case (p, k) => s"WHEN $k THEN $p" }.mkString(" ")
    s"(CASE j % $bandRows $arms ELSE 0 END)"
  }

  /** Tokens with original index (empties dropped). */
  private val toksCte: String = """
WITH tk AS (
  SELECT doc_id, unnest(range(len(string_split(text, ' ')))) AS i,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
), toks AS (SELECT * FROM tk WHERE tok <> '')"""

  private def shinglesCte(n: Int, name: String): String = {
    // window named per CTE: DuckDB treats two `WINDOW w` clauses in one
    // WITH chain as a redefinition, which breaks composed oracles (qc1
    // chains the 3-gram LSH and 5-gram decon shingles in one query)
    val parts = (0 until n).map {
      case 0 => "tok"
      case k => s"lead(tok, $k) OVER w_$name"
    }.mkString(" || ' ' || ")
    s""",
${name}_raw AS (
  SELECT doc_id, i, $parts AS sh, lead(tok, ${n - 1}) OVER w_$name AS lastTok
  FROM toks WINDOW w_$name AS (PARTITION BY doc_id ORDER BY i)
), $name AS (SELECT doc_id, i, sh FROM ${name}_raw WHERE lastTok IS NOT NULL)"""
  }

  val qd1: String =
    "SELECT md5(text) AS h, count(*) AS n_dups, min(doc_id) AS keeper FROM documents GROUP BY md5(text)"

  /** qh1/qh2: mirrors HotReport.hotBlockReport — per guarded family,
    * the over-cap groups with their member count and would-be clique
    * pair product. The four group definitions are the guards' own:
    * qd2's (band, sig) buckets (same minhash/band chain as [[qd2]]),
    * qd4's (lang, n_chars/20) blocks, qd5's labels, qd11's seeded
    * cells (same assignment chain as [[qd11]]).
    */
  def qhot(maxBucket: Long, maxBlock: Long, maxLabel: Long, maxCell: Long,
           nCells: Int = 16, nPerm: Int = 16, bandRows: Int = 4): String =
    toksCte + shinglesCte(3, "sh3") + s"""
, shd AS (SELECT DISTINCT doc_id, sh, ${h("sh")} AS bh FROM sh3),
${minhCte(nPerm)}, bands AS MATERIALIZED (
  SELECT doc_id, CAST(floor(j / $bandRows) AS BIGINT) AS band,
         sum(mh * ${bandCase(bandRows)}) AS sig
  FROM minh GROUP BY doc_id, CAST(floor(j / $bandRows) AS BIGINT)
), vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)${assignCte(nCells)}
, lshhot AS (
  SELECT 'qd2_lsh_bucket' AS family,
         concat(CAST(band AS VARCHAR), ':', CAST(sig AS VARCHAR)) AS block_key,
         CAST(count(*) AS BIGINT) AS m
  FROM bands GROUP BY band, sig HAVING count(*) > $maxBucket
), blkhot AS (
  SELECT 'qd4_len_block' AS family,
         concat(lang, ':', CAST(CAST(floor(n_chars / 20) AS BIGINT) AS VARCHAR)) AS block_key,
         CAST(count(*) AS BIGINT) AS m
  FROM documents GROUP BY lang, CAST(floor(n_chars / 20) AS BIGINT)
  HAVING count(*) > $maxBlock
), labhot AS (
  SELECT 'qd5_label' AS family, CAST(label AS VARCHAR) AS block_key,
         CAST(count(*) AS BIGINT) AS m
  FROM embeddings GROUP BY label HAVING count(*) > $maxLabel
), cellhot AS (
  SELECT 'qd11_ivf_cell' AS family, CAST(cell AS VARCHAR) AS block_key,
         CAST(count(*) AS BIGINT) AS m
  FROM assigned GROUP BY cell HAVING count(*) > $maxCell
), allhot AS (
  SELECT * FROM lshhot UNION ALL SELECT * FROM blkhot
  UNION ALL SELECT * FROM labhot UNION ALL SELECT * FROM cellhot
)
SELECT family, block_key, m, CAST(m * (m - 1) // 2 AS BIGINT) AS would_pairs
FROM allhot"""

  /** shd → minh(doc_id, j, mh): the nPerm permutation minima as nPerm
    * min-aggregates in ONE pass over shd, zip-unnested back to rows —
    * row-for-row identical to the old perms/hashed nPerm× fan-out
    * (min over j of ((j·31+17)·bh + j·7919) mod p per doc), but the
    * peak intermediate is |shd|, not nPerm·|shd|: the fanned-out form
    * is what exhausted DuckDB's spill space on the sf1 soak's
    * qc3/qd14/qd16 oracles.
    */
  private def minhCte(nPerm: Int): String = {
    val mins = (0 until nPerm).map(j =>
      s"min((($j * 31 + 17) * bh + $j * 7919) % 2147483647) AS m$j")
      .mkString(",\n         ")
    val js = (0 until nPerm).mkString("[", ", ", "]")
    val ms = (0 until nPerm).map(j => s"m$j").mkString("[", ", ", "]")
    s"""
minw AS (
  SELECT doc_id,
         $mins
  FROM shd GROUP BY doc_id
), minh AS MATERIALIZED (
  SELECT doc_id, unnest($js) AS j, unnest($ms) AS mh FROM minw
)"""
  }

  def qd2(nPerm: Int = 16, bandRows: Int = 4): String = toksCte + shinglesCte(3, "sh3") + s"""
, shd AS (SELECT DISTINCT doc_id, sh, ${h("sh")} AS bh FROM sh3),
${minhCte(nPerm)}, bands AS MATERIALIZED (
  SELECT doc_id, CAST(floor(j / $bandRows) AS BIGINT) AS band,
         sum(mh * ${bandCase(bandRows)}) AS sig
  FROM minh GROUP BY doc_id, CAST(floor(j / $bandRows) AS BIGINT)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id"""

  def qd3(maxHam: Int = 8, maxDf: Long = Dedup.SimhashMaxDf): String = {
    val nb = Dedup.SimhashBits
    val nc = Dedup.SimhashChunks
    val cb = Dedup.SimhashChunkBits
    val mask = (1L << cb) - 1
    toksCte + s"""
, th AS (SELECT doc_id, ${h60("tok")} AS th FROM toks),
bits AS (
  SELECT doc_id, unnest(range($nb)) AS b, th FROM th
), contribs AS (
  SELECT doc_id, b, CASE WHEN ((th >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END AS contrib
  FROM bits
), bitsum AS (
  SELECT doc_id, b, sum(contrib) AS s FROM contribs GROUP BY doc_id, b
), shash AS (
  SELECT doc_id, sum((CASE WHEN s > 0 THEN 1::BIGINT ELSE 0::BIGINT END) << CAST(b AS INT)) AS sh
  FROM bitsum GROUP BY doc_id
), chunks AS (
  SELECT doc_id, sh, unnest(range($nc)) AS c FROM shash
), chunkv0 AS (
  SELECT doc_id, sh, c, (sh >> CAST($cb * c AS INT)) & $mask AS cv FROM chunks
), chunkdf AS (
  SELECT c, cv FROM chunkv0 GROUP BY c, cv HAVING count(*) <= $maxDf
), chunkv AS (
  SELECT v.doc_id, v.sh, v.c, v.cv
  FROM chunkv0 v JOIN chunkdf d ON v.c = d.c AND v.cv = d.cv
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
  FROM chunkv a JOIN chunkv b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= $maxHam"""
  }

  val qd4: String = toksCte + shinglesCte(3, "sh3") + s"""
, shd AS (SELECT DISTINCT doc_id, ${h60("sh")} AS shh FROM sh3),
sharr AS (
  SELECT doc_id, list_sort(list(shh)) AS shs, count(*) AS sz FROM shd GROUP BY doc_id
), blocks AS (
  SELECT doc_id, lang, CAST(floor(n_chars / 20) AS BIGINT) AS blk FROM documents
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blocks a JOIN blocks b
    ON a.lang = b.lang AND b.blk BETWEEN a.blk - 1 AND a.blk + 1 AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, len(list_intersect(sa.shs, sb.shs)) AS inter,
         sa.sz AS sza, sb.sz AS szb
  FROM cand c
  JOIN sharr sa ON sa.doc_id = c.doc_a
  JOIN sharr sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, ${r4("inter / (sza + szb - inter)")} AS jaccard
FROM inter WHERE inter > 0"""

  /** Mirrors Dedup.containment — rare-shingle postings → candidate
    * pairs → exact list_intersect over the same 60-bit hashes.
    */
  def qd18(maxDf: Long = 20L, minShared: Long = 3L, thr: Double = 0.5): String =
    toksCte + shinglesCte(3, "sh3") + s"""
, shd AS (SELECT DISTINCT doc_id, ${h60("sh")} AS shh FROM sh3),
dfc AS (SELECT shh, count(*) AS df FROM shd GROUP BY shh),
rare AS (SELECT s.doc_id, s.shh FROM shd s JOIN dfc USING (shh) WHERE df <= $maxDf),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_rare
  FROM rare a JOIN rare b ON a.shh = b.shh AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= $minShared
), sharr AS (
  SELECT doc_id, list_sort(list(shh)) AS shs, count(*) AS sz FROM shd GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, c.n_rare,
         CAST(len(list_intersect(sa.shs, sb.shs)) AS BIGINT) AS inter,
         sa.sz AS sza, sb.sz AS szb
  FROM cand c JOIN sharr sa ON sa.doc_id = c.doc_a
              JOIN sharr sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, n_rare, inter, sza, szb,
       ${r4("CAST(inter AS DOUBLE) / least(sza, szb)")} AS containment,
       CAST(CASE WHEN CAST(inter AS DOUBLE) / least(sza, szb) >= $thr
                 THEN 1 ELSE 0 END AS BIGINT) AS contained
FROM inter"""

  /** qd8: MinHash estimate vs exact Jaccard for LSH candidate pairs. */
  def qd8(nPerm: Int = 16, bandRows: Int = 4): String = toksCte + shinglesCte(3, "sh3") + s"""
, shd AS (SELECT DISTINCT doc_id, sh, ${h("sh")} AS bh FROM sh3),
${minhCte(nPerm)},
bands AS MATERIALIZED (
  SELECT doc_id, CAST(floor(j / $bandRows) AS BIGINT) AS band,
         sum(mh * ${bandCase(bandRows)}) AS sig
  FROM minh GROUP BY doc_id, CAST(floor(j / $bandRows) AS BIGINT)
), cpairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), est AS (
  SELECT c.doc_a, c.doc_b,
         CAST(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM cpairs c
  JOIN minh ma ON ma.doc_id = c.doc_a
  JOIN minh mb ON mb.doc_id = c.doc_b AND mb.j = ma.j
  GROUP BY c.doc_a, c.doc_b
), shdd AS (SELECT DISTINCT doc_id, sh FROM sh3),
sizes AS (SELECT doc_id, count(*) AS sz FROM shdd GROUP BY doc_id),
inters AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cpairs c
  JOIN shdd sa ON sa.doc_id = c.doc_a
  JOIN shdd sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT e.doc_a, e.doc_b, e.n_match,
  ${r4(s"e.n_match / $nPerm.0")} AS est_jaccard,
  ${r4("coalesce(i.inter, 0) / (za.sz + zb.sz - coalesce(i.inter, 0))")} AS exact_jaccard
FROM est e
LEFT JOIN inters i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes za ON za.doc_id = e.doc_a
JOIN sizes zb ON zb.doc_id = e.doc_b"""

  /** qd6: duplicate clusters — transitive closure over the LSH candidate
    * graph via recursive CTE; cluster id = min reachable doc_id. Must
    * agree with Spark's iterative min-label propagation fixpoint.
    */
  /** The CTE chain from tokens through the symmetric LSH candidate
    * edge list — shared by qd6 (connected components) and qd14
    * (PageRank).
    */
  private def lshEdgesCte(nPerm: Int, bandRows: Int): String = s"""
, shd AS (SELECT DISTINCT doc_id, sh, ${h("sh")} AS bh FROM sh3),
${minhCte(nPerm)}, bands AS MATERIALIZED (
  SELECT doc_id, CAST(floor(j / $bandRows) AS BIGINT) AS band,
         sum(mh * ${bandCase(bandRows)}) AS sig
  FROM minh GROUP BY doc_id, CAST(floor(j / $bandRows) AS BIGINT)
), cpairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), edges AS MATERIALIZED (
  SELECT doc_a, doc_b FROM cpairs
  UNION SELECT doc_b, doc_a FROM cpairs
)"""

  /** qd6's recursive connected-components labels over `edges` — ONE
    * definition shared by qd6 / qd16 / qd17 / qc1 (callers apply the
    * `WITH RECURSIVE` rewrite at the end).
    */
  private val ccCte: String = """
, reach AS (
  SELECT doc_a AS src, doc_a AS dst FROM (SELECT DISTINCT doc_a FROM edges)
  UNION
  SELECT r.src, e.doc_b AS dst FROM reach r JOIN edges e ON r.dst = e.doc_a
), lab AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
)"""

  /** qd12's n-gram/eval-split contamination hits — shared by qd12 and
    * qc1; `sfx` suffixes the CTE names so two instances can coexist.
    */
  private def deconHitsCte(n: Int, evalMod: Long, sfx: String): String =
    shinglesCte(n, s"shn$sfx") + s"""
, shd$sfx AS (SELECT DISTINCT doc_id, ${h60("sh")} AS h FROM shn$sfx),
ev$sfx AS (SELECT DISTINCT h FROM shd$sfx WHERE doc_id % $evalMod = 0),
hits$sfx AS (
  SELECT doc_id, count(*) AS n_hits
  FROM shd$sfx JOIN ev$sfx USING (h)
  WHERE doc_id % $evalMod <> 0
  GROUP BY doc_id
)"""

  /** qt10's per-doc quality signals (tf → per → sig) — shared by qt10
    * and qc1.
    */
  private val qualitySigCte: String = s"""
, tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
per AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok, count(*) AS n_uniq, max(tf) AS top_tf,
         sum(CASE WHEN tok IN ${inList(TextOps.Stopwords("en"))} THEN tf ELSE 0 END) AS n_stop
  FROM tf GROUP BY doc_id
), sig AS (
  SELECT d.doc_id, d.lang, coalesce(p.n_tok, 0) AS n_tok,
         ${r4("coalesce(p.n_stop * 1.0 / p.n_tok, 0.0)")} AS stop_ratio,
         ${r4("coalesce((p.n_tok - p.n_uniq) * 1.0 / p.n_tok, 0.0)")} AS dup_frac,
         ${r4("coalesce(p.top_tf * 1.0 / p.n_tok, 0.0)")} AS top_frac
  FROM documents d LEFT JOIN per p USING (doc_id)
)"""

  /** qt10's fixed-order verdict cascade — the SQL twin of
    * TextOps.qualityVerdict, shared by qt10 and qc1.
    */
  private def qualityCase(minTok: Long, minStopRatio: Double,
                          maxDupFrac: Double, maxTopFrac: Double): String =
    s"""CASE WHEN n_tok < $minTok THEN 'too_short'
              WHEN lang = 'en' AND stop_ratio < $minStopRatio THEN 'low_stopword'
              WHEN dup_frac > $maxDupFrac THEN 'repetitive'
              WHEN top_frac > $maxTopFrac THEN 'top_token'
              ELSE 'pass' END"""

  /** Mirrors Dedup.lshStarEdges: the qd2 band CTE chain, then one hub
    * (min doc_id) per ≥2-member (band, sig) bucket and the (hub →
    * member) star edges with their co-signing band count.
    */
  def qd22(nPerm: Int = 16, bandRows: Int = 4): String =
    toksCte + shinglesCte(3, "sh3") + s"""
, shd AS (SELECT DISTINCT doc_id, sh, ${h("sh")} AS bh FROM sh3),
${minhCte(nPerm)}, bands AS MATERIALIZED (
  SELECT doc_id, CAST(floor(j / $bandRows) AS BIGINT) AS band,
         sum(mh * ${bandCase(bandRows)}) AS sig
  FROM minh GROUP BY doc_id, CAST(floor(j / $bandRows) AS BIGINT)
), hubs AS (
  SELECT band, sig, min(doc_id) AS hub FROM bands
  GROUP BY band, sig HAVING count(*) >= 2
)
SELECT h.hub AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
FROM bands b JOIN hubs h ON b.band = h.band AND b.sig = h.sig AND b.doc_id <> h.hub
GROUP BY h.hub, b.doc_id"""

  def qd6(nPerm: Int = 16, bandRows: Int = 4): String = {
    val base = (toksCte + shinglesCte(3, "sh3") + lshEdgesCte(nPerm, bandRows) + ccCte + """
SELECT doc_id, cluster_id FROM lab""")
    base.replaceFirst("^\nWITH ", "\nWITH RECURSIVE ")
  }

  /** Mirrors TextOps.corpusBuild — the qt10 / qd12 / qd6 / qt21 CTE
    * chains composed into one funnel (qd12's shingle CTEs renamed
    * shd5/ev5/hits5 to avoid colliding with the LSH chain's shd).
    */
  /** qc1/qc3's shared funnel chain, ending at `fin` (per-doc staged
    * keep flags) — one SQL definition of "survived" for both reports,
    * mirroring TextOps.corpusFlags.
    */
  private def corpusFinCte(cap: Int, evalMod: Long,
                           nPerm: Int, bandRows: Int,
                           minTok: Long, minStopRatio: Double,
                           maxDupFrac: Double, maxTopFrac: Double): String =
    toksCte + shinglesCte(3, "sh3") + lshEdgesCte(nPerm, bandRows) + ccCte +
      deconHitsCte(5, evalMod, "5") + qualitySigCte + s"""
, rs AS (
  SELECT doc_id,
         (${qualityCase(minTok, minStopRatio, maxDupFrac, maxTopFrac)}) = 'pass' AS q_keep
  FROM sig
), st AS (
  SELECT d.doc_id, d.source, d.n_chars, r.q_keep,
         coalesce(l.cluster_id, d.doc_id) AS cluster_id,
         (d.doc_id % $evalMod <> 0 AND h.doc_id IS NULL) AS clean
  FROM documents d
  JOIN rs r USING (doc_id)
  LEFT JOIN lab l USING (doc_id)
  LEFT JOIN hits5 h USING (doc_id)
), st2 AS (SELECT *, q_keep AND clean AS c_keep FROM st),
keepers AS (
  SELECT cluster_id, min(doc_id) AS keeper FROM st2 WHERE c_keep GROUP BY cluster_id
), st3 AS (
  SELECT s.*, (s.c_keep AND s.doc_id = k.keeper) AS d_keep
  FROM st2 s LEFT JOIN keepers k USING (cluster_id)
), st4 AS (
  SELECT *, sum(CASE WHEN d_keep THEN 1 ELSE 0 END) OVER
        (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS crank
  FROM st3
), fin AS (SELECT *, (d_keep AND crank <= $cap) AS final_keep FROM st4)"""

  def qc1(cap: Int = 20, evalMod: Long = 50L,
          nPerm: Int = 16, bandRows: Int = 4,
          minTok: Long = 25L, minStopRatio: Double = 0.01,
          maxDupFrac: Double = 0.65, maxTopFrac: Double = 0.2): String = {
    val base = corpusFinCte(cap, evalMod, nPerm, bandRows,
      minTok, minStopRatio, maxDupFrac, maxTopFrac) + """
SELECT source, count(*) AS n_docs,
  CAST(sum(CASE WHEN q_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
  CAST(sum(CASE WHEN c_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_decontam,
  CAST(sum(CASE WHEN d_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
  CAST(sum(CASE WHEN final_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
  CAST(sum(CASE WHEN final_keep THEN n_chars ELSE 0 END) AS BIGINT) AS final_chars
FROM fin GROUP BY source"""
    base.replaceFirst("^\nWITH ", "\nWITH RECURSIVE ")
  }

  /** Mirrors TextOps.datasetCard — the same funnel chain, final
    * survivors joined with lang and token volumes, (source, lang)
    * rollup with corpus-share ratios.
    */
  def qc3(cap: Int = 20, evalMod: Long = 50L,
          nPerm: Int = 16, bandRows: Int = 4,
          minTok: Long = 25L, minStopRatio: Double = 0.01,
          maxDupFrac: Double = 0.65, maxTopFrac: Double = 0.2): String = {
    val base = corpusFinCte(cap, evalMod, nPerm, bandRows,
      minTok, minStopRatio, maxDupFrac, maxTopFrac) + s"""
, card_nt AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id),
card_per AS (
  SELECT f.source, d.lang, count(*) AS n_docs,
         CAST(sum(coalesce(n.nt, 0)) AS BIGINT) AS n_tokens,
         CAST(sum(f.n_chars) AS BIGINT) AS n_chars
  FROM fin f JOIN documents d USING (doc_id) LEFT JOIN card_nt n USING (doc_id)
  WHERE f.final_keep GROUP BY f.source, d.lang
), card_tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
                       CAST(sum(n_tokens) AS BIGINT) AS tt FROM card_per)
SELECT source, lang, n_docs, n_tokens, n_chars,
       ${r4("CAST(n_docs AS DOUBLE) / td")} AS doc_share,
       ${r4("CAST(n_tokens AS DOUBLE) / tt")} AS tok_share
FROM card_per, card_tot"""
    base.replaceFirst("^\nWITH ", "\nWITH RECURSIVE ")
  }

  /** Mirrors Dedup.dupWeight — qd6's recursive labels, singleton
    * fallback to doc_id, weight = 1/|cluster| on the shared r4 grid.
    */
  def qd17(nPerm: Int = 16, bandRows: Int = 4): String = {
    val base = (toksCte + shinglesCte(3, "sh3") + lshEdgesCte(nPerm, bandRows) + ccCte + s"""
, labeled AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lab l USING (doc_id)
), sizes AS (
  SELECT cluster_id, count(*) AS sz FROM labeled GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, s.sz, ${r4("1.0 / s.sz")} AS weight
FROM labeled l JOIN sizes s USING (cluster_id)""")
    base.replaceFirst("^\nWITH ", "\nWITH RECURSIVE ")
  }

  /** Mirrors Dedup.pageRank — `iters` unrolled rounds of the same
    * 1e-8 scaled-int mass arithmetic.
    */
  /** qd14's unrolled PageRank rounds over `edges` (deg/pr0 init + the
    * scaled-int contribution/update pair per round) — ONE definition
    * shared by qd14 and qd16.
    */
  private def prRoundsCte(iters: Int, damping: Double): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (
  SELECT e.doc_b AS doc_id,
         CAST(sum(CAST(floor(p.prq / CAST(p.deg AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM edges e JOIN pr${i - 1} p ON e.doc_a = p.doc_id GROUP BY e.doc_b
), pr$i AS MATERIALIZED (
  SELECT p.doc_id, p.deg, p.cq,
         p.cq + CAST(floor($damping * coalesce(c.s, 0) + 0.5) AS BIGINT) AS prq
  FROM pr${i - 1} p LEFT JOIN c$i c USING (doc_id)
)"""
    }.mkString(", ")
    s"""
, deg AS MATERIALIZED (SELECT doc_a AS doc_id, count(*) AS deg FROM edges GROUP BY doc_a),
nn AS (SELECT count(*) AS n FROM deg),
pr0 AS MATERIALIZED (
  SELECT doc_id, deg,
         CAST(floor(${(1.0 - damping) * 1e8} / n + 0.5) AS BIGINT) AS cq,
         CAST(floor(100000000.0 / n + 0.5) AS BIGINT) AS prq
  FROM deg, nn
), $rounds"""
  }

  def qd14(nPerm: Int = 16, bandRows: Int = 4,
           iters: Int = 3, damping: Double = 0.85): String =
    toksCte + shinglesCte(3, "sh3") + lshEdgesCte(nPerm, bandRows) +
      prRoundsCte(iters, damping) + s"""
SELECT doc_id, deg, ${fromQ8sql("prq")} AS pr FROM pr$iters"""

  /** Mirrors Dedup.canonical — qd6's recursive labels + qd14's rank
    * rounds over the one shared edges CTE, per-cluster top-1.
    */
  def qd16(nPerm: Int = 16, bandRows: Int = 4,
           iters: Int = 3, damping: Double = 0.85): String = {
    val base = toksCte + shinglesCte(3, "sh3") + lshEdgesCte(nPerm, bandRows) + ccCte +
      prRoundsCte(iters, damping) + s""",
members AS (
  SELECT l.cluster_id, l.doc_id, ${fromQ8sql("p.prq")} AS pr, d.n_chars
  FROM lab l JOIN pr$iters p USING (doc_id) JOIN documents d USING (doc_id)
)
SELECT cluster_id, doc_id AS canonical_doc, sz AS cluster_size, pr AS canonical_pr
FROM (
  SELECT cluster_id, doc_id, pr,
         count(*) OVER (PARTITION BY cluster_id) AS sz,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY pr DESC, n_chars DESC, doc_id) AS rn
  FROM members
) WHERE rn = 1"""
    base.replaceFirst("^\nWITH ", "\nWITH RECURSIVE ")
  }

  /** qd7 = qd6's label table grouped into per-cluster compaction stats. */
  def qd7(nPerm: Int = 16, bandRows: Int = 4): String =
    qd6(nPerm, bandRows).replace(
      "SELECT doc_id, cluster_id FROM lab",
      """SELECT l.cluster_id, count(*) AS sz, count(*) - 1 AS n_dropped,
         CAST(sum(d.n_chars) AS BIGINT) AS total_chars
         FROM lab l JOIN documents d USING (doc_id)
         GROUP BY l.cluster_id""")

  /** Vectors with norms (double math). */
  private val vecsCte: String = """
WITH vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)"""

  def qd5(thr: Double = 0.25): String = vecsCte + s"""
, pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM vecs a JOIN vecs b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, ${r4("cos")} AS cos FROM pairs WHERE cos >= $thr"""

  /** Mirrors Similarity.centroidOutlier: 1e-6 scaled-int centroid
    * accumulation, r6-quantized components, list order by pos.
    */
  def qv8(minCos: Double = 0.2): String = vecsCte + s"""
, comps AS (
  SELECT label, i AS pos, ${q6sql("v[i]")} AS xq
  FROM vecs, range(1, 65) t(i)
), cent AS (
  SELECT label, list(c ORDER BY pos) AS cv
  FROM (
    SELECT label, pos, ${fromQ6sql("floor(sum(xq) / count(*) + 0.5)")} AS c
    FROM comps GROUP BY label, pos
  ) GROUP BY label
), centn AS (
  SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cent
), scored AS (
  SELECT e.vec_id, e.label,
         ${r4("list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm)")} AS cos_c
  FROM vecs e JOIN centn c USING (label)
)
SELECT vec_id, label, cos_c,
       CASE WHEN cos_c < $minCos THEN 1 ELSE 0 END AS suspect
FROM scored"""

  /** Mirrors Similarity.centroidDrift — same centroid arithmetic as
    * qv8 over (label, half), list_distance for the L2 shift.
    */
  def qv9(minCos: Double = 0.98): String = vecsCte + s"""
, comps AS (
  SELECT label, CAST(vec_id % 2 AS INT) AS half, i AS pos,
         ${q6sql("v[i]")} AS xq
  FROM vecs, range(1, 65) t(i)
), cc AS (
  SELECT label, half, pos, ${fromQ6sql("floor(sum(xq) / count(*) + 0.5)")} AS c,
         count(*) AS ng
  FROM comps GROUP BY label, half, pos
), cent AS (
  SELECT label, half, list(c ORDER BY pos) AS cv,
         CAST(max(ng) AS BIGINT) AS n_vecs
  FROM cc GROUP BY label, half
), cn AS (
  SELECT label, half, cv, sqrt(list_dot_product(cv, cv)) AS cnrm, n_vecs FROM cent
)
SELECT a.label, a.n_vecs AS n_old, b.n_vecs AS n_new,
       ${r4("list_dot_product(a.cv, b.cv) / (a.cnrm * b.cnrm)")} AS cos_ab,
       ${r4("sqrt(list_dot_product(list_transform(range(1, 65), i -> a.cv[i] - b.cv[i]), list_transform(range(1, 65), i -> a.cv[i] - b.cv[i])))")} AS l2_shift,
       CASE WHEN ${r4("list_dot_product(a.cv, b.cv) / (a.cnrm * b.cnrm)")} < $minCos THEN 1 ELSE 0 END AS drifted
FROM cn a JOIN cn b ON a.label = b.label AND a.half = 0 AND b.half = 1"""

  def qv1(k: Int = 10, maxQueries: Int = 1000): String = vecsCte + s"""
, q AS (SELECT vec_id AS qid, v, nrm FROM vecs
        WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}),
scored AS (
  SELECT q.qid, b.vec_id, list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cos
  FROM q JOIN vecs b ON q.qid <> b.vec_id
), ranked AS (
  SELECT qid, vec_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
)
SELECT qid, vec_id, ${r4("cos")} AS cos, rnk FROM ranked WHERE rnk <= $k"""

  /** Mirrors Similarity.rangeSearch — qv1's scored chain with a
    * radius filter on the RAW cosine (quantization after, like qv1's
    * rank) and no ranking at all.
    */
  def qv16(tau: Double = 0.3, maxQueries: Int = 1000): String = vecsCte + s"""
, q AS (SELECT vec_id AS qid, v, nrm FROM vecs
        WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}),
scored AS (
  SELECT q.qid, b.vec_id, list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cos
  FROM q JOIN vecs b ON q.qid <> b.vec_id
)
SELECT qid, vec_id, ${r4("cos")} AS cos FROM scored WHERE cos >= $tau"""

  /** Mirrors Similarity.filteredTopK — qv1's chain with the label
    * equi-predicate in the join.
    */
  def qv15(k: Int = 10, maxQueries: Int = 1000): String = vecsCte + s"""
, q AS (SELECT vec_id AS qid, label, v, nrm FROM vecs
        WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}),
scored AS (
  SELECT q.qid, q.label, b.vec_id, list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cos
  FROM q JOIN vecs b ON q.label = b.label AND q.qid <> b.vec_id
), ranked AS (
  SELECT qid, label, vec_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
)
SELECT qid, label, vec_id, ${r4("cos")} AS cos, rnk FROM ranked WHERE rnk <= $k"""

  /** kNN label propagation — mirrors Similarity.knnLabel. */
  def qv7(k: Int = 5, maxQueries: Int = 1000): String = vecsCte + s"""
, q AS (SELECT vec_id AS qid, label AS true_label, v, nrm FROM vecs
        WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}),
b AS (SELECT vec_id, label, v, nrm FROM vecs
      WHERE NOT (vec_id % 100 = 0 AND vec_id < ${100L * maxQueries})),
scored AS (
  SELECT q.qid, q.true_label, b.vec_id, b.label,
         list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cos
  FROM q CROSS JOIN b
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
), votes AS (
  SELECT qid, true_label, label, count(*) AS votes
  FROM ranked WHERE rnk <= $k GROUP BY qid, true_label, label
), winner AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
  FROM votes
)
SELECT qid, true_label, label AS pred_label, CAST(votes AS BIGINT) AS votes,
       CASE WHEN true_label = pred_label THEN 1 ELSE 0 END AS correct
FROM winner WHERE vr = 1"""

  def qv2(nPlanes: Int = 8, k: Int = 5): String = vecsCte + s"""
, pos AS (
  SELECT vec_id, unnest(range(len(v))) AS d, unnest(v) AS x FROM vecs
), planes AS (
  SELECT p.p, d.d,
         (((1 + (p.p * 64 + d.d) * 2654435761) % 2147483648)::DOUBLE / 2147483648.0) - 0.5 AS w
  FROM (SELECT unnest(range($nPlanes)) AS p) p, (SELECT unnest(range(64)) AS d) d
), proj AS (
  SELECT pos.vec_id, pl.p, sum(pl.w * pos.x) AS proj
  FROM pos JOIN planes pl ON pos.d = pl.d
  GROUP BY pos.vec_id, pl.p
), bkt AS (
  SELECT vec_id, sum((CASE WHEN proj > 0 THEN 1::BIGINT ELSE 0::BIGINT END) << CAST(p AS INT)) AS bucket
  FROM proj GROUP BY vec_id
), ev AS (
  SELECT v.*, b.bucket FROM vecs v JOIN bkt b USING (vec_id)
), q AS (SELECT vec_id AS qid, bucket, v, nrm FROM ev WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.qid, b.vec_id, list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cos
  FROM q JOIN ev b ON q.bucket = b.bucket AND q.qid <> b.vec_id
), ranked AS (
  SELECT qid, vec_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
)
SELECT qid, vec_id, ${r4("cos")} AS cos, rnk FROM ranked WHERE rnk <= $k"""

  /** qv3/qd11's shared cell-assignment CTE chain — mirrors
    * Similarity.cellAssignment (seeded cells, L2 argmin, lower-cell
    * tie-break).
    */
  private def assignCte(nCells: Int): String = s"""
, pos AS (
  SELECT vec_id, unnest(range(len(v))) AS d, unnest(v) AS x FROM vecs
), seedids AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
  FROM (SELECT vec_id FROM vecs ORDER BY vec_id LIMIT $nCells)
), seeds AS (
  SELECT s.cell, p.d, p.x AS sx FROM pos p JOIN seedids s USING (vec_id)
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT p.vec_id, s.cell,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY sum((p.x - s.sx) * (p.x - s.sx)), s.cell) AS rn
    FROM pos p JOIN seeds s ON p.d = s.d
    GROUP BY p.vec_id, s.cell
  ) WHERE rn = 1
)"""

  /** qd11: within-cell cosine ≥ thr against any lower-id vector ⇒ dup;
    * mirrors Similarity.semanticDedup.
    */
  def qd11(nCells: Int = 16, thr: Double = 0.3): String =
    vecsCte + assignCte(nCells) + s"""
, wv AS (SELECT a.vec_id, a.cell, x.v, x.nrm FROM assigned a JOIN vecs x USING (vec_id)),
dups AS (
  SELECT b.vec_id, count(*) AS n_prior_dups
  FROM wv a JOIN wv b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $thr
  GROUP BY b.vec_id
)
SELECT w.vec_id, w.cell, CAST(coalesce(d.n_prior_dups, 0) AS BIGINT) AS n_prior_dups,
       d.vec_id IS NULL AS keep
FROM wv w LEFT JOIN dups d USING (vec_id)"""

  /** Mirrors Similarity.indexStats over the shared assignment CTE. */
  def qv10(nCells: Int = 16, hotFactor: Double = 2.0): String =
    vecsCte + assignCte(nCells) + s"""
, counts AS (SELECT cell, count(*) AS n_vecs FROM assigned GROUP BY cell),
tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM counts)
SELECT CAST(cell AS BIGINT) AS cell, n_vecs,
       ${r4("n_vecs / CAST(total AS DOUBLE)")} AS share,
       ${r4(s"n_vecs * $nCells / CAST(total AS DOUBLE)")} AS skew,
       CASE WHEN ${r4(s"n_vecs * $nCells / CAST(total AS DOUBLE)")} > $hotFactor THEN 1 ELSE 0 END AS hot
FROM counts, tot"""

  /** qv26: mirrors Similarity.hotCellSplit — qv10's r4-rounded hot rule
    * selects the split set over the shared assignment CTE, sub-seeds
    * are the nSplit lowest member vec_ids per hot cell, one
    * within-cell L2 argmin (d2 then j tie-break = the kernel's
    * first-index rule), child numbering nCells + hrank·(nSplit−1) +
    * (j−1), untouched cells ride through, share/skew against the
    * post-split occupied-cell count.
    */
  def qv26(nCells: Int = 16, hotFactor: Double = 2.0, nSplit: Int = 2): String =
    vecsCte + assignCte(nCells) + s"""
, counts AS (SELECT cell, count(*) AS n_vecs FROM assigned GROUP BY cell),
tot0 AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM counts),
hot AS (
  SELECT cell, row_number() OVER (ORDER BY cell) - 1 AS hrank
  FROM counts, tot0
  WHERE ${r4(s"n_vecs * $nCells / CAST(total AS DOUBLE)")} > $hotFactor
), members AS (
  SELECT a.vec_id, a.cell, h.hrank FROM assigned a JOIN hot h USING (cell)
), subseeds AS (
  SELECT cell, vec_id,
         row_number() OVER (PARTITION BY cell ORDER BY vec_id) - 1 AS j
  FROM members QUALIFY j < $nSplit
), seedpos AS (
  SELECT s.cell, s.j, p.d, p.x AS sx FROM pos p JOIN subseeds s USING (vec_id)
), mpos AS (
  SELECT m.cell, m.hrank, m.vec_id, p.d, p.x FROM pos p JOIN members m USING (vec_id)
), subassign AS (
  SELECT cell, hrank, vec_id, j FROM (
    SELECT m.cell, m.hrank, m.vec_id, s.j,
           row_number() OVER (PARTITION BY m.cell, m.vec_id
                              ORDER BY sum((m.x - s.sx) * (m.x - s.sx)), s.j) AS rn
    FROM mpos m JOIN seedpos s ON m.cell = s.cell AND m.d = s.d
    GROUP BY m.cell, m.hrank, m.vec_id, s.j
  ) WHERE rn = 1
), children AS (
  SELECT CAST(cell AS BIGINT) AS old_cell,
         CAST(CASE WHEN j = 0 THEN cell
              ELSE $nCells + hrank * ($nSplit - 1) + j - 1 END AS BIGINT) AS new_cell,
         count(*) AS n_vecs
  FROM subassign GROUP BY 1, 2
), untouched AS (
  SELECT CAST(c.cell AS BIGINT) AS old_cell, CAST(c.cell AS BIGINT) AS new_cell,
         c.n_vecs
  FROM counts c WHERE c.cell NOT IN (SELECT cell FROM hot)
), post AS (
  SELECT * FROM children UNION ALL SELECT * FROM untouched
), tot AS (
  SELECT CAST(sum(n_vecs) AS BIGINT) AS total, count(*) AS n_cells_post FROM post
)
SELECT new_cell AS cell, old_cell, CAST(n_vecs AS BIGINT) AS n_vecs,
       ${r4("n_vecs / CAST(total AS DOUBLE)")} AS share,
       ${r4("n_vecs * n_cells_post / CAST(total AS DOUBLE)")} AS skew
FROM post, tot"""

  def qv3(nCells: Int = 16, nProbe: Int = 2, k: Int = 5): String =
    vecsCte + assignCte(nCells) + s"""
, centroids AS (
  SELECT a.cell, p.d, avg(p.x) AS c
  FROM pos p JOIN assigned a USING (vec_id) GROUP BY a.cell, p.d
), qpos AS (
  SELECT vec_id AS qid, d, x FROM pos WHERE vec_id % 100 = 0 AND vec_id < 100000
), probes AS (
  SELECT qid, cell FROM (
    SELECT qp.qid, c.cell,
           row_number() OVER (PARTITION BY qp.qid
                              ORDER BY sum((qp.x - c.c) * (qp.x - c.c)), c.cell) AS rn
    FROM qpos qp JOIN centroids c ON qp.d = c.d
    GROUP BY qp.qid, c.cell
  ) WHERE rn <= $nProbe
), cands AS (
  SELECT pr.qid, a.vec_id FROM probes pr JOIN assigned a USING (cell)
  WHERE pr.qid <> a.vec_id
), scored AS (
  SELECT cd.qid, cd.vec_id,
         list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cos
  FROM cands cd
  JOIN vecs q ON q.vec_id = cd.qid
  JOIN vecs b ON b.vec_id = cd.vec_id
), ranked AS (
  SELECT qid, vec_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
), ivfk AS (
  SELECT qid, vec_id, cos, rnk FROM ranked WHERE rnk <= $k
)
SELECT qid, vec_id, ${r4("cos")} AS cos, rnk FROM ivfk"""

  /** qv5: product-quantization ADC top-k — mirrors Similarity.pqAnn
    * (seeded per-subspace codebooks + one Lloyd step, r4-quantized
    * centroids and distance tables, fixed left-assoc ADC sum).
    */
  /** The PQ-index CTE block (needs `vecs` and `pos` defined upstream):
    * codebooks (pqseedids → a0 → cb), compressed codes (cw) and
    * per-query distance tables (dtab). Mirrors Similarity.pqIndex; CTE
    * names are disjoint from assignCte's so qv6 can compose both.
    */
  private def pqCte(nSub: Int, nCode: Int): String = {
    val subDim = 64 / nSub
    val cwCols = (0 until nSub)
      .map(m => s"max(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    s"""
, spos AS (SELECT vec_id, d // $subDim AS m, d % $subDim AS sd, x FROM pos)
, pqseedids AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM vecs ORDER BY vec_id LIMIT $nCode)
), sseeds AS (
  SELECT s.code, p.m, p.sd, p.x AS sx FROM spos p JOIN pqseedids s USING (vec_id)
), a0 AS (
  SELECT vec_id, m, code FROM (
    SELECT p.vec_id, p.m, s.code,
           row_number() OVER (PARTITION BY p.vec_id, p.m
                              ORDER BY sum((p.x - s.sx) * (p.x - s.sx)), s.code) AS rn
    FROM spos p JOIN sseeds s ON p.m = s.m AND p.sd = s.sd
    GROUP BY p.vec_id, p.m, s.code
  ) WHERE rn = 1
), cb AS (
  SELECT p.m, a.code, p.sd, ${r4("avg(p.x)")} AS c
  FROM spos p JOIN a0 a ON a.vec_id = p.vec_id AND a.m = p.m
  GROUP BY p.m, a.code, p.sd
), codes AS (
  SELECT vec_id, m, code FROM (
    SELECT p.vec_id, p.m, c.code,
           row_number() OVER (PARTITION BY p.vec_id, p.m
                              ORDER BY sum((p.x - c.c) * (p.x - c.c)), c.code) AS rn
    FROM spos p JOIN cb c ON c.m = p.m AND c.sd = p.sd
    GROUP BY p.vec_id, p.m, c.code
  ) WHERE rn = 1
), cw AS (
  SELECT vec_id, $cwCols FROM codes GROUP BY vec_id
), dtab AS (
  SELECT p.vec_id AS qid, p.m, c.code, ${r4("sum((p.x - c.c) * (p.x - c.c))")} AS d2
  FROM spos p JOIN cb c ON c.m = p.m AND c.sd = p.sd
  WHERE p.vec_id % 100 = 0 AND p.vec_id < 100000
  GROUP BY p.vec_id, p.m, c.code
)"""
  }

  /** The fixed left-assoc ADC sum and dtab join chain; `anchor` is the
    * table alias providing (qid, vec_id) pairs to score.
    */
  private def adcSql(nSub: Int, fromClause: String, t0Link: String,
                     where: String): String = {
    val adcSum = (0 until nSub).map(m => s"t$m.d2").reduce((a, b) => s"($a + $b)")
    val adcJoins = (0 until nSub).map { m =>
      val link = if (m == 0) t0Link else s" AND t$m.qid = t0.qid"
      s"JOIN dtab t$m ON t$m.m = $m AND t$m.code = w.c$m$link"
    }.mkString("\n  ")
    s"""
, adc AS (
  SELECT t0.qid, w.vec_id, $adcSum AS ad2
  $fromClause
  $adcJoins
  $where
), ranked AS (
  SELECT qid, vec_id, ad2,
         row_number() OVER (PARTITION BY qid ORDER BY ad2, vec_id) AS rnk
  FROM adc
)"""
  }

  def qv5(nSub: Int = 4, nCode: Int = 16, k: Int = 5): String =
    vecsCte +
      "\n, pos AS (SELECT vec_id, unnest(range(len(v))) AS d, unnest(v) AS x FROM vecs)" +
      pqCte(nSub, nCode) +
      adcSql(nSub, "FROM cw w", "", "WHERE t0.qid <> w.vec_id") + s"""
SELECT qid, vec_id, ${r4("ad2")} AS ad2, rnk FROM ranked WHERE rnk <= $k"""

  /** qv13: k-means training — mirrors Similarity.kmeansFit with the
    * `iters` Lloyd rounds UNROLLED as CTE pairs (assign_i, cent_{i+1}),
    * the qd14-PageRank discipline: same 1e-6 scaled-int centroid means,
    * same (d2, cell) argmin tie-break as the packed kernel's
    * first-index rule.
    */
  /** MIPS top-k — mirrors Similarity.mipsTopK (qv1's chain ranked by
    * raw inner product).
    */
  def qv14(k: Int = 10, maxQueries: Int = 1000): String = vecsCte + s"""
, q AS (SELECT vec_id AS qid, v FROM vecs
        WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}),
scored AS (
  SELECT q.qid, b.vec_id, list_dot_product(q.v, b.v) AS dot
  FROM q JOIN vecs b ON q.qid <> b.vec_id
), ranked AS (
  SELECT qid, vec_id, dot,
         row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rnk
  FROM scored
)
SELECT qid, vec_id, ${r4("dot")} AS dot, rnk FROM ranked WHERE rnk <= $k"""

  def qv13(nCells: Int = 16, iters: Int = 2): String = {
    def d2(av: String, bv: String): String =
      s"list_dot_product(list_transform(range(1, 65), d -> $av[d] - $bv[d]), " +
        s"list_transform(range(1, 65), d -> $av[d] - $bv[d]))"
    def assign(a: String, c: String, extraInner: String = "",
               extraOuter: String = ""): String = s"""
, $a AS (
  SELECT vec_id, v, cell$extraOuter FROM (
    SELECT e.vec_id, e.v, c.cell$extraInner,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY ${d2("e.v", "c.cv")}, c.cell) AS rn
    FROM vecs e CROSS JOIN $c c
  ) WHERE rn = 1
)"""
    def cent(a: String, c: String): String = s"""
, ${c}c AS (
  SELECT cell, i AS pos,
         ${fromQ6sql(s"floor(sum(${q6sql("v[i]")}) / count(*) + 0.5)")} AS c
  FROM $a, range(1, 65) t(i) GROUP BY cell, i
), $c AS (
  SELECT cell, list(c ORDER BY pos) AS cv FROM ${c}c GROUP BY cell
)"""
    val rounds = (0 until iters).map { i =>
      assign(s"a$i", s"c$i") + cent(s"a$i", s"c${i + 1}")
    }.mkString
    vecsCte + s"""
, seeds AS (
  SELECT vec_id, v, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell
  FROM vecs ORDER BY vec_id LIMIT $nCells
), c0 AS (SELECT cell, v AS cv FROM seeds)""" + rounds +
      assign("afin", s"c$iters",
        s", ${q4sql(d2("e.v", "c.cv"))} AS d2q",
        ", d2q") + s"""
SELECT cell, count(*) AS n_vecs,
       ${r4("sum(d2q) / 10000.0")} AS inertia
FROM afin GROUP BY cell"""
  }

  /** qv12: two-stage refine ANN — mirrors Similarity.refineAnn: top-candK
    * by prefix-dim L2², exact full-dim cosine rerank to top-k.
    */
  def qv12(preDims: Int = 16, candK: Int = 50, k: Int = 5,
           maxQueries: Int = 1000): String = vecsCte + s"""
, q AS (SELECT vec_id AS qid, v AS av, nrm AS na, v[1:$preDims] AS ap FROM vecs
        WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}),
pre AS (
  SELECT q.qid, b.vec_id, q.av, q.na, b.v AS bv, b.nrm AS nb,
         list_dot_product(list_transform(range(1, ${preDims + 1}), d -> q.ap[d] - b.v[d]),
                          list_transform(range(1, ${preDims + 1}), d -> q.ap[d] - b.v[d])) AS pd2
  FROM q JOIN vecs b ON q.qid <> b.vec_id
), cands AS (
  SELECT * FROM (
    SELECT qid, vec_id, av, na, bv, nb,
           row_number() OVER (PARTITION BY qid ORDER BY pd2, vec_id) AS crnk
    FROM pre
  ) WHERE crnk <= $candK
), rer AS (
  SELECT qid, vec_id, list_dot_product(av, bv) / (na * nb) AS cos FROM cands
), ranked AS (
  SELECT qid, vec_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
  FROM rer
)
SELECT qid, vec_id, ${r4("cos")} AS cos, rnk FROM ranked WHERE rnk <= $k"""

  /** qv11: SQ8 scalar-quantized ANN — mirrors Similarity.sq8Ann: per-dim
    * min/max 256-level grid, r6-quantized reconstruction, exact query vs
    * reconstructed collection, top-k by ascending L2².
    */
  def qv11(k: Int = 5, maxQueries: Int = 1000): String = vecsCte + s"""
, mm AS (
  SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx
  FROM vecs, range(1, 65) t(i) GROUP BY i
), scp AS (
  SELECT pos, mn, CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS s FROM mm
), qz AS (
  SELECT list(mn ORDER BY pos) AS mn, list(s ORDER BY pos) AS sc FROM scp
), rec AS (
  SELECT vec_id, list_transform(range(1, 65), d ->
    ${r6sql("qz.mn[d] + least(255.0, greatest(0.0, floor((v[d] - qz.mn[d]) / qz.sc[d] + 0.5))) * qz.sc[d]")}) AS rv
  FROM vecs, qz
), q AS (SELECT vec_id AS qid, v AS av FROM vecs
         WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}),
scored AS (
  SELECT q.qid, rec.vec_id,
         list_dot_product(list_transform(range(1, 65), d -> q.av[d] - rec.rv[d]),
                          list_transform(range(1, 65), d -> q.av[d] - rec.rv[d])) AS ad2
  FROM q JOIN rec ON q.qid <> rec.vec_id
), ranked AS (
  SELECT qid, vec_id, ad2,
         row_number() OVER (PARTITION BY qid ORDER BY ad2, vec_id) AS rnk
  FROM scored
)
SELECT qid, vec_id, ${r4("ad2")} AS ad2, rnk FROM ranked WHERE rnk <= $k"""

  /** qv6: IVF-PQ — qv3's probe CTEs bound the candidates, qv5's PQ
    * block scores them; mirrors Similarity.ivfPqAnn.
    */
  def qv6(nCells: Int = 16, nProbe: Int = 2, nSub: Int = 4,
          nCode: Int = 16, k: Int = 5): String =
    vecsCte + assignCte(nCells) + s"""
, centroids AS (
  SELECT a.cell, p.d, avg(p.x) AS c
  FROM pos p JOIN assigned a USING (vec_id) GROUP BY a.cell, p.d
), qpos AS (
  SELECT vec_id AS qid, d, x FROM pos WHERE vec_id % 100 = 0 AND vec_id < 100000
), probes AS (
  SELECT qid, cell FROM (
    SELECT qp.qid, c.cell,
           row_number() OVER (PARTITION BY qp.qid
                              ORDER BY sum((qp.x - c.c) * (qp.x - c.c)), c.cell) AS rn
    FROM qpos qp JOIN centroids c ON qp.d = c.d
    GROUP BY qp.qid, c.cell
  ) WHERE rn <= $nProbe
), cands AS (
  SELECT pr.qid, a.vec_id FROM probes pr JOIN assigned a USING (cell)
  WHERE pr.qid <> a.vec_id
)""" + pqCte(nSub, nCode) +
      adcSql(nSub, "FROM cands cd\n  JOIN cw w ON w.vec_id = cd.vec_id",
        " AND t0.qid = cd.qid", "") + s"""
SELECT qid, vec_id, ${r4("ad2")} AS ad2, rnk FROM ranked WHERE rnk <= $k"""

  /** qv17: mirrors Similarity.probeSweep — qv3's probe/candidate chain
    * with the cell rank kept, one swept rank+recall branch per probe
    * level, UNION ALL (the levels nest, so level p is WHERE crank <= p).
    */
  def qv17(nCells: Int = 16, probes: Seq[Int] = Seq(1, 2, 4, 8),
           k: Int = 5): String = {
    val maxP = probes.max
    val levels = probes.map { p =>
      s"""SELECT $p AS nprobe, count(*) AS n_exact,
       CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ${r4("sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) / count(*)")} AS recall
FROM exact17 e LEFT JOIN (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
    FROM scored17 WHERE crank <= $p
  ) WHERE rnk <= $k
) i ON i.qid = e.qid AND i.vec_id = e.vec_id"""
    }.mkString("\nUNION ALL\n")
    vecsCte + assignCte(nCells) + s"""
, centroids AS (
  SELECT a.cell, p.d, avg(p.x) AS c
  FROM pos p JOIN assigned a USING (vec_id) GROUP BY a.cell, p.d
), qpos AS (
  SELECT vec_id AS qid, d, x FROM pos WHERE vec_id % 100 = 0 AND vec_id < 100000
), prober17 AS (
  SELECT qid, cell, rn AS crank FROM (
    SELECT qp.qid, c.cell,
           row_number() OVER (PARTITION BY qp.qid
                              ORDER BY sum((qp.x - c.c) * (qp.x - c.c)), c.cell) AS rn
    FROM qpos qp JOIN centroids c ON qp.d = c.d
    GROUP BY qp.qid, c.cell
  ) WHERE rn <= $maxP
), scored17 AS (
  SELECT pr.qid, a.vec_id, pr.crank,
         list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cos
  FROM prober17 pr JOIN assigned a USING (cell)
  JOIN vecs q ON q.vec_id = pr.qid
  JOIN vecs b ON b.vec_id = a.vec_id
  WHERE pr.qid <> a.vec_id
), exact17 AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, b.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY list_dot_product(q.v, b.v) / (q.nrm * b.nrm) DESC,
                                       b.vec_id) AS rnk
    FROM (SELECT vec_id AS qid, v, nrm FROM vecs WHERE vec_id % 100 = 0 AND vec_id < 100000) q
    JOIN vecs b ON b.vec_id <> q.qid
  ) WHERE rnk <= $k
)
""" + levels
  }

  /** qv4 = qv3's IVF result joined against the exact top-k → recall. */
  def qv4(nCells: Int = 16, nProbe: Int = 2, k: Int = 5): String =
    qv3(nCells, nProbe, k).replace(
      s"SELECT qid, vec_id, ${r4("cos")} AS cos, rnk FROM ivfk",
      s""", exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, b.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY list_dot_product(q.v, b.v) / (q.nrm * b.nrm) DESC,
                                       b.vec_id) AS rnk
    FROM (SELECT vec_id AS qid, v, nrm FROM vecs WHERE vec_id % 100 = 0 AND vec_id < 100000) q
    JOIN vecs b ON b.vec_id <> q.qid
  ) WHERE rnk <= $k
)
SELECT count(*) AS n_exact,
       CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ${r4("sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) / count(*)")} AS recall
FROM exact e LEFT JOIN ivfk i ON i.qid = e.qid AND i.vec_id = e.vec_id""")

  /** qv19: ranking-quality metrics of the IVF ranking vs the
    * exact-cosine gold — mirrors Similarity.rankMetrics: same shared
    * scaled-int discount literals (Similarity.ndcgDiscMicro), exact
    * int64 DCG sums, integer-division MRR.
    */
  def qv19(nCells: Int = 16, nProbe: Int = 2, k: Int = 5): String = {
    val disc = graft.vector.Similarity.ndcgDiscMicro(k)
    val discCase = disc.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
    val idcg = graft.vector.Similarity.idcgMicro(k)
    qv3(nCells, nProbe, k).replace(
      s"SELECT qid, vec_id, ${r4("cos")} AS cos, rnk FROM ivfk",
      s""", gold AS (
  SELECT qid, vec_id, ${k + 1} - rnk AS rel FROM (
    SELECT q.qid, b.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY list_dot_product(q.v, b.v) / (q.nrm * b.nrm) DESC,
                                       b.vec_id) AS rnk
    FROM (SELECT vec_id AS qid, v, nrm FROM vecs WHERE vec_id % 100 = 0 AND vec_id < 100000) q
    JOIN vecs b ON b.vec_id <> q.qid
  ) WHERE rnk <= $k
), scored19 AS (
  SELECT i.qid, i.rnk, coalesce(g.rel, 0) AS rel
  FROM ivfk i LEFT JOIN gold g ON g.qid = i.qid AND g.vec_id = i.vec_id
)
SELECT qid,
       CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ${r4(s"CAST(sum(rel * (CASE rnk $discCase ELSE 0 END)) AS BIGINT) / $idcg")} AS ndcg,
       ${r4(fromQ6sql("max(CASE WHEN rel > 0 THEN 1000000 // rnk ELSE 0 END)"))} AS rr
FROM scored19 GROUP BY qid""")
  }

  val qt1: String = s"""
SELECT doc_id,
  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws,
  len(regexp_extract_all(text, '${TextOps.TokenPat}')) AS n_tok,
  length(text) AS len
FROM documents"""

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  val qt2: String = toksCte + s"""
, stopHits AS (
  SELECT doc_id, sum(CASE WHEN tok IN ${inList(TextOps.Stopwords("en"))} THEN 1 ELSE 0 END) AS n_stop,
         count(*) AS n_ws, avg(length(tok)) AS mean_wlen
  FROM toks GROUP BY doc_id
), base AS (
  SELECT doc_id, length(text) AS len,
         length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
  FROM documents
)
SELECT b.doc_id,
  ${r4("b.n_punct / b.len")} AS punct_ratio,
  ${r4("b.n_digit / b.len")} AS digit_ratio,
  ${r4("coalesce(s.n_stop / s.n_ws, 0.0)")} AS stop_ratio,
  ${r4("coalesce(s.mean_wlen, 0.0)")} AS mean_wlen,
  ${r4("least(1.0, coalesce(s.n_ws, 0) / 100.0) * 0.3 + least(1.0, coalesce(s.n_stop / s.n_ws, 0.0) * 5.0) * 0.4 + (1.0 - least(1.0, b.n_punct / b.len * 10.0)) * 0.3")} AS quality
FROM base b LEFT JOIN stopHits s USING (doc_id)"""

  val qt3: String = {
    val unions = TextOps.LangPrio.zipWithIndex.map { case (lg, prio) =>
      s"""SELECT doc_id, '$lg' AS cand, $prio AS prio,
          sum(CASE WHEN tok IN ${inList(TextOps.Stopwords(lg))} THEN 1 ELSE 0 END) AS hits
          FROM toks GROUP BY doc_id"""
    }.mkString(" UNION ALL ")
    toksCte + s"""
, marker AS ($unions),
pred AS (
  SELECT doc_id, cand AS pred_lang, CAST(hits AS BIGINT) AS hits FROM (
    SELECT doc_id, cand, hits,
           row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, prio) AS rn
    FROM marker
  ) WHERE rn = 1
)
SELECT doc_id, pred_lang, hits FROM pred"""
  }

  /** qt8 = qt3's prediction joined against the gold label → confusion. */
  val qt8: String = qt3.replace(
    "SELECT doc_id, pred_lang, hits FROM pred",
    """SELECT d.lang, p.pred_lang, count(*) AS n
       FROM pred p JOIN documents d USING (doc_id)
       GROUP BY d.lang, p.pred_lang""")

  def qt7(topN: Int = 5): String = toksCte + s"""
, tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dlen AS (SELECT doc_id, sum(tf) AS dlen FROM tf GROUP BY doc_id),
dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
nd AS (SELECT count(*) AS n_docs FROM documents),
sc AS (
  SELECT t.doc_id, t.tok, ${r4("t.tf / d.dlen * ln(n.n_docs / f.df)")} AS tfidf
  FROM tf t JOIN dlen d USING (doc_id) JOIN dfr f USING (tok) CROSS JOIN nd n
)
SELECT doc_id, rnk, tok, tfidf FROM (
  SELECT doc_id, tok, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rnk
  FROM sc
) WHERE rnk <= $topN"""

  def qt4(n: Int = 5, k: Int = 3): String = toksCte + shinglesCte(n, "sh5") + s"""
, hashed AS (SELECT DISTINCT doc_id, ${h("sh")} AS hh FROM sh5)
SELECT doc_id, rnk, h FROM (
  SELECT doc_id, hh AS h,
         row_number() OVER (PARTITION BY doc_id ORDER BY hh) AS rnk
  FROM hashed
) WHERE rnk <= $k"""

  /** Mirrors TextOps.repetition stage-for-stage. */
  val qt9: String = toksCte + shinglesCte(3, "sh3") + s"""
, tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
ts AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok, count(*) AS n_uniq,
              max(tf) AS top_tf
       FROM tf GROUP BY doc_id),
g3 AS (SELECT doc_id, sh, count(*) AS c FROM sh3 GROUP BY doc_id, sh),
gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_3g,
              CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_3g_dup
       FROM g3 GROUP BY doc_id)
SELECT d.doc_id, coalesce(t.n_tok, 0) AS n_tok,
  ${r4("coalesce((t.n_tok - t.n_uniq) * 1.0 / t.n_tok, 0.0)")} AS dup_tok_frac,
  ${r4("coalesce(t.top_tf * 1.0 / t.n_tok, 0.0)")} AS top_tok_frac,
  ${r4("coalesce(g.n_3g_dup * 1.0 / g.n_3g, 0.0)")} AS dup_3gram_frac
FROM documents d LEFT JOIN ts t USING (doc_id) LEFT JOIN gs g USING (doc_id)"""

  /** Mirrors TextOps.qualityFilter — same signals, same quantize-then-
    * compare rule order.
    */
  def qt10(minTok: Long = 25L, minStopRatio: Double = 0.01,
           maxDupFrac: Double = 0.65, maxTopFrac: Double = 0.2): String =
    toksCte + qualitySigCte + s"""
, rs AS (
  SELECT doc_id, lang,
         ${qualityCase(minTok, minStopRatio, maxDupFrac, maxTopFrac)} AS reason
  FROM sig
)
SELECT doc_id, lang, reason, (reason = 'pass') AS keep FROM rs"""

  /** Mirrors Dedup.incrementalDedup — qd2's band build with the
    * one-sided increment(×incMod=0) vs corpus join. incMod=5 is the
    * sf registration; the zipf gate (qz11) uses incMod=2 because the
    * committed corpus's planted near-dup pairs are (…8, …9) ids —
    * never ≡0 (mod 5) — so a %5 split structurally yields zero rows
    * there and would gate nothing.
    */
  def qd9(nPerm: Int = 16, bandRows: Int = 4, incMod: Int = 5): String = {
    // mirror the Spark twin's validation: incMod=1 would make EVERY doc
    // the increment and the predicate pair always-false — an empty
    // oracle that could mask a misconfiguration instead of failing
    require(incMod >= 2, s"incMod=$incMod: incMod=1 would make EVERY doc the increment")
    toksCte + shinglesCte(3, "sh3") + s"""
, shd AS (SELECT DISTINCT doc_id, sh, ${h("sh")} AS bh FROM sh3),
${minhCte(nPerm).stripPrefix("\n")}, bands AS MATERIALIZED (
  SELECT doc_id, CAST(floor(j / $bandRows) AS BIGINT) AS band,
         sum(mh * ${bandCase(bandRows)}) AS sig
  FROM minh GROUP BY doc_id, CAST(floor(j / $bandRows) AS BIGINT)
)
SELECT a.doc_id AS doc_new, b.doc_id AS doc_old, count(*) AS n_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id % $incMod = 0 AND b.doc_id % $incMod <> 0
GROUP BY a.doc_id, b.doc_id"""
  }

  /** Mirrors Dedup.bloomIncrementalDedup's EXACT semantics — the Bloom
    * filter is a pruning device only (false positives removed by the
    * confirm join, no false negatives by construction), so the oracle is
    * the plain exact membership test.
    */
  val qd10: String = """
SELECT d.doc_id, md5(d.text) AS h,
       EXISTS(SELECT 1 FROM documents c
              WHERE c.doc_id % 5 <> 0 AND md5(c.text) = md5(d.text)) AS is_dup
FROM documents d WHERE d.doc_id % 5 = 0"""

  /** Mirrors Relational.mixtureSample (same md5-bp hash as qa10). */
  /** qt11: contiguous token-budget shard packing — mirrors
    * TextOps.packShards (exclusive prefix cumsum div budget).
    */
  /** qd13: longest shared token span per LSH candidate pair — mirrors
    * Dedup.dupSpans (qd2's band chain for candidates, then
    * gaps-and-islands over match diagonals).
    */
  def qd13(nPerm: Int = 16, bandRows: Int = 4, n: Int = 3): String =
    toksCte + shinglesCte(n, "sh3") + s"""
, shd AS (SELECT DISTINCT doc_id, sh, ${h("sh")} AS bh FROM sh3),
${minhCte(nPerm).stripPrefix("\n")}, bands AS MATERIALIZED (
  SELECT doc_id, CAST(floor(j / $bandRows) AS BIGINT) AS band,
         sum(mh * ${bandCase(bandRows)}) AS sig
  FROM minh GROUP BY doc_id, CAST(floor(j / $bandRows) AS BIGINT)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), shp AS (SELECT doc_id, i, ${h60("sh")} AS hp FROM sh3),
mt AS (
  SELECT p.doc_a, p.doc_b, sa.i AS ia, sb.i AS ib
  FROM pairs p
  JOIN shp sa ON sa.doc_id = p.doc_a
  JOIN shp sb ON sb.doc_id = p.doc_b AND sb.hp = sa.hp
), runs AS (
  SELECT doc_a, doc_b, ia - ib AS diag,
         ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia) AS grp
  FROM mt
), runlen AS (
  SELECT doc_a, doc_b, diag, grp, count(*) AS run
  FROM runs GROUP BY doc_a, doc_b, diag, grp
)
SELECT doc_a, doc_b, max(run) AS max_run, max(run) + ${n - 1} AS span_toks
FROM runlen GROUP BY doc_a, doc_b"""

  /** qt12: top-V vocab OOV coverage — mirrors TextOps.vocabCoverage. */
  def qt12(vocabSize: Int = 32): String = toksCte + s"""
, vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ORDER BY cnt DESC, tok LIMIT $vocabSize
  )
)
SELECT t.doc_id, count(*) AS n_toks,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ${r4("sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS oov_rate
FROM toks t LEFT JOIN vocab v USING (tok)
GROUP BY t.doc_id"""

  /** qd12: eval-split shingle-overlap decontamination — mirrors
    * Dedup.decontaminate.
    */
  def qd12(n: Int = 5, evalMod: Long = 50L): String =
    toksCte + deconHitsCte(n, evalMod, "") + s"""
SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       h.doc_id IS NOT NULL AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % $evalMod <> 0"""

  def qt11(budget: Long = 2048L): String = s"""
WITH t AS (
  SELECT doc_id, source, lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks
  FROM documents
), c AS (
  SELECT *, sum(n_toks) OVER (PARTITION BY source, lang ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, source, lang, CAST(n_toks AS BIGINT) AS n_toks,
       CAST(floor((cum - n_toks) * 1.0 / $budget) AS BIGINT) AS shard
FROM c"""

  /** Boilerplate bigram coverage — mirrors TextOps.boilerplate. */
  def qt13(dfFrac: Double = 0.05, topK: Int = 500, maxFrac: Double = 0.5): String = toksCte + s"""
, bgr AS (
  SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS bg, lead(tok, 1) OVER w AS nxt
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY i)
), bgs AS (SELECT doc_id, bg FROM bgr WHERE nxt IS NOT NULL),
ndocs AS (SELECT count(*) AS nd FROM documents),
bdf AS (SELECT bg, count(*) AS df FROM (SELECT DISTINCT doc_id, bg FROM bgs) GROUP BY bg),
boiler AS (
  SELECT bg FROM (
    SELECT bg, row_number() OVER (ORDER BY df DESC, bg) AS rnk
    FROM bdf, ndocs WHERE df >= ceil($dfFrac * nd)
  ) WHERE rnk <= $topK
),
cover AS (
  SELECT b.doc_id, count(*) AS n_bg,
         CAST(sum(CASE WHEN bo.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
  FROM bgs b LEFT JOIN boiler bo USING (bg) GROUP BY b.doc_id
)
SELECT d.doc_id, coalesce(c.n_bg, 0) AS n_bg, coalesce(c.n_boiler, 0) AS n_boiler,
  coalesce(${r4("c.n_boiler / c.n_bg")}, 0.0) AS boiler_frac,
  CASE WHEN coalesce(${r4("c.n_boiler / c.n_bg")}, 0.0) <= $maxFrac THEN 1 ELSE 0 END AS keep
FROM documents d LEFT JOIN cover c USING (doc_id)"""

  /** Per-language unigram-LM mean negative log-likelihood — mirrors
    * TextOps.unigramNll (per-token log-probs quantized before the sum).
    */
  val qt14: String = toksCte + s"""
, dl AS (SELECT doc_id, lang FROM documents),
tkl AS (SELECT t.doc_id, t.tok, d.lang FROM toks t JOIN dl d USING (doc_id)),
ucnt AS (SELECT lang, tok, count(*) AS cnt FROM tkl GROUP BY lang, tok),
utot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM ucnt GROUP BY lang),
ulm AS (
  SELECT c.lang, c.tok, ${q4sql("ln(c.cnt / t.tot)")} AS lpq
  FROM ucnt c JOIN utot t USING (lang)
), pd AS (
  SELECT k.doc_id, count(*) AS n_tok, CAST(sum(m.lpq) AS BIGINT) AS slp
  FROM tkl k JOIN ulm m ON k.lang = m.lang AND k.tok = m.tok GROUP BY k.doc_id
)
SELECT d.doc_id, d.lang, coalesce(p.n_tok, 0) AS n_tok,
  coalesce(${r4("-(p.slp / 10000.0 / p.n_tok)")}, 0.0) AS nll
FROM dl d LEFT JOIN pd p USING (doc_id)"""

  /** Mirrors TextOps.bigramNll — identical interpolation expression and
    * 1e-4 pre-sum quantization.
    */
  def qt17(lambda: Double = 0.7): String = toksCte + s"""
, dl AS (SELECT doc_id, lang FROM documents),
bgr AS (
  SELECT doc_id, tok AS w1, lead(tok, 1) OVER w AS w2
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY i)
), bgs AS (
  SELECT b.doc_id, d.lang, b.w1, b.w2 FROM bgr b JOIN dl d USING (doc_id)
  WHERE b.w2 IS NOT NULL
), bcnt AS (SELECT lang, w1, w2, count(*) AS cb FROM bgs GROUP BY lang, w1, w2),
wcnt AS (SELECT lang, w1, CAST(sum(cb) AS BIGINT) AS cw FROM bcnt GROUP BY lang, w1),
ucnt AS (SELECT lang, w2, CAST(sum(cb) AS BIGINT) AS c2 FROM bcnt GROUP BY lang, w2),
tot AS (SELECT lang, CAST(sum(c2) AS BIGINT) AS nb FROM ucnt GROUP BY lang),
lm AS (
  SELECT b.lang, b.w1, b.w2,
         ${q4sql(s"ln($lambda * (b.cb / c.cw) + ${1.0 - lambda} * (u.c2 / t.nb))")} AS lpq
  FROM bcnt b JOIN wcnt c USING (lang, w1) JOIN ucnt u USING (lang, w2) JOIN tot t USING (lang)
), pd AS (
  SELECT g.doc_id, count(*) AS n_bg, CAST(sum(m.lpq) AS BIGINT) AS slp
  FROM bgs g JOIN lm m ON g.lang = m.lang AND g.w1 = m.w1 AND g.w2 = m.w2
  GROUP BY g.doc_id
)
SELECT d.doc_id, d.lang, coalesce(p.n_bg, 0) AS n_bg,
  coalesce(${r4("-(p.slp / 10000.0 / p.n_bg)")}, 0.0) AS nll2
FROM dl d LEFT JOIN pd p USING (doc_id)"""

  def qa13(weights: Seq[(String, Int)] = Seq("en" -> 1, "fr" -> 1, "es" -> 1, "de" -> 1, "zh" -> 1)): String = {
    val values = weights.map { case (l, w) => s"('$l', $w)" }.mkString(", ")
    s"""
WITH counts AS (
  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang
), w(lang, wi) AS (VALUES $values),
cw AS (SELECT w.lang, COALESCE(c.n_total, 0) AS n_total, w.wi
       FROM w LEFT JOIN counts c USING (lang)),
u AS (SELECT CAST(min(floor(n_total / wi)) AS BIGINT) AS n_units FROM cw),
thr AS (
  SELECT lang, n_total, CAST(n_units * wi AS BIGINT) AS n_target,
         CASE WHEN n_total = 0 THEN 0
              ELSE CAST(floor(n_units * wi * 10000.0 / n_total) AS BIGINT) END AS thr_bp
  FROM cw, u
), kept AS (
  SELECT d.lang,
         CAST(sum(CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < t.thr_bp
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM documents d JOIN thr t USING (lang)
  GROUP BY d.lang
)
SELECT t.lang, t.n_total, t.n_target, t.thr_bp, COALESCE(k.n_kept, 0) AS n_kept
FROM thr t LEFT JOIN kept k USING (lang)"""
  }

  /** Mirror of TextOps.lineDedup: fixed `segWords`-word segments, cut
    * those present in >= `minDocs` distinct docs, rebuild text in order.
    */
  def qt15(segWords: Int = 3, minDocs: Int = 2): String = s"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(w[(i-1)*$segWords+1 : (i-1)*$segWords+$segWords], ' ') AS seg
  FROM ws, range(1, 512) r(i) WHERE (i-1)*$segWords < len(w)
),
cnt AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_seg,
       CAST(sum(CASE WHEN c.nd < $minDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN c.nd < $minDocs THEN s.seg END, ' ' ORDER BY s.seg_idx), '') AS clean_text
FROM segs s JOIN cnt c USING (seg) GROUP BY s.doc_id"""

  /** Mirrors TextOps.sourceScorecard. */
  val qt18: String = toksCte + s"""
, tkc AS (SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id),
dh AS (SELECT md5(text) AS h, count(*) AS nh FROM documents GROUP BY md5(text))
SELECT d.source, count(*) AS n_docs,
       CAST(sum(coalesce(t.n_toks, 0)) AS BIGINT) AS total_toks,
       ${r4("sum(d.n_chars) / CAST(count(*) AS DOUBLE)")} AS avg_chars,
       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
       CAST(sum(CASE WHEN x.nh > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
       ${r4("sum(CASE WHEN x.nh > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS dup_rate
FROM documents d
LEFT JOIN tkc t USING (doc_id)
JOIN dh x ON md5(d.text) = x.h
GROUP BY d.source"""

  /** Mirrors Dedup.novelty — distinct doc-shingles, global min-doc
    * first occurrence, per-doc novel fraction.
    */
  def qd15(n: Int = 3): String = toksCte + shinglesCte(n, "shn") + s"""
, shd AS (SELECT DISTINCT doc_id, sh FROM shn),
firsts AS (SELECT sh, min(doc_id) AS first_doc FROM shd GROUP BY sh),
pd AS (
  SELECT s.doc_id, count(*) AS n_shingles,
         CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM shd s JOIN firsts f USING (sh) GROUP BY s.doc_id
)
SELECT d.doc_id, d.lang, coalesce(p.n_shingles, 0) AS n_shingles,
       coalesce(p.n_novel, 0) AS n_novel,
       coalesce(${r4("p.n_novel / CAST(p.n_shingles AS DOUBLE)")}, 0.0) AS novelty
FROM documents d LEFT JOIN pd p USING (doc_id)"""

  /** qd19: corpus-global duplicated spans — mirrors
    * Dedup.globalDupSpans (occurrence count ≥ 2 per 60-bit shingle
    * hash, gaps-and-islands per doc, span = run + n − 1).
    */
  def qd19(n: Int = 3, minSpan: Int = 4): String =
    toksCte + shinglesCte(n, "shn") + s"""
, occ19 AS (
  SELECT ${h60("sh")} AS hq, count(*) AS occ FROM shn
  GROUP BY 1 HAVING count(*) >= 2
), dup19 AS (
  SELECT s.doc_id, s.i, o.occ
  FROM shn s JOIN occ19 o ON o.hq = ${h60("s.sh")}
), isl19 AS (
  SELECT doc_id, i, occ,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM dup19
)
SELECT doc_id, CAST(min(i) AS BIGINT) AS start_tok,
       count(*) + ${n - 1} AS span_toks, max(occ) AS max_occ
FROM isl19 GROUP BY doc_id, grp
HAVING count(*) + ${n - 1} >= $minSpan"""

  /** qd20 — mirrors Dedup.dedupSpans: dense token ranks, the same
    * packed-int64 first-occurrence key (doc_id·2^31 + p), qd19's
    * islands + noise floor, and a per-doc ordered rebuild of the kept
    * tokens.
    */
  def qd20(n: Int = 3, minSpan: Int = 4): String = {
    val parts = (0 until n).map {
      case 0 => "tok"
      case k => s"lead(tok, $k) OVER w20"
    }.mkString(" || ' ' || ")
    toksCte + s"""
, dtk AS (
  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS p
  FROM toks
), shp AS (
  SELECT doc_id, p, ${h60("sh")} AS hq FROM (
    SELECT doc_id, p, $parts AS sh, lead(tok, ${n - 1}) OVER w20 AS lastTok
    FROM dtk WINDOW w20 AS (PARTITION BY doc_id ORDER BY p)
  ) WHERE lastTok IS NOT NULL
), agg20 AS (
  SELECT hq, count(*) AS occ, min(doc_id * 2147483648 + p) AS first_key
  FROM shp GROUP BY hq HAVING count(*) >= 2
), isl20 AS (
  SELECT s.doc_id, s.p, a.first_key,
         s.p - row_number() OVER (PARTITION BY s.doc_id ORDER BY s.p) AS grp
  FROM shp s JOIN agg20 a USING (hq)
), qual20 AS (
  SELECT doc_id, p, first_key FROM (
    SELECT doc_id, p, first_key,
           count(*) OVER (PARTITION BY doc_id, grp) AS run
    FROM isl20
  ) WHERE run + ${n - 1} >= $minSpan
), cuts20 AS (
  SELECT DISTINCT doc_id, p + off AS cp
  FROM qual20, range(0, $n) t(off)
  WHERE doc_id * 2147483648 + p <> first_key
), kept20 AS (
  SELECT t.doc_id, count(*) AS n_tok,
         CAST(sum(CASE WHEN c.cp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
         coalesce(string_agg(CASE WHEN c.cp IS NULL THEN t.tok END, ' ' ORDER BY t.p), '') AS clean_text
  FROM dtk t LEFT JOIN cuts20 c ON c.doc_id = t.doc_id AND c.cp = t.p
  GROUP BY t.doc_id
)
SELECT d.doc_id, coalesce(k.n_tok, 0) AS n_tok, coalesce(k.n_cut, 0) AS n_cut,
       coalesce(k.clean_text, '') AS clean_text
FROM documents d LEFT JOIN kept20 k USING (doc_id)"""
  }

  /** One qd20 pass as a CTE chain reading (doc_id, text) from `src`,
    * every name suffixed `$sfx` so passes nest in one WITH chain
    * (window names included — DuckDB treats a repeated WINDOW name in
    * one chain as a redefinition). Emits docs$sfx (the rebuilt corpus,
    * the next pass's source) and stat$sfx (this pass's cut counts).
    *
    * The multiply-referenced stages (dtk feeds shp+kept, shp feeds
    * agg+isl, kept feeds docs+stat) and the pass-boundary corpus
    * (docs) are pinned `AS MATERIALIZED`: qd21 nests three of these
    * chains in ONE statement, and leaving materialization to the
    * optimizer let the heaviest soak oracle re-expand upstream passes
    * under memory pressure — the zipf-sf1 soak's one contention
    * failure (VERDICT r13 next #6). Materialized, the statement
    * degrades to slow-but-correct (spilling per stage) instead of
    * erroring; results are identical either way.
    */
  private def qd20PassCtes(src: String, sfx: String, passNo: Int,
                           n: Int, minSpan: Int): String = {
    val parts = (0 until n).map {
      case 0 => "tok"
      case k => s"lead(tok, $k) OVER w$sfx"
    }.mkString(" || ' ' || ")
    s""",
tk$sfx AS (
  SELECT doc_id, unnest(range(len(string_split(text, ' ')))) AS i,
         unnest(string_split(text, ' ')) AS tok
  FROM $src
), toks$sfx AS (SELECT * FROM tk$sfx WHERE tok <> ''),
dtk$sfx AS MATERIALIZED (
  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS p
  FROM toks$sfx
), shp$sfx AS MATERIALIZED (
  SELECT doc_id, p, ${h60("sh")} AS hq FROM (
    SELECT doc_id, p, $parts AS sh, lead(tok, ${n - 1}) OVER w$sfx AS lastTok
    FROM dtk$sfx WINDOW w$sfx AS (PARTITION BY doc_id ORDER BY p)
  ) WHERE lastTok IS NOT NULL
), agg$sfx AS (
  SELECT hq, count(*) AS occ, min(doc_id * 2147483648 + p) AS first_key
  FROM shp$sfx GROUP BY hq HAVING count(*) >= 2
), isl$sfx AS (
  SELECT s.doc_id, s.p, a.first_key,
         s.p - row_number() OVER (PARTITION BY s.doc_id ORDER BY s.p) AS grp
  FROM shp$sfx s JOIN agg$sfx a USING (hq)
), qual$sfx AS (
  SELECT doc_id, p, first_key FROM (
    SELECT doc_id, p, first_key,
           count(*) OVER (PARTITION BY doc_id, grp) AS run
    FROM isl$sfx
  ) WHERE run + ${n - 1} >= $minSpan
), cuts$sfx AS (
  SELECT DISTINCT doc_id, p + off AS cp
  FROM qual$sfx, range(0, $n) t(off)
  WHERE doc_id * 2147483648 + p <> first_key
), kept$sfx AS MATERIALIZED (
  SELECT t.doc_id, count(*) AS n_tok,
         CAST(sum(CASE WHEN c.cp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
         coalesce(string_agg(CASE WHEN c.cp IS NULL THEN t.tok END, ' ' ORDER BY t.p), '') AS clean_text
  FROM dtk$sfx t LEFT JOIN cuts$sfx c ON c.doc_id = t.doc_id AND c.cp = t.p
  GROUP BY t.doc_id
), docs$sfx AS MATERIALIZED (
  SELECT d.doc_id, coalesce(k.clean_text, '') AS text
  FROM $src d LEFT JOIN kept$sfx k USING (doc_id)
), stat$sfx AS (
  SELECT CAST($passNo AS BIGINT) AS pass,
         CAST(coalesce(sum(n_cut), 0) AS BIGINT) AS n_cut,
         CAST(count(CASE WHEN n_cut > 0 THEN 1 END) AS BIGINT) AS docs_cut
  FROM kept$sfx
)"""
  }

  /** qd21 — mirrors Dedup.dedupSpansFixpoint: the qd20 chain nested
    * `passes` times (pass k reads pass k−1's rebuilt corpus; documents
    * with no tokens never enter kept and contribute 0 cuts on both
    * sides), per-pass (pass, n_cut, docs_cut) unioned.
    */
  def qd21(n: Int = 3, minSpan: Int = 4, passes: Int = 3): String = {
    val chains = (1 to passes).map { k =>
      qd20PassCtes(if (k == 1) "documents" else s"docsp${k - 1}",
        s"p$k", k, n, minSpan)
    }.mkString
    val union = (1 to passes).map(k => s"SELECT * FROM statp$k")
      .mkString("\nUNION ALL ")
    s"WITH q21seed AS (SELECT 1)$chains\n$union"
  }

  /** qd25 — mirrors Dedup.dedupSpansCorpus: the same nested qd20 chain
    * as [[qd21]], selecting pass `passes`'s rebuilt corpus instead of
    * the per-pass stats.
    */
  def qd25(n: Int = 3, minSpan: Int = 4, passes: Int = 3): String = {
    val chains = (1 to passes).map { k =>
      qd20PassCtes(if (k == 1) "documents" else s"docsp${k - 1}",
        s"p$k", k, n, minSpan)
    }.mkString
    s"WITH q21seed AS (SELECT 1)$chains\n" +
      s"SELECT doc_id, text AS clean_text FROM docsp$passes"
  }

  /** Mirrors TextOps.charEntropy: same alphabet, same
    * length-of-replace counts, same 1e-6 pre-sum term quantization.
    */
  /** qt19: PII scan — mirrors TextOps.piiScan over the shared pattern
    * list (restricted to Java/RE2-agreeing constructs).
    */
  def qt19(): String = {
    // DuckDB standard string literals pass backslashes through verbatim,
    // so the Java-side pattern IS the SQL pattern (only quotes escape)
    val cnts = graft.text.TextOps.piiPatterns.map { case (name, pat) =>
      s"CAST(len(regexp_extract_all(text, '${pat.replace("'", "''")}')) AS BIGINT) AS n_$name"
    }.mkString(",\n         ")
    val total = graft.text.TextOps.piiPatterns
      .map { case (name, _) => s"n_$name" }.mkString(" + ")
    s"""WITH pii AS (
  SELECT doc_id, $cnts
  FROM documents
)
SELECT doc_id, n_email, n_phone, n_ipv4,
       CASE WHEN $total > 0 THEN 1 ELSE 0 END AS has_pii
FROM pii"""
  }

  /** Mirrors TextOps.piiRedact — the same patterns, placeholders and
    * chain order over the progressively redacted string ('g' flag =
    * Spark's replace-all default).
    */
  def qt23(): String = {
    val stages = graft.text.TextOps.piiPatterns.zipWithIndex.map {
      case ((name, pat), i) =>
        val p = pat.replace("'", "''")
        val repl = graft.text.TextOps.piiPlaceholders(name)
        val carry = (1 to i).map(j => s"c$j, ").mkString
        s"""r${i + 1} AS (
  SELECT doc_id, ${carry}regexp_replace(t$i, '$p', '$repl', 'g') AS t${i + 1},
         CAST(len(regexp_extract_all(t$i, '$p')) AS BIGINT) AS c${i + 1}
  FROM r$i)"""
    }
    val k = graft.text.TextOps.piiPatterns.length
    s"""WITH r0 AS (SELECT doc_id, text AS t0 FROM documents),
${stages.mkString(",\n")}
SELECT doc_id, t$k AS text_redacted,
       ${(1 to k).map(i => s"c$i").mkString(" + ")} AS n_redact
FROM r$k"""
  }

  def qt16(minBits: Double = 3.0): String = {
    val counts = graft.text.TextOps.entropyAlphabet.zipWithIndex.map { case (c, i) =>
      val lit = if (c == "'") "''" else c
      s"CAST(length(text) - length(replace(text, '$lit', '')) AS BIGINT) AS k$i"
    }
    val ks = graft.text.TextOps.entropyAlphabet.indices.map(i => s"k$i")
    val other = s"n_chars - (${ks.mkString(" + ")})"
    val all = ks :+ "ko"
    def termQ(k: String) =
      s"CASE WHEN $k > 0 THEN ${q6sql(s"-($k / CAST(n_chars AS DOUBLE)) * log2($k / CAST(n_chars AS DOUBLE))")} ELSE 0 END"
    s"""
WITH c0 AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, ${counts.mkString(",\n         ")}
  FROM documents
), c1 AS (SELECT *, $other AS ko FROM c0)
SELECT doc_id, n_chars,
       ${all.map(k => s"(CASE WHEN $k > 0 THEN 1 ELSE 0 END)").mkString(" + ")} AS n_distinct,
       ${r4(fromQ6sql(s"(${all.map(termQ).mkString(" + ")})"))} AS entropy,
       CASE WHEN ${r4(fromQ6sql(s"(${all.map(termQ).mkString(" + ")})"))} < $minBits THEN 1 ELSE 0 END AS low_diversity
FROM c1"""
  }

  /** qt22 — mirrors TextOps.dsirWeights stage-for-stage: the same
    * unigram+bigram feature stream, the same md5-prefix bucket hash,
    * add-one smoothed bucket models, per-bucket log-ratio quantized to
    * the 1e-6 grid before the exact-integer per-doc sum.
    */
  def qt22(target: String = "src0", nBuckets: Int = 64): String =
    toksCte + shinglesCte(2, "sh2") + s"""
, ds AS (SELECT doc_id, source FROM documents),
fs AS (
  SELECT doc_id, tok AS f FROM toks
  UNION ALL
  SELECT doc_id, sh AS f FROM sh2
), fb AS (
  SELECT f.doc_id, d.source, ${h("f.f")} % $nBuckets AS b
  FROM fs f JOIN ds d USING (doc_id)
), cnt AS (
  SELECT b,
         CAST(sum(CASE WHEN source = '$target' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(sum(CASE WHEN source <> '$target' THEN 1 ELSE 0 END) AS BIGINT) AS cr
  FROM fb GROUP BY b
), tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM cnt),
lr AS (
  SELECT b, ${q6sql(s"ln((ct + 1.0) / (tt + ${nBuckets}.0)) - ln((cr + 1.0) / (tr + ${nBuckets}.0))")} AS lrq
  FROM cnt, tot
), pd AS (
  SELECT f.doc_id, count(*) AS n_feat, CAST(sum(l.lrq) AS BIGINT) AS slr
  FROM fb f JOIN lr l USING (b) WHERE f.source <> '$target'
  GROUP BY f.doc_id
)
SELECT d.doc_id, d.source,
       coalesce(p.n_feat, 0) AS n_feat,
       ${r4(fromQ6sql("coalesce(p.slr, 0)"))} AS log_w,
       CAST(CASE WHEN coalesce(p.slr, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
FROM ds d LEFT JOIN pd p USING (doc_id) WHERE d.source <> '$target'"""

  /** qc2 — mirrors TextOps.epochShuffle: the same 60-bit md5-prefix
    * key over 'epoch:doc_id', mod-shard, rank within (epoch, shard).
    */
  def qc2(nShards: Int = 8, nEpochs: Int = 2): String = s"""
WITH e AS (SELECT unnest(range($nEpochs)) AS epoch),
k AS (
  SELECT e.epoch, d.doc_id,
         ${h60("CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")} AS k
  FROM documents d CROSS JOIN e
)
SELECT epoch, doc_id, k % $nShards AS shard,
       CAST(row_number() OVER (PARTITION BY epoch, k % $nShards ORDER BY k, doc_id) AS BIGINT) AS pos
FROM k"""

  /** qt24 — mirrors TextOps.chunkDocs: whitespace tokens (empties
    * dropped, order kept) sliced into chunkTok windows every stride
    * tokens; md5 over the space-joined slice. Same int64 ceil algebra
    * for the chunk count.
    */
  def qt24(chunkTok: Int = 64, stride: Int = 48): String = s"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
         1 + ((greatest(CAST(len(toks) AS BIGINT) - $chunkTok, 0) + ${stride - 1}) // $stride) AS n_chunks
  FROM t WHERE len(toks) > 0
), x AS (
  SELECT doc_id, toks, n_tok, unnest(range(n_chunks)) AS chunk_id FROM c
)
SELECT doc_id, chunk_id, chunk_id * $stride AS start_tok,
       least($chunkTok, n_tok - chunk_id * $stride) AS n_tok_chunk,
       md5(array_to_string(list_slice(toks, chunk_id * $stride + 1, chunk_id * $stride + $chunkTok), ' ')) AS chunk_md5
FROM x"""

  /** qv20 — mirrors Similarity.dimSweep: same prefix-slice cosines
    * (list slices + list_dot_product on identical doubles), same
    * (cos DESC, vec_id) rank order, gold = qv1's exact full-dim chain;
    * pairs materialized once because every level reads them.
    */
  def qv20(k: Int = 10, dims: Seq[Int] = Seq(4, 8, 16, 32, 64),
           maxQueries: Int = 1000): String = vecsCte + s"""
, q20 AS (SELECT vec_id AS qid, v, nrm FROM vecs
          WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}),
pairs20 AS MATERIALIZED (
  SELECT q.qid, b.vec_id, q.v AS av, b.v AS bv, q.nrm AS na, b.nrm AS nb
  FROM q20 q JOIN vecs b ON q.qid <> b.vec_id
), lv20 AS (
  ${dims.map(d =>
    s"""SELECT qid, vec_id, $d AS dim,
       list_dot_product(av[1:$d], bv[1:$d]) /
         (sqrt(list_dot_product(av[1:$d], av[1:$d])) *
          sqrt(list_dot_product(bv[1:$d], bv[1:$d]))) AS cos
     FROM pairs20""").mkString("\n  UNION ALL\n  ")}
), rk20 AS (
  SELECT dim, qid, vec_id,
         row_number() OVER (PARTITION BY dim, qid ORDER BY cos DESC, vec_id) AS rnk
  FROM lv20
), gold20 AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY list_dot_product(av, bv) / (na * nb) DESC,
                                       vec_id) AS rnk
    FROM pairs20
  ) WHERE rnk <= $k)
SELECT dim, count(*) AS n,
       CAST(sum(CASE WHEN g.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ${r4("CAST(sum(CASE WHEN g.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1.0 / count(*)")} AS recall
FROM (SELECT * FROM rk20 WHERE rnk <= $k) t
LEFT JOIN gold20 g ON g.qid = t.qid AND g.vec_id = t.vec_id
GROUP BY dim"""

  /** qv21 — mirrors Similarity.indexUpsert: seeds from the BASE split
    * only, every vector (base + delta) takes its nearest seed (L2,
    * ties → lower cell), per-cell conditional counts.
    */
  def qv21(nCells: Int = 16, mod: Int = 10, rem: Int = 7): String = vecsCte + s"""
, pos21 AS (
  SELECT vec_id, unnest(range(len(v))) AS d, unnest(v) AS x FROM vecs
), seedids21 AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
  FROM (SELECT vec_id FROM vecs WHERE vec_id % $mod <> $rem
        ORDER BY vec_id LIMIT $nCells)
), seeds21 AS (
  SELECT s.cell, p.d, p.x AS sx FROM pos21 p JOIN seedids21 s USING (vec_id)
), asg21 AS (
  SELECT vec_id, cell, vec_id % $mod = $rem AS is_delta FROM (
    SELECT p.vec_id, s.cell,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY sum((p.x - s.sx) * (p.x - s.sx)), s.cell) AS rn
    FROM pos21 p JOIN seeds21 s ON p.d = s.d
    GROUP BY p.vec_id, s.cell
  ) WHERE rn = 1
)
SELECT cell,
       CAST(sum(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
       CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(count(*) AS BIGINT) AS n_total,
       CASE WHEN sum(CASE WHEN is_delta THEN 0 ELSE 1 END) > 0 THEN
         ${r4("CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) * 1.0 / CAST(sum(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT)")}
       END AS growth
FROM asg21 GROUP BY cell"""

  /** qt25 — mirrors TextOps.bpeMerges: the same ␁-wrapped word
    * encoding (chr(1) never occurs in the synthetic corpus), the same
    * replace()-based greedy left-to-right merge (both engines scan
    * forward past the replaced region), the same (freq DESC, lhs, rhs)
    * winner order; rounds unrolled as CTE triples (the qv13/qd14
    * discipline), word tables MATERIALIZED because each is read by both
    * its round's pair count and the next round's rewrite.
    */
  /** The shared BPE training chain (tok carried through every rewrite
    * so the encoder can read the final segmentation): defines
    * bn1..bn{rounds} (round winners) and, when `withFinalWords`,
    * bw{rounds+1} (the word table after the LAST merge — qt26's
    * vocabulary).
    */
  private def bpeCte(rounds: Int, withFinalWords: Boolean): String = {
    val S = "chr(1)"
    val cte = new StringBuilder(toksCte + s"""
, wf25 AS (SELECT tok, count(*) AS freq FROM toks
           WHERE NOT contains(tok, $S) GROUP BY tok),
bw1 AS MATERIALIZED (
  SELECT tok, $S || array_to_string(string_split(tok, ''), $S || $S) || $S AS w, freq
  FROM wf25)""")
    for (r <- 1 to rounds) {
      cte.append(s""",
bp$r AS (
  SELECT x.syms[x.i + 1] AS lhs, x.syms[x.i + 2] AS rhs,
         CAST(sum(x.freq) AS BIGINT) AS freq
  FROM (SELECT syms, freq, unnest(range(len(syms) - 1)) AS i
        FROM (SELECT string_split(substr(w, 2, length(w) - 2), $S || $S) AS syms, freq
              FROM bw$r)) x
  GROUP BY 1, 2),
bn$r AS MATERIALIZED (
  SELECT lhs, rhs, freq FROM bp$r ORDER BY freq DESC, lhs, rhs LIMIT 1)""")
      if (r < rounds || withFinalWords) cte.append(s""",
bw${r + 1} AS MATERIALIZED (
  SELECT w.tok,
         CASE WHEN n.lhs IS NULL THEN w.w
              ELSE replace(w.w, $S || n.lhs || $S || $S || n.rhs || $S,
                           $S || n.lhs || n.rhs || $S) END AS w, w.freq
  FROM bw$r w LEFT JOIN bn$r n ON TRUE)""")
    }
    cte.toString
  }

  def qt25(rounds: Int = 4): String =
    bpeCte(rounds, withFinalWords = false) + "\n" + (1 to rounds)
      .map(r => s"SELECT $r AS merge_round, lhs, rhs, freq FROM bn$r")
      .mkString("\nUNION ALL\n")

  /** qt26 — mirrors TextOps.bpeEncode: per-word subword count off the
    * final segmented vocabulary, one tok-keyed join back to the token
    * stream, per-doc integer sums, one double division of exact int64s.
    */
  def qt26(rounds: Int = 4): String = {
    val S = "chr(1)"
    bpeCte(rounds, withFinalWords = true) + s""",
nsub AS (
  SELECT tok, CAST(len(string_split(substr(w, 2, length(w) - 2), $S || $S)) AS BIGINT) AS n_sub
  FROM bw${rounds + 1})
SELECT t.doc_id, count(*) AS n_tok, CAST(sum(n.n_sub) AS BIGINT) AS n_subword,
       ${r4("CAST(sum(n.n_sub) AS DOUBLE) / CAST(sum(length(t.tok)) AS DOUBLE)")} AS subword_per_char
FROM toks t JOIN nsub n ON n.tok = t.tok
GROUP BY t.doc_id"""
  }

  /** qt27 — mirrors TextOps.chunkDedup: qt24's chunk CTE + an
    * occurrence count keyed by chunk_md5 + the per-doc rollup.
    */
  def qt27(chunkTok: Int = 64, stride: Int = 48): String = s"""
WITH t27 AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), c27 AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
         1 + ((greatest(CAST(len(toks) AS BIGINT) - $chunkTok, 0) + ${stride - 1}) // $stride) AS n_chunks
  FROM t27 WHERE len(toks) > 0
), ch27 AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, chunk_id * $stride + 1, chunk_id * $stride + $chunkTok), ' ')) AS chunk_md5
  FROM (SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_id FROM c27)
), occ27 AS (
  SELECT chunk_md5, count(*) AS occ FROM ch27 GROUP BY chunk_md5
)
SELECT c.doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN o.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       ${r4("CAST(sum(CASE WHEN o.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1.0 / count(*)")} AS dup_frac
FROM ch27 c JOIN occ27 o USING (chunk_md5)
GROUP BY c.doc_id"""

  /** qc5 — mirrors TextOps.chunkIndex: qt27's chunk CTE, a keeper
    * row_number on (doc_id, chunk_id) per chunk_md5, the qv3 cell
    * assignment chain, one per-cell rollup.
    */
  def qc5(chunkTok: Int = 64, stride: Int = 48, nCells: Int = 16): String =
    vecsCte + assignCte(nCells) + s""",
t5 AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), c5 AS (
  SELECT doc_id, toks,
         1 + ((greatest(CAST(len(toks) AS BIGINT) - $chunkTok, 0) + ${stride - 1}) // $stride) AS n_chunks
  FROM t5 WHERE len(toks) > 0
), ch5 AS (
  SELECT doc_id, chunk_id,
         md5(array_to_string(list_slice(toks, chunk_id * $stride + 1, chunk_id * $stride + $chunkTok), ' ')) AS chunk_md5
  FROM (SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_id FROM c5)
), fl5 AS (
  SELECT doc_id, chunk_md5,
         row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_id) AS rn
  FROM ch5
)
SELECT CAST(a.cell AS BIGINT) AS cell,
       CAST(sum(CASE WHEN f.rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_indexed,
       CAST(sum(CASE WHEN f.rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(count(DISTINCT CASE WHEN f.rn = 1 THEN f.doc_id END) AS BIGINT) AS n_docs,
       ${r4("sum(CASE WHEN f.rn > 1 THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS drop_frac
FROM fl5 f JOIN assigned a ON a.vec_id = f.doc_id
GROUP BY a.cell"""

  /** qv18 — mirrors Similarity.hybridSearch: qt7's quantized TF-IDF
    * ranking picks each query doc's terms; BM25 contributions are
    * 1e-6-quantized then integer-summed (order-free); the dense
    * branch is qv1's chain; RRF = Σ 1/(60+rank) as exact small-int
    * divisions. Constants interpolate from Similarity's fields so the
    * two engines can't drift.
    */
  /** The shared lexical + corpus-stat CTE prefix of qv18/qv22 (ends at
    * `lex`; `vecs` is defined here because both dense branches read it).
    */
  private def hybridLexCte(nTerms: Int, depth: Int, maxQueries: Int,
                           fallbackShare: Long = 1L): String = {
    val k1 = graft.vector.Similarity.Bm25K1
    val b = graft.vector.Similarity.Bm25B
    val bm25 = s"""ln(CAST(1 AS DOUBLE) + (CAST(s.n_docs - q.df AS DOUBLE) + 0.5) / (CAST(q.df AS DOUBLE) + 0.5))
           * ((CAST(t.tf AS DOUBLE) * ${k1 + 1}) / (t.tf + $k1 * (${1 - b} + $b * (d.dlen / s.avgdlen))))"""
    toksCte + s"""
, vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dlen AS (SELECT doc_id, sum(tf) AS dlen FROM tf GROUP BY doc_id),
dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
nd AS (SELECT count(*) AS n_docs FROM documents),
stats AS (
  SELECT n.n_docs, t.n_tok_total / n.n_docs AS avgdlen
  FROM nd n CROSS JOIN (SELECT count(*) AS n_tok_total FROM toks) t
), qt AS (
  SELECT doc_id AS qid, tok, df FROM (
    SELECT t.doc_id, t.tok, f.df,
           row_number() OVER (PARTITION BY t.doc_id
             ORDER BY (CASE WHEN f.df <= greatest(${graft.vector.Similarity.Bm25MaxDfFloor},
                              n.n_docs // ${graft.vector.Similarity.Bm25MaxDfShare})
                            THEN 1 ELSE 0 END) DESC,
                      ${r4("t.tf / d.dlen * ln(n.n_docs / f.df)")} DESC, t.tok) AS trm
    FROM tf t JOIN dlen d USING (doc_id) JOIN dfr f USING (tok) CROSS JOIN nd n
    WHERE t.doc_id % 100 = 0 AND t.doc_id < ${100L * maxQueries}
      AND f.df <= greatest(greatest(${graft.vector.Similarity.Bm25MaxDfFloor},
                                    n.n_docs // ${graft.vector.Similarity.Bm25MaxDfShare}),
                           n.n_docs // $fallbackShare)
  ) WHERE trm <= $nTerms
), sc AS (
  SELECT q.qid, t.doc_id,
         sum(${q6sql(bm25)}) AS bm25q
  FROM qt q JOIN tf t ON q.tok = t.tok AND t.doc_id <> q.qid
  JOIN dlen d ON t.doc_id = d.doc_id CROSS JOIN stats s
  GROUP BY q.qid, t.doc_id
), lex AS (
  SELECT qid, doc_id, lex_rank FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY bm25q DESC, doc_id) AS lex_rank
    FROM sc
  ) WHERE lex_rank <= $depth
)"""
  }

  /** The shared RRF fusion of qv18/qv22/qv23 as a CTE `hyb` (expects
    * `lex` and a dense ranking `vr` (qid, doc_id, vec_rank) upstream).
    */
  private def hybridFusedCte(k: Int): String = {
    val rk = graft.vector.Similarity.RrfK
    s""", fused AS (
  SELECT coalesce(l.qid, v.qid) AS qid, coalesce(l.doc_id, v.doc_id) AS doc_id,
         l.lex_rank, v.vec_rank,
         coalesce(CAST(1 AS DOUBLE) / ($rk + l.lex_rank), CAST(0 AS DOUBLE)) +
         coalesce(CAST(1 AS DOUBLE) / ($rk + v.vec_rank), CAST(0 AS DOUBLE)) AS rrf
  FROM lex l FULL JOIN vr v ON l.qid = v.qid AND l.doc_id = v.doc_id
), hyb AS (
  SELECT qid, doc_id, lex_rank, vec_rank, rrf, rnk FROM (
    SELECT qid, doc_id, lex_rank, vec_rank, rrf,
           row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rnk
    FROM fused
  ) WHERE rnk <= $k
)"""
  }

  private def hybridFusionSql(k: Int): String = hybridFusedCte(k) + s"""
SELECT qid, doc_id, coalesce(lex_rank, 0) AS lex_rank,
       coalesce(vec_rank, 0) AS vec_rank,
       ${r6sql("rrf")} AS rrf, rnk
FROM hyb"""

  def qv18(k: Int = 10, nTerms: Int = 3, depth: Int = 20,
           maxQueries: Int = 1000, fallbackShare: Long = 1L): String =
    hybridLexCte(nTerms, depth, maxQueries, fallbackShare) + s""",
vq AS (SELECT vec_id AS qid, v, nrm FROM vecs
       WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}),
vsc AS (
  SELECT q.qid, b.vec_id, list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cos
  FROM vq q JOIN vecs b ON q.qid <> b.vec_id
), vr AS (
  SELECT qid, vec_id AS doc_id, vec_rank FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS vec_rank
    FROM vsc
  ) WHERE vec_rank <= $depth
)""" + hybridFusionSql(k)

  /** qv22 — mirrors Similarity.hybridSearchIvf: the qv18 lexical chain
    * with the dense branch swapped to qv3's IVF probe (the same
    * assignCte/centroid/probe SQL qv3 is parity-checked on).
    */
  /** The qv22/qv23 shared IVF dense-branch CTE block (qv3's
    * parity-checked chain at `depth`, producing `vr`).
    */
  private def hybridIvfDenseCte(depth: Int, nCells: Int, nProbe: Int,
                                maxQueries: Int): String =
    assignCte(nCells) + s""",
centroids AS (
  SELECT a.cell, p.d, avg(p.x) AS c
  FROM pos p JOIN assigned a USING (vec_id) GROUP BY a.cell, p.d
), qpos AS (
  SELECT vec_id AS qid, d, x FROM pos
  WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}
), probes AS (
  SELECT qid, cell FROM (
    SELECT qp.qid, c.cell,
           row_number() OVER (PARTITION BY qp.qid
                              ORDER BY sum((qp.x - c.c) * (qp.x - c.c)), c.cell) AS rn
    FROM qpos qp JOIN centroids c ON qp.d = c.d
    GROUP BY qp.qid, c.cell
  ) WHERE rn <= $nProbe
), vcands AS (
  SELECT pr.qid, a.vec_id FROM probes pr JOIN assigned a USING (cell)
  WHERE pr.qid <> a.vec_id
), vsc AS (
  SELECT cd.qid, cd.vec_id,
         list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cos
  FROM vcands cd
  JOIN vecs q ON q.vec_id = cd.qid
  JOIN vecs b ON b.vec_id = cd.vec_id
), vr AS (
  SELECT qid, vec_id AS doc_id, vec_rank FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS vec_rank
    FROM vsc
  ) WHERE vec_rank <= $depth
)"""

  def qv22(k: Int = 10, nTerms: Int = 3, depth: Int = 20, nCells: Int = 16,
           nProbe: Int = 2, maxQueries: Int = 1000,
           fallbackShare: Long = 1L): String =
    hybridLexCte(nTerms, depth, maxQueries, fallbackShare) +
      hybridIvfDenseCte(depth, nCells, nProbe, maxQueries) + hybridFusionSql(k)

  /** qv24 — mirrors Similarity.hybridSearch with the fallback df
    * ceiling engaged (share = Bm25FallbackMaxDfShare): qv18's SQL with
    * the admission predicate's ceiling at n_docs/2.
    */
  def qv24(k: Int = 10, nTerms: Int = 3, depth: Int = 20,
           maxQueries: Int = 1000): String =
    qv18(k, nTerms, depth, maxQueries,
      graft.vector.Similarity.Bm25FallbackMaxDfShare)

  /** qv23 — mirrors Similarity.hybridEval: qv19's graded gold and
    * scaled-int discount tail over TWO systems from the shared CTEs —
    * the bare IVF ranking (`vr` at k) and the RRF-fused hybrid (`hyb`).
    */
  def qv23(k: Int = 5, nTerms: Int = 3, depth: Int = 20, nCells: Int = 16,
           nProbe: Int = 2, maxQueries: Int = 1000): String = {
    val disc = graft.vector.Similarity.ndcgDiscMicro(k)
    val discCase = disc.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
    val idcg = graft.vector.Similarity.idcgMicro(k)
    hybridLexCte(nTerms, depth, maxQueries) +
      hybridIvfDenseCte(depth, nCells, nProbe, maxQueries) + hybridFusedCte(k) + s"""
, gold AS (
  SELECT qid, vec_id, ${k + 1} - rnk AS rel FROM (
    SELECT q.qid, b.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY list_dot_product(q.v, b.v) / (q.nrm * b.nrm) DESC,
                                       b.vec_id) AS rnk
    FROM (SELECT vec_id AS qid, v, nrm FROM vecs
          WHERE vec_id % 100 = 0 AND vec_id < ${100L * maxQueries}) q
    JOIN vecs b ON b.vec_id <> q.qid
  ) WHERE rnk <= $k
), s23 AS (
  SELECT 'ivf' AS system, v.qid, v.vec_rank AS rnk, coalesce(g.rel, 0) AS rel
  FROM (SELECT qid, doc_id, vec_rank FROM vr WHERE vec_rank <= $k) v
  LEFT JOIN gold g ON g.qid = v.qid AND g.vec_id = v.doc_id
  UNION ALL
  SELECT 'hybrid' AS system, h.qid, h.rnk, coalesce(g.rel, 0) AS rel
  FROM hyb h LEFT JOIN gold g ON g.qid = h.qid AND g.vec_id = h.doc_id
)
SELECT system, qid,
       CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ${r4(s"CAST(sum(rel * (CASE rnk $discCase ELSE 0 END)) AS BIGINT) / $idcg")} AS ndcg,
       ${r4(fromQ6sql("max(CASE WHEN rel > 0 THEN 1000000 // rnk ELSE 0 END)"))} AS rr
FROM s23 GROUP BY system, qid"""
  }
}
