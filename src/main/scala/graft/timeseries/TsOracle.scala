package graft.timeseries

/** DuckDB oracle SQL mirroring TsCore stage-for-stage. Shared WITH-chain
  * prefix; each query appends its final SELECT. DuckDB prunes unused CTEs,
  * so sharing the full prefix is free.
  */
object TsOracle {
  import TsCore._
  import graft.util.Num.{r4sql => r4, q4sql, sumQ4sql, absErrQ4sql, sqErrQ4sql, meanQ4sql,
    maeQ4sql, rmseQ4sql, q6sql, fromQ6sql}

  /** The smoothed-PSI fold over per-bin (p, q) rows — mirrors
    * TsQueries.psiOf's 1e-6 pre-sum terms; shared by q62 and qp7.
    */
  private val psiSql = r4(fromQ6sql(s"sum(${q6sql("(p - q) * ln(p / q)")})"))

  /** The `mae`/`rmse` select items of Num's forecast-error reducer over
    * the grouped rows' (y, p) pairs.
    */
  private def maeRmse(y: String, p: String, sfx: String = ""): String =
    s"""${maeQ4sql(s"sum(${absErrQ4sql(y, p)})", "count(*)")} AS mae$sfx,
  ${rmseQ4sql(s"sum(${sqErrQ4sql(y, p)})", "count(*)")} AS rmse$sfx"""

  /** LCG uniform in [0,1) — must match TsCore.lcg exactly. */
  private def lcg(salt: Int): String =
    s"(((1103515245 * (key * 1000 + $salt) + 12345) % 2147483648)::DOUBLE / 2147483648.0)"

  val prefix: String = s"""
WITH ev AS MATERIALIZED (
  SELECT event_type AS series, CAST(floor(epoch(ts)/3600) AS BIGINT) AS hr, value FROM events
), t0 AS (SELECT min(hr) AS t0 FROM ev),
grid AS MATERIALIZED (
  SELECT series, hr - t0 AS t, count(*) AS n, ${r4("avg(value)")} AS v
  FROM ev, t0 GROUP BY series, hr - t0
),
tmax AS (SELECT max(t) AS tmax FROM grid),
serieslist AS (SELECT DISTINCT series FROM grid),
spine AS (
  SELECT s.series, unnest(generate_series(0, (SELECT tmax FROM tmax))) AS t
  FROM serieslist s
),
sp AS (
  SELECT spine.series, spine.t, grid.v
  FROM spine LEFT JOIN grid ON spine.series = grid.series AND spine.t = grid.t
),
filledsrc AS (
  SELECT series, t, v,
         last_value(v IGNORE NULLS) OVER (PARTITION BY series, t % $WeekLag ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         first_value(v IGNORE NULLS) OVER (PARTITION BY series, t % $WeekLag ORDER BY t
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
  FROM sp
),
filled AS MATERIALIZED (
  SELECT series, t, coalesce(v, pv, nv) AS v_filled,
         CASE WHEN v IS NOT NULL THEN 'obs'
              WHEN pv IS NOT NULL THEN 'lag'
              WHEN nv IS NOT NULL THEN 'lead' ELSE 'missing' END AS src
  FROM filledsrc
),
day AS MATERIALIZED (
  SELECT series, CAST(floor(t / $DaySize) AS BIGINT) AS win, t % $DaySize AS pos,
         v_filled AS v
  FROM filled
),
wincomplete AS (
  SELECT series, win FROM day GROUP BY series, win HAVING count(v) = $DaySize
),
daywin AS MATERIALIZED (
  SELECT d.series, d.win, d.pos, d.v FROM day d JOIN wincomplete USING (series, win)
),
sidx AS (
  SELECT series, dense_rank() OVER (ORDER BY series) - 1 AS sidx FROM serieslist
),
keys AS (
  SELECT w.series, w.win, s.sidx * 100 + w.win AS key
  FROM (SELECT DISTINCT series, win FROM daywin) w JOIN sidx s USING (series)
),
params AS (
  SELECT series, win,
    ${lcg(1)} < $DayContamRate AS contam,
    CASE WHEN ${lcg(2)} < 0.3 THEN 1 WHEN ${lcg(2)} < 0.6 THEN 2
         WHEN ${lcg(2)} < 0.8 THEN 3 ELSE 4 END AS atype,
    ${lcg(5)} < 0.5 AS flag5,
    0.01 + ${lcg(6)} * 3.98 AS rf,
    ${lcg(7)} AS r2,
    ${lcg(3)} AS u3, ${lcg(4)} AS u4
  FROM keys
),
params2 AS (
  SELECT series, win, contam, atype, flag5, rf, r2,
    CAST(CASE WHEN atype <= 2
         THEN ${DaySize / 4} + floor(u3 * ${(DaySize - 1) / 2 - DaySize / 4})
         ELSE ${DaySize / 4} + floor(u3 * ${(DaySize - 1) * 3 / 4 - DaySize / 4}) END AS BIGINT) AS apos,
    u4 FROM params
),
params3 AS (
  SELECT series, win, contam, atype, flag5, rf, r2, apos,
    CAST(CASE WHEN atype = 1 THEN 3 + floor(u4 * (least($DaySize - apos - 1, 18) - 3))
         WHEN atype = 2 THEN 2 + floor(u4 * (least($DaySize - apos - 1, 18) - 2))
         ELSE 1 END AS BIGINT) AS alen
  FROM params2
),
aug AS (
  SELECT d.series, d.win, d.pos, d.v, p.contam, p.atype, p.flag5, p.rf, p.r2, p.apos, p.alen,
    lag(d.v) OVER (PARTITION BY d.series, d.win ORDER BY d.pos) AS vprev,
    max(CASE WHEN d.pos = p.apos THEN d.v END) OVER wa AS v_at,
    max(CASE WHEN d.pos = p.apos THEN d.cum0 - d.v END) OVER wa AS pref_at,
    max(CASE WHEN d.pos = p.apos + p.alen - 1 THEN d.cum0 END) OVER wa AS cum_end
  FROM (SELECT *, sum(v) OVER (PARTITION BY series, win ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS cum0 FROM daywin) d
  JOIN params3 p USING (series, win)
  WINDOW wa AS (PARTITION BY d.series, d.win)
),
inject AS (
  SELECT series, win, pos, ${r4("v")} AS v_orig,
    ${r4("""CASE
      WHEN NOT contam THEN v
      WHEN atype = 1 AND pos = apos THEN -pref_at
      WHEN atype = 1 AND pos > apos AND pos < apos + alen - 1 THEN 0.0
      WHEN atype = 1 AND pos = apos + alen - 1 THEN cum_end
      WHEN atype = 2 AND flag5 AND pos = apos THEN r2 * v_at
      WHEN atype = 2 AND flag5 AND pos > apos AND pos < apos + alen - 1 THEN 0.0
      WHEN atype = 2 AND flag5 AND pos = apos + alen - 1 THEN (cum_end - pref_at) - r2 * v_at
      WHEN atype = 2 AND NOT flag5 AND pos >= apos AND pos < apos + alen - 1 THEN 0.0
      WHEN atype = 2 AND NOT flag5 AND pos = apos + alen - 1 THEN cum_end - pref_at
      WHEN atype = 3 AND pos = apos THEN CASE WHEN flag5 THEN -pref_at ELSE -rf * vprev END
      WHEN atype = 4 AND pos = apos THEN CASE WHEN flag5 THEN pref_at ELSE rf * vprev END
      ELSE v END""")} AS v_anom,
    CASE WHEN contam AND ((atype <= 2 AND pos >= apos AND pos < apos + alen)
                          OR (atype >= 3 AND pos = apos)) THEN 1 ELSE 0 END AS is_anom
  FROM aug
),
bounds AS (
  SELECT series, quantile_cont(v_filled, $QLo) AS lo, quantile_cont(v_filled, $QHi) AS hi
  FROM filled WHERE v_filled IS NOT NULL GROUP BY series
),
scaled AS (
  SELECT i.series, i.win, i.pos,
         ${r4("(i.v_anom - b.lo) / (b.hi - b.lo)")} AS vs, i.is_anom
  FROM inject i JOIN bounds b USING (series)
),
feats AS (
  SELECT series, win, pos, vs,
    ${r4(s"stddev_samp(vs) OVER (PARTITION BY series, win, CAST(floor(pos / $FeatPatch) AS BIGINT))")} AS pstd,
    ${r4(s"""pow(${1 - Alpha}, pos) * (
      first_value(vs) OVER wseq +
      sum(CASE WHEN pos = 0 THEN 0.0 ELSE $Alpha * vs * pow(${1 - Alpha}, -pos) END)
        OVER (PARTITION BY series, win ORDER BY pos ROWS UNBOUNDED PRECEDING))""")} AS ewma,
    is_anom
  FROM scaled
  WINDOW wseq AS (PARTITION BY series, win ORDER BY pos)
),
patches AS MATERIALIZED (
  SELECT series, win, pos, is_anom,
    coalesce(lag(vs)    OVER w, 0.0) AS f0, vs   AS f1, coalesce(lead(vs)   OVER w, 0.0) AS f2,
    coalesce(lag(pstd)  OVER w, 0.0) AS f3, pstd AS f4, coalesce(lead(pstd) OVER w, 0.0) AS f5,
    coalesce(lag(ewma)  OVER w, 0.0) AS f6, ewma AS f7, coalesce(lead(ewma) OVER w, 0.0) AS f8
  FROM feats
  WINDOW w AS (PARTITION BY series, win ORDER BY pos)
),
boundary AS (
  SELECT series, CAST(floor((max(win) + 1) * $TrainFrac) AS BIGINT) AS mwin
  FROM daywin GROUP BY series
),
bank AS (
  SELECT p.* FROM patches p JOIN boundary b USING (series) WHERE p.win < b.mwin
),
testp AS (
  SELECT p.* FROM patches p JOIN boundary b USING (series) WHERE p.win >= b.mwin
)
"""

  /** Squared L2 over f0..f8 with fixed left-to-right addition order —
    * must match Detect.dist2's fold order for bit parity.
    */
  private def dist2(l: String, r: String): String =
    (0 to 8).map(i => s"($l.f$i - $r.f$i)*($l.f$i - $r.f$i)").mkString(" + ")

  /** Ols.fit's oracle twin: the means → stats → coefs → coefs2 CTE
    * group over `src`, per group of `keys`, with the same operation
    * sequence as the Spark solve so both engines agree bit-for-bit.
    * `name` maps each base CTE name to this instance's (`rmeans`,
    * `means_f0`, …); `lambda > 0` adds the ridge diagonal. The text
    * starts at the means CTE's name and ends with coefs2's closing
    * paren, so callers splice it into a WITH list.
    */
  private def olsCtes(name: String => String, src: String, keys: Seq[String],
                      x: (String, String, String) = ("x1", "x2", "x3"),
                      lambda: Double = 0.0): String = {
    val (x1, x2, x3) = x
    val (means, stats, coefs) = (name("means"), name("stats"), name("coefs"))
    val k = keys.mkString(", ")
    def q(t: String) = keys.map(c => s"$t.$c").mkString(", ")
    def c(a: String, ma: String, b: String, mb: String) = s"sum(($a - $ma) * ($b - $mb))"
    val ridge = if (lambda > 0) s" + $lambda" else ""
    val det = "s11 * (s22 * s33 - s23 * s23) - s12 * (s12 * s33 - s23 * s13) + s13 * (s12 * s23 - s22 * s13)"
    s"""$means AS (
  SELECT $k, avg(y) AS my, avg($x1) AS m1, avg($x2) AS m2, avg($x3) AS m3
  FROM $src GROUP BY $k
), $stats AS (
  SELECT ${q("t")},
    ${c(x1, "m1", x1, "m1")}$ridge AS s11, ${c(x1, "m1", x2, "m2")} AS s12,
    ${c(x1, "m1", x3, "m3")} AS s13, ${c(x2, "m2", x2, "m2")}$ridge AS s22,
    ${c(x2, "m2", x3, "m3")} AS s23, ${c(x3, "m3", x3, "m3")}$ridge AS s33,
    ${c(x1, "m1", "y", "my")} AS sy1, ${c(x2, "m2", "y", "my")} AS sy2,
    ${c(x3, "m3", "y", "my")} AS sy3
  FROM $src t JOIN $means USING ($k) GROUP BY ${q("t")}
), $coefs AS (
  SELECT ${q("s")},
    (sy1 * (s22 * s33 - s23 * s23) - s12 * (sy2 * s33 - s23 * sy3) + s13 * (sy2 * s23 - s22 * sy3))
      / ($det) AS b1,
    (s11 * (sy2 * s33 - sy3 * s23) - sy1 * (s12 * s33 - s23 * s13) + s13 * (s12 * sy3 - sy2 * s13))
      / ($det) AS b2,
    (s11 * (s22 * sy3 - s23 * sy2) - s12 * (s12 * sy3 - sy2 * s13) + sy1 * (s12 * s23 - s22 * s13))
      / ($det) AS b3,
    m.my, m.m1, m.m2, m.m3
  FROM $stats s JOIN $means m USING ($k)
), ${name("coefs2")} AS (
  SELECT $k, b1, b2, b3, my - b1 * m1 - b2 * m2 - b3 * m3 AS b0 FROM $coefs
)"""
  }

  def q01: String = prefix + "SELECT series, t, n, v FROM grid"

  def q02: String = prefix + s"SELECT series, t, ${r4("v_filled")} AS v_filled, src FROM filled"

  def q43(blocked: Seq[(Long, Long)] = Seq((2L, 4L), (9L, 10L))): String = {
    val blockedSql = blocked
      .map { case (lo, hi) => s"SELECT unnest(generate_series($lo, ${hi - 1})) AS d" }
      .mkString(" UNION ALL ")
    prefix + s"""
, daysrc AS (
  SELECT series, t, v_filled, src, CAST(floor(t / $DaySize) AS BIGINT) AS d FROM filled
), emptydays AS (
  SELECT series, d FROM daysrc GROUP BY series, d
  HAVING sum(CASE WHEN src = 'obs' THEN 1 ELSE 0 END) = 0
), blocked AS ($blockedSql)
SELECT series, t, ${r4("v_filled")} AS v_filled, src
FROM daysrc ds
WHERE NOT EXISTS (SELECT 1 FROM blocked b WHERE b.d = ds.d)
  AND NOT EXISTS (SELECT 1 FROM emptydays e WHERE e.series = ds.series AND e.d = ds.d)
"""
  }

  def q03(size: Int, stride: Int): String = prefix + s"""
, memb AS (
  SELECT series, t, v_filled AS v, unnest([CAST(floor(t / $stride) AS BIGINT),
                                           CAST(floor(t / $stride) AS BIGINT) - 1]) AS swin
  FROM filled
), swindows AS (
  SELECT series, swin, count(v) AS nv, count(*) AS np,
         ${r4(s"${sumQ4sql("v")} / count(v)")} AS mean_v,
         ${r4("stddev_samp(v)")} AS std_v,
         ${r4("min(v)")} AS min_v, ${r4("max(v)")} AS max_v
  FROM memb
  WHERE t >= swin * $stride AND t < swin * $stride + $size AND swin >= 0
  GROUP BY series, swin
)
SELECT series, swin, mean_v, std_v, min_v, max_v
FROM swindows WHERE nv = $size AND np = $size"""

  def q04: String = prefix + s"""
SELECT f.series, f.t, ${r4("(f.v_filled - b.lo) / (b.hi - b.lo)")} AS vs
FROM filled f JOIN bounds b USING (series) WHERE f.v_filled IS NOT NULL"""

  def q05: String = prefix + "SELECT series, win, pos, v_orig, v_anom, is_anom FROM inject"

  /** q44: masked-span (clean, masked, mask) training triples — mirrors
    * Impute.maskedPairs (LCG salt 8 over the shared keys CTE).
    */
  def q44(maskSize: Int = 8): String = prefix + s"""
SELECT d.series, d.win, d.pos, d.v,
       CASE WHEN d.pos >= p.mi AND d.pos < p.mi + $maskSize THEN 0 ELSE 1 END AS mask,
       CASE WHEN d.pos >= p.mi AND d.pos < p.mi + $maskSize THEN 0.0 ELSE d.v END AS v_masked
FROM daywin d
JOIN (
  SELECT series, win, CAST(floor(${lcg(8)} * ${TsCore.DaySize - maskSize - 1}) AS BIGINT) AS mi
  FROM keys
) p USING (series, win)"""

  /** q55's training chain (masked-triple features → per-(series, offset)
    * ridge via q22's Cramer + ridge diagonal) — shared by q55 and q57.
    */
  private def imputerTrainCtes(maskSize: Int = 8, lambda: Double = 0.01): String = s"""
, mi55 AS (
  SELECT series, win, CAST(floor(${lcg(8)} * ${TsCore.DaySize - maskSize - 1}) AS BIGINT) AS mi
  FROM keys
), dwmi AS (
  SELECT d.series, d.win, d.pos, d.v, m.mi,
    max(CASE WHEN d.pos = m.mi - 1 THEN d.v END) OVER wa AS xl,
    max(CASE WHEN d.pos = m.mi + $maskSize THEN d.v END) OVER wa AS xr
  FROM daywin d JOIN mi55 m USING (series, win)
  WINDOW wa AS (PARTITION BY d.series, d.win)
), trainrows AS (
  SELECT t.series, t.pos - t.mi AS o, t.v AS y, t.xl, t.xr,
         coalesce(sp.v, sn.v) AS xs
  FROM dwmi t
  JOIN boundary b USING (series)
  LEFT JOIN daywin sp ON sp.series = t.series AND sp.win = t.win - 7 AND sp.pos = t.pos
  LEFT JOIN daywin sn ON sn.series = t.series AND sn.win = t.win + 7 AND sn.pos = t.pos
  WHERE t.win < b.mwin AND t.mi >= 1
    AND t.pos >= t.mi AND t.pos < t.mi + $maskSize
    AND coalesce(sp.v, sn.v) IS NOT NULL
), ${olsCtes("r" + _, "trainrows", Seq("series", "o"), ("xl", "xr", "xs"), lambda)}"""

  /** q55's application feature base (clean-point lookup + span-edge
    * context) — shared by q55 and q57.
    */
  private def imputerAppCtes: String = s"""
, cleanv55 AS (
  SELECT series, win, pos, v_anom FROM inject WHERE is_anom = 0
), appaug AS (
  SELECT i.series, i.win, i.pos, i.v_orig, i.is_anom, p.apos, p.alen,
    max(CASE WHEN i.pos = p.apos - 1 THEN i.v_anom END) OVER wa AS xl,
    max(CASE WHEN i.pos = p.apos + p.alen THEN i.v_anom END) OVER wa AS xr
  FROM inject i JOIN params3 p USING (series, win)
  WINDOW wa AS (PARTITION BY i.series, i.win)
)"""

  /** q55: learned masked-span imputer — mirrors Impute.learnedImpute
    * stage-for-stage (training ridge from the q44 triples, q22's Cramer
    * expressions with the ridge diagonal, application to the injected
    * test-split spans).
    */
  def q55(maskSize: Int = 8, lambda: Double = 0.01): String =
    prefix + imputerTrainCtes(maskSize, lambda) + imputerAppCtes + s"""
, appts AS (
  SELECT a.series, a.v_orig, a.xl, a.xr,
         least(a.pos - a.apos, ${maskSize - 1}) AS o,
         coalesce(cp.v_anom, cn.v_anom) AS xs
  FROM appaug a
  JOIN boundary b USING (series)
  LEFT JOIN cleanv55 cp ON cp.series = a.series AND cp.win = a.win - 7 AND cp.pos = a.pos
  LEFT JOIN cleanv55 cn ON cn.series = a.series AND cn.win = a.win + 7 AND cn.pos = a.pos
  WHERE a.is_anom = 1 AND a.win >= b.mwin
    AND coalesce(cp.v_anom, cn.v_anom) IS NOT NULL
), preds AS (
  SELECT t.series, t.v_orig, t.xs,
         c.b0 + c.b1 * t.xl + c.b2 * t.xr + c.b3 * t.xs AS p
  FROM appts t JOIN rcoefs2 c USING (series, o)
)
SELECT series, count(*) AS n,
  ${maeRmse("v_orig", "p", "_learned")},
  ${maeRmse("v_orig", "xs", "_seasonal")}
FROM preds GROUP BY series"""

  /** q57: the reference pipeline's headline experiment run with the
    * LEARNED imputer — mirrors Forecast.learnedCleaningImpact: three
    * variants (contam / linear / learned) through q38's
    * [[weekLagImpactSql]].
    */
  def q57(maskSize: Int = 8, lambda: Double = 0.01): String =
    prefix + imputeLinearCte + splitTCte + imputerTrainCtes(maskSize, lambda) +
      imputerAppCtes + s"""
, appts57 AS (
  SELECT a.series, a.win, a.pos,
         least(a.pos - a.apos, ${maskSize - 1}) AS o,
         a.xl, a.xr, coalesce(cp.v_anom, cn.v_anom) AS xs
  FROM appaug a
  LEFT JOIN cleanv55 cp ON cp.series = a.series AND cp.win = a.win - 7 AND cp.pos = a.pos
  LEFT JOIN cleanv55 cn ON cn.series = a.series AND cn.win = a.win + 7 AND cn.pos = a.pos
  WHERE a.is_anom = 1 AND coalesce(cp.v_anom, cn.v_anom) IS NOT NULL
), preds57 AS (
  SELECT t.series, t.win, t.pos,
         coalesce(${r4("c.b0 + c.b1 * t.xl + c.b2 * t.xr + c.b3 * t.xs")},
                  ${r4("t.xs")}) AS v_fill
  FROM appts57 t LEFT JOIN rcoefs2 c USING (series, o)
), learnedv AS (
  SELECT i.series, i.win * ${TsCore.DaySize} + i.pos AS t,
         CASE WHEN i.is_anom = 0 THEN i.v_anom
              ELSE coalesce(p.v_fill, i.v_anom) END AS v,
         'learned' AS variant
  FROM inject i LEFT JOIN preds57 p USING (series, win, pos)
), contam57 AS (
  SELECT series, win * ${TsCore.DaySize} + pos AS t, v_anom AS v, 'contam' AS variant
  FROM inject
), linear57 AS (SELECT series, t, v_imp AS v, 'linear' AS variant FROM imp),
allv57 AS (
  SELECT * FROM contam57 UNION ALL SELECT * FROM linear57 UNION ALL SELECT * FROM learnedv
)""" + weekLagImpactSql("allv57")

  def q06: String = prefix + "SELECT series, win, pos, ewma FROM feats"

  def q07: String = prefix + "SELECT series, win, pos, pstd FROM feats"

  def q09: String = prefix + s"""
, scored AS (
  SELECT t.series, t.win, t.pos, min(sqrt(${dist2("t", "b")})) AS pscore
  FROM testp t CROSS JOIN bank b
  GROUP BY t.series, t.win, t.pos
)
SELECT series, win, ${r4("max(pscore)")} AS score FROM scored GROUP BY series, win"""

  /** Upper-triangle (i ≤ j) traversal — THE Detect value, not a copy,
    * so the Spark and oracle term orders can never diverge.
    */
  private def upperIdx: Seq[(Int, Int)] = Detect.UpperIdx

  /** Ols.gaussJordan's oracle twin: CTEs g1..gn, each one elimination
    * step over the list-form augmented matrix `a` (n rows × `width`
    * columns) of the CTE before it, starting at the caller's g0 and
    * carrying `key`. Row k becomes a(k,j)/a(k,k), every other row
    * a(i,j) − a(i,k)·(a(k,j)/a(k,k)) — the same fixed-order IEEE
    * operation sequence, so both engines agree bit-for-bit.
    */
  private def gaussJordanCtes(key: String, n: Int, width: Int): String =
    (0 until n).map { k =>
      val akj = s"a[${k + 1}][j+1]"
      val akk = s"a[${k + 1}][${k + 1}]"
      s""", g${k + 1} AS (
  SELECT $key, list_transform(range($n), i -> list_transform(range($width), j ->
    CASE WHEN i = $k THEN $akj / $akk
         ELSE a[i+1][j+1] - a[i+1][${k + 1}] * ($akj / $akk) END)) AS a
  FROM g$k
)"""
    }.mkString

  /** CTE chain computing the per-position 9-dim Gaussian inverse
    * (gsum → gstats → g0 → … → g9 → ginv), mirroring Detect.gaussMoments
    * and Detect.gaussianScoreOf: the count, Σ f_i and Σ f_i·f_j per
    * position, then m_i = t_i/n and Σ_ij = (p_ij − t_i·t_j/n)/(n − 1)
    * (NULL for n ≤ 1) in the same operation order, then the
    * [Σ + 0.01·I | I] list matrix through [[gaussJordanCtes]]; shared by
    * q10, q29 and q50.
    */
  private def gauss9Cte: String = {
    val sums = ((0 to 8).map(i => s"sum(f$i) AS t$i") ++
      upperIdx.map { case (i, j) => s"sum(f$i * f$j) AS p${i}_$j" }).mkString(",\n         ")
    val means = (0 to 8).map(i => s"t$i / n AS m$i").mkString(", ")
    val covs = upperIdx.map { case (i, j) =>
      s"CASE WHEN n > 1 THEN (p${i}_$j - t$i * t$j / n) / (n - 1) END AS c${i}_$j"
    }.mkString(",\n         ")
    def sig(i: Int, j: Int): String = {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      if (i == j) s"c${a}_$b + 0.01" else s"c${a}_$b"
    }
    val g0 = (0 to 8).map { i =>
      val aug = (0 to 8).map(j => sig(i, j)) ++ (0 to 8).map(j => if (i == j) "1.0" else "0.0")
      aug.mkString("[", ", ", "]")
    }.mkString("[\n    ", ",\n    ", "]")
    val invCols = upperIdx.map { case (i, j) => s"a[${i + 1}][${j + 10}] AS i${i}_$j" }
      .mkString(",\n         ")
    s"""
, gsum AS (
  SELECT pos, count(*) AS n,
         $sums
  FROM bank GROUP BY pos
), gstats AS (
  SELECT pos, $means,
         $covs
  FROM gsum
), g0 AS (
  SELECT pos, $g0 AS a
  FROM gstats
)${gaussJordanCtes("pos", 9, 18)}, ginv AS (
  SELECT g9.pos, ${(0 to 8).map(i => s"s.m$i").mkString(", ")},
         $invCols
  FROM g9 JOIN gstats s USING (pos)
)"""
  }

  /** 9-dim quadratic form over ginv's upper triangle — the same fixed
    * fold order as Detect.gaussianScore's expression.
    */
  private def mdist9(t: String, g: String): String =
    upperIdx.map { case (i, j) =>
      val term = s"($t.f$i - $g.m$i)*($t.f$j - $g.m$j)*$g.i${i}_$j"
      if (i == j) term else s"2.0*$term"
    }.mkString(" + ")

  /** q10: full 9-dim Mahalanobis, mirroring Detect.gaussianScoreBuild —
    * both engines invert through the same elimination steps.
    */
  def q10: String = prefix + gauss9Cte + s"""
SELECT t.series, t.win, t.pos,
       ${r4(s"sqrt(${mdist9("t", "g")})")} AS mdist
FROM testp t JOIN ginv g USING (pos)"""

  private val pairwiseCte: String = s"""
, bid AS (
  SELECT series || '#' || CAST(win AS VARCHAR) AS id, * FROM bank
), pw AS (
  SELECT a.pos AS pos, a.id AS id, b.id AS nid, sqrt(${dist2("a", "b")}) AS d
  FROM bid a JOIN bid b ON a.pos = b.pos AND a.id <> b.id
)"""

  def q12: String = prefix + pairwiseCte + s"""
SELECT id, pos, ${r4("min(d)")} AS w_nearest FROM pw GROUP BY id, pos"""

  def q11(k: Int = 6): String = prefix + pairwiseCte + s"""
, pwe AS (SELECT pos, id, nid, d + 1e-6 AS d FROM pw),
knn AS (
  SELECT * FROM (
    SELECT pos, id, nid, d,
           row_number() OVER (PARTITION BY pos, id ORDER BY d, nid) AS rn
    FROM pwe
  ) WHERE rn <= $k
),
kdist AS (SELECT pos, id, max(d) AS kdist FROM knn GROUP BY pos, id),
lrd AS (
  SELECT k.pos, k.id, $k.0 / sum(greatest(k.d, kb.kdist)) AS lrd
  FROM knn k JOIN kdist kb ON k.pos = kb.pos AND k.nid = kb.id
  GROUP BY k.pos, k.id
),
lofn AS (
  SELECT k.pos, k.id, sum(lb.lrd) / $k.0 AS sum_lrd_b
  FROM knn k JOIN lrd lb ON k.pos = lb.pos AND k.nid = lb.id
  GROUP BY k.pos, k.id
)
SELECT n.id, n.pos, ${r4("n.sum_lrd_b / l.lrd")} AS lof
FROM lofn n JOIN lrd l ON n.pos = l.pos AND n.id = l.id"""

  /** Mirrors Metrics.pointAdjust — q15 flags, gaps-and-islands true
    * segments, segment-hit adjustment, per-series exact-count P/R/F1.
    */
  def q51(thr: Double = 2.5): String = prefix + s"""
, zf AS (
  SELECT series, win, pos, is_anom,
         CASE WHEN (vs - mu)/sd > $thr OR (vs - mu)/sd < -$thr THEN 1 ELSE 0 END AS flag
  FROM (SELECT series, win, pos, vs, is_anom,
               avg(vs) OVER (PARTITION BY series, win) AS mu,
               stddev_samp(vs) OVER (PARTITION BY series, win) AS sd
        FROM scaled)
), an AS (
  SELECT series, win, pos, flag,
         pos - row_number() OVER (PARTITION BY series, win ORDER BY pos) AS segid
  FROM zf WHERE is_anom = 1
), seg AS (
  SELECT series, win, segid, max(flag) AS seg_hit FROM an GROUP BY series, win, segid
), adj AS (
  SELECT a.series, greatest(a.flag, s.seg_hit) AS adj
  FROM an a JOIN seg s USING (series, win, segid)
), tpfn AS (
  SELECT series, CAST(sum(adj) AS BIGINT) AS tp, CAST(sum(1 - adj) AS BIGINT) AS fn
  FROM adj GROUP BY series
), fpc AS (
  SELECT series, CAST(sum(flag) AS BIGINT) AS fp FROM zf WHERE is_anom = 0 GROUP BY series
), fin AS (
  SELECT coalesce(t.series, f.series) AS series,
         coalesce(t.tp, 0) AS tp, coalesce(t.fn, 0) AS fn, coalesce(f.fp, 0) AS fp
  FROM tpfn t FULL OUTER JOIN fpc f ON t.series = f.series
)
SELECT series, tp, fn, fp,
       CASE WHEN tp + fp > 0 THEN ${r4("tp / (tp + fp)")} END AS "precision",
       CASE WHEN tp + fn > 0 THEN ${r4("tp / (tp + fn)")} END AS recall,
       CASE WHEN tp * 2 + fp + fn > 0 THEN ${r4("tp * 2 / (tp * 2 + fp + fn)")} END AS f1
FROM fin"""

  /** Mirrors Postprocess.anomalyMask — q29's top patch ∪ q14's padded
    * runs ∪ q15's spike extensions (exclusive right end, DaySize−2 cap),
    * scoped to scored windows.
    */
  def q50(patchSize: Int = TsCore.FeatPatch, minRun: Int = 2, thr: Double = 2.5): String = {
    val ps2 = patchSize / 2
    prefix + gauss9Cte + s"""
, heat AS (
  SELECT t.series, t.win, t.pos,
         ${r4(s"sqrt(${mdist9("t", "g")})")} AS mdist
  FROM testp t JOIN ginv g USING (pos)
), top AS (
  SELECT series, win, CAST(floor(pos / $patchSize) AS BIGINT) * $patchSize AS fstart
  FROM (SELECT series, win, pos,
               row_number() OVER (PARTITION BY series, win ORDER BY mdist DESC, pos) AS rn
        FROM heat)
  WHERE rn = 1
), topf AS (
  SELECT s.series, s.win, s.pos FROM scaled s JOIN top t ON s.series = t.series AND s.win = t.win
  WHERE s.pos >= t.fstart AND s.pos < t.fstart + $patchSize
), wins AS (SELECT DISTINCT series, win FROM top),
mgrid AS (SELECT s.series, s.win, s.pos FROM scaled s JOIN wins w USING (series, win)),
runs AS (
  SELECT series, win, vs, pos,
         pos - row_number() OVER (PARTITION BY series, win, vs ORDER BY pos) AS runid
  FROM scaled
), runagg AS (
  SELECT series, win, min(pos) AS rstart, max(pos) AS rend
  FROM runs GROUP BY series, win, vs, runid HAVING count(*) >= $minRun
), consecf AS (
  SELECT DISTINCT g.series, g.win, g.pos
  FROM mgrid g JOIN runagg r ON g.series = r.series AND g.win = r.win
  WHERE g.pos >= greatest(r.rstart - $ps2, 0) AND g.pos <= least(r.rend + $ps2, ${TsCore.DaySize - 1})
), spikes AS (
  SELECT z.series, z.win, z.pos
  FROM (SELECT series, win, pos,
               (vs - avg(vs) OVER (PARTITION BY series, win))
                 / stddev_samp(vs) OVER (PARTITION BY series, win) AS z
        FROM scaled) z JOIN wins w ON z.series = w.series AND z.win = w.win
  WHERE z.z > $thr OR z.z < -$thr
), already AS (SELECT series, win, pos FROM topf UNION SELECT series, win, pos FROM consecf),
extsrc AS (
  SELECT s.series, s.win, s.pos AS p FROM spikes s
  WHERE NOT EXISTS (SELECT 1 FROM already a
                    WHERE a.series = s.series AND a.win = s.win AND a.pos = s.pos)
), ext AS (
  SELECT DISTINCT g.series, g.win, g.pos
  FROM mgrid g JOIN extsrc e ON g.series = e.series AND g.win = e.win
  WHERE g.pos >= greatest(e.p - $ps2, 0) AND g.pos <= least(e.p + $ps2, ${TsCore.DaySize - 2})
)
SELECT g.series, g.win, g.pos,
       CASE WHEN t.pos IS NOT NULL THEN 1 ELSE 0 END AS flag_top_patch,
       CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END AS flag_consec,
       CASE WHEN x.pos IS NOT NULL THEN 1 ELSE 0 END AS flag_spike_ext,
       greatest(CASE WHEN t.pos IS NOT NULL THEN 1 ELSE 0 END,
                CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END,
                CASE WHEN x.pos IS NOT NULL THEN 1 ELSE 0 END) AS mask
FROM mgrid g
LEFT JOIN topf t ON g.series = t.series AND g.win = t.win AND g.pos = t.pos
LEFT JOIN consecf c ON g.series = c.series AND g.win = c.win AND g.pos = c.pos
LEFT JOIN ext x ON g.series = x.series AND g.win = x.win AND g.pos = x.pos"""
  }

  def q14(minRun: Int = 2, pad: Int = TsCore.FeatPatch / 2): String = prefix + s"""
, runs AS (
  SELECT series, win, vs, pos,
         pos - row_number() OVER (PARTITION BY series, win, vs ORDER BY pos) AS runid
  FROM scaled
), runagg AS (
  SELECT series, win, min(pos) AS rstart, max(pos) AS rend
  FROM runs GROUP BY series, win, vs, runid HAVING count(*) >= $minRun
)
SELECT DISTINCT s.series, s.win, s.pos, 1 AS flag_consec
FROM scaled s JOIN runagg r ON s.series = r.series AND s.win = r.win
WHERE s.pos >= greatest(r.rstart - $pad, 0) AND s.pos <= least(r.rend + $pad, ${TsCore.DaySize - 1})"""

  def q15(thr: Double = 2.5): String = prefix + s"""
SELECT series, win, pos, ${r4("(vs - mu)/sd")} AS z,
       CASE WHEN (vs - mu)/sd > $thr OR (vs - mu)/sd < -$thr THEN 1 ELSE 0 END AS flag_spike
FROM (SELECT series, win, pos, vs,
             avg(vs) OVER (PARTITION BY series, win) AS mu,
             stddev_samp(vs) OVER (PARTITION BY series, win) AS sd
      FROM scaled)"""

  private val scoredGtCte: String = s"""
, scoredp AS (
  SELECT t.series, t.win, t.pos, min(sqrt(${dist2("t", "b")})) AS pscore
  FROM testp t CROSS JOIN bank b GROUP BY t.series, t.win, t.pos
), winscore AS (
  SELECT series, win, ${r4("max(pscore)")} AS score FROM scoredp GROUP BY series, win
), gtw AS (
  SELECT series, win, max(is_anom) AS gt FROM testp GROUP BY series, win
), sg AS (
  SELECT w.series, w.win, w.score, g.gt FROM winscore w JOIN gtw g USING (series, win)
)"""

  def q16(contamRate: Double = 0.1): String = prefix + scoredGtCte + s"""
, thr AS (SELECT quantile_cont(score, ${1.0 - contamRate}) AS thr FROM sg),
pr AS (SELECT sg.*, thr.thr, CASE WHEN score > thr.thr THEN 1 ELSE 0 END AS pred FROM sg, thr)""" +
    confusionTail("pr", withThr = true)

  /** precision / recall select items over tp/fp/fn (0.0 on an empty
    * denominator) — q16, q25, q27; mirrors Metrics.withPrecisionRecall.
    */
  private val precisionRecall: String =
    s"""${r4("CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END")} AS precision,
  ${r4("CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END")} AS recall"""

  /** q16/q25's confusion-matrix tail over a (pred, gt) CTE `src`:
    * tn/fp/fn/tp (+ q16's threshold) → precision/recall/f1 — mirrors
    * Metrics.confusionCells + Metrics.withF1.
    */
  private def confusionTail(src: String, withThr: Boolean): String = {
    val (thrAgg, thrCol) = if (withThr) (s",\n         ${r4("max(thr)")} AS thr", " thr,") else ("", "")
    s"""
, cm AS (
  SELECT CAST(sum(CASE WHEN pred = 0 AND gt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         CAST(sum(CASE WHEN pred = 1 AND gt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN pred = 0 AND gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN pred = 1 AND gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp$thrAgg
  FROM $src
), pm AS (
  SELECT *, $precisionRecall
  FROM cm
)
SELECT tn, fp, fn, tp,$thrCol precision, recall,
       ${r4("CASE WHEN precision + recall = 0.0 THEN 0.0 ELSE 2.0 * precision * recall / (precision + recall) END")} AS f1
FROM pm"""
  }

  def q17: String = prefix + scoredGtCte + s"""
, ranked AS (
  SELECT gt, rank() OVER (ORDER BY score) + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS avgr
  FROM sg
)
SELECT ${r4("(sum(CASE WHEN gt = 1 THEN avgr END) - (sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END)::DOUBLE) * ((sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END)::DOUBLE) + 1) / 2.0) / ((sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END)::DOUBLE) * (sum(CASE WHEN gt = 0 THEN 1 ELSE 0 END)::DOUBLE))")} AS auroc,
       CAST(sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS npos,
       CAST(sum(CASE WHEN gt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nneg
FROM ranked"""

  /** q40: histogram-approximate AUROC mirroring Metrics.aurocApprox —
    * equi-width bins over [min, max], Mann–Whitney U from the per-bin
    * positive/negative counts with within-bin ties at 0.5.
    */
  def q40(bins: Int = 1000): String = prefix + scoredGtCte + s"""
, rng AS (SELECT min(score) AS lo, max(score) AS hi FROM sg),
binned AS (
  SELECT least(${bins - 1}, CAST(floor((score - lo) / (hi - lo + 1e-12) * $bins) AS BIGINT)) AS bin,
         sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS npos,
         sum(CASE WHEN gt = 0 THEN 1 ELSE 0 END) AS nneg
  FROM sg, rng GROUP BY 1
), cum AS (
  SELECT npos, nneg,
         coalesce(sum(nneg) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nneg_below
  FROM binned
)
SELECT ${r4("(CAST(sum(npos * nneg_below) AS DOUBLE) + CAST(sum(npos * nneg) AS DOUBLE) / 2.0) / (CAST(sum(npos) AS DOUBLE) * CAST(sum(nneg) AS DOUBLE))")} AS auroc_approx,
       CAST(sum(npos) AS BIGINT) AS npos, CAST(sum(nneg) AS BIGINT) AS nneg
FROM cum"""

  /** q41: forecast-dataset window pairs mirroring Forecast.windowPairs —
    * explode each filled point into its ≤ nDays member windows, keep
    * complete all-non-null windows, split input prefix vs horizon day,
    * label with the window's absolute date range.
    */
  def q41(nDays: Int = 3, dayStride: Int = 1): String = prefix + s"""
, wpts AS (
  SELECT series, t, v_filled, CAST(floor(t / $DaySize) AS BIGINT) AS d
  FROM filled
), wexp AS (
  SELECT series, t, v_filled, d - offs.o AS wid
  FROM wpts CROSS JOIN (SELECT unnest(generate_series(0, ${nDays - 1})) AS o) offs
  WHERE d - offs.o >= 0 AND (d - offs.o) % $dayStride = 0
), wcomplete AS (
  SELECT series, wid FROM wexp GROUP BY series, wid
  HAVING count(*) = ${nDays * DaySize} AND count(v_filled) = ${nDays * DaySize}
), t0w AS (SELECT min(hr) AS t0 FROM ev)
SELECT e.series, e.wid, e.t - e.wid * $DaySize AS seq, e.t,
  ${r4("e.v_filled")} AS v,
  CASE WHEN e.t - e.wid * $DaySize < ${(nDays - 1) * DaySize} THEN 'input' ELSE 'horizon' END AS part,
  strftime(make_timestamp((t0w.t0 + e.wid * $DaySize) * 3600 * 1000000), '%Y-%m-%d %H:%M:%S')
  || ' - ' ||
  strftime(make_timestamp((t0w.t0 + (e.wid + $nDays) * $DaySize - 1) * 3600 * 1000000), '%Y-%m-%d %H:%M:%S') AS label
FROM wexp e JOIN wcomplete USING (series, wid), t0w"""

  /** q56: wide-context ridge forecaster — mirrors Forecast.featureForecast
    * stage-for-stage: exact scaled-int means/scatter, the `[S | sy]` list
    * matrix through [[gaussJordanCtes]] (g1..g6, the identical IEEE
    * sequence as Ols.gaussJordan), Num's forecast-error reducer.
    */
  def q56(lambda: Double = 0.001, rollH: Int = 12): String = {
    val p = 6
    def x(i: Int) = s"x${i + 1}"
    def m(i: Int) = s"m${i + 1}"
    val meanCols = (s"${sumQ4sql("y")} / count(*) AS my" +:
      (0 until p).map(i => s"${sumQ4sql(x(i))} / count(*) AS ${m(i)}")).mkString(",\n         ")
    val scatterCols = ((for { i <- 0 until p; j <- i until p } yield {
      val s = sumQ4sql(s"(${x(i)} - ${m(i)}) * (${x(j)} - ${m(j)})")
      val e = if (i == j) s"$s + $lambda" else s
      s"$e AS s${i}_$j"
    }) ++ (0 until p).map(i =>
      s"${sumQ4sql(s"(${x(i)} - ${m(i)}) * (y - my)")} AS sy$i")).mkString(",\n    ")
    val aug = (0 until p).map { i =>
      (0 to p).map { j =>
        if (j == p) s"sy$i" else if (i <= j) s"s${i}_$j" else s"s${j}_$i"
      }.mkString("[", ", ", "]")
    }.mkString("[\n    ", ",\n    ", "]")
    val b0expr = "my - (" + (1 to p).map(i => s"b$i * m$i").mkString(" + ") + ")"
    val predExpr = "b0 + (" + (1 to p).map(i => s"b$i * x$i").mkString(" + ") + ")"
    prefix + splitTCte + s"""
, lagged56 AS (
  SELECT f.series, f.t, f.v_filled AS y,
         lag(f.v_filled, 1) OVER w AS x1,
         lag(f.v_filled, 2) OVER w AS x2,
         lag(f.v_filled, 3) OVER w AS x3,
         lag(f.v_filled, ${TsCore.DaySize}) OVER w AS x4,
         lag(f.v_filled, ${TsCore.WeekLag}) OVER w AS x5,
         CASE WHEN count(${q4sql("f.v_filled")}) OVER wr = $rollH
              THEN sum(${q4sql("f.v_filled")}) OVER wr / 10000.0 / $rollH
         END AS x6,
         b.tsplit
  FROM filled f JOIN boundt b USING (series)
  WINDOW w AS (PARTITION BY f.series ORDER BY f.t),
         wr AS (PARTITION BY f.series ORDER BY f.t
                ROWS BETWEEN $rollH PRECEDING AND 1 PRECEDING)
), base56 AS (
  SELECT * FROM lagged56
  WHERE y IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL
    AND x4 IS NOT NULL AND x5 IS NOT NULL AND x6 IS NOT NULL
), train56 AS (SELECT * FROM base56 WHERE t < tsplit),
means56 AS (
  SELECT series, $meanCols
  FROM train56 GROUP BY series
), g0 AS (
  SELECT series, $aug AS a FROM (
    SELECT t.series, $scatterCols
    FROM train56 t JOIN means56 USING (series) GROUP BY t.series
  )
)${gaussJordanCtes("series", p, p + 1)}
, coefs56 AS (
  SELECT g.series, ${(1 to p).map(i => s"g.a[$i][${p + 1}] AS b$i").mkString(", ")},
         ${(0 until p).map(i => s"m.${m(i)}").mkString(", ")}, m.my
  FROM g$p g JOIN means56 m USING (series)
), coefs56b AS (
  SELECT series, ${(1 to p).map(i => s"b$i").mkString(", ")}, $b0expr AS b0 FROM coefs56
), scored56 AS (
  SELECT t.series, t.y, $predExpr AS p,
         ${(0 to p).map(i => s"c.b$i").mkString(", ")}
  FROM base56 t JOIN coefs56b c USING (series) WHERE t.t >= t.tsplit
)
SELECT series, count(*) AS n,
  ${(0 to p).map(i => s"${r4(s"max(b$i)")} AS b$i").mkString(",\n  ")},
  ${maeRmse("y", "p")}
FROM scored56 GROUP BY series"""
  }

  /** q42: inverse-scaling metric rescale mirroring Forecast.rescaledMetrics —
    * week-lag persistence errors on the min-max-scaled series over the test
    * region, each metric also mapped back to original units by (hi − lo).
    */
  def q42: String = prefix + splitTCte + s"""
, svs AS (
  SELECT f.series, f.t,
         ${r4("(f.v_filled - b.lo) / (b.hi - b.lo)")} AS vs,
         b.lo, b.hi
  FROM filled f JOIN bounds b USING (series)
), spred AS (
  SELECT s.series, s.t, s.vs, s.lo, s.hi,
         lag(s.vs, $WeekLag) OVER (PARTITION BY s.series ORDER BY s.t) AS p,
         bt.tsplit
  FROM svs s JOIN boundt bt USING (series)
), sagg AS (
  SELECT series, count(*) AS n,
         sum(${absErrQ4sql("vs", "p")}) AS sae,
         sum(${sqErrQ4sql("vs", "p")}) AS sse,
         max(lo) AS lo, max(hi) AS hi
  FROM spred WHERE t >= tsplit AND vs IS NOT NULL AND p IS NOT NULL
  GROUP BY series
)
SELECT series, n,
  ${maeQ4sql("sae", "n")} AS mae_scaled,
  ${rmseQ4sql("sse", "n")} AS rmse_scaled,
  ${r4(s"${meanQ4sql("sae", "n")} * (hi - lo)")} AS mae_orig,
  ${r4(s"sqrt(${meanQ4sql("sse", "n")}) * (hi - lo)")} AS rmse_orig
FROM sagg"""

  def q27(rates: Seq[Double] = Seq(0.05, 0.1, 0.2)): String = prefix + scoredGtCte + s"""
, thrt AS (
  ${rates.map(r => s"SELECT ${r}::DOUBLE AS contam, (SELECT quantile_cont(score, ${1.0 - r}) FROM sg) AS thr")
         .mkString("\n  UNION ALL ")}
), pr AS (
  SELECT t.contam, t.thr, s.score, s.gt,
         CASE WHEN s.score > t.thr THEN 1 ELSE 0 END AS pred
  FROM thrt t CROSS JOIN sg s
), cm AS (
  SELECT contam, ${r4("max(thr)")} AS thr,
         CAST(sum(CASE WHEN pred = 1 AND gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN pred = 1 AND gt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN pred = 0 AND gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM pr GROUP BY contam
)
SELECT contam, thr, tp, fp, fn,
  $precisionRecall
FROM cm"""

  def q28: String = prefix + s"""
, t0e AS (SELECT min(hr) AS t0 FROM ev)
SELECT w.series, w.win,
  strftime(make_timestamp((t0e.t0 + w.win * ${TsCore.DaySize}) * 3600 * 1000000), '%Y-%m-%d %H:%M:%S')
  || ' - ' ||
  strftime(make_timestamp(((t0e.t0 + (w.win + 1) * ${TsCore.DaySize}) * 3600 - 3600) * 1000000), '%Y-%m-%d %H:%M:%S')
  AS label
FROM (SELECT DISTINCT series, win FROM daywin) w, t0e"""

  def q29(patchSize: Int = TsCore.FeatPatch): String = prefix + gauss9Cte + s"""
, heat AS (
  SELECT t.series, t.win, t.pos,
         ${r4(s"sqrt(${mdist9("t", "g")})")} AS mdist
  FROM testp t JOIN ginv g USING (pos)
), top AS (
  SELECT series, win, CAST(floor(pos / $patchSize) AS BIGINT) * $patchSize AS fstart
  FROM (SELECT series, win, pos,
               row_number() OVER (PARTITION BY series, win ORDER BY mdist DESC, pos) AS rn
        FROM heat)
  WHERE rn = 1
)
SELECT s.series, s.win, s.pos, 1 AS flag_top_patch
FROM scaled s JOIN top t ON s.series = t.series AND s.win = t.win
WHERE s.pos >= t.fstart AND s.pos < t.fstart + $patchSize"""

  def q23(denoiseThr: Double = 0.15, contamRate: Double = 0.1): String = prefix + pairwiseCte + s"""
, bw AS (SELECT id, pos, ${r4("min(d)")} + 1.0 AS wgt FROM pw GROUP BY id, pos),
thrw AS (SELECT quantile_cont(wgt, ${1.0 - denoiseThr}) AS thrw FROM bw),
keptb AS (
  SELECT b.*, w.wgt FROM bid b JOIN bw w USING (id, pos), thrw WHERE w.wgt <= thrw.thrw
), near AS (
  -- nearest kept patch via a STRUCT-MIN aggregation, not a row_number
  -- window: the (test x kept-bank) stream is |testp|*|keptb| rows and a
  -- per-partition window SORT of it is what blew the 900 s oracle
  -- budget on the sf1 soak — the hash agg streams in O(pairs) with no
  -- sort. Field order (d, id, pos) IS the old ORDER BY tie-break;
  -- (id, pos) is unique so wgt never participates in the comparison.
  SELECT t.series, t.win, t.pos,
         min({'d': sqrt(${dist2("t", "k")}), 'id': k.id, 'pos': k.pos,
              'wgt': k.wgt}) AS m
  FROM testp t CROSS JOIN keptb k
  GROUP BY t.series, t.win, t.pos
), psc AS (
  SELECT series, win, m.d * m.wgt AS pscore FROM near
), ws AS (
  SELECT series, win, max(pscore) AS score FROM psc GROUP BY series, win
), thrs AS (SELECT quantile_cont(score, ${1.0 - contamRate}) AS thrs FROM ws)
SELECT series, win, ${r4("score")} AS score,
       CASE WHEN score > thrs.thrs THEN 1 ELSE 0 END AS pred
FROM ws, thrs"""

  private val flaggedCte: String = s"""
, flg AS (
  SELECT series, win * ${TsCore.DaySize} + pos AS t, win, pos, v_anom, is_anom FROM inject
)"""

  private val imputeLinearCte: String = flaggedCte + s"""
, nbr AS (
  SELECT series, t, is_anom, v_anom,
    last_value(CASE WHEN is_anom = 0 THEN v_anom END IGNORE NULLS)
      OVER (PARTITION BY series ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
    last_value(CASE WHEN is_anom = 0 THEN t END IGNORE NULLS)
      OVER (PARTITION BY series ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
    first_value(CASE WHEN is_anom = 0 THEN v_anom END IGNORE NULLS)
      OVER (PARTITION BY series ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
    first_value(CASE WHEN is_anom = 0 THEN t END IGNORE NULLS)
      OVER (PARTITION BY series ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tn
  FROM flg
), imp AS (
  SELECT series, t, is_anom AS was_anom,
    ${r4("CASE WHEN is_anom = 0 THEN v_anom WHEN vp IS NOT NULL AND vn IS NOT NULL THEN vp + (vn - vp) * (t - tp) / (tn - tp) ELSE coalesce(vp, vn) END")} AS v_imp
  FROM nbr
)"""

  def q18: String = prefix + imputeLinearCte +
    "SELECT series, t, was_anom, v_imp FROM imp"

  /** q38: the reference pipeline's headline experiment (pipeline.py:
    * forecast quality trained on contaminated vs cleaned data) — here
    * as seasonal-naive error per series on the contaminated series vs
    * the anomaly-imputed one, over the test region.
    */
  def q38: String = prefix + imputeLinearCte + splitTCte + s"""
, contamv AS (SELECT series, t, v_anom AS v, 'contam' AS variant FROM flg),
cleanv AS (SELECT series, t, v_imp AS v, 'cleaned' AS variant FROM imp),
allv AS (SELECT * FROM contamv UNION ALL SELECT * FROM cleanv)""" + weekLagImpactSql("allv")

  /** q38/q57's shared evaluation — mirrors Forecast.weekLagImpact: each
    * point of the (series, t, v, variant) CTE `allv` is predicted by its
    * own variant's value at t−168 (exact self-join), scored over the
    * test region per (series, variant). Needs [[splitTCte]]'s `boundt`.
    */
  private def weekLagImpactSql(allv: String): String = s"""
SELECT a.series, a.variant, count(*) AS n,
  ${maeRmse("a.v", "p.v")}
FROM $allv a
JOIN $allv p ON p.series = a.series AND p.variant = a.variant AND p.t = a.t - $WeekLag
JOIN boundt b ON b.series = a.series
WHERE a.t >= b.tsplit
GROUP BY a.series, a.variant"""

  def q19: String = prefix + flaggedCte + s"""
, seas AS (
  SELECT series, t, is_anom, v_anom,
    coalesce(
      lag(CASE WHEN is_anom = 0 THEN v_anom END, ${TsCore.WeekLag}) OVER w,
      lead(CASE WHEN is_anom = 0 THEN v_anom END, ${TsCore.WeekLag}) OVER w,
      lag(CASE WHEN is_anom = 0 THEN v_anom END, ${2 * TsCore.WeekLag}) OVER w,
      lead(CASE WHEN is_anom = 0 THEN v_anom END, ${2 * TsCore.WeekLag}) OVER w) AS imp
  FROM flg
  WINDOW w AS (PARTITION BY series ORDER BY t)
)
SELECT series, t, is_anom AS was_anom,
  ${r4("CASE WHEN is_anom = 0 THEN v_anom ELSE imp END")} AS v_imp
FROM seas"""

  def q20(k: Int = 3): String = prefix + s"""
, winflag AS (
  SELECT series, win, max(is_anom) AS anyanom FROM inject GROUP BY series, win
), anomw AS (
  SELECT i.* FROM inject i JOIN winflag f USING (series, win) WHERE f.anyanom = 1
), cleanw AS (
  SELECT i.series, i.win AS cwin, i.pos, i.v_anom AS cv
  FROM inject i JOIN winflag f USING (series, win) WHERE f.anyanom = 0
), dists AS (
  SELECT a.series, a.win, c.cwin,
         sqrt(${TsCore.DaySize}.0 / count(*) * sum((a.v_anom - c.cv) * (a.v_anom - c.cv))) AS d
  FROM anomw a JOIN cleanw c ON a.series = c.series AND a.pos = c.pos
  WHERE a.is_anom = 0
  GROUP BY a.series, a.win, c.cwin
), nbrs AS (
  SELECT * FROM (
    SELECT series, win, cwin, row_number() OVER (PARTITION BY series, win ORDER BY d, cwin) AS rn
    FROM dists
  ) WHERE rn <= $k
)
SELECT a.series, a.win, a.pos, ${r4("avg(c.cv)")} AS v_imp
FROM anomw a
JOIN nbrs n ON a.series = n.series AND a.win = n.win
JOIN cleanw c ON a.series = c.series AND n.cwin = c.cwin AND a.pos = c.pos
WHERE a.is_anom = 1
GROUP BY a.series, a.win, a.pos"""

  private val splitTCte: String = s"""
, boundt AS (
  SELECT series, mwin * ${TsCore.DaySize} AS tsplit FROM boundary
)"""

  def q21: String = prefix + splitTCte + s"""
, sn AS (
  SELECT f.series, f.t, f.v_filled AS y,
         lag(f.v_filled, ${TsCore.WeekLag}) OVER (PARTITION BY f.series ORDER BY f.t) AS p,
         b.tsplit
  FROM filled f JOIN boundt b USING (series)
)
SELECT series, count(*) AS n,
  ${maeRmse("y", "p")},
  ${r4(s"sum(CASE WHEN y <> 0.0 THEN ${q4sql("abs(y - p) / abs(y)")} END) / 10000.0 / count(CASE WHEN y <> 0.0 THEN 1 END)")} AS mape
FROM sn WHERE t >= tsplit AND y IS NOT NULL AND p IS NOT NULL
GROUP BY series"""

  /** q58/q63's shared conformal chain: residuals on the 1e-4 int grid
    * (y/p carried through — q63 scores the band against them; DuckDB
    * prunes them from q58's plan) + the ⌈(1−α)(n+1)⌉ order-statistic
    * q̂ per series. ONE definition so the scored bands can never drift
    * from the calibrated ones.
    */
  private def conformalCte(alpha: Double): String = s"""
, sn58 AS (
  SELECT f.series, f.t, f.v_filled AS y,
         lag(f.v_filled, ${TsCore.WeekLag}) OVER (PARTITION BY f.series ORDER BY f.t) AS p,
         b.tsplit, b.tsplit - ${TsCore.WeekLag} AS tcal
  FROM filled f JOIN boundt b USING (series)
), ar58 AS (
  SELECT series, t, y, p, tsplit, tcal,
         ${absErrQ4sql("y", "p")} AS arq
  FROM sn58 WHERE y IS NOT NULL AND p IS NOT NULL
), cal58 AS (
  SELECT series, t, arq, count(*) OVER (PARTITION BY series) AS ncal,
         row_number() OVER (PARTITION BY series ORDER BY arq, t) AS rn
  FROM ar58 WHERE t >= tcal AND t < tsplit
), qh58 AS (
  SELECT series, ncal AS n_cal, arq AS qhatq FROM cal58
  WHERE rn = CAST(least(ceil(${1.0 - alpha} * (ncal + 1)), ncal) AS BIGINT)
)"""

  /** Mirrors Forecast.conformalIntervals — same 1e-4 int residual grid,
    * same ⌈(1−α)(n+1)⌉ order-statistic rank, same integer coverage.
    */
  def q58(alpha: Double = 0.1): String = prefix + splitTCte + conformalCte(alpha) + s"""
SELECT t.series, q.n_cal, count(*) AS n_test,
       q.qhatq / 10000.0 AS qhat,
       ${r4("sum(CASE WHEN t.arq <= q.qhatq THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS coverage
FROM ar58 t JOIN qh58 q USING (series)
WHERE t.t >= t.tsplit
GROUP BY t.series, q.n_cal, q.qhatq"""

  /** q63: mirrors Forecast.intervalScore — q58's residual/q̂ chain +
    * per-point Winkler and pinball arithmetic on the test split,
    * scaled-int sums. The Scala doubles (2/α, τ) interpolate as their
    * shortest-repr literals, which DuckDB parses back to the identical
    * IEEE values.
    */
  def q63(alpha: Double = 0.1): String = {
    val tl = alpha / 2
    val tu = 1 - alpha / 2
    val over = 2.0 / alpha
    prefix + splitTCte + conformalCte(alpha) + s"""
, t63 AS (
  SELECT a.series, q.qhatq, a.y,
         a.p - q.qhatq / 10000.0 AS lo, a.p + q.qhatq / 10000.0 AS hi
  FROM ar58 a JOIN qh58 q USING (series) WHERE a.t >= a.tsplit
), sc63 AS (
  SELECT series, qhatq,
    (hi - lo)
      + (CASE WHEN y < lo THEN (lo - y) * $over ELSE 0.0 END)
      + (CASE WHEN y > hi THEN (y - hi) * $over ELSE 0.0 END) AS wink,
    CASE WHEN y >= lo THEN (y - lo) * $tl ELSE (lo - y) * ${1 - tl} END AS pl,
    CASE WHEN y >= hi THEN (y - hi) * $tu ELSE (hi - y) * ${1 - tu} END AS pu
  FROM t63
)
SELECT series, count(*) AS n_test, qhatq / 10000.0 AS qhat,
  ${r4(s"${sumQ4sql("wink")} / count(*)")} AS winkler,
  ${r4(s"${sumQ4sql("pl")} / count(*)")} AS pinball_lo,
  ${r4(s"${sumQ4sql("pu")} / count(*)")} AS pinball_hi
FROM sc63 GROUP BY series, qhatq"""
  }

  /** q53: hierarchical reconciliation — mirrors Forecast.reconcile:
    * seasonal-naive bottoms, daily-persistence total, proportional
    * top-down rescale, all sums as 1e-4 scaled int64.
    */
  def q53: String = prefix + splitTCte + s"""
, wk AS (
  SELECT series, t, v_filled AS y,
         lag(v_filled, ${TsCore.WeekLag}) OVER (PARTITION BY series ORDER BY t) AS p
  FROM filled
), rbase AS (
  SELECT series, t, y, ${q4sql("p")} AS pq
  FROM wk WHERE y IS NOT NULL AND p IS NOT NULL
), rtot AS (
  SELECT t, sum(${q4sql("v_filled")}) AS ytq
  FROM filled WHERE v_filled IS NOT NULL GROUP BY t
), rtotfc AS (
  SELECT t + ${TsCore.DaySize} AS t, ytq AS tfq FROM rtot
), rsumb AS (
  SELECT t, sum(pq) AS sbq FROM rbase GROUP BY t
), rgsplit AS (
  SELECT max(tsplit) AS tsplit FROM boundt
)
SELECT b.series, b.t,
       ${r4("pq / 10000.0")} AS base_fc,
       ${r4("tfq / 10000.0")} AS total_fc,
       CASE WHEN sbq <> 0
            THEN ${r4("tfq / 10000.0 * (CAST(pq AS DOUBLE) / CAST(sbq AS DOUBLE))")}
       END AS rec_fc,
       ${r4("y")} AS actual
FROM rbase b JOIN rsumb USING (t) JOIN rtotfc USING (t) CROSS JOIN rgsplit
WHERE b.t >= rgsplit.tsplit"""

  /** q54: expanding-window refit backtest — q22's lag/solve chain
    * instantiated once per fold (train < b_i, test [b_i, b_{i+1})),
    * identical Cramer expressions for bit parity; per-series fold
    * boundaries from the feature range.
    */
  def q54(fracs: Seq[Double] = Seq(0.7, 0.8, 0.9)): String = {
    val n = fracs.size
    val bndCols = fracs.zipWithIndex.map { case (f, i) =>
      s"t0 + CAST(floor((t1 - t0 + 1) * $f) AS BIGINT) AS b$i"
    }.mkString(",\n         ")
    val folds = fracs.indices.map { i =>
      val ols = olsCtes(n => s"${n}_f$i", s"train_f$i", Seq("series"))
      s"""
, train_f$i AS (
  SELECT f.* FROM basef54 f JOIN bnd54 b USING (series) WHERE f.t < b.b$i
), $ols, res_f$i AS (
  SELECT f.series, $i AS fold, count(*) AS n,
    ${r4("avg(abs(f.y - (c.b0 + c.b1 * f.x1 + c.b2 * f.x2 + c.b3 * f.x3)))")} AS mae,
    ${r4("sqrt(avg((f.y - (c.b0 + c.b1 * f.x1 + c.b2 * f.x2 + c.b3 * f.x3)) * (f.y - (c.b0 + c.b1 * f.x1 + c.b2 * f.x2 + c.b3 * f.x3))))")} AS rmse
  FROM basef54 f JOIN bnd54 b USING (series) JOIN coefs2_f$i c USING (series)
  WHERE f.t >= b.b$i AND f.t < b.b${i + 1}
  GROUP BY f.series
)"""
    }.mkString
    val union = fracs.indices.map(i => s"SELECT * FROM res_f$i").mkString("\nUNION ALL\n")
    prefix + s"""
, lagged54 AS (
  SELECT series, t, v_filled AS y,
         lag(v_filled, 1) OVER w AS x1,
         lag(v_filled, ${TsCore.DaySize}) OVER w AS x2,
         lag(v_filled, ${TsCore.WeekLag}) OVER w AS x3
  FROM filled
  WINDOW w AS (PARTITION BY series ORDER BY t)
), basef54 AS (
  SELECT * FROM lagged54
  WHERE y IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL
), rng54 AS (
  SELECT series, min(t) AS t0, max(t) AS t1 FROM basef54 GROUP BY series
), bnd54 AS (
  SELECT series, $bndCols, t1 + 1 AS b$n FROM rng54
)""" + folds + "\n" + union
  }

  /** q22's lag/fit chain through coefs2 — shared verbatim with q60 so
    * the recursive strategy runs on EXACTLY the coefficients q22 fits.
    */
  private val q22CoefCtes: String = s"""
, lagged AS (
  SELECT f.series, f.t, f.v_filled AS y,
         lag(f.v_filled, 1) OVER w AS x1,
         lag(f.v_filled, ${TsCore.DaySize}) OVER w AS x2,
         lag(f.v_filled, ${TsCore.WeekLag}) OVER w AS x3,
         b.tsplit
  FROM filled f JOIN boundt b USING (series)
  WINDOW w AS (PARTITION BY f.series ORDER BY f.t)
), basef AS (
  SELECT * FROM lagged
  WHERE y IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL
), train AS (SELECT * FROM basef WHERE t < tsplit),
${olsCtes(identity, "train", Seq("series"))}"""

  /** q62: mirrors Forecast.refitTrigger — q54's fold machinery with
    * cuts A/B evaluated on the shared final slice, plus qp7's PSI
    * chain with the boundary swapped to cutA.
    */
  def q62(fracA: Double = 0.7, fracB: Double = 0.85, nBins: Int = 10,
          thr: Double = 0.1): String = {
    val fits = Seq("A" -> "cutA", "B" -> "cutB").map { case (sfx, cut) =>
      val ols = olsCtes(n => s"${n}_$sfx", s"train_$sfx", Seq("series"))
      s"""
, train_$sfx AS (
  SELECT f.* FROM basef62 f JOIN cut62 c USING (series) WHERE f.t < c.$cut
), $ols"""
    }.mkString
    prefix + s"""
, lagged62 AS (
  SELECT series, t, v_filled AS y,
         lag(v_filled, 1) OVER w AS x1,
         lag(v_filled, ${TsCore.DaySize}) OVER w AS x2,
         lag(v_filled, ${TsCore.WeekLag}) OVER w AS x3
  FROM filled
  WINDOW w AS (PARTITION BY series ORDER BY t)
), basef62 AS (
  SELECT * FROM lagged62
  WHERE y IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL
), rng62 AS (
  SELECT series, min(t) AS t0, max(t) AS t1 FROM basef62 GROUP BY series
), cut62 AS (
  SELECT series,
    t0 + CAST(floor((t1 - t0 + 1) * $fracA) AS BIGINT) AS cutA,
    t0 + CAST(floor((t1 - t0 + 1) * $fracB) AS BIGINT) AS cutB
  FROM rng62
)""" + fits + s"""
, res62 AS (
  SELECT f.series, count(*) AS n,
    ${r4("avg(abs(f.y - (a.b0 + a.b1 * f.x1 + a.b2 * f.x2 + a.b3 * f.x3)))")} AS mae_stale,
    ${r4("avg(abs(f.y - (b.b0 + b.b1 * f.x1 + b.b2 * f.x2 + b.b3 * f.x3)))")} AS mae_refit
  FROM basef62 f JOIN cut62 c USING (series)
  JOIN coefs2_A a USING (series) JOIN coefs2_B b USING (series)
  WHERE f.t >= c.cutB GROUP BY f.series
), drpts62 AS (
  SELECT f.series, f.t, f.v_filled, c.cutA,
    min(f.v_filled) OVER ws AS mn, max(f.v_filled) OVER ws AS mx
  FROM filled f JOIN cut62 c USING (series)
  WHERE f.v_filled IS NOT NULL
  WINDOW ws AS (PARTITION BY f.series)
), drbin62 AS (
  SELECT series,
    CASE WHEN mx = mn THEN 0
         ELSE least(CAST(floor((v_filled - mn) / (mx - mn) * $nBins) AS BIGINT), ${nBins - 1}) END AS bin,
    CASE WHEN t < cutA THEN 0 ELSE 1 END AS half
  FROM drpts62
), drcnt62 AS (
  SELECT series, bin,
    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM drbin62 GROUP BY series, bin
), drterm62 AS (
  SELECT series,
    (n0 + 0.5) / (sum(n0) OVER ws + 0.5 * $nBins) AS p,
    (n1 + 0.5) / (sum(n1) OVER ws + 0.5 * $nBins) AS q
  FROM drcnt62 WINDOW ws AS (PARTITION BY series)
), psi62 AS (
  SELECT series,
    $psiSql AS psi
  FROM drterm62 GROUP BY series
)
SELECT r.series, s.psi, CASE WHEN s.psi > $thr THEN 1 ELSE 0 END AS drifted,
       r.n, r.mae_stale, r.mae_refit
FROM res62 r JOIN psi62 s USING (series)
WHERE r.n > 0"""
  }

  def q22: String = prefix + splitTCte + q22CoefCtes + s"""
, testf AS (
  SELECT f.series, f.y, c.b0 + c.b1 * f.x1 + c.b2 * f.x2 + c.b3 * f.x3 AS p,
         c.b0, c.b1, c.b2, c.b3
  FROM basef f JOIN coefs2 c USING (series) WHERE f.t >= f.tsplit
)
SELECT series, count(*) AS n,
  ${r4("max(b0)")} AS b0, ${r4("max(b1)")} AS b1, ${r4("max(b2)")} AS b2, ${r4("max(b3)")} AS b3,
  ${r4("avg(abs(y - p))")} AS mae, ${r4("sqrt(avg((y - p) * (y - p)))")} AS rmse
FROM testf GROUP BY series"""

  /** q64: mirrors Forecast.forecastScorecard — q22's coefficient chain,
    * the shared OLS/seasonal-naive eval spine (p_sn = x3 on the lag
    * frame), and the reference's five metrics (wrapper.py:103-126)
    * from the SAME pre-sum-quantized term grids: sMAPE terms on 1e-6,
    * error terms on 1e-4, ȳ from the exact integer y sum, R² as the
    * exact integer ratio.
    */
  def q64: String = prefix + splitTCte + q22CoefCtes + s"""
, testsc AS (
  SELECT f.series, f.y,
         c.b0 + c.b1 * f.x1 + c.b2 * f.x2 + c.b3 * f.x3 AS p_ols,
         f.x3 AS p_sn
  FROM basef f JOIN coefs2 c USING (series)
  WHERE f.t >= f.tsplit AND NOT isnan(c.b0)
), ybar64 AS (
  SELECT series, sum(${q4sql("y")}) AS syq,
         count(*) AS ny
  FROM testsc GROUP BY series
), both64 AS (
  SELECT series, 'ols' AS variant, y, p_ols AS p FROM testsc
  UNION ALL
  SELECT series, 'seasonal_naive' AS variant, y, p_sn AS p FROM testsc
), agg64 AS (
  SELECT b.series, b.variant, count(*) AS n,
    sum(CASE WHEN abs(b.p) + abs(b.y) = 0 THEN CAST(0 AS BIGINT)
         ELSE ${q6sql("2 * abs(b.y - b.p) / (abs(b.p) + abs(b.y))")} END) AS ssm,
    sum(${absErrQ4sql("b.y", "b.p")}) AS sae,
    sum(${sqErrQ4sql("b.y", "b.p")}) AS sse,
    sum(${q4sql("(b.y - yb.syq / 10000.0 / yb.ny) * (b.y - yb.syq / 10000.0 / yb.ny)")}) AS ssy
  FROM both64 b JOIN ybar64 yb USING (series)
  GROUP BY b.series, b.variant
)
SELECT series, variant, n,
  ${r4(s"${fromQ6sql("ssm")} / n * 100")} AS smape,
  ${maeQ4sql("sae", "n")} AS mae,
  ${r4(meanQ4sql("sse", "n"))} AS mse,
  ${rmseQ4sql("sse", "n")} AS rmse,
  CASE WHEN ssy = 0 THEN NULL ELSE ${r4("1 - CAST(sse AS DOUBLE) / ssy")} END AS r2
FROM agg64"""

  /** q60: mirrors Forecast.recursiveForecast — q22's coefficient chain
    * + one lag CTE over the dense spine + the SAME left-assoc unrolled
    * recurrence per horizon + Num's forecast-error reducer.
    */
  def q60(horizons: Seq[Int] = Seq(1, 6, 12, 24)): String = {
    import TsCore.{DaySize, WeekLag}
    val allOffs = horizons.flatMap(Forecast.recursiveOffsets).distinct.sorted
    val lagCols = allOffs.map(i => s"lag(f.v_filled, $i) OVER w AS l$i").mkString(",\n         ")
    def predSql(h: Int): String = {
      var p = s"l$h"
      for (j <- 1 to h)
        p = s"(b0 + b1 * $p + b2 * l${h - j + DaySize} + b3 * l${h - j + WeekLag})"
      p
    }
    val selects = horizons.map { h =>
      val ok = (Seq("y IS NOT NULL", "NOT isnan(b0)") ++
        Forecast.recursiveOffsets(h).map(i => s"l$i IS NOT NULL")).mkString(" AND ")
      val p = predSql(h)
      s"""SELECT series, $h AS horizon, count(*) AS n,
  ${maeRmse("y", p)}
FROM e60 WHERE $ok GROUP BY series"""
    }.mkString("\nUNION ALL\n")
    prefix + splitTCte + q22CoefCtes + s"""
, l60 AS (
  SELECT f.series, f.t, f.v_filled AS y,
         $lagCols,
         b.tsplit
  FROM filled f JOIN boundt b USING (series)
  WINDOW w AS (PARTITION BY f.series ORDER BY f.t)
), e60 AS (
  SELECT l.*, c.b0, c.b1, c.b2, c.b3
  FROM l60 l JOIN coefs2 c USING (series) WHERE l.t >= l.tsplit
)
""" + selects
  }

  /** q39: q22's chain instantiated once per horizon with origin-shifted
    * lags (h, h+23, h+167); identical Cramer expressions for bit parity.
    */
  def q39(horizons: Seq[Int] = Seq(1, 6, 12, 24)): String = {
    val chains = horizons.map { h =>
      val ols = olsCtes(n => s"${n}_$h", s"train_$h", Seq("series"))
      s"""
, lagged_$h AS (
  SELECT f.series, f.t, f.v_filled AS y,
         lag(f.v_filled, $h) OVER w AS x1,
         lag(f.v_filled, ${h + TsCore.DaySize - 1}) OVER w AS x2,
         lag(f.v_filled, ${h + TsCore.WeekLag - 1}) OVER w AS x3,
         b.tsplit
  FROM filled f JOIN boundt b USING (series)
  WINDOW w AS (PARTITION BY f.series ORDER BY f.t)
), basef_$h AS (
  SELECT * FROM lagged_$h
  WHERE y IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL AND x3 IS NOT NULL
), train_$h AS (SELECT * FROM basef_$h WHERE t < tsplit),
$ols, testf_$h AS (
  SELECT f.series, f.y, c.b0 + c.b1 * f.x1 + c.b2 * f.x2 + c.b3 * f.x3 AS p,
         c.b0, c.b1, c.b2, c.b3
  FROM basef_$h f JOIN coefs2_$h c USING (series) WHERE f.t >= f.tsplit
)"""
    }.mkString
    val selects = horizons.map { h =>
      s"""SELECT series, $h AS horizon, count(*) AS n,
  ${r4("max(b0)")} AS b0, ${r4("max(b1)")} AS b1, ${r4("max(b2)")} AS b2, ${r4("max(b3)")} AS b3,
  ${r4("avg(abs(y - p))")} AS mae, ${r4("sqrt(avg((y - p) * (y - p)))")} AS rmse
FROM testf_$h GROUP BY series"""
    }.mkString("\nUNION ALL\n")
    prefix + splitTCte + chains + "\n" + selects
  }

  def q24: String = prefix + s"""
, trainw AS (
  SELECT d.* FROM daywin d JOIN boundary b USING (series) WHERE d.win < b.mwin
), overallm AS (
  SELECT series, ${sumQ4sql("v")} / count(*) AS mu
  FROM trainw GROUP BY series
)
SELECT t.series, t.pos,
  ${r4(s"${sumQ4sql("t.v")} / count(*) - max(o.mu)")} AS seasonal
FROM trainw t JOIN overallm o USING (series)
GROUP BY t.series, t.pos"""

  def q25(patchSize: Int = TsCore.FeatPatch, minRun: Int = 2, pad: Int = TsCore.FeatPatch / 2,
          zthr: Double = 2.5): String = prefix + s"""
, runs AS (
  SELECT series, win, vs, pos,
         pos - row_number() OVER (PARTITION BY series, win, vs ORDER BY pos) AS runid
  FROM scaled
), runagg AS (
  SELECT series, win, min(pos) AS rstart, max(pos) AS rend
  FROM runs GROUP BY series, win, vs, runid HAVING count(*) >= $minRun
), consecflag AS (
  SELECT DISTINCT s.series, s.win, s.pos, 1 AS fc
  FROM scaled s JOIN runagg r ON s.series = r.series AND s.win = r.win
  WHERE s.pos >= greatest(r.rstart - $pad, 0) AND s.pos <= least(r.rend + $pad, ${TsCore.DaySize - 1})
), zflag AS (
  SELECT series, win, pos,
         CASE WHEN (vs - mu)/sd > $zthr OR (vs - mu)/sd < -$zthr THEN 1 ELSE 0 END AS fs
  FROM (SELECT series, win, pos, vs,
               avg(vs) OVER (PARTITION BY series, win) AS mu,
               stddev_samp(vs) OVER (PARTITION BY series, win) AS sd
        FROM scaled)
), testpts AS (
  SELECT s.series, s.win, s.pos, s.is_anom FROM scaled s
  JOIN boundary b USING (series) WHERE s.win >= b.mwin
), flagged AS (
  SELECT t.series, t.win, t.pos, t.is_anom,
         CASE WHEN coalesce(c.fc, 0) = 1 OR coalesce(z.fs, 0) = 1 THEN 1 ELSE 0 END AS pred_pt
  FROM testpts t
  LEFT JOIN consecflag c ON t.series = c.series AND t.win = c.win AND t.pos = c.pos
  LEFT JOIN zflag z ON t.series = z.series AND t.win = z.win AND t.pos = z.pos
), patched AS (
  SELECT series, win, CAST(floor(pos / $patchSize) AS BIGINT) AS patch,
         max(pred_pt) AS pred, max(is_anom) AS gt
  FROM flagged GROUP BY series, win, CAST(floor(pos / $patchSize) AS BIGINT)
)""" + confusionTail("patched", withThr = false)

  def q31(pad: Int = 2): String = prefix + s"""
, ivruns AS (
  SELECT series, win, pos,
         pos - row_number() OVER (PARTITION BY series, win ORDER BY pos) AS rid
  FROM inject WHERE is_anom = 1
), iv AS (
  SELECT series, win * $DaySize + min(pos) - $pad AS t_lo,
         win * $DaySize + max(pos) + $pad AS t_hi
  FROM ivruns GROUP BY series, win, rid
)
SELECT i.series, i.t_lo, i.t_hi, count(*) AS n_pts,
       ${r4(s"${sumQ4sql("f.v_filled")} / count(*)")} AS avg_v
FROM iv i JOIN filled f ON f.series = i.series AND f.t >= i.t_lo AND f.t <= i.t_hi
WHERE f.v_filled IS NOT NULL
GROUP BY i.series, i.t_lo, i.t_hi"""

  /** Interval union into maximal episodes — mirrors Intervals.episodes
    * (same ivruns/iv island build as q31; all-integer window arithmetic).
    */
  def q46(pad: Int = 2): String = prefix + s"""
, ivruns AS (
  SELECT series, win, pos,
         pos - row_number() OVER (PARTITION BY series, win ORDER BY pos) AS rid
  FROM inject WHERE is_anom = 1
), iv AS (
  SELECT series, win * $DaySize + min(pos) - $pad AS t_lo,
         win * $DaySize + max(pos) + $pad AS t_hi
  FROM ivruns GROUP BY series, win, rid
), ep0 AS (
  SELECT series, t_lo, t_hi,
         max(t_hi) OVER (PARTITION BY series ORDER BY t_lo
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_hi
  FROM iv
), ep1 AS (
  SELECT series, t_lo, t_hi,
         CASE WHEN prev_hi IS NULL OR t_lo > prev_hi THEN 1 ELSE 0 END AS new_ep
  FROM ep0
), ep2 AS (
  SELECT series, t_lo, t_hi,
         sum(new_ep) OVER (PARTITION BY series ORDER BY t_lo
           ROWS UNBOUNDED PRECEDING) AS ep
  FROM ep1
)
SELECT series, CAST(ep AS BIGINT) AS ep, min(t_lo) AS ep_start, max(t_hi) AS ep_end,
       count(*) AS n_intervals, max(t_hi) - min(t_lo) + 1 AS duration
FROM ep2 GROUP BY series, ep"""

  /** Rolling-median filter over a centered frame — mirrors
    * Intervals.medianFilter (quantile_cont == Spark percentile, both
    * linear interpolation; frames shrink identically at series edges).
    */
  def q47(half: Int = 12): String = prefix + s"""
, medf AS (
  SELECT series, t, v_filled,
         quantile_cont(v_filled, 0.5) OVER (PARTITION BY series ORDER BY t
           ROWS BETWEEN $half PRECEDING AND $half FOLLOWING) AS med
  FROM filled WHERE v_filled IS NOT NULL
)
SELECT series, t, ${r4("v_filled")} AS v, ${r4("med")} AS med,
       ${r4("v_filled - med")} AS resid
FROM medf"""

  /** PSI drift between time halves — mirrors TsQueries.qp7Drift
    * (per-bin terms quantized to the 1e-6 grid before the sum).
    */
  def qp7(nBins: Int = 10): String = prefix + s"""
, drpts AS (
  SELECT series, t, v_filled,
    floor((min(t) OVER ws + max(t) OVER ws) / 2) AS mid,
    min(v_filled) OVER ws AS mn, max(v_filled) OVER ws AS mx
  FROM filled WHERE v_filled IS NOT NULL
  WINDOW ws AS (PARTITION BY series)
), drbin AS (
  SELECT series,
    CASE WHEN mx = mn THEN 0
         ELSE least(CAST(floor((v_filled - mn) / (mx - mn) * $nBins) AS BIGINT), ${nBins - 1}) END AS bin,
    CASE WHEN t <= mid THEN 0 ELSE 1 END AS half
  FROM drpts
), drcnt AS (
  SELECT series, bin,
    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM drbin GROUP BY series, bin
), drterm AS (
  SELECT series,
    sum(n0) OVER ws AS t0, sum(n1) OVER ws AS t1,
    (n0 + 0.5) / (sum(n0) OVER ws + 0.5 * $nBins) AS p,
    (n1 + 0.5) / (sum(n1) OVER ws + 0.5 * $nBins) AS q
  FROM drcnt WINDOW ws AS (PARTITION BY series)
)
SELECT series, CAST(max(t0) AS BIGINT) AS n_first, CAST(max(t1) AS BIGINT) AS n_second,
  $psiSql AS psi
FROM drterm GROUP BY series"""

  /** Classical additive decomposition — mirrors Forecast.decompose
    * (prefix-sum trend, quantized-integer seasonal means).
    */
  def q48(half: Int = 12): String = {
    val w = 2 * half + 1
    prefix + s"""
, dcum AS (
  SELECT series, t, v_filled,
    sum(coalesce(v_filled, 0.0)) OVER wc AS cum,
    count(v_filled) OVER wc AS cnt
  FROM filled
  WINDOW wc AS (PARTITION BY series ORDER BY t ROWS UNBOUNDED PRECEDING)
), dfrm AS (
  SELECT series, t, v_filled,
    lead(cum, $half) OVER ws - coalesce(lag(cum, ${half + 1}) OVER ws, 0.0) AS fsum,
    lead(cnt, $half) OVER ws - coalesce(lag(cnt, ${half + 1}) OVER ws, 0) AS fn
  FROM dcum WINDOW ws AS (PARTITION BY series ORDER BY t)
), dbase AS (
  SELECT series, t, v_filled, fsum / $w AS trend, v_filled - fsum / $w AS detr
  FROM dfrm WHERE v_filled IS NOT NULL AND fn = $w
), dseas AS (
  SELECT series, t % $DaySize AS pos,
    ${sumQ4sql("detr")} / count(*) AS seasonal
  FROM dbase GROUP BY series, t % $DaySize
)
SELECT b.series, b.t, ${r4("b.trend")} AS trend, ${r4("s.seasonal")} AS seasonal,
       ${r4("b.detr - s.seasonal")} AS resid
FROM dbase b JOIN dseas s ON b.series = s.series AND b.t % $DaySize = s.pos"""
  }

  /** Mirrors Forecast.strength — q48's decomposition CTEs + exact
    * scaled-int (Σx, Σx²) variance pairs.
    */
  def q52(half: Int = 12): String = {
    val w = 2 * half + 1
    def sq(c: String) = s"""
         CAST(sum(${q4sql(c)}) AS BIGINT) AS sx_$c,
         CAST(sum(${q4sql(s"$c*$c")}) AS BIGINT) AS sxx_$c"""
    def varOf(c: String) =
      s"(sxx_$c / 10000.0 - (sx_$c / 10000.0) * (sx_$c / 10000.0) / n) / (n - 1)"
    def str(d: String) =
      s"CASE WHEN n > 1 AND ${varOf(d)} > 0 THEN ${r4(s"greatest(0.0, 1.0 - (${varOf("r")}) / (${varOf(d)}))")} END"
    prefix + s"""
, dcum AS (
  SELECT series, t, v_filled,
    sum(coalesce(v_filled, 0.0)) OVER wc AS cum,
    count(v_filled) OVER wc AS cnt
  FROM filled
  WINDOW wc AS (PARTITION BY series ORDER BY t ROWS UNBOUNDED PRECEDING)
), dfrm AS (
  SELECT series, t, v_filled,
    lead(cum, $half) OVER ws - coalesce(lag(cum, ${half + 1}) OVER ws, 0.0) AS fsum,
    lead(cnt, $half) OVER ws - coalesce(lag(cnt, ${half + 1}) OVER ws, 0) AS fn
  FROM dcum WINDOW ws AS (PARTITION BY series ORDER BY t)
), dbase AS (
  SELECT series, t, v_filled, fsum / $w AS trend, v_filled - fsum / $w AS detr
  FROM dfrm WHERE v_filled IS NOT NULL AND fn = $w
), dseas AS (
  SELECT series, t % $DaySize AS pos,
    ${sumQ4sql("detr")} / count(*) AS seasonal
  FROM dbase GROUP BY series, t % $DaySize
), comp0 AS (
  SELECT b.series, ${r4("b.detr - s.seasonal")} AS r,
         ${r4("b.trend")} AS tq, ${r4("s.seasonal")} AS sq0
  FROM dbase b JOIN dseas s ON b.series = s.series AND b.t % $DaySize = s.pos
), comp AS (
  SELECT series, r, ${r4("tq + r")} AS tr,
         ${r4("sq0 + r")} AS sr
  FROM comp0
), g AS (
  SELECT series, count(*) AS n, ${sq("r")}, ${sq("tr")}, ${sq("sr")}
  FROM comp GROUP BY series
)
SELECT series, n, ${str("tr")} AS trend_strength, ${str("sr")} AS seasonal_strength
FROM g"""
  }

  /** q59: mirrors Forecast.decomposeForecast — q48's trend CTEs +
    * train-only seasonal profile + two exact (series, t−168)
    * self-joins + Num's forecast-error reducer.
    */
  def q59(half: Int = 12): String = decomposeForecastSql(half, trailing = false)

  /** q65 — q59 with the TRAILING trend frame (cum − lag(cum, w)):
    * mirrors Forecast.trailingForecast / decomposeBaseTrailing.
    */
  def q65(half: Int = 12): String = decomposeForecastSql(half, trailing = true)

  private def decomposeForecastSql(half: Int, trailing: Boolean): String = {
    val w = 2 * half + 1
    val frame =
      if (trailing) s"""
    cum - coalesce(lag(cum, $w) OVER ws, 0.0) AS fsum,
    cnt - coalesce(lag(cnt, $w) OVER ws, 0) AS fn"""
      else s"""
    lead(cum, $half) OVER ws - coalesce(lag(cum, ${half + 1}) OVER ws, 0.0) AS fsum,
    lead(cnt, $half) OVER ws - coalesce(lag(cnt, ${half + 1}) OVER ws, 0) AS fn"""
    prefix + splitTCte + s"""
, dcum AS (
  SELECT series, t, v_filled,
    sum(coalesce(v_filled, 0.0)) OVER wc AS cum,
    count(v_filled) OVER wc AS cnt
  FROM filled
  WINDOW wc AS (PARTITION BY series ORDER BY t ROWS UNBOUNDED PRECEDING)
), dfrm AS (
  SELECT series, t, v_filled,$frame
  FROM dcum WINDOW ws AS (PARTITION BY series ORDER BY t)
), dbase AS (
  SELECT series, t, v_filled, fsum / $w AS trend, v_filled - fsum / $w AS detr
  FROM dfrm WHERE v_filled IS NOT NULL AND fn = $w
), b59 AS (
  SELECT d.series, d.t, d.v_filled, d.trend, d.detr, bo.tsplit
  FROM dbase d JOIN boundt bo USING (series)
), seas59 AS (
  SELECT series, t % $DaySize AS pos,
    ${sumQ4sql("detr")} / count(*) AS seas
  FROM b59 WHERE t < tsplit GROUP BY series, t % $DaySize
), trlag59 AS (
  SELECT series, t + ${TsCore.WeekLag} AS t, trend AS tr_lag FROM dbase
), ylag59 AS (
  SELECT series, t + ${TsCore.WeekLag} AS t, v_filled AS p_dir FROM dbase
), ev59 AS (
  SELECT b.series, b.v_filled AS y, tl.tr_lag + s.seas AS p_dec, yl.p_dir
  FROM b59 b
  JOIN trlag59 tl USING (series, t)
  JOIN ylag59 yl USING (series, t)
  JOIN seas59 s ON s.series = b.series AND b.t % $DaySize = s.pos
  WHERE b.t >= b.tsplit
), un59 AS (
  SELECT series, 'decomposed' AS variant, y, p_dec AS p FROM ev59
  UNION ALL
  SELECT series, 'direct' AS variant, y, p_dir AS p FROM ev59
)
SELECT series, variant, count(*) AS n,
  ${maeRmse("y", "p")}
FROM un59 GROUP BY series, variant"""
  }

  def q32(lags: Seq[Int] = Seq(1, 24, 168)): String = prefix + s"""
, lagd AS (
  SELECT series, t, v_filled,
  ${lags.map(l => s"lag(v_filled, $l) OVER w AS v$l").mkString(",\n  ")}
  FROM filled WINDOW w AS (PARTITION BY series ORDER BY t)
)
${lags.map(l =>
    s"""SELECT series, $l AS lag_h, count(*) AS n, ${r4(s"corr(v_filled, v$l)")} AS acf
FROM lagd WHERE v_filled IS NOT NULL AND v$l IS NOT NULL GROUP BY series""")
    .mkString("\nUNION ALL ")}"""

  /** CUSUM via the prefix identity S⁺_t = C_t − min(0, min_{j≤t} C_j);
    * μ/σ from quantized-integer sufficient statistics (order-free),
    * running sums sequential in t like q33's — mirrors Intervals.cusum.
    */
  def q45(k: Double = 0.5, h: Double = 5.0): String = prefix + s"""
, cstats AS (
  SELECT series, count(*) AS n,
    sum(${q4sql("v_filled")}) AS s1,
    sum(${q4sql("v_filled*v_filled")}) AS s2
  FROM filled WHERE v_filled IS NOT NULL GROUP BY series
), cparams AS (
  SELECT series, n, s1 / 10000.0 / n AS mu,
    sqrt(greatest(0.0, (s2 / 10000.0 - n * (s1 / 10000.0 / n) * (s1 / 10000.0 / n)) / (n - 1))) AS sd
  FROM cstats WHERE n > 1
), cuscum AS (
  SELECT f.series, f.t, p.sd,
    sum(f.v_filled - p.mu - $k * p.sd) OVER wc AS cpos,
    sum(p.mu - $k * p.sd - f.v_filled) OVER wc AS cneg
  FROM filled f JOIN cparams p USING (series)
  WHERE f.v_filled IS NOT NULL
  WINDOW wc AS (PARTITION BY f.series ORDER BY f.t ROWS UNBOUNDED PRECEDING)
), cuss AS (
  SELECT series, t, sd,
    cpos - least(0.0, min(cpos) OVER wc) AS spos,
    cneg - least(0.0, min(cneg) OVER wc) AS sneg
  FROM cuscum
  WINDOW wc AS (PARTITION BY series ORDER BY t ROWS UNBOUNDED PRECEDING)
)
SELECT series, t, ${r4("spos / sd")} AS cusum_pos, ${r4("sneg / sd")} AS cusum_neg
FROM cuss WHERE spos > $h * sd OR sneg > $h * sd"""

  /** Grid completeness audit — mirrors TsQueries.qp6Completeness
    * (fill-source counts + gaps-and-islands on unobserved runs).
    */
  def qp6: String = prefix + s"""
, cbase AS (
  SELECT series, count(*) AS n_slots,
    CAST(sum(CASE WHEN src = 'obs' THEN 1 ELSE 0 END) AS BIGINT) AS n_obs,
    CAST(sum(CASE WHEN src = 'lag' THEN 1 ELSE 0 END) AS BIGINT) AS n_lag,
    CAST(sum(CASE WHEN src = 'lead' THEN 1 ELSE 0 END) AS BIGINT) AS n_lead,
    CAST(sum(CASE WHEN src = 'missing' THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
  FROM filled GROUP BY series
), cruns AS (
  SELECT series, t - row_number() OVER (PARTITION BY series ORDER BY t) AS rid
  FROM filled WHERE src <> 'obs'
), cgaps AS (
  SELECT series, max(gap_len) AS max_gap, count(*) AS n_gaps
  FROM (SELECT series, rid, count(*) AS gap_len FROM cruns GROUP BY series, rid)
  GROUP BY series
)
SELECT b.series, b.n_slots, b.n_obs,
  ${r4("b.n_obs / b.n_slots")} AS pct_obs,
  b.n_lag, b.n_lead, b.n_missing,
  coalesce(g.max_gap, 0) AS max_gap, coalesce(g.n_gaps, 0) AS n_gaps
FROM cbase b LEFT JOIN cgaps g USING (series)"""

  /** Level-shift via running prefix sums (NOT framed avg): the running
    * cumulative is summed in identical sequential order by both engines,
    * whereas framed aggregates use engine-specific (segment-tree vs
    * recompute) summation orders that differ in ulps.
    */
  def q33(w: Int = 24, thr: Double = 3.0): String = prefix + s"""
, cums AS (
  SELECT series, t,
    sum(coalesce(v_filled, 0.0)) OVER wc AS cum,
    count(v_filled) OVER wc AS cnt,
    stddev_samp(v_filled) OVER (PARTITION BY series) AS sd
  FROM filled
  WINDOW wc AS (PARTITION BY series ORDER BY t ROWS UNBOUNDED PRECEDING)
), frames AS (
  SELECT series, t, sd,
    lag(cum, 1) OVER ws - coalesce(lag(cum, ${w + 1}) OVER ws, 0.0) AS pre_sum,
    lag(cnt, 1) OVER ws - coalesce(lag(cnt, ${w + 1}) OVER ws, 0) AS pre_n,
    lead(cum, ${w - 1}) OVER ws - coalesce(lag(cum, 1) OVER ws, 0.0) AS post_sum,
    lead(cnt, ${w - 1}) OVER ws - coalesce(lag(cnt, 1) OVER ws, 0) AS post_n
  FROM cums
  WINDOW ws AS (PARTITION BY series ORDER BY t)
)
SELECT series, t, ${r4(s"(post_sum / $w.0 - pre_sum / $w.0) / sd")} AS shift_z
FROM frames
WHERE pre_n = $w AND post_n = $w
  AND ((post_sum / $w.0 - pre_sum / $w.0) / sd > $thr
       OR (post_sum / $w.0 - pre_sum / $w.0) / sd < -$thr)"""

  def q35(horizons: Seq[Int] = Seq(1, 6, 12, 24)): String = prefix + s"""
, boundt35 AS (SELECT series, mwin * $DaySize AS tsplit FROM boundary),
lag35 AS (
  SELECT f.series, f.t, f.v_filled, b.tsplit,
  ${horizons.map(h => s"lag(f.v_filled, $h) OVER w AS p$h").mkString(",\n  ")}
  FROM filled f JOIN boundt35 b USING (series)
  WINDOW w AS (PARTITION BY f.series ORDER BY f.t)
)
${horizons.map(h =>
    s"""SELECT series, $h AS horizon, count(*) AS n,
  ${maeRmse("v_filled", s"p$h")}
FROM lag35 WHERE t >= tsplit AND v_filled IS NOT NULL AND p$h IS NOT NULL GROUP BY series""")
    .mkString("\nUNION ALL ")}"""

  def q37(thr: Double = 3.0): String = prefix + s"""
, trainw37 AS (
  SELECT d.* FROM daywin d JOIN boundary b USING (series) WHERE d.win < b.mwin
), prof37 AS (
  SELECT series, pos, ${sumQ4sql("v")} / count(*) AS posmean
  FROM trainw37 GROUP BY series, pos
), sdr37 AS (
  SELECT t.series, stddev_samp(t.v - p.posmean) AS sdr
  FROM trainw37 t JOIN prof37 p USING (series, pos) GROUP BY t.series
)
SELECT d.series, d.win, d.pos, ${r4("(d.v - p.posmean) / s.sdr")} AS resid_z
FROM daywin d JOIN prof37 p USING (series, pos) JOIN sdr37 s USING (series)
WHERE (d.v - p.posmean) / s.sdr > $thr OR (d.v - p.posmean) / s.sdr < -$thr"""

  def q36(bucket: Int = 48): String = prefix + s"""
, bmeans AS (
  SELECT series, CAST(floor(t / $bucket) AS BIGINT) AS b, avg(v_filled) AS m
  FROM filled WHERE v_filled IS NOT NULL
  GROUP BY series, CAST(floor(t / $bucket) AS BIGINT)
)
SELECT a.series AS series_a, b2.series AS series_b, count(*) AS n,
       ${r4("corr(a.m, b2.m)")} AS xcorr
FROM bmeans a JOIN bmeans b2 ON a.b = b2.b AND a.series < b2.series
GROUP BY a.series, b2.series"""

  def q34(thr: Double = 3.0): String = prefix + s"""
, med AS (SELECT series, win, quantile_cont(vs, 0.5) AS med FROM scaled GROUP BY series, win),
wm AS (SELECT s.series, s.win, s.pos, s.vs, m.med FROM scaled s JOIN med m USING (series, win)),
madt AS (SELECT series, win, quantile_cont(abs(vs - med), 0.5) AS mad FROM wm GROUP BY series, win)
SELECT w.series, w.win, w.pos, ${r4("(w.vs - w.med) / (m.mad * 1.4826)")} AS robust_z
FROM wm w JOIN madt m USING (series, win)
WHERE m.mad > 0.0 AND ((w.vs - w.med) / (m.mad * 1.4826) > $thr
                       OR (w.vs - w.med) / (m.mad * 1.4826) < -$thr)"""

  def q08: String = prefix + "SELECT series, win, pos, " +
    (0 until 9).map(i => s"${r4(s"f$i")} AS f$i").mkString(", ") + " FROM patches"
}
