package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Num, Tables}

/** Event-stream analytics over the per-user axis — the dimension that
  * grows with data volume (users scale with sf; the time range does
  * not). Both operators shuffle once on user_id and are embarrassingly
  * parallel across users at 100 TB.
  */
object Events {

  private def epochSec(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.events(spark, sfDir)
    raw.select(col("event_id"), col("user_id"), col("event_type"),
      graft.util.Ts.sec(raw).as("tsec"), col("value"))
  }

  /** qe4: AS-OF join — for every `aType` event, the user's most recent
    * STRICTLY earlier `bType` event (the operator Spark lacks natively).
    * Implemented as a union-marker ordered window: both sides shuffle
    * once on user_id, the probe side carries the last-seen build row via
    * `last(ignoreNulls)` — no range join, no per-row lookup, O(n log n)
    * in the partition. The b side is first deduped per (user, tsec)
    * (keep max event_id) so the as-of pick is deterministic in both
    * engines. At 100 TB this is the canonical "enrich stream A with
    * latest state from stream B" pattern.
    */
  def asofJoin(spark: SparkSession, sfDir: String,
               aType: String = "purchase", bType: String = "view"): DataFrame = {
    val ev = epochSec(spark, sfDir)
    val wB = Window.partitionBy("user_id", "tsec").orderBy(col("event_id").desc)
    val b = ev.filter(col("event_type") === bType)
      .withColumn("rn", row_number().over(wB)).filter(col("rn") === 1)
      .select(col("user_id"), col("tsec"),
        col("event_id").as("b_id"), col("value").as("b_val"))
    val a = ev.filter(col("event_type") === aType)
      .select("user_id", "event_id", "tsec")
    // marker 0 sorts probe rows BEFORE same-tsec build rows → strict "<"
    val aM = a.select(col("user_id"), col("tsec"), lit(0).as("mk"), col("event_id"),
      lit(null).cast("long").as("b_id"), lit(null).cast("long").as("b_t"),
      lit(null).cast("double").as("b_val"))
    val bM = b.select(col("user_id"), col("tsec"), lit(1).as("mk"),
      lit(null).cast("long").as("event_id"), col("b_id"), col("tsec").as("b_t"), col("b_val"))
    val wU = Window.partitionBy("user_id").orderBy("tsec", "mk")
      .rowsBetween(Window.unboundedPreceding, 0)
    aM.unionByName(bM)
      .withColumn("view_event_id", last("b_id", ignoreNulls = true).over(wU))
      .withColumn("view_tsec", last("b_t", ignoreNulls = true).over(wU))
      .withColumn("view_value", last("b_val", ignoreNulls = true).over(wU))
      .filter(col("mk") === 0)
      .select(col("user_id"), col("event_id"), col("tsec"),
        col("view_event_id"), col("view_tsec"),
        (col("tsec") - col("view_tsec")).as("gap_s"),
        Num.r4(col("view_value")).as("view_value"))
  }

  /** qe3: cohort retention — users bucketed by first-activity week,
    * counted per (cohort, week offset). Two shuffles total (per-user
    * min, then distinct-count per cohort cell).
    */
  def retention(spark: SparkSession, sfDir: String, weekSec: Long = 604800L): DataFrame = {
    val ev = epochSec(spark, sfDir)
      .select(col("user_id"), floor(col("tsec") / weekSec).as("week"))
    val cohort = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    ev.join(cohort, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** qe14: rolling active users — per day, DAU, trailing-`window` MAU
    * and the DAU/MAU stickiness ratio (the engagement dashboard every
    * event platform ships; rolling DISTINCT is the one windowed metric
    * plain window functions cannot express).
    *
    * Scale shape: the one expensive reduce is the distinct (day, user)
    * pass — the daily-partial pattern. The trailing window then fans
    * each daily-active pair to the `window` target days it keeps the
    * user active for (a bounded ×window blowup over the DISTINCT
    * pairs, never the raw events) and one (day, user) distinct-agg
    * closes it. At 100 TB the daily partials become mergeable HLL
    * register sets (qp2's sketch) and the fan-out collapses into a
    * 7-sketch merge per day; this exact form is the oracle-checkable
    * twin of that plan.
    */
  /** qe14's registered trailing-window width — interpolated into the
    * SparkEntry oracle so the two sides cannot drift (ADVICE r9).
    */
  val DauMauWindow: Int = 7

  def dauMau(spark: SparkSession, sfDir: String, window: Int = DauMauWindow): DataFrame = {
    require(window >= 1, s"window=$window")
    // session-cached: the distinct (day, user) reduce is the query's
    // one expensive pass — DAU and the MAU fan-out both read it
    val pairs = graft.util.StageCache.cached(spark, sfDir, "daupairs") {
      epochSec(spark, sfDir)
        .select(floor(col("tsec") / 86400L).cast("long").as("day"), col("user_id"))
        .distinct()
    }
    val dau = pairs.groupBy("day").agg(count(lit(1)).as("dau"))
    val mau = pairs
      .select(explode(sequence(col("day"), col("day") + (window - 1))).as("day"),
        col("user_id"))
      .groupBy("day").agg(countDistinct("user_id").as("mau"))
    dau.join(mau, "day")
      .select(col("day"), col("dau"), col("mau"),
        Num.r4(col("dau").cast("double") / col("mau")).as("stickiness"))
  }

  /** qe15: burst-rate audit — per user, the PEAK event count in any
    * trailing `windowSec` window plus a rate-limit flag (the
    * bot/abuse screen an event platform runs before events feed
    * anything downstream). The trailing count is a RANGE-frame window
    * (event-time seconds, not row positions — ties at one timestamp
    * share a frame by definition in both engines), which rows-frame
    * running windows (qa6) cannot express.
    *
    * Scale shape: ONE user_id exchange + per-user time-ordered range
    * frame (running count, state bounded by the densest window) + a
    * per-user rollup with map-side partials. The skew story is the
    * flag's own target: a bot user's partition IS the burst — bounded
    * by that user's event count, the same bound any per-user
    * sessionization already carries (qe1).
    */
  def burstRate(spark: SparkSession, sfDir: String, windowSec: Long = 86400L,
                thr: Long = 8L): DataFrame = {
    require(windowSec >= 1 && thr >= 1, s"windowSec=$windowSec thr=$thr")
    val w = Window.partitionBy("user_id").orderBy("tsec")
      .rangeBetween(-(windowSec - 1), Window.currentRow)
    epochSec(spark, sfDir)
      .select(col("user_id"), col("tsec"))
      .withColumn("nw", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("nw").as("peak_rate"))
      .withColumn("flagged", when(col("peak_rate") >= thr, 1L).otherwise(0L))
  }

  /** qp2: approximate distinct-count profiling — HyperLogLog++
    * (approx_count_distinct) next to the exact count, one pass each.
    * The `approx_ok` flag asserts the sketch lands within 5% — the
    * 100 TB profiling path where exact distinct is a full shuffle but
    * the sketch is a fixed-size mergeable register set.
    */
  /** qp2's profiled column set — shared by the HLL pass and the exact
    * pass so the two frames can never drift.
    */
  private val ApproxDistinctCols =
    Seq("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")

  /** qp2's exact-distinct pass as ONE lineitem scan (r19, guide §6):
    * the old form unioned four single-column selects — four scan nodes
    * over the same file inside one job; this explodes a (name → value)
    * map per row instead, so the plan has exactly one lineitem scan
    * feeding the same (name, value) partial-distinct → count shape.
    * Same rows: map() preserves null values and explode emits them, so
    * the distinct/count semantics are unchanged. Separated (uncached)
    * so PlanDump can show the single-scan plan.
    */
  private[graft] def approxDistinctExactPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = ApproxDistinctCols
    // spread BEFORE the explode (guide §2.5): the single-scan form runs
    // the partial-distinct hash of |rows|×4 exploded pairs, and the
    // test lineitem is one unsplittable file — without the spread that
    // whole pass sat on 1-2 tasks (measured at sf1: 4.5 → 12 s against
    // the unioned form, whose four scans at least ran 4 tasks). The
    // spread shuffles the 4 projected columns once (|rows|, not the 4×
    // exploded pairs) and is a no-op when the scan splits.
    val li = Tables.spread(
      Tables.lineitem(spark, sfDir).select(cols.map(col): _*), cols: _*)
    li.select(explode(map(
        cols.flatMap(c => Seq(lit(c), col(c).cast("double"))): _*))
      .as(Seq("column_name", "v")))
      .distinct().groupBy("column_name").count()
  }

  def approxDistinct(spark: SparkSession, sfDir: String, tol: Double = 0.05): DataFrame = {
    import spark.implicits._
    val cols = ApproxDistinctCols
    // Exact distincts and HLL sketches in SEPARATE plans: mixing them
    // makes Catalyst plan the multi-DISTINCT expand through a
    // sort-based aggregate, which copies the ~21KB HLL register buffer
    // once per expanded input row (4×|rows| × 21KB of memcpy — 227s at
    // sf0.1). The sketches share one hash-agg pass; each exact distinct
    // is its own two-phase (partial distinct → global) job, run
    // concurrently — no expand, no wide buffers anywhere.
    // no checkpoint: columnar parquet re-scans are cheaper than a
    // 4-column materialization, and the concurrent jobs share the
    // OS page cache
    val li = Tables.lineitem(spark, sfDir).select(cols.map(col): _*)
    val approxAggs = cols.map(c =>
      // rsd 4% (inside the 5% gate at every tested SF — Spark's HLL is
      // deterministic, so the gate is a fixed value, not a coin flip):
      // 2^10 registers = 171 long buffer slots per sketch. Do NOT
      // tighten to 1%: the buffer grows 16× to 2731 slots per column
      // and the aggregate's generated code — which unrolls over every
      // buffer attribute — blows past JIT limits (2.9 MiB task binary,
      // ~4 s of Janino compile for this one stage; measured r5).
      approx_count_distinct(col(c), 0.04).as(s"${c}_approx"))
    // the two passes are independent — overlap them (guide §2.6); the
    // FIFO scheduler back-fills the HLL pass's tail with the distinct
    // pass's map tasks (r18 — they used to run serially; r19 — the
    // overlap runs under one cancellable job group, see util.Overlap).
    // The exact pass is ONE SINGLE-SCAN job (r19): explode each row
    // into its (column_name, value) pairs and distinct-count them —
    // one lineitem scan + one partial-distinct → shuffle → count job
    // instead of four unioned single-column scans. All four columns
    // cast losslessly to double (keys < 2^53), so per-column distinct
    // counts are preserved.
    val (approxRow, exact) = graft.util.Overlap.pair(spark, "qp2")(
      li.agg(approxAggs.head, approxAggs.tail: _*).head(),
      approxDistinctExactPlan(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    cols.map { c =>
      // empty table → no (column_name) groups at all; distinct of
      // nothing is 0, not a missing-key crash
      val e = exact.getOrElse(c, 0L)
      val a = approxRow.getAs[Long](s"${c}_approx")
      (c, e, if (math.abs(a - e) <= e * tol) 1 else 0)
    }.toDF("column_name", "n_exact", "approx_ok")
  }

  /** qp4: per-group quantile profile — exact interpolated quartiles +
    * p95 of the value distribution per event type. Grouped percentile
    * is the scale-safe shape (each group's buffer holds only its own
    * values, groups spread across reducers).
    */
  def groupQuantiles(spark: SparkSession, sfDir: String,
                     qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame = {
    val agg = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(expr(s"percentile(value, array(${qs.mkString(",")}))").as("qv"))
    agg.select(col("event_type"), explode(array(qs.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("q"), Num.r4(col("qv")(i)).as("v"))
    }: _*)).as("p"))
      .select(col("event_type"), col("p.q"), col("p.v"))
  }

  /** qp3: approximate quantiles (Greenwald–Khanna sketch) next to the
    * exact interpolated percentiles, with an error gate: the sketch is
    * the 100 TB path (fixed-size, mergeable), the exact value is the
    * oracle-checked anchor. Gate: |approx − exact| ≤ 5%·|exact| + 1
    * (absolute slack because GK returns an actual element while
    * percentile() interpolates between elements).
    */
  def approxQuantiles(spark: SparkSession, sfDir: String,
                      qs: Seq[Double] = Seq(0.25, 0.5, 0.75), tol: Double = 0.05): DataFrame = {
    import spark.implicits._
    val cols = Seq("l_quantity", "l_extendedprice")
    val li = Tables.lineitem(spark, sfDir).select(cols.map(col): _*)
    val approxAggs = cols.map(c =>
      expr(s"approx_percentile($c, array(${qs.mkString(",")}), 10000)").as(s"${c}_approx"))
    // ALL driver actions overlapped (guide §2.6): the GK-sketch pass and
    // each column's exact range-select chain are independent jobs; FIFO
    // scheduling back-fills the tail of one with the next (r18 — the
    // sketch head used to run serially before the exact futures; r19 —
    // the overlap runs under one cancellable job group, util.Overlap).
    // exact values via the shared distributed range-sort + zipWithIndex
    // (util.Quantiles) — only boundary order statistics reach the driver
    val results = graft.util.Overlap.all[Any](spark, "qp3")(
      (() => li.agg(approxAggs.head, approxAggs.tail: _*).head()) +:
        cols.map(c => () => graft.util.Quantiles.exact(li, c, qs)))
    val approxRow = results.head.asInstanceOf[org.apache.spark.sql.Row]
    val exact = cols.zip(results.tail
      .map(_.asInstanceOf[Map[Double, Option[Double]]])).toMap
    val rows = cols.flatMap { c =>
      // approx_percentile yields NULL (not an empty list) on empty
      // input — surface it as NaN so the gate simply fails closed
      val ap = Option(approxRow.getAs[scala.collection.Seq[Double]](s"${c}_approx"))
      qs.zipWithIndex.map { case (q, i) =>
        val e = exact(c)(q).getOrElse(Double.NaN)
        val a = ap.map(_(i)).getOrElse(Double.NaN)
        val ok = if (math.abs(a - e) <= math.abs(e) * tol + 1.0) 1 else 0
        (c, q, Num.r4(e), ok)
      }
    }
    rows.toDF("column_name", "q", "exact_q", "approx_ok")
  }

  /** qe1: sessionization — gaps-and-islands: a new session starts after
    * `gapSec` of inactivity; session stats per (user, session).
    */
  def sessionize(spark: SparkSession, sfDir: String, gapSec: Long = 1800L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    epochSec(spark, sfDir)
      .withColumn("prev", lag("tsec", 1).over(w))
      .withColumn("newsess",
        when(col("prev").isNull || col("tsec") - col("prev") > gapSec, 1).otherwise(0))
      .withColumn("session_id", sum("newsess")
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("tsec").as("start_epoch"), max("tsec").as("end_epoch"),
        (max("tsec") - min("tsec")).as("duration_s"))
  }

  /** qp1: column profiling — per-column null count, distinct count,
    * min/max in ONE pass over the table (conditional aggregates, no
    * per-column re-scan; the lake-health primitive).
    */
  def profile(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(spark, sfDir).select(cols.map(col): _*)
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1).otherwise(0)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        Num.r4(min(col(c))).as(s"${c}_min"), Num.r4(max(col(c))).as(s"${c}_max"))
    }
    val wide = li.agg(aggs.head, aggs.tail: _*)
    wide.select(explode(array(cols.map(c =>
      struct(lit(c).as("column_name"), col(s"${c}_nulls").as("n_nulls"),
        col(s"${c}_distinct").as("n_distinct"),
        col(s"${c}_min").as("min_v"), col(s"${c}_max").as("max_v"))): _*)).as("p"))
      .select("p.*")
  }

  /** qe2: ordered funnel — users reaching each stage strictly after the
    * previous stage's first occurrence. ONE shuffle: events group to a
    * per-user array, and the stage chain is a per-row scalar fold
    * (filter/min HOFs referencing the previous stage's time) — no
    * per-stage join or action. Funnel events per user are bounded, so
    * the array is safe at 100 TB; other event types are filtered before
    * the shuffle.
    */
  def funnel(spark: SparkSession, sfDir: String,
             stages: Seq[String] = Seq("signup", "view", "click", "purchase")): DataFrame = {
    val perUser = epochSec(spark, sfDir)
      .filter(col("event_type").isin(stages: _*))
      .groupBy("user_id")
      .agg(collect_list(struct(col("tsec"), col("event_type"))).as("evs"))
    val withTimes = stages.zipWithIndex.foldLeft(perUser) { case (acc, (st, i)) =>
      val cond =
        if (i == 0) s"x.event_type = '$st'"
        else s"x.event_type = '$st' AND t${i - 1} IS NOT NULL AND x.tsec > t${i - 1}"
      acc.withColumn(s"t$i",
        expr(s"array_min(transform(filter(evs, x -> $cond), x -> x.tsec))"))
    }
    val aggs = stages.indices.map(i => count(col(s"t$i")).as(s"n$i"))
    withTimes.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(stages.zipWithIndex.map { case (st, i) =>
        struct(lit(i + 1).as("stage"), lit(st).as("event_type"), col(s"n$i").as("n_users"))
      }: _*)).as("r"))
      .select("r.*")
  }

  /** qe5: time-bounded funnel level (the ClickHouse `windowFunnel` /
    * product-analytics "conversion window" shape): per user, walk the
    * EARLIEST chain — t1 = first stage-1 event, t_i = first stage-i
    * event strictly after t_{i-1} — and report the deepest level whose
    * chain time t_level − t1 fits within `windowSec`. Deviation from
    * ClickHouse documented on purpose: CH restarts the window at every
    * stage-1 candidate; the earliest-chain rule here is deterministic,
    * one-pass, and exactly SQL-expressible, which keeps the DuckDB
    * oracle bit-identical. Output is the level histogram (level 0 =
    * users with funnel events but no stage-1 event).
    * Scale: same single user_id shuffle as qe2 — funnel events per user
    * are bounded, all chain logic is a per-row array fold; the histogram
    * is a |levels|-row partial agg. Nothing here grows with corpus size
    * except the embarrassingly parallel per-user work.
    */
  def windowFunnel(spark: SparkSession, sfDir: String,
                   stages: Seq[String] = Seq("signup", "view", "click", "purchase"),
                   windowSec: Long = 172800L): DataFrame = {
    val perUser = epochSec(spark, sfDir)
      .filter(col("event_type").isin(stages: _*))
      .groupBy("user_id")
      .agg(collect_list(struct(col("tsec"), col("event_type"))).as("evs"))
    val withTimes = stages.zipWithIndex.foldLeft(perUser) { case (acc, (st, i)) =>
      val cond =
        if (i == 0) s"x.event_type = '$st'"
        else s"x.event_type = '$st' AND t${i - 1} IS NOT NULL AND x.tsec > t${i - 1}"
      acc.withColumn(s"t$i",
        expr(s"array_min(transform(filter(evs, x -> $cond), x -> x.tsec))"))
    }
    // level = deepest i with t_i within the window of t1 (chain times
    // are strictly increasing, so the window test is monotone in i);
    // forward fold leaves the deepest stage as the outermost branch
    val level = stages.indices.foldLeft(lit(0)) { case (acc, i) =>
      when(col(s"t$i").isNotNull && col(s"t$i") - col("t0") <= windowSec, i + 1)
        .otherwise(acc)
    }
    withTimes.select(level.as("level"))
      .groupBy("level").agg(count(lit(1)).as("n_users"))
  }

  /** qe7: top user paths — the path-analysis rollup: each user's first
    * `pathLen` events (time order, event_id tie-break) concatenate into
    * a path string, counted and ranked globally. One shuffle on user_id
    * for the window, a partial-agg'd path count, and a
    * TakeOrderedAndProject top-N — no global sort. The |paths| space is
    * bounded by |event types|^pathLen regardless of user count, so the
    * final rollup is driver-safe at any scale.
    */
  def topPaths(spark: SparkSession, sfDir: String, pathLen: Int = 3,
               topN: Int = 10): DataFrame = {
    require(pathLen >= 1 && topN >= 1, s"pathLen=$pathLen topN=$topN")
    val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    epochSec(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= pathLen)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("rn"), col("event_type")))).as("ps"))
      .select(concat_ws(">", expr("transform(ps, x -> x.event_type)")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path")).limit(topN)
  }

  /** qp5: hot-key skew profile — the diagnostic that decides salting /
    * AQE-skew strategy before a big shuffle. Per-key counts (one
    * partial-agg'd groupBy), then the top `topN` keys by count with
    * their share of total rows and skew ratio (count / mean count per
    * key). The global top-N goes through orderBy+limit — Spark plans
    * TakeOrderedAndProject (per-partition top-N, tiny driver merge),
    * never a full global sort; the totals are two scalar aggs that
    * broadcast back in.
    */
  def skewProfile(spark: SparkSession, sfDir: String, topN: Int = 10): DataFrame = {
    require(topN >= 1, s"topN=$topN")
    val counts = epochSec(spark, sfDir).groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
    counts.orderBy(col("cnt").desc, col("user_id")).limit(topN)
      .crossJoin(broadcast(totals))
      .select(col("user_id"), col("cnt"),
        Num.r4(col("cnt") / col("total")).as("pct"),
        Num.r4(col("cnt") * col("n_keys") / col("total")).as("skew"))
  }

  /** qe6: event-type transition matrix — per-user next-event bigrams
    * (time order, event_id tie-break) rolled up to global counts and a
    * per-source transition probability. The heavy pass is one window
    * per user (the natural partition axis — millions of independent
    * partitions at scale); the final agg lands on a |types|² table that
    * a driver or BI layer can hold regardless of input size.
    */
  def transitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    val steps = epochSec(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("tsec"), col("event_type").as("src"))
      .withColumn("dst", lead("src", 1).over(w))
      .filter(col("dst").isNotNull)
    steps.groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .withColumn("p", Num.r4(col("n") / sum("n").over(Window.partitionBy("src"))))
  }

  /** qe16: next-event prediction evaluation — qe6's transition model
    * taken to its USE: fit the per-source argmax next-event predictor
    * on the transitions completing before a time cut (70% of the span),
    * then score top-1 accuracy on the held-out transitions (the
    * train/serve shape of every next-action model behind a
    * recommendation surface; the Markov baseline is the standard
    * reference point, public).
    *
    * Scale shape: ONE per-user window pass derives the steps (qe6's
    * axis), the cut is a 2-scalar broadcast, the fitted model is a
    * ≤ |types|-row argmax (row_number over the |types|² count table —
    * BI-table sized regardless of input), and the eval is one hash agg
    * over the test steps with the model attached by an unhinted left
    * join (AQE picks broadcast or shuffle at run time). A source unseen
    * in training predicts NULL and scores 0 — reported, not dropped.
    */
  def nextEventEval(spark: SparkSession, sfDir: String,
                    frac: Double = 0.7): DataFrame = {
    require(frac > 0 && frac < 1, s"frac=$frac")
    val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    // checkpointed: the cut scalar, the model fit and the eval all read
    // the per-user window stage — one sort/window execution, not three
    val steps = epochSec(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("tsec"), col("event_type").as("src"))
      .withColumn("dst", lead("src", 1).over(w))
      .withColumn("dtsec", lead("tsec", 1).over(w))
      .filter(col("dst").isNotNull)
      .localCheckpoint(eager = false)
    val rng = steps.agg((min("tsec") +
      floor((max("tsec") - min("tsec")) * frac).cast("long")).as("tcut"))
    val st = steps.crossJoin(broadcast(rng))
    val model = st.filter(col("dtsec") < col("tcut"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("src").orderBy(col("n").desc, col("dst").asc)))
      .filter(col("rn") === 1)
      .select(col("src"), col("dst").as("pred_dst"))
    st.filter(col("dtsec") >= col("tcut"))
      .join(model, Seq("src"), "left")
      .groupBy("src", "pred_dst")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("dst") === col("pred_dst"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("src"), col("pred_dst"), col("n_test"), col("n_correct"),
        Num.r4(col("n_correct") / col("n_test")).as("acc"))
  }

  /** qp8: feature correlation matrix — Pearson correlation for every
    * pair of lineitem's numeric columns (the multicollinearity audit a
    * feature pipeline runs before training). Two passes in q39's
    * means → centered-sums shape: pass 1 exact quantized means, pass 2
    * ONE partial-agg'd scan accumulating all 4 centered squares + 6
    * centered cross-products as integer sums. Each centered value is
    * first multiplied by a per-column LITERAL scale that brings every
    * column to O(10) magnitude (corr is invariant to per-column linear
    * scaling, and the scales cancel exactly in Sxy/√(Sxx·Syy)): without
    * it, discount/tax products (~1e-3) quantize to zero while raw
    * extendedprice second moments would overflow int64 by sf1 —
    * centering + scaling keeps exact-integer headroom past sf100.
    * Zero-variance columns yield NULL, not a divide error. The result
    * is one 11-column row staked out to |pairs| rows — nothing but the
    * two scans touches data.
    */
  def corrMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val colScales = Seq("l_quantity" -> 1.0, "l_extendedprice" -> 0.001,
      "l_discount" -> 100.0, "l_tax" -> 100.0)
    val cols = colScales.map(_._1)
    val scale = colScales.toMap
    val li = Tables.lineitem(spark, sfDir).select(cols.map(col): _*)
    val means = li.agg(
      count(lit(1)).as("n"),
      cols.map(c => (Num.sumQ4(col(c)) / count(lit(1))).as(s"m_$c")): _*)
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    def ctr(c: String): Column = (col(c) - col(s"m_$c")) * scale(c)
    val sums = li.crossJoin(broadcast(means)).agg(
      max("n").as("n"),
      cols.map(c => sum(Num.q4(ctr(c) * ctr(c))).as(s"s_$c")) ++
        pairs.map { case (a, b) => sum(Num.q4(ctr(a) * ctr(b))).as(s"s_${a}_$b") }: _*)
    val stacked = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        when(col(s"s_$a") > 0 && col(s"s_$b") > 0,
          Num.r4(col(s"s_${a}_$b") /
            sqrt(col(s"s_$a").cast("double") * col(s"s_$b").cast("double"))))
          .as("corr"))
    }
    sums.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** qe11: cohort LTV curves — users grouped by signup cohort (the
    * week of their first event), revenue tracked by cohort age: the
    * lifetime-value complement of qe3's retention grid. Per
    * (cohort_week, age_weeks): active purchasers, period revenue and
    * the running cumulative revenue — the curve a growth team reads
    * horizontally. One user_id shuffle for first-events, one
    * co-partitioned join of purchases to their cohort, a
    * |cohorts×ages|-row rollup (map-side partials), and the running
    * window touches only that rollup — never the event stream. Revenue
    * accumulates as quantized int64 so the running sums are exact.
    */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val week = 604800L
    val ev = epochSec(spark, sfDir)
    val firsts = ev.groupBy("user_id")
      .agg(floor(min("tsec") / week).cast("long").as("cohort_week"))
    val sizes = firsts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .join(firsts, "user_id")
      .withColumn("age_weeks", (floor(col("tsec") / week).cast("long") - col("cohort_week")))
    val roll = purchases.groupBy("cohort_week", "age_weeks")
      .agg(countDistinct("user_id").as("n_active"),
        sum(Num.q4(col("value"))).as("rev_q4"))
    val w = Window.partitionBy("cohort_week").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, 0)
    roll.withColumn("cum_q4", sum("rev_q4").over(w))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("age_weeks"), col("cohort_size"), col("n_active"),
        Num.r4(col("rev_q4") / 10000d).as("revenue"),
        Num.r4(col("cum_q4") / 10000d).as("cum_revenue"))
  }

  /** qe12: Kaplan–Meier time-to-convert — the survival curve S(t) of
    * "signup → first purchase" with right-censoring at the corpus end
    * (users who never purchased are censored, NOT dropped — dropping
    * them is the classic conversion-rate bias). Day-granular product-
    * limit estimator: S(d) = Π_{i≤d} (1 − d_i/n_i), computed in
    * log-space with 1e-6 pre-sum quantization (a literal running
    * PRODUCT is neither associative-safe nor SQL-native; the quantized
    * log-sum is exact-integer and order-free). The heavy work is one
    * user_id rollup; the curve itself lives on a |days|-row table —
    * running windows never touch the event stream.
    */
  def survival(spark: SparkSession, sfDir: String): DataFrame = {
    val day = 86400L
    val ev = epochSec(spark, sfDir)
    val maxT = ev.agg(max("tsec").as("tmax"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tsec").as("s0"))
    val firstBuy = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsec").as("pt"))
    // left join keeps never-purchased users; purchases BEFORE signup
    // fall out via the conditional min (the user stays, censored)
    val gaps = signups.join(firstBuy, Seq("user_id"), "left")
      .groupBy("user_id", "s0").agg(min(when(col("pt") >= col("s0"), col("pt"))).as("p0"))
      .crossJoin(broadcast(maxT))
      .select(col("user_id"),
        when(col("p0").isNotNull, floor((col("p0") - col("s0")) / day).cast("long"))
          .otherwise(floor((col("tmax") - col("s0")) / day).cast("long")).as("d"),
        col("p0").isNotNull.cast("int").as("converted"))
    val byDay = gaps.groupBy("d")
      .agg(sum("converted").as("d_conv"),
        sum(lit(1) - col("converted")).as("d_cens"))
    // all three windows run over the |days|-row rollup only — the
    // single-partition global sort is |days| rows, not the event stream
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    val wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byDay
      .withColumn("n_risk", sum(col("d_conv") + col("d_cens")).over(wAll) -
        coalesce(sum(col("d_conv") + col("d_cens")).over(w), lit(0L)))
      // d_conv == n_risk means S hits exactly 0 (log undefined): carry a
      // "died out" flag through the cumulative window instead
      .withColumn("lq", when(col("d_conv") > 0 && col("d_conv") < col("n_risk"),
        Num.q6(log(lit(1.0) - col("d_conv") / col("n_risk")))).otherwise(0L))
      .withColumn("dead", max((col("d_conv") === col("n_risk")).cast("int")).over(wc))
      .withColumn("surv", when(col("dead") === 1, lit(0.0))
        .otherwise(Num.r4(exp(Num.fromQ6(sum("lq").over(wc))))))
      .select(col("d").as("day"), col("n_risk"), col("d_conv"), col("d_cens"), col("surv"))
  }

  /** qp9: equi-width histogram profiler — per numeric column, 16-bin
    * value histograms with bin bounds (the data-profiling / query-
    * optimizer-statistics staple next to qp1's summary and qp3's
    * quantiles). TWO scans total for ALL columns — a min/max pass and
    * ONE conditional-sum pass (|cols|×|bins| sums folded map-side into
    * a single row, then a stateless unpivot) — instead of an exploded
    * (row × cols) shuffle of the corpus: at 100 TB the only thing
    * crossing the wire is 2×|cols|×|bins| scalars. Values on the max
    * clamp into the last bin (the standard right-closed final bucket);
    * constant columns collapse to bin 0.
    */
  def histProfile(spark: SparkSession, sfDir: String, nBins: Int = 16): DataFrame = {
    require(nBins >= 1 && nBins <= 1000, s"nBins=$nBins")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(spark, sfDir).select(cols.map(col): _*)
    val statCols = cols.flatMap(c => Seq(min(c).as(s"mn_$c"), max(c).as(s"mx_$c")))
    val stats = li.agg(statCols.head, statCols.tail: _*)
    def binOf(c: String): Column = {
      val (mn, mx) = (col(s"mn_$c"), col(s"mx_$c"))
      when(mx === mn, 0).otherwise(
        least(floor((col(c) - mn) / (mx - mn) * nBins).cast("int"), lit(nBins - 1)))
    }
    // bins compute ONCE per column in a projection; the 4×nBins
    // conditional sums then compare a small int — without this every
    // aggregate re-embeds the (v−mn)/(mx−mn) division and the generated
    // aggregate class grows ~nBins× (compile time dominates at low SF,
    // per-row work at high SF)
    val countCols =
      cols.flatMap(c => Seq(max(s"mn_$c").as(s"mn_$c"), max(s"mx_$c").as(s"mx_$c"))) ++
        (for (c <- cols; b <- 0 until nBins)
          yield sum(when(col(s"bin_$c") === b, 1L).otherwise(0L)).as(s"h_${c}_$b"))
    val counts = li.crossJoin(broadcast(stats))
      .select(cols.flatMap(c =>
        Seq(col(s"mn_$c"), col(s"mx_$c"), binOf(c).as(s"bin_$c"))): _*)
      .agg(countCols.head, countCols.tail: _*)
    val stacked = for (c <- cols; b <- 0 until nBins) yield {
      val (mn, mx) = (col(s"mn_$c"), col(s"mx_$c"))
      struct(lit(c).as("column_name"), lit(b).as("bin"),
        Num.r4(mn + (mx - mn) * b / nBins).as("lo"),
        Num.r4(mn + (mx - mn) * (b + 1) / nBins).as("hi"),
        col(s"h_${c}_$b").as("n"))
    }
    counts.select(explode(array(stacked: _*)).as("p")).select("p.*")
      .filter(col("n") > 0)
  }

  /** qp10: numeric data-quality audit — per column: NULL / NaN / ±Inf /
    * zero / negative counts, the pre-ingest gate that catches broken
    * upstream encoders before they poison aggregates (NaN propagates
    * through a float sum silently; the test tables are clean, so the
    * pathology counters legitimately read 0 — the audit PROVES it).
    * ONE scan per table: all counters fold into a single conditional-agg
    * row (map-side partials) and unpivot statelessly, qp9's shape.
    */
  def qualityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def audit(table: String, df: DataFrame, cols: Seq[String]): DataFrame = {
      val aggs = cols.flatMap { c =>
        Seq(count(lit(1)).as(s"n_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
          sum(when(isnan(col(c)), 1L).otherwise(0L)).as(s"nan_$c"),
          sum(when(col(c) === Double.PositiveInfinity ||
            col(c) === Double.NegativeInfinity, 1L).otherwise(0L)).as(s"inf_$c"),
          sum(when(col(c) === 0.0, 1L).otherwise(0L)).as(s"zero_$c"),
          sum(when(col(c) < 0.0, 1L).otherwise(0L)).as(s"neg_$c"))
      }
      val one = df.select(cols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map(c => struct(lit(table).as("table_name"),
        lit(c).as("column_name"), col(s"n_$c").as("n"), col(s"null_$c").as("n_null"),
        col(s"nan_$c").as("n_nan"), col(s"inf_$c").as("n_inf"),
        col(s"zero_$c").as("n_zero"), col(s"neg_$c").as("n_neg")))
      one.select(explode(array(stacked: _*)).as("p")).select("p.*")
    }
    audit("lineitem", Tables.lineitem(spark, sfDir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .unionByName(audit("events", Tables.events(spark, sfDir), Seq("value")))
      .unionByName(audit("orders", Tables.orders(spark, sfDir), Seq("o_totalprice")))
  }

  /** qe8: SCD2 history build — each user's event stream becomes
    * slowly-changing-dimension type-2 validity intervals: a row is
    * valid from its timestamp until the user's next event, open-ended
    * (and flagged current) for the latest. The shape every warehouse
    * ETL materializes from a CDC log before point-in-time joins. One
    * per-user window pass — no joins, no second scan; (tsec, event_id)
    * ordering makes same-second changes deterministic.
    */
  def scd2(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    epochSec(spark, sfDir)
      .withColumn("valid_to", lead("tsec", 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("tsec").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).as("is_current"))
  }

  /** qe10: last-touch conversion attribution — for every purchase, the
    * most recent STRICTLY earlier marketing touch (click/view/signup)
    * within a lookback window gets the credit; no touch in window ⇒
    * 'direct'. The per-channel rollup (conversions, attributed revenue,
    * mean time-to-convert) is the marketing-ETL staple. Same
    * union-marker as-of machinery as [[asofJoin]] — one user_id shuffle,
    * one ordered window pass, touches deduped per (user, tsec) by max
    * event_id so the pick is deterministic across engines — then a
    * |channels|-row map-side-partial rollup. No range join, no per-row
    * probe: at 100 TB this is a single sort within user partitions.
    */
  /** qe13: audience overlap matrix — distinct-user set operations
    * (∩, ∪, Jaccard) for every event-type pair, the "how much do these
    * audiences overlap" readout behind retargeting/feature decisions.
    * The scalable shape is the user-bitmask rollup: ONE user_id shuffle
    * folds each user into a row of |types| 0/1 flags (map-side partial
    * max), then every pairwise count is a conditional sum in ONE global
    * aggregation over that |users|-row mask table — no per-pair
    * distinct jobs, no self-join of the raw stream (|types|² such
    * passes at 100 TB is the naive killer). Pairs unpivot statelessly
    * from the single wide row.
    */
  def audienceOverlap(spark: SparkSession, sfDir: String,
                      types: Seq[String] = Seq("click", "error", "purchase",
                        "signup", "view")): DataFrame = {
    require(types.nonEmpty && types == types.sorted && types.distinct == types,
      s"types must be sorted and distinct: $types")
    val raw = Tables.events(spark, sfDir)
    val maskAggs = types.map(t =>
      max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"b_$t"))
    val masks = raw.select(col("user_id"), col("event_type"))
      .groupBy("user_id").agg(maskAggs.head, maskAggs.tail: _*)
    val pairs = for { a <- types; b <- types if a < b } yield (a, b)
    val cntAggs =
      types.map(t => sum(col(s"b_$t")).as(s"n_$t")) ++
        pairs.map { case (a, b) =>
          sum(col(s"b_$a") * col(s"b_$b")).as(s"n_${a}_$b") }
    val wide = masks.agg(cntAggs.head, cntAggs.tail: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("type_a"), lit(b).as("type_b"),
        col(s"n_$a").as("n_a"), col(s"n_$b").as("n_b"),
        col(s"n_${a}_$b").as("n_both"))
    }
    wide.select(explode(array(rows: _*)).as("p"))
      .select(col("p.type_a"), col("p.type_b"), col("p.n_a"), col("p.n_b"),
        col("p.n_both"),
        (col("p.n_a") + col("p.n_b") - col("p.n_both")).as("n_either"))
      // zero guard: a pair of event types absent from the data has
      // n_either = 0 — emit null (DuckDB's double division would diverge)
      .withColumn("jaccard",
        when(col("n_either") =!= 0, Num.r4(col("n_both") / col("n_either"))))
  }

  def attribution(spark: SparkSession, sfDir: String, lookbackS: Long = 3600L): DataFrame = {
    require(lookbackS >= 1, s"lookbackS=$lookbackS")
    val ev = epochSec(spark, sfDir)
    val wT = Window.partitionBy("user_id", "tsec").orderBy(col("event_id").desc)
    val touches = ev.filter(col("event_type").isin("click", "view", "signup"))
      .withColumn("rn", row_number().over(wT)).filter(col("rn") === 1)
      .select(col("user_id"), col("tsec"), col("event_type").as("t_type"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "tsec", "value")
    val aM = conv.select(col("user_id"), col("tsec"), lit(0).as("mk"),
      col("event_id"), col("value"), lit(null).cast("string").as("t_type"),
      lit(null).cast("long").as("t_t"))
    val tM = touches.select(col("user_id"), col("tsec"), lit(1).as("mk"),
      lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
      col("t_type"), col("tsec").as("t_t"))
    val wU = Window.partitionBy("user_id").orderBy("tsec", "mk")
      .rowsBetween(Window.unboundedPreceding, 0)
    val attributed = aM.unionByName(tM)
      .withColumn("lt_type", last("t_type", ignoreNulls = true).over(wU))
      .withColumn("lt_t", last("t_t", ignoreNulls = true).over(wU))
      .filter(col("mk") === 0)
      .withColumn("hit", col("lt_t").isNotNull && col("tsec") - col("lt_t") <= lookbackS)
      .select(when(col("hit"), col("lt_type")).otherwise(lit("direct")).as("channel"),
        col("value"), when(col("hit"), col("tsec") - col("lt_t")).as("gap_s"))
    attributed.groupBy("channel")
      .agg(count(lit(1)).as("n_conv"),
        Num.r4(Num.sumQ4(col("value"))).as("revenue"),
        Num.r4(sum("gap_s") / count(lit(1))).as("avg_gap_s"))
  }

  /** qe9: RFM segmentation — the classic customer scoring: per customer
    * Recency (days since last order, vs the corpus max date), Frequency
    * (order count) and Monetary (total spend, quantized to the 1e-4
    * grid PRE-sum so the double aggregate is order-free), each scored
    * 1–5 by exact quintile boundaries. The boundaries come from
    * [[graft.util.Quantiles.exact]]'s distributed range-partition
    * selection (NOT ntile's global sort, NOT a single-group percentile
    * buffer — both are one-reducer scale-killers at 100 TB): 4 scalars
    * per dimension reach the driver and come back as plan LITERALS, so
    * scoring is a stateless codegen projection — no join, no window.
    * Recency is inverted (recent ⇒ 5) as RFM convention dictates.
    */
  def rfm(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"),
        Num.q4(col("o_totalprice")).as("price_q4"))
    val mx = o.agg(max("od").as("md"))
    val per = o.groupBy("o_custkey")
      .agg(max("od").as("last_d"), count(lit(1)).as("frequency"),
        sum("price_q4").as("mon_q4"))
      .crossJoin(broadcast(mx))
      .select(col("o_custkey"), datediff(col("md"), col("last_d")).as("recency_d"),
        col("frequency"), col("mon_q4"))
      .cache()
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    // the three dimensions' range-select chains are independent job
    // sequences over the same cached rollup — overlap them (guide §2.6;
    // r18: they ran serially, three full chain latencies end to end;
    // r19: under one cancellable job group, see util.Overlap)
    def bounds(c: String): () => Seq[Double] =
      () => graft.util.Quantiles.exact(per, c, qs).toSeq.sortBy(_._1).flatMap(_._2)
    def bucket(c: Column, bs: Seq[Double]): Column =
      bs.foldLeft(lit(1))((acc, b) => acc + when(c > lit(b), 1).otherwise(0))
    val Seq(rb, fb, mb) = graft.util.Overlap.all(spark, "qe9")(
      Seq(bounds("recency_d"), bounds("frequency"), bounds("mon_q4")))
    per.select(col("o_custkey"), col("recency_d"), col("frequency"),
        Num.r4(col("mon_q4") / 10000d).as("monetary"),
        (lit(6) - bucket(col("recency_d"), rb)).as("r_score"),
        bucket(col("frequency"), fb).as("f_score"),
        bucket(col("mon_q4"), mb).as("m_score"))
      .withColumn("rfm", col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }

  /** qp11: declarative data-quality EXPECTATION suite (Schelter et al.
    * VLDB 2018 "Automating Large-Scale Data Quality Verification" /
    * AWS Deequ, and Great Expectations — public): constraints-as-data
    * evaluated into a (check, metric, threshold, passed) scorecard —
    * the "unit tests for data" gate a pipeline runs before promoting a
    * snapshot. Three constraint classes, each in its cheapest plan:
    * row-level predicates (completeness, non-negativity, value range,
    * set membership, plus an intentionally strict quantity bound and a
    * sub-1.0 "mostly" threshold) fold into ONE conditional-agg scan of
    * lineitem; primary-key uniqueness is one exact distinct over the
    * key columns; referential integrity (lineitem→orders) is one
    * orderkey-shuffled left join counted as a hit fraction — the
    * orders side deliberately NOT broadcast (at 100 TB it is
    * data-scale; the equi-join shuffles both sides by the key).
    * Metrics are exact int64 count ratios; `passed` = metric ≥
    * threshold on the r4-quantized ratio in both engines.
    */
  /** qp11's row-level constraint catalog — ONE definition read by the
    * batch scorecard and the streaming gate (parity by construction).
    */
  val RowChecks: Seq[(String, Column, Double)] = Seq(
    ("complete_returnflag", col("l_returnflag").isNotNull, 1.0),
    ("nonnegative_quantity", col("l_quantity") >= 0, 1.0),
    ("range_discount", col("l_discount").between(0.0, 0.1), 1.0),
    ("members_returnflag", col("l_returnflag").isin("A", "N", "R"), 1.0),
    ("positive_price", col("l_extendedprice") > 0, 1.0),
    ("quantity_le_40", col("l_quantity") <= 40, 1.0),
    ("mostly_quantity_le_45", col("l_quantity") <= 45, 0.85))

  /** The row-level constraint evaluation over any lineitem-shaped
    * frame: one conditional-agg pass + a stateless unpivot. `grp` adds
    * grouping columns (the streaming twin groups by event-time window;
    * batch passes none).
    */
  private[graft] def rowCheckFrame(rows: DataFrame, grp: Seq[Column] = Nil): DataFrame = {
    val agg = (if (grp.isEmpty) rows.groupBy() else rows.groupBy(grp: _*))
      .agg(count(lit(1)).as("n"),
        RowChecks.map { case (nm, ind, _) =>
          sum(when(ind, 1L).otherwise(0L)).as(s"c_$nm")
        }: _*)
    val keep = agg.columns.filterNot(c => c == "n" || c.startsWith("c_")).map(col)
    agg.select(keep :+ explode(array(RowChecks.map { case (nm, _, thr) =>
      struct(lit(nm).as("check_name"),
        Num.r4(col(s"c_$nm") / col("n")).as("metric"),
        lit(thr).as("threshold"))
    }: _*)).as("c"): _*).select(keep :+ col("c.*"): _*)
  }

  def expectations(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val rowOut = rowCheckFrame(li)
    // distinct over a STRUCT of the key parts: struct(a, b) is non-null
    // even when a field is, so NULL-containing keys count — matching the
    // oracle's SELECT DISTINCT subquery (bare countDistinct(a, b) drops
    // any row with a NULL part and understates d cross-engine).
    val uniq = li
      .agg(count(lit(1)).as("n"),
        countDistinct(struct(col("l_orderkey"), col("l_linenumber"))).as("d"))
      .select(lit("unique_pk").as("check_name"),
        Num.r4(col("d") / col("n")).as("metric"), lit(1.0).as("threshold"))
    val ordKeys = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("k")).distinct().withColumn("hit", lit(1L))
    val refi = li.select(col("l_orderkey").as("k"))
      .join(ordKeys, Seq("k"), "left")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0L))).as("h"))
      .select(lit("ref_orders").as("check_name"),
        Num.r4(col("h") / col("n")).as("metric"), lit(1.0).as("threshold"))
    rowOut.unionByName(uniq).unionByName(refi)
      .withColumn("passed",
        when(col("metric") >= col("threshold"), 1L).otherwise(0L))
  }

  /** qe17: A/B experiment readout with CUPED variance reduction (Deng,
    * Xu, Kohavi & Walker, WSDM 2013 "Improving the Sensitivity of
    * Online Controlled Experiments" — the industry-standard
    * pre-experiment-covariate adjustment; public). Arms are the
    * deterministic user_id % 2 split; the experiment window is the back
    * half of the event time range, the covariate each user's
    * SAME-metric activity in the front half. Per event_type: user
    * counts per arm, raw difference-in-means, θ = cov(x,y)/var(x), the
    * CUPED-adjusted effect (ȳ₁−ȳ₀) − θ(x̄₁−x̄₀), and the variance
    * reduction (= pre/post correlation², the fraction of metric
    * variance the covariate removes).
    *
    * Numeric discipline = qp8's correlation machinery: per-event values
    * quantize to q4 int64 inside the per-user conditional sums (exact,
    * order-free); the pooled means are one double division of exact
    * ints, broadcast back; centered products re-quantize to q4 int64
    * before summing, so every cross-user reduction is exact integer
    * arithmetic and the few final divisions run on identical doubles in
    * both engines. Per-user centered magnitudes ~1e4 natural → q4
    * products ≤ ~1e12, int64 headroom past sf100.
    *
    * Plan shape: ONE (event_type, user) shuffle with map-side partials
    * builds the per-user frame (session-cached — read by the means pass
    * and the centered pass); both downstream aggs reduce to |types|
    * rows with partial agg (5 hot keys never materialize per-key
    * partitions: partials collapse map-side). The time midpoint is a
    * 1-row broadcast. Nothing user-scale crosses the driver.
    */
  def cuped(spark: SparkSession, sfDir: String): DataFrame =
    cupedFrom(epochSec(spark, sfDir),
      df => graft.util.StageCache.cached(spark, sfDir, "cupedUsers")(df))

  /** The qe17 core over any (user_id, event_type, tsec, value) frame —
    * separated so the spec can plant a perfect covariate (y ≡ x ⇒
    * θ = 1, variance reduction = 1, CUPED effect exactly 0). `cache`
    * wraps the twice-read per-user frame (production: StageCache).
    */
  private[graft] def cupedFrom(ev: DataFrame,
                               cache: DataFrame => DataFrame = identity): DataFrame = {
    val bounds = ev.agg(
      floor((min("tsec") + max("tsec")) / 2.0).cast("long").as("tmid"))
    val usr = cache(
      ev.crossJoin(broadcast(bounds))
        .groupBy("event_type", "user_id")
        .agg(
          sum(when(col("tsec") < col("tmid"), Num.q4(col("value"))).otherwise(0L)).as("xq"),
          sum(when(col("tsec") >= col("tmid"), Num.q4(col("value"))).otherwise(0L)).as("yq"))
        .withColumn("arm", (col("user_id") % 2).cast("int")))
    val m = usr.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      Num.meanQ4(sum("xq"), count(lit(1))).as("mx"),
      Num.meanQ4(sum("yq"), count(lit(1))).as("my"))
    val ctrX = col("xq") / 10000d - col("mx")
    val ctrY = col("yq") / 10000d - col("my")
    val s = usr.join(broadcast(m), "event_type")
      .groupBy("event_type")
      .agg(max("n").as("n"),
        sum(Num.q4(ctrX * ctrX)).as("sxx"), sum(Num.q4(ctrX * ctrY)).as("sxy"),
        sum(Num.q4(ctrY * ctrY)).as("syy"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("xq")).otherwise(0L)).as("x0q"),
        sum(when(col("arm") === 1, col("xq")).otherwise(0L)).as("x1q"),
        sum(when(col("arm") === 0, col("yq")).otherwise(0L)).as("y0q"),
        sum(when(col("arm") === 1, col("yq")).otherwise(0L)).as("y1q"))
    val n0 = col("n") - col("n1")
    val theta = when(col("sxx") > 0, col("sxy") / col("sxx").cast("double"))
    val dy = col("y1q") / 10000d / col("n1") - col("y0q") / 10000d / n0
    val dx = col("x1q") / 10000d / col("n1") - col("x0q") / 10000d / n0
    s.filter(col("n1") > 0 && n0 > 0)
      .select(col("event_type"), col("n"), col("n1"),
        Num.r4(dy).as("effect_raw"),
        Num.r4(dy - theta * dx).as("effect_cuped"),
        Num.r4(theta).as("theta"),
        // each int64 casts to double BEFORE multiplying: sxy² in long
        // arithmetic overflows past ~3e9 (the ints are exact ≤ 2^53, so
        // the double products are identical in both engines)
        // least(1, ·): sxy²/(sxx·syy) can exceed 1 by a few q4 ulps (the
        // centered products quantize before summing), and a reported
        // "fraction of variance removed" must stay in [0, 1] — same
        // clamp expression in the oracle.
        when(col("sxx") > 0 && col("syy") > 0,
          Num.r4(least(lit(1.0), col("sxy").cast("double") * col("sxy").cast("double") /
            (col("sxx").cast("double") * col("syy").cast("double")))))
          .as("var_reduction"))
  }
}
