package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Num, Tables}

/** Relational/analytics sanity queries — prove the engine's scan→agg→join
  * path is Catalyst-clean (pushdown, broadcast, whole-stage codegen).
  */
object Relational {

  /** TPC-H Q1-style pricing summary. Single scan + hash agg; partial
    * (map-side) aggregation makes this shuffle only |groups| rows.
    */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .groupBy("l_returnflag", "l_linestatus")
      // sums/avgs via per-element-quantized integer accumulation
      // (Num.sumQ4): order-independent, so deterministic across engines
      // and runs — raw float sums of this magnitude flip the 4th
      // decimal with accumulation order
      .agg(
        Num.r4(Num.sumQ4(col("l_quantity"))).as("sum_qty"),
        Num.r4(Num.sumQ4(col("l_extendedprice"))).as("sum_base_price"),
        Num.r4(Num.sumQ4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        Num.r4(Num.sumQ4(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge"),
        Num.r4(Num.sumQ4(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        Num.r4(Num.sumQ4(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        Num.r4(Num.sumQ4(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Star join: fact lineitem joined to small dims. Dims are broadcast —
    * no shuffle of the fact side; at 100 TB only the final group-by
    * shuffles |nations| rows per partition (map-side partial agg).
    */
  def revenueByNation(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, sfDir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, sfDir).select("r_regionkey", "r_name")
    li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(Num.r4(Num.sumQ4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"),
           count(lit(1)).as("n_items"))
  }

  /** qa4: ROLLUP aggregation — subtotal hierarchy in one pass (Catalyst
    * expands grouping sets; no per-level re-scan).
    */
  def revenueRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_linestatus", "l_extendedprice", "l_discount")
      .rollup("l_returnflag", "l_linestatus")
      .agg(Num.r4(Num.sumQ4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"),
           count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("revenue"), col("n"))

  /** qa5: semi-join — customers with any high-value order, counted per
    * segment (left_semi: no duplication, right side only probed).
    */
  def bigSpenderSegments(spark: SparkSession, sfDir: String, minPrice: Double = 100000.0): DataFrame = {
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
    val o = Tables.orders(spark, sfDir).filter(col("o_totalprice") > minPrice).select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
  }

  /** qa6: per-supplier running revenue over ship date — the ordered
    * analytic pattern (one shuffle on the partition key, in-partition
    * sort only).
    *
    * The window order ends in (l_extendedprice, l_discount) because
    * (ship_epoch, l_orderkey, l_linenumber) is NOT unique in the
    * synthetic lineitem (the sf1 soak found one supplier with two rows
    * tied on all three but ≠ revenue — a running sum over a non-total
    * order is engine-dependent at the tie). With the value columns in
    * the order, any two rows still tied are bit-identical, so their
    * relative order can no longer change any running sum.
    */
  def runningRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey").orderBy(col("ship_epoch"),
      col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"),
        col("l_shipdate").cast("timestamp").cast("long").as("ship_epoch"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .withColumn("running_rev", Num.r4(sum("rev").over(
        w.rowsBetween(Window.unboundedPreceding, 0))))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "ship_epoch", "running_rev")
  }

  /** qa7: anti-join — parts never ordered (NOT EXISTS; left_anti streams
    * the big side against a broadcast probe set).
    */
  def partsNeverOrdered(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir).select("p_partkey", "p_brand")
    val li = Tables.lineitem(spark, sfDir).select("l_partkey")
    p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
      .groupBy("p_brand").agg(count(lit(1)).as("n_unsold"))
  }

  /** qa12: pivot — long→wide reshape: events per (type, 4-hour slot)
    * as columns. Spark's pivot with an explicit value list stays a
    * single hash aggregation (no second pass to discover columns).
    */
  def eventPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.events(spark, sfDir)
    val sec = graft.util.Ts.sec(raw)
    val slots = 0 until 6
    // floor-only integer math: DuckDB CAST(double→int) rounds while
    // Spark truncates, so every division goes through floor() first
    val wide = raw.select(col("event_type"),
        floor(floor(sec / 3600L) % 24L / 4L).cast("int").as("slot"))
      .groupBy("event_type")
      .pivot("slot", slots)
      .agg(count(lit(1)))
    wide.select(col("event_type") +: slots.map(s =>
      coalesce(col(s.toString), lit(0L)).as(s"h$s")): _*)
  }

  /** qa10: deterministic stratified sampling — hash-bernoulli selection
    * (md5(doc_id) % mod == 0) per language stratum, reported as
    * sampled/total counts per stratum. The train/eval-split primitive:
    * reproducible on any cluster, no rand(), map-side only.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String, mod: Int = 10): DataFrame = {
    val picked = graft.text.TextCore.strHash(col("doc_id").cast("string")) % mod === 0
    Tables.documents(spark, sfDir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(picked, 1).otherwise(0)).as("n_sampled"))
  }

  /** qa13: mixture sampling — rebalance a corpus toward target mixture
    * weights per group (the training-data "data mixture" build: so much
    * en, so much code, so much fr…). Two tiny passes over metadata plus
    * one filter over the data:
    *   1. per-group counts (map-side partial agg, |groups| rows);
    *   2. the feasible total = min over groups of n_total/weight — the
    *      largest corpus honoring every weight without oversampling;
    *   3. per-group keep threshold in basis points, applied as a
    *      deterministic hash-bernoulli filter (same md5 family as qa10,
    *      so resamples are stable across runs and engines).
    * The counts/threshold table is |groups| rows → broadcast; the data
    * pass is a stateless filter — embarrassingly parallel at 100 TB.
    * Output is the per-group audit (totals, target, threshold, kept).
    * A weighted group absent from the corpus makes the whole mixture
    * infeasible (n_units = 0 → every target 0) and still appears in the
    * audit with n_total = 0 rather than silently dropping out.
    */
  def mixtureSample(spark: SparkSession, sfDir: String,
                    weights: Seq[(String, Int)] = Seq("en" -> 1, "fr" -> 1, "es" -> 1, "de" -> 1, "zh" -> 1)): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val counts = weights.toDF("lang", "wi")
      .join(docs.groupBy("lang").agg(count(lit(1)).as("n_total")), Seq("lang"), "left")
      .withColumn("n_total", coalesce(col("n_total"), lit(0L)))
    // feasible units: min over groups of floor(n_total / weight); every
    // group's target = units * weight. Integer arithmetic end to end.
    val units = counts.agg(min(floor(col("n_total") / col("wi"))).cast("long").as("n_units"))
    val thr = counts.crossJoin(broadcast(units))
      .withColumn("n_target", (col("n_units") * col("wi")).cast("long"))
      .withColumn("thr_bp", when(col("n_total") === 0L, 0L)
        .otherwise(floor(col("n_target") * lit(10000.0) / col("n_total"))).cast("long"))
      .select("lang", "n_total", "n_target", "thr_bp")
    val hb = graft.text.TextCore.strHash(col("doc_id").cast("string")) % 10000
    val kept = docs.join(broadcast(thr.select("lang", "thr_bp")), "lang")
      .groupBy("lang")
      .agg(sum(when(hb < col("thr_bp"), 1L).otherwise(0L)).as("n_kept"))
    thr.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_total"), col("n_target"), col("thr_bp"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** qa14: incremental aggregation — the production ETL shape where the
    * corpus is aggregated ONCE into persisted per-key state and each
    * day's delta is aggregated alone and MERGED in, so the 100 TB
    * history is never rescanned. Requires the state to be algebraic
    * (count/sum partials; avg derived from merged sums at read time) —
    * demonstrated here by splitting lineitem into base (l_orderkey%10≠0)
    * and delta, aggregating each independently, and merging: integer
    * 1e-4-grid accumulators make merge(base, delta) BIT-IDENTICAL to
    * the single-pass aggregate, which is exactly what the one-shot
    * DuckDB oracle checks. The merge shuffles |keys| state rows, not
    * data rows.
    */
  def incrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(
      col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
      Num.q4(col("l_quantity")).as("q4"),
      Num.q4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("p4"))
    def state(df: DataFrame): DataFrame =
      df.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("q4").as("sq4"), sum("p4").as("sp4"))
    state(li.filter(col("l_orderkey") % 10 =!= 0))
      .unionByName(state(li.filter(col("l_orderkey") % 10 === 0)))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("n").as("n_rows"), sum("sq4").as("msq4"), sum("sp4").as("msp4"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
        (col("msq4") / 10000d).as("sum_qty"),
        (col("msp4") / 10000d).as("revenue"),
        Num.r4(col("msq4") / 10000d / col("n_rows")).as("avg_qty"))
  }

  /** The shared salted two-phase aggregation kernel — the skew-safe
    * form of a grouped agg when a handful of hot keys would overload
    * single reducers: phase 1 partial-aggregates on (key, salt),
    * spreading each hot key over `salts` reducers, phase 2 combines
    * the partials on the key alone. Integer measures keep the
    * two-phase sum bit-exact vs the plain one-phase oracle. One
    * definition serves both registrations: qa11 on the driver's
    * uniform events and qz24 on the committed zipf facts, where the
    * mega-order (~13% of all lineitem rows on ONE key) is the shape
    * this kernel exists for (VERDICT r17 "next #1" — on uniform keys
    * the two phases are structurally identical).
    */
  private[analytics] def saltedTwoPhase(df: DataFrame, key: String, salt: Column,
      measure: Column, nName: String, sName: String): DataFrame =
    df.select(col(key), salt.as("salt"), measure.as("fv"))
      .groupBy(key, "salt")
      .agg(count(lit(1)).as("pn"), sum("fv").as("ps"))
      .groupBy(key)
      .agg(sum("pn").as(nName), sum("ps").as(sName))

  /** qa11: salted two-phase agg over events (uniform-key base gate). */
  def saltedAgg(spark: SparkSession, sfDir: String, salts: Int = 8): DataFrame =
    saltedTwoPhase(Tables.events(spark, sfDir), "event_type",
      pmod(col("event_id"), lit(salts)), floor(col("value")).cast("long"),
      "n_events", "sum_floor_v")

  /** qz24: the SAME kernel over the zipf lineitem keyed by l_orderkey —
    * the mega-order's rows spread across `salts` phase-1 reducers
    * (l_partkey varies freely within an order, so pmod(l_partkey, s)
    * salts evenly), phase 2 combines |orders|·salts partials. This is
    * the registration where salting is LIVE: the hot key's group is
    * ~2000× the median group.
    */
  def saltedLineAgg(spark: SparkSession, sfDir: String, salts: Int = 8): DataFrame =
    saltedTwoPhase(Tables.lineitem(spark, sfDir), "l_orderkey",
      pmod(col("l_partkey"), lit(salts)), floor(col("l_quantity")).cast("long"),
      "n_items", "sum_qty")

  /** qa9: CUBE — all 2^k subtotal combinations in one pass (vs qa4's
    * ROLLUP hierarchy); grouping-set expansion happens map-side, so the
    * shuffle carries one partial row per (set, key), not k data passes.
    */
  def revenueCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(Num.r4(Num.sumQ4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("revenue"), col("n"))

  /** qa8: latest-row-per-key compaction (CDC/upsert dedup): keep each
    * user's most recent event (ties → max event_id). One shuffle on the
    * key; at 100 TB this is the snapshot-from-changelog primitive.
    */
  def latestRow(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.events(spark, sfDir)
    val sec = graft.util.Ts.sec(raw)
    val ev = raw.select(col("user_id"), col("event_id"), sec.as("tsec"),
      col("event_type"), col("value"))
    val w = Window.partitionBy("user_id").orderBy(col("tsec").desc, col("event_id").desc)
    ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("tsec"), col("event_type"),
        Num.r4(col("value")).as("value"))
  }

  /** Top-N per group via rank window — the standard scalable pattern
    * (shuffle once on the partition key, no global sort).
    */
  /** The bit-interleave sum for a (bits+bits)-bit Z-order value —
    * shared between the Spark plan and the DuckDB oracle so the term
    * order can never diverge. Disjoint bit positions, so `+` ≡ `|`.
    */
  private[graft] def zInterleave(a: String, b: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i + 1}) + ((($b >> $i) & 1) << ${2 * i})")
      .mkString(" + ")

  /** qa15: Z-order (Morton) layout keys + per-cell locality stats — the
    * OPTIMIZE ZORDER BY shape (public: Morton 1966; Delta/Iceberg data
    * layout). Each key is min-max bucketized to `bits` bits (bounds are
    * two broadcast scalars), the buckets bit-interleave into z, and
    * cells (z >> cellShift) play the role of target files: because the
    * top cell bits alternate between the two keys, every cell spans at
    * most 2^(bits - cellShift/2) buckets of EACH key — the per-file
    * min/max stats this query emits prune scans on BOTH predicate
    * columns. At 100 TB the layout write is
    * repartitionByRange(z).sortWithinPartitions(z): one range shuffle,
    * map-side z computation, no global sort barrier beyond range
    * boundaries.
    */
  def zorderLayout(spark: SparkSession, sfDir: String, bits: Int = 10,
                   cellShift: Int = 8): DataFrame = {
    require(bits >= 1 && bits <= 20, s"bits=$bits: 2*bits interleaved bits must fit a long with headroom")
    require(cellShift >= 0 && cellShift <= 2 * bits, s"cellShift=$cellShift")
    val li = Tables.lineitem(spark, sfDir).select("l_partkey", "l_suppkey")
    val bounds = li.agg(
      min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
      min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
    li.crossJoin(broadcast(bounds))
      .withColumn("pb", expr(s"((l_partkey - pmin) * ${1L << bits}) div (pmax - pmin + 1)"))
      .withColumn("sb", expr(s"((l_suppkey - smin) * ${1L << bits}) div (smax - smin + 1)"))
      .withColumn("zcell", expr(s"(${zInterleave("pb", "sb", bits)}) >> $cellShift"))
      .groupBy("zcell")
      .agg(count(lit(1)).as("n_rows"),
        min("l_partkey").as("p_min"), max("l_partkey").as("p_max"),
        min("l_suppkey").as("s_min"), max("l_suppkey").as("s_max"))
  }

  /** qa15's DuckDB oracle — same bucketization and interleave string. */
  private[graft] def zorderOracle(bits: Int = 10, cellShift: Int = 8): String = s"""
WITH b AS (
  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
         min(l_suppkey) AS smin, max(l_suppkey) AS smax
  FROM lineitem
), zt AS (
  SELECT ((l_partkey - pmin) * ${1L << bits}) // (pmax - pmin + 1) AS pb,
         ((l_suppkey - smin) * ${1L << bits}) // (smax - smin + 1) AS sb,
         l_partkey, l_suppkey
  FROM lineitem, b
)
SELECT (${zInterleave("pb", "sb", bits)}) >> $cellShift AS zcell,
       count(*) AS n_rows,
       min(l_partkey) AS p_min, max(l_partkey) AS p_max,
       min(l_suppkey) AS s_min, max(l_suppkey) AS s_max
FROM zt GROUP BY 1"""

  /** qa16: MERGE INTO (upsert) snapshot semantics — the lakehouse ETL
    * staple Spark SQL lacks natively (Delta/Iceberg add it): a base
    * snapshot full-outer-joined with a change batch of
    * update/delete ops; delta wins on match, 'D' removes, unmatched
    * delta rows insert, unmatched base rows carry over. Both sides are
    * deterministic hash-slices of `orders` (base = keys % 7 != 0;
    * delta = keys % 3 == 0 with % 9 == 0 as deletes), so the merge
    * exercises every MERGE branch including the no-op delete (a 'D' for
    * a key not in base). One co-partitioned shuffle join on the key; at
    * 100 TB the base side is the bucketed table (sources.Ingest
    * .writeBucketed) so only the (much smaller) delta shuffles —
    * full-outer SMJ over pre-sorted buckets, no base-side exchange.
    */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val base = o.filter(col("o_orderkey") % 7 =!= 0)
    val delta = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("d_orderkey"), col("o_custkey").as("d_custkey"),
        when(col("o_orderkey") % 9 === 0, lit("D")).otherwise(lit("U")).as("op"),
        Num.r4(col("o_totalprice") * 1.05d).as("d_price"))
    base.join(delta, col("o_orderkey") === col("d_orderkey"), "full_outer")
      // NULL-safe: base-only rows have op = NULL and must survive
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("o_orderkey"), col("d_orderkey")).as("orderkey"),
        coalesce(col("o_custkey"), col("d_custkey")).as("custkey"),
        when(col("op") === "U", col("d_price")).otherwise(Num.r4(col("o_totalprice"))).as("price"),
        when(col("op") === "U", lit("R")).otherwise(col("o_orderstatus")).as("status"),
        when(col("o_orderkey").isNull, lit("insert"))
          .when(col("op") === "U", lit("update"))
          .otherwise(lit("keep")).as("action"))
  }

  /** qa17: custom aggregation lattice via GROUPING SETS — the
    * in-between of qa4's ROLLUP and qa9's CUBE (exactly the grouping
    * combinations a report needs, no more), and deliberately issued
    * through the `spark.sql` front door over a registered view: the
    * SQL surface compiles to the IDENTICAL Catalyst Expand + partial
    * agg plan as the DataFrame API, so a SQL-first user of this
    * library gets the same 100 TB properties (one scan, map-side
    * partials, |sets|×|groups| rows shuffled).
    */
  def groupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_linestatus", "l_extendedprice", "l_discount")
      .createOrReplaceTempView("lineitem_gs")
    spark.sql(s"""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             ${Num.r4expr(Num.sumQ4expr("l_extendedprice * (1.0D - l_discount)"))} AS revenue,
             count(*) AS n
      FROM lineitem_gs
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")
  }

  def topCustomersPerSegment(spark: SparkSession, sfDir: String, topN: Int = 3): DataFrame = {
    val o = Tables.orders(spark, sfDir).select("o_custkey", "o_totalprice")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_name", "c_mktsegment")
    val spend = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment", "c_custkey", "c_name")
      // deterministic sum: the rank below orders by this value, so an
      // order-dependent float sum would make the WHOLE row set unstable
      .agg(Num.r4(Num.sumQ4(col("o_totalprice"))).as("total_spend"))
    val w = Window.partitionBy("c_mktsegment").orderBy(col("total_spend").desc, col("c_custkey"))
    spend.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topN)
      .select("c_mktsegment", "rnk", "c_custkey", "c_name", "total_spend")
  }
}
