package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables
import graft.functions.GraftFunctions._

/** Core relational operator surface (SURVEY.md §2 D). These generalize
  * the SQL shapes the reference uses (joins, windows, aggregation) into
  * the standard analytic patterns a warehouse on this schema needs.
  * Exact-integer money rules per SURVEY.md §5.
  */
object RelationalQueries {

  /** D4 — top-N per group via row_number (deterministic tie-break on key). */
  def windowTopN(s: SparkSession, d: String, n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("tp_cents").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        cents(col("o_totalprice")).as("tp_cents"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= n)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** D5 — running sum per partition (ROWS UNBOUNDED PRECEDING). */
  def windowRunning(s: SparkSession, d: String): DataFrame = {
    // qty is the last tie-break because (l_orderkey, l_linenumber) is
    // NOT unique in the generated data (sf0.1 carries duplicate rows):
    // without it the frame order over tied rows is engine-arbitrary
    // and the PREFIX sums swap even though the totals agree. With it,
    // the order is total up to rows identical in every column, whose
    // prefix sums are permutation-invariant.
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("qty"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity").cast(LongType).as("qty"))
      .withColumn("running_qty", sum(col("qty")).over(w))
      .drop("qty", "l_shipdate")
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** D2 — TPC-H Q3 shape: selective filters, 3-way join, agg, top-N.
    * customer is broadcast; orders⋈lineitem shuffles on orderkey once. */
  def q3Join(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
          .as("rev_cp"))
    ord.join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(li, ord("o_orderkey") === li("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(col("rev_cp")).as("revenue_cp"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("revenue_cp"))
      .orderBy(col("revenue_cp").desc, col("o_orderkey"))
      .limit(10)
  }

  /** D3 — TPC-H Q5 shape: 5-way join, all dims broadcast, single fact
    * shuffle on orderkey. */
  def q5Join5(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
      .select(col("r_regionkey"))
    val nation = Tables.nation(s, d).select(
      col("n_nationkey"), col("n_regionkey"), col("n_name"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_suppkey"),
      (cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
        .as("rev_cp"))
    val asiaNations = nation.join(broadcast(region),
      nation("n_regionkey") === region("r_regionkey"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(asiaNations),
        supp("s_nationkey") === col("n_nationkey") &&
        cust("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_cp")).as("revenue_cp"))
      .orderBy(col("revenue_cp").desc, col("n_name"))
  }

  /** D6 — semi + anti join: customers with an open-priority order but no
    * 'F' order (EXISTS ∧ NOT EXISTS). */
  def semiAnti(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val finished = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    cust
      .join(urgent, cust("c_custkey") === urgent("o_custkey"), "left_semi")
      .join(finished, cust("c_custkey") === finished("o_custkey"), "left_anti")
      .orderBy(col("c_custkey"))
  }

  /** D7 — set ops on part-key domains reached via different facts. */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val sold = Tables.lineitem(s, d).select(col("l_partkey").as("partkey")).distinct()
    val small = Tables.part(s, d).filter(col("p_size") <= 10)
      .select(col("p_partkey").as("partkey"))
    val large = Tables.part(s, d).filter(col("p_size") >= 40)
      .select(col("p_partkey").as("partkey"))
    val both = sold.intersect(small.unionByName(large))
    val never = small.except(sold)
    both.withColumn("tag", lit("sold_extreme"))
      .unionByName(never.withColumn("tag", lit("small_unsold")))
      .orderBy(col("tag"), col("partkey"))
  }

  /** D24 — CUBE: all grouping-set combinations (adds the per-linestatus
    * margins ROLLUP omits). */
  def cube(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_extendedprice")).as("price_cents"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("price_cents")).as("sum_price_cents"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** D8 — ROLLUP over (returnflag, linestatus) with exact money. */
  def rollup(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_extendedprice")).as("price_cents"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("price_cents")).as("sum_price_cents"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** D9 — exact distinct + conditional aggregation (FILTER/CASE). */
  def distinctCond(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        sum(when(col("o_orderstatus") === "O",
          cents(col("o_totalprice"))).otherwise(0L)).as("open_cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** D40 — equi-width histogram with data-derived bounds, pure integer
    * bin math: bin = (v−min)·nBins div (max−min+1) ∈ [0, nBins), exact
    * in BIGINT so bucket edges are bit-identical cross-engine (float
    * widths would put edge values in different buckets per engine).
    * Scale: the bounds row is one scalar aggregate broadcast into a
    * map-side bin tag; the histogram itself is one (type, bin) shuffle
    * with map-side partial aggregation — corpus-sized work is a single
    * scan. */
  def histogram(s: SparkSession, d: String, nBins: Int = 10): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), cents(col("value")).as("v"))
    val bounds = ev.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("bin",
        expr(s"((v - mn) * $nBins) div (mx - mn + 1)"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("lo_cents"), max(col("v")).as("hi_cents"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** D41 — EQUI-DEPTH histogram (the optimizer-statistics companion of
    * D40's equi-width form): buckets hold ~equal row counts, so bucket
    * boundaries are the value quantiles. Built WITHOUT a global row
    * sort: values contract to a (value, count) distribution first —
    * bounded by the value DOMAIN (cents here), not the row count — a
    * running sum over that contracted frame positions each distinct
    * value, and the bucket is `(rows_before · nb) div n_rows`, a pure
    * integer formula. Tied values land in ONE bucket by construction
    * (ntile would split them nondeterministically across a boundary —
    * exactly why it has no cross-engine hash), so bucket sizes deviate
    * from n/nb only by tie mass. The window runs over distinct values
    * only; at 100 TB the contraction is the same count-of-counts trick
    * as B12's profiler. */
  def histogramDepth(s: SparkSession, d: String, nBuckets: Int = 8): DataFrame = {
    val vals = Tables.events(s, d)
      .select(cents(col("value")).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("nv"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = vals.agg(sum(col("nv")).as("n_rows"))
    vals
      .withColumn("cum", sum(col("nv")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"((cum - nv) * $nBuckets) div n_rows"))
      .groupBy(col("bucket"))
      .agg(sum(col("nv")).as("n"),
        min(col("v")).as("lo_cents"), max(col("v")).as("hi_cents"))
      .orderBy(col("bucket"))
  }

  /** D43 — EXACT trailing-window distinct count (distinct users in the
    * last `windowDays` days, per day): distinct counts do NOT compose
    * across window frames, so the window-function route is semantically
    * unavailable. The scalable exact shape: contract to distinct
    * (user, day) rows, explode each into the ≤`windowDays` window-ends
    * it covers (bounded fan-out — a constant ×7, not data-dependent),
    * and count distinct users per window end. Two keyed shuffles, both
    * over the (user, day) contraction — orders below the event count. */
  def slidingDistinctUsers(s: SparkSession, d: String,
                           windowDays: Int = 7): DataFrame = {
    val ud = Tables.events(s, d)
      .select(expr("ts_us div 86400000000").as("day"), col("user_id"))
      .distinct()
    val bounds = ud.agg(max(col("day")).as("dmax"))
    ud.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("day"),
          least(col("day") + (windowDays - 1), col("dmax"))))
          .as("window_day"))
      .groupBy(col("window_day"))
      .agg(countDistinct(col("user_id")).as("n_active_users"))
      .orderBy(col("window_day"))
  }

  /** D46 — exact winsorization (percentile clipping), the standard
    * feature-prep step before moment-based stats: per group, clip
    * values to the discrete [p_lo, p_hi] quantiles. Thresholds come
    * from the count-of-counts contraction (B12's trick, here per
    * group): the quantile window runs over DISTINCT (group, value)
    * rows, the tiny threshold table broadcasts, and the clip itself is
    * a map — no global sort, no second corpus shuffle. Discrete
    * quantile = smallest v with cum ≥ ⌈p·n⌉, pure integer ceilings. */
  def winsorize(s: SparkSession, d: String,
                loNum: Int = 5, hiNum: Int = 95, den: Int = 100): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), cents(col("value")).as("v"))
    val cc = ev.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cc.withColumn("cum", sum(col("nv")).over(w))
      .join(cc.groupBy(col("event_type")).agg(sum(col("nv")).as("n")),
        Seq("event_type"))
    def thresh(name: String, num: Int): DataFrame = cum
      .filter(col("cum") >= expr(s"($num * n + ${den - 1}) div $den"))
      .groupBy(col("event_type")).agg(min(col("v")).as(name))
    ev
      .join(broadcast(thresh("lo_cents", loNum)), Seq("event_type"))
      .join(broadcast(thresh("hi_cents", hiNum)), Seq("event_type"))
      .withColumn("wv", least(greatest(col("v"), col("lo_cents")), col("hi_cents")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("lo_cents")).as("lo_cents"), min(col("hi_cents")).as("hi_cents"),
        sum(when(col("v") < col("lo_cents"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("hi_cents"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(col("v")).as("sum_raw_cents"),
        sum(col("wv")).as("sum_wins_cents"))
      .orderBy(col("event_type"))
  }

  /** D49 — exact MODE per group (most frequent value, ties to the
    * smallest): the SQL MODE() aggregate, done scale-first. The
    * count-of-counts contraction again: one (group, value) aggregation
    * (map-side combined), then a frontier pick over DISTINCT values
    * only — never a per-group sort of raw rows, and the tie rule makes
    * the answer engine-independent (MODE() itself is tie-arbitrary,
    * which is why the twin spells out the same window). */
  def modePerGroup(s: SparkSession, d: String): DataFrame = {
    val cc = Tables.events(s, d)
      .select(col("event_type"), cents(col("value")).as("v"))
      .groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("nv").desc, col("v"))
    cc.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("v").as("mode_cents"),
        col("nv").as("n_occurrences"))
      .orderBy(col("event_type"))
  }

  /** B19 — erasure propagation (the GDPR right-to-be-forgotten
    * pass): drop every row belonging to an erase-set of users and
    * report the per-type survivor/erased accounting. The erase set is
    * DATA-DERIVED and must never collect to the driver: a left_anti
    * join against its distinct keys (broadcast when small, shuffle
    * otherwise — Catalyst's call), the same plan at 10^3 or 10^9
    * keys. Deterministic demo predicate: user_id % 97 = 0. */
  def erasure(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
    val eraseKeys = ev.filter(col("user_id") % 97 === 0)
      .select(col("user_id")).distinct()
    val surviving = ev.join(eraseKeys, Seq("user_id"), "left_anti")
    surviving.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_surviving"),
        countDistinct(col("user_id")).as("n_users_surviving"))
      .join(ev.filter(col("user_id") % 97 === 0)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_erased")),
        Seq("event_type"), "left")
      .select(col("event_type"), col("n_surviving"),
        col("n_users_surviving"), coalesce(col("n_erased"), lit(0L)).as("n_erased"))
      .orderBy(col("event_type"))
  }

  /** D48 — exact 2-D skyline (Pareto frontier): customers not
    * dominated on (total spend, order count) — dominated = another
    * point ≥ on both dimensions and > on at least one. The
    * multi-objective "best customers" query (and the operator family
    * behind Pareto-optimal model/data selection).
    *
    * The naive form is a quadratic dominance self-join (the DuckDB
    * oracle IS that form, so the hash check proves exactness). In 2-D
    * the frontier admits a sort contraction: scan by spend DESC and a
    * point survives iff no strictly-higher-spend point has count ≥ it
    * (a running max — one RANGE window) and no equal-spend point beats
    * its count (a per-spend max). But a single global window is a
    * one-reducer sort — the hazard, not the design. So: divide &
    * conquer (the standard distributed skyline): pass 1 runs the
    * window logic WITHIN each partition (hash-parallel, drops
    * everything locally dominated — random 2-D data keeps ~log n of n
    * per partition), pass 2 runs the same logic globally over the
    * tiny union of local frontiers. Local dominance implies global
    * dominance, so pass 1 never drops a frontier point. */
  def skyline(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("spend_cents"),
        count(lit(1)).as("n_orders"))
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        Seq("o_custkey"))

    def frontier(df: DataFrame, part: Seq[String]): DataFrame = {
      val wGt = Window.partitionBy(part.map(col): _*)
        .orderBy(col("spend_cents").desc)
        .rangeBetween(Window.unboundedPreceding, -1) // strictly greater spend
      val wEq = Window.partitionBy((part :+ "spend_cents").map(col): _*)
      df.withColumn("max_gt", max(col("n_orders")).over(wGt))
        .withColumn("max_eq", max(col("n_orders")).over(wEq))
        .filter((col("max_gt").isNull || col("max_gt") < col("n_orders")) &&
          col("n_orders") === col("max_eq"))
        .drop("max_gt", "max_eq")
    }

    // Frontier PER NATION (grouped skylines — "best customers per
    // market"); the local pass is further split by physical partition,
    // the global pass only by the group key, over local survivors.
    val local = frontier(
      pts.withColumn("pid", spark_partition_id()),
      Seq("pid", "c_nationkey")).drop("pid")
    frontier(local, Seq("c_nationkey"))
      .select(col("c_nationkey"), col("o_custkey"),
        col("spend_cents"), col("n_orders"))
      .orderBy(col("c_nationkey"), col("o_custkey"))
  }

  /** B1 — staging→DWH projection/rename (data_to_db.py:31-83 shape). */
  def etlRename(s: SparkSession, d: String): DataFrame =
    graft.etl.ColumnMapping.apply(
      Tables.orders(s, d),
      Seq(
        "o_orderkey" -> "account_num",
        "o_custkey" -> "client",
        "o_orderdate" -> "create_dt",
        "o_totalprice" -> "balance"))
      .withColumn("create_dt", date_format(col("create_dt"), "yyyy-MM-dd"))
      .orderBy(col("account_num"))
}
