package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics operators (SURVEY.md §2 D31–D33): time-weighted
  * averages, ordered funnels, cohort retention. All exact-integer
  * arithmetic (µs timestamps, cent values, epoch-relative week indexes)
  * so the DuckDB twins are hash-identical.
  *
  * Shuffle inventory: every operator shuffles the event stream once on
  * `user_id` (window or aggregation) and then works on user-sized
  * frames; at 100 TB the user-keyed exchanges dominate and nothing else
  * touches the raw stream twice.
  */
object Analytics {

  /** D57 — per-key integer EWMA (α = 1/2): the behavioral-baseline
    * feature behind "is this amount unusual for THIS user" fraud
    * checks — s ← (x + s) div 2 folded over the user's transactions in
    * time order, warming from 0 (documented; after ~40 observations
    * the init bit is fully decayed). The recurrence is inherently
    * sequential, so it runs as a per-key LEFT FOLD over the collected
    * value list: Spark's `aggregate` HOF and DuckDB's `list_reduce`
    * execute the IDENTICAL floor-division fold over the IDENTICAL
    * totally-ordered list ((ts, id) tie-break), making the smoothed
    * value hash-exact — no recursive window needed in either engine.
    *
    * Scale: one user-keyed shuffle; per-key state is the user's own
    * event list (bounded by per-user activity, same contract as D45's
    * collection ops — cap or bucket hyperactive keys upstream).
    * Values must be non-negative (shift first otherwise): on negatives
    * Spark's `div` truncates toward zero while DuckDB's `//` floors —
    * the H5 divergence, dodged the same way. */
  def ewmaBaseline(events: DataFrame, key: String = "user_id",
                   ts: String = "ts_us", id: String = "event_id",
                   v: String = "amt_cents"): DataFrame =
    events
      .groupBy(col(key))
      .agg(sort_array(collect_list(
        struct(col(ts), col(id), col(v).as("v")))).as("xs"))
      .select(col(key), size(col("xs")).cast("long").as("n_txn"),
        expr("aggregate(transform(xs, e -> e.v), CAST(0 AS BIGINT), " +
          "(acc, x) -> (acc + x) div 2)").as("ewma_cents"))
      .orderBy(col(key))

  /** D31 — per-user time-weighted average: Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_max−t_min),
    * the step-function integral of a piecewise-constant metric. Weighted
    * products and span are exact BIGINT; the average is one IEEE
    * division at the end.
    *
    * Overflow bound: Σ durations = span, so |Σ v·dur| ≤ max|v|·span —
    * a key overflows BIGINT only if max|v_cents|·span_µs > 2⁶³ (e.g.
    * values above ~$3M held across a full year). ANSI mode makes any
    * such overflow a loud error, never a silent wrap; rescale the value
    * unit (cents → dollars) for such domains. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    events
      .select(col("user_id"), col("ts_us"), col("v_cents"))
      .withColumn("next_ts", lead(col("ts_us"), 1).over(w))
      .withColumn("wprod", (col("next_ts") - col("ts_us")) * col("v_cents"))
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum(col("wprod")), lit(0L)).as("wsum"),
        (max(col("ts_us")) - min(col("ts_us"))).as("span_us"))
      .withColumn("twa_cents",
        when(col("span_us") > 0,
          col("wsum").cast("double") / col("span_us").cast("double"))
          .otherwise(lit(-1d)))
      .orderBy(col("user_id"))
  }

  /** D32 — ordered three-step funnel: first `step1`, then the first
    * `step2` strictly after it, then the first `step3` strictly after
    * that. One row per user who entered the funnel; unreached steps are
    * −1 and `stage` counts completed steps. Each stage is a user-keyed
    * min-aggregation joined to the previous stage's (user, time) frame —
    * the classic cascading-min formulation, no per-user event sorting.
    */
  def funnel(events: DataFrame, step1: String = "view",
             step2: String = "click", step3: String = "purchase"): DataFrame = {
    val e = events.select(col("user_id"), col("ts_us"), col("event_type"))
    val t1 = e.filter(col("event_type") === step1)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
    val t2 = e.filter(col("event_type") === step2).as("e")
      .join(t1.as("s"), col("e.user_id") === col("s.user_id") &&
        col("e.ts_us") > col("s.t1"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts_us")).as("t2"))
    val t3 = e.filter(col("event_type") === step3).as("e")
      .join(t2.as("s"), col("e.user_id") === col("s.user_id") &&
        col("e.ts_us") > col("s.t2"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts_us")).as("t3"))
    t1.join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(col("user_id"),
        col("t1").as("t1_us"),
        coalesce(col("t2"), lit(-1L)).as("t2_us"),
        coalesce(col("t3"), lit(-1L)).as("t3_us"),
        (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
          + when(col("t3").isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy(col("user_id"))
  }

  /** D33 — weekly cohort retention: users bucketed by their first active
    * epoch-week, counted in each subsequent week they return. Weeks are
    * epoch-relative integer indexes (`ts_us div 7·86400·10⁶`) — no
    * calendar semantics to diverge between engines. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val weekUs = 604800000000L
    val uw = events
      .select(col("user_id"), expr(s"ts_us div ${weekUs}L").as("wk"))
      .distinct()
    val cohorts = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    uw.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  /** D61 — multi-touch conversion attribution: every `channels` touch
    * event in the `lookbackUs` window before a same-user conversion
    * shares that conversion's credit. Two standard models in one pass:
    * LINEAR (each of the conversion's n window touches gets
    * ⌊10⁶/n⌋ ppm) and LAST-TOUCH (the latest touch before the
    * conversion — ties broken by event id — takes the whole credit).
    * Credits are exact integer ppm (Spark `div` ≡ DuckDB `//` on
    * non-negative counts), so the channel totals hash cross-engine.
    *
    * Scale shape: touches join conversions on the USER key only — one
    * user-keyed shuffle of each filtered stream; the time-window
    * predicate prunes inside the join, and per-user fan-out is
    * touches×conversions within the window, bounded by per-user
    * activity (the D45/D57 hyperactive-key contract). Per-conversion
    * sizing runs as a window over the UNIQUE conversion id — maximal
    * key spread, no skew — and the final aggregation contracts to
    * channel cardinality. The raw stream is read once. */
  def attribution(events: DataFrame, conv: String = "purchase",
                  channels: Seq[String] = Seq("view", "click"),
                  lookbackUs: Long = 604800000000L): DataFrame = {
    // LINEAR plan (r7): the naive form — touches ⋈ conversions on the
    // user key, then windows over the pair frame — materializes the
    // semantic pair volume, which is QUADRATIC in per-user activity
    // (the Zipf-skew tier measured 70× pairs for 10× data; the one
    // >3×-share grower in that bench). But every emitted metric is a
    // per-conversion aggregate over a time RANGE of the user's own
    // timeline, so none of those pairs need to exist as rows — and the
    // naive fix, a sliding RANGE window frame, re-scans the frame per
    // row in Spark (non-invertible aggregates can't retract), which is
    // the same quadratic wearing a window (measured: no gain). The
    // O(n log n) shape is PREFIX SUMS WITH PROBES, the D67/KM lesson:
    //   - one timeline per user: touch rows, conversion rows, and one
    //     PROBE row per conversion planted at (conv_ts − lookback);
    //   - a single grow-only frame (unbounded preceding → current row,
    //     incremental in Spark) computes per-channel running touch
    //     counts and the running last-touch struct;
    //   - per conversion, the windowed count is prefix(conv) −
    //     prefix(its probe) — one conv_id-keyed join of two
    //     conversion-sized frames (maximal key spread, never the
    //     touch volume);
    //   - the windowed LAST touch needs no lower-bound subtraction:
    //     whenever the window holds ≥1 touch, the latest touch overall
    //     IS inside the window (n_touch = 0 rows are dropped anyway,
    //     matching the old inner-join semantics). Struct max over
    //     (ts, id, type) replays the old (ts desc, id desc) tie order;
    //     ids are unique so the comparison never reaches the type.
    // Tie discipline at equal ts: probe(0) < conversion(1) < touch(2),
    // so a touch AT the window's lower bound counts (old >= bound) and
    // a touch AT conv_ts does not (old < conv_ts). All integer math is
    // unchanged, so the DuckDB twin (which still states the spec as
    // the pair join) hashes identically. One user-keyed sort, one
    // conv-keyed join, zero pair rows.
    val e = events.select(col("user_id"), col("ts_us"), col("event_id"),
      col("event_type"))
      .filter(col("event_type") === conv ||
        col("event_type").isin(channels: _*))
    val timeline = e
      .select(col("user_id"), col("ts_us"),
        when(col("event_type") === conv, 1).otherwise(2).as("kind"),
        col("event_id"), col("event_type"))
      .unionByName(e.filter(col("event_type") === conv)
        .select(col("user_id"),
          (col("ts_us") - lookbackUs).as("ts_us"),
          lit(0).as("kind"), col("event_id"),
          lit("__probe__").as("event_type")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isTouch = col("kind") === 2
    val chCounts = channels.map(ch =>
      sum(when(col("event_type") === ch, 1L).otherwise(0L)).over(w)
        .as(s"n_$ch"))
    val lastTouch = max(when(isTouch,
      struct(col("ts_us"), col("event_id"), col("event_type")))).over(w)
      .as("last_touch")
    val prefixed = timeline
      .select((Seq(col("user_id"), col("kind"), col("event_id"),
        col("event_type")) ++ chCounts :+ lastTouch): _*)
    val probes = prefixed.filter(col("kind") === 0)
      .select((col("event_id").as("conv_id") +:
        channels.map(ch => col(s"n_$ch").as(s"lo_$ch"))): _*)
    val convRows = prefixed.filter(col("kind") === 1)
      .select((Seq(col("event_id").as("conv_id"), col("last_touch")) ++
        channels.map(ch => col(s"n_$ch"))): _*)
    val perConv = convRows.join(probes, Seq("conv_id"))
      .select((Seq(col("conv_id"), col("last_touch")) ++
        channels.map(ch => (col(s"n_$ch") - col(s"lo_$ch")).as(s"n_$ch"))): _*)
      .withColumn("n_touch", channels.map(ch => col(s"n_$ch"))
        .reduce(_ + _))
      .filter(col("n_touch") > 0L)
    val perChannel = perConv.select(
      col("n_touch"), col("last_touch"),
      explode(array(channels.map(ch =>
        struct(lit(ch).as("channel"), col(s"n_$ch").as("n_ch"))): _*))
        .as("c"))
      .select(col("c.channel").as("channel"), col("c.n_ch").as("n_ch"),
        col("n_touch"), col("last_touch.event_type").as("lt_channel"))
    perChannel
      .groupBy(col("channel"))
      .agg(sum(col("n_ch")).as("n_touchpoints"),
        sum(when(col("n_ch") > 0L, 1L).otherwise(0L)).as("n_conversions"),
        sum(col("n_ch") * expr("1000000 div n_touch"))
          .as("linear_credit_ppm"),
        sum(when(col("lt_channel") === col("channel"), 1L).otherwise(0L))
          .as("last_touch_convs"))
      .filter(col("n_touchpoints") > 0L)
      .orderBy(col("channel"))
  }

  /** D62 — first-order Markov transition matrix over the event stream:
    * for every user, consecutive event pairs in (ts, event_id) order
    * become (from_state, to_state) transitions; the output is the exact
    * transition-count matrix plus row-conditional probabilities in
    * integer ppm (`1e6·n(from→to) div n(from→*)`, Spark `div` ≡ DuckDB
    * `//` on non-negative counts — hash-exact cross-engine). The
    * journey-analysis complement to D32's funnel (which fixes the step
    * sequence) and D59's episodes (which fix the pattern): here the
    * *data* reports which step follows which, the input of any
    * next-action model or absorbing-chain analysis.
    *
    * Scale: ONE user-keyed shuffle (the lead window); the aggregation
    * contracts immediately to the state×state frame (≤ |event_type|² —
    * 25 rows here, bounded by the type domain, never the corpus), so the
    * second window over `from_state` runs on a domain-sized frame. The
    * raw stream is read once. */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_state"),
        col("next_type").as("to_state"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("n_from",
        sum(col("n_trans")).over(Window.partitionBy(col("from_state"))))
      .select(col("from_state"), col("to_state"), col("n_trans"),
        expr("1000000 * n_trans div n_from").as("p_ppm"))
      .orderBy(col("from_state"), col("to_state"))
  }

  /** D88 — top event PATHS: the most-traveled length-3 event-type
    * sequences across user streams (the product-analytics "common
    * journeys" read; D62's Markov matrix collapses order-2 structure
    * that paths keep, D32's funnel checks ONE fixed pattern — this
    * DISCOVERS the patterns). Two leads over the per-user time order
    * (hot users cost their own sort, never a join), then a
    * type³-bounded aggregation: occurrences + distinct travelers per
    * path, top `k` by traversal count with a full lexicographic
    * tie-break so the cut is engine-independent. */
  def topEventPaths(events: DataFrame, k: Int = 25): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val paths = events
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_walks"),
        countDistinct(col("user_id")).as("n_users"))
    paths
      .withColumn("rn", row_number().over(Window.orderBy(
        col("n_walks").desc, col("e1"), col("e2"), col("e3"))))
      .filter(col("rn") <= k)
      .select(col("e1"), col("e2"), col("e3"), col("n_walks"), col("n_users"),
        col("rn").cast("long").as("rank"))
      .orderBy(col("rank"))
  }

  /** D63 — RFM (recency / frequency / monetary) customer segmentation,
    * the classic CRM mart (Hughes, *Strategic Database Marketing*):
    * per-customer recency (latest order epoch-day), frequency (order
    * count) and monetary (lifetime cents), each scored 1–5 by exact
    * quintile position. Scores ride the E52-style DOMAIN-HISTOGRAM
    * contraction — per-metric value histograms at domain resolution
    * (days / counts / whole dollars), cumulative counts over the
    * distinct-value frame, `score = 1 + 5·cum_lt div n` where `cum_lt`
    * counts customers strictly below the value. Ties share a score and
    * `5·cum_lt div n ≤ 4` always, so scores are well-defined and
    * hash-exact cross-engine (no ntile, whose tie semantics differ).
    *
    * Scale: the base aggregation is one customer-keyed shuffle of
    * orders; each histogram is VALUE-DOMAIN-bounded (≈10³ distinct
    * days / ≈10² counts / ≤10⁶ whole dollars) regardless of corpus
    * size, so the single-partition cumulative windows never see a
    * corpus-sized frame — the same reasoning as E52's per-language
    * terciles, with monetary coarsened cents→dollars precisely to keep
    * that bound (documented: dollar-resolution score boundaries). The
    * three score maps broadcast back onto the customer frame. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val base = orders
      .groupBy(col("o_custkey"))
      .agg(max(col("epoch_day")).as("r_day"),
        count(lit(1)).as("f_cnt"),
        sum(col("price_cents")).as("m_cents"))
      .withColumn("m_dollars", expr("m_cents div 100"))

    def scoreMap(metric: String): DataFrame = {
      val hist = base.groupBy(col(metric)).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col(metric))
        .rowsBetween(Window.unboundedPreceding, -1)
      hist
        .withColumn("cum_lt", coalesce(sum(col("c")).over(w), lit(0L)))
        .withColumn("n", sum(col("c")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col(metric),
          (lit(1L) + expr("5 * cum_lt div n")).as(s"${metric}_score"))
    }

    base
      .join(broadcast(scoreMap("r_day")), Seq("r_day"))
      .join(broadcast(scoreMap("f_cnt")), Seq("f_cnt"))
      .join(broadcast(scoreMap("m_dollars")), Seq("m_dollars"))
      .select(col("o_custkey"), col("r_day"), col("f_cnt"), col("m_cents"),
        col("r_day_score").as("r_score"),
        col("f_cnt_score").as("f_score"),
        col("m_dollars_score").as("m_score"),
        (col("r_day_score") * 100 + col("f_cnt_score") * 10
          + col("m_dollars_score")).as("rfm"),
        when(col("r_day_score") >= 4 && col("f_cnt_score") >= 4
          && col("m_dollars_score") >= 4, "champion")
          .when(col("r_day_score") <= 2 && col("f_cnt_score") >= 4, "at_risk")
          .when(col("r_day_score") >= 4 && col("f_cnt_score") <= 2, "new")
          .when(col("r_day_score") <= 2 && col("f_cnt_score") <= 2
            && col("m_dollars_score") <= 2, "hibernating")
          .otherwise("core").as("segment"))
      .orderBy(col("o_custkey"))
  }

  /** D59 — sequence-pattern episode counting (MATCH_RECOGNIZE-lite,
    * reference: the fraud rules' ordered-behavior shape generalized to
    * arbitrary episode patterns, rep_fraud.py's guessing rule being the
    * hand-rolled special case). Each user's event history becomes one
    * code string in (ts, event_id) order — view→v, click→c,
    * purchase→p, signup→s, error→e — and episodes are counted as
    * NON-OVERLAPPING regex matches over that string. The default
    * `vc*p` is "a view, any number of clicks, then a purchase, with
    * nothing else in between" — the strict-adjacency funnel that D32's
    * cascading-min funnel (which allows gaps) cannot express.
    *
    * Cross-engine determinism: for patterns of the `x y* z` family a
    * match at a given start position has exactly one possible extent
    * (the literal head, a maximal same-code run, a forced literal
    * tail), so Java's backtracking scan and DuckDB RE2's
    * leftmost-match scan count identical non-overlapping episodes —
    * no dialect feature (lookaround, lazy quantifier, alternation
    * precedence) is in play.
    *
    * Scale: one user-keyed shuffle; per-key state is the user's own
    * coded history (bounded by per-user activity — the D45/D57
    * contract; cap or window hyperactive keys upstream). The regex
    * scan is linear per user and runs inside codegen. */
  def patternEpisodes(events: DataFrame, funnelPat: String = "vc*p",
                      directPat: String = "vp"): DataFrame = {
    val code = when(col("event_type") === "view", "v")
      .when(col("event_type") === "click", "c")
      .when(col("event_type") === "purchase", "p")
      .when(col("event_type") === "signup", "s")
      .otherwise("e")
    events
      .select(col("user_id"),
        struct(col("ts_us"), col("event_id"), code.as("code")).as("ev"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("ev"))).as("xs"))
      .select(col("user_id"),
        size(col("xs")).cast("long").as("n_events"),
        array_join(expr("transform(xs, e -> e.code)"), "").as("seq"))
      .withColumn("n_funnel",
        regexp_count(col("seq"), lit(funnelPat)).cast("long"))
      .withColumn("n_direct",
        regexp_count(col("seq"), lit(directPat)).cast("long"))
      .orderBy(col("user_id"))
  }

  /** D66 — CUSUM level-shift detection (Page, Biometrika 1954) over
    * per-type daily event volumes: the sequential-looking recurrence
    * `S_k = max(0, S_{k-1} + (x_k − μ − slack))` is rewritten through
    * the prefix identity `S_k = P_k − min(0, P_1..P_k)` (the running
    * max(0,·) reset IS the running prefix-minimum), so the whole path
    * is two window functions — cumulative sum and running min — with
    * no per-key fold and no recursion; the mirrored low-side CUSUM
    * rides the same prefix with a running MAX. μ is the series' own
    * integer mean, slack = μ div 10 (the classic half-shift allowance,
    * 10% here), and the alarm fires when the accumulated excess tops
    * one full average day (h = μ) — both knobs documented integer
    * functions of the series so the DuckDB twin replays them exactly.
    *
    * Scale: events contract to (type, day) counts in one shuffle
    * (map-side combined); every window after that runs on the
    * domain-sized daily frame. */
  def cusumShifts(events: DataFrame): DataFrame =
    cusumFinish(cusumDaily(events))

  /** The map-side day bucketing + count (type, day, n) — shared
    * verbatim by the F23 streaming monitor (associative state,
    * bounded by the day domain, the F13/F22 discipline). */
  def cusumDaily(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))

  /** The CUSUM path finisher over a (type, day, n) daily frame —
    * applied to batch contractions and streaming state snapshots. */
  def cusumFinish(daily: DataFrame): DataFrame = {
    val wAll = Window.partitionBy(col("event_type"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("sum_n", sum(col("n")).over(wAll))
      .withColumn("n_days", count(col("n")).over(wAll))
      .withColumn("mu", expr("sum_n div n_days"))
      .withColumn("slack", expr("mu div 10"))
      .withColumn("dev", col("n") - col("mu"))
      .withColumn("p_hi", sum(col("dev") - col("slack")).over(wCum))
      .withColumn("p_lo", sum(-col("dev") - col("slack")).over(wCum))
      .withColumn("cusum_hi",
        col("p_hi") - least(min(col("p_hi")).over(wCum), lit(0L)))
      .withColumn("cusum_lo",
        col("p_lo") - least(min(col("p_lo")).over(wCum), lit(0L)))
      .select(col("event_type"), col("day"), col("n"), col("mu"),
        col("dev"), col("cusum_hi"), col("cusum_lo"),
        when(col("cusum_hi") > col("mu") || col("cusum_lo") > col("mu"), 1L)
          .otherwise(0L).as("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  /** D71 — A/B contingency χ² over per-user conversion: users split by
    * a deterministic variant key (`user_id % 2` here; any assignment
    * column slots in), converted = had ≥1 HIGH-VALUE purchase
    * (cents ≥ minCents — plain "any purchase" saturates on active
    * users and degenerates the table), and the
    * 2×2 independence statistic χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))
    * — which, unlike the z-test, needs NO square root: it is an exact
    * rational of the four cell counts. Cells and per-variant conversion
    * rates are exact integers/ppm; the final χ² is ONE double division
    * of exactly-represented integer products (cells < 2²⁶ keep every
    * product under 2⁵³ — beyond that, rescale by sampling users, the
    * documented D31/D68 discipline), evaluated in the same literal
    * order in both engines.
    *
    * Scale: one user-keyed contraction (the conversion flag), then a
    * single global aggregate to the four cells. */
  def abContingency(events: DataFrame, minCents: Long = 15000L): DataFrame = {
    val per = events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          expr("CAST(round(value * 100) AS BIGINT)") >= minCents, 1L)
        .otherwise(0L)).as("conv"))
      .withColumn("variant", expr("user_id % 2"))
    per
      .agg(
        sum(when(col("variant") === 0 && col("conv") === 1, 1L)
          .otherwise(0L)).as("a"),
        sum(when(col("variant") === 0 && col("conv") === 0, 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("variant") === 1 && col("conv") === 1, 1L)
          .otherwise(0L)).as("c"),
        sum(when(col("variant") === 1 && col("conv") === 0, 1L)
          .otherwise(0L)).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        (col("a") + col("b") + col("c") + col("d")).as("n"),
        expr("1000000 * a div (a + b)").as("rate0_ppm"),
        expr("1000000 * c div (c + d)").as("rate1_ppm"),
        expr("""CAST(a + b + c + d AS DOUBLE) * (a*d - b*c) * (a*d - b*c)
               / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d))""")
          .as("chi2"))
  }

  /** D70 — calendar gaps-and-islands over per-type daily activity: the
    * data-completeness question every ingestion mart must answer
    * ("which date ranges are solid, where are the holes, how big") as
    * contiguous-run detection via the classic `day − row_number()`
    * grouping constant — consecutive days share the difference, so one
    * window + one aggregation materializes every island with its span,
    * day count, event mass, and the gap to the next island (0 for the
    * last). No calendar table, no explode of the full date range.
    *
    * Scale: the (type, day) contraction again; the islands frame is
    * at most days-domain-sized and usually far smaller. */
  def calendarIslands(events: DataFrame): DataFrame = {
    val daily = cusumDaily(events)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wi = Window.partitionBy(col("event_type")).orderBy(col("island_start"))
    daily
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("event_type"), col("grp"))
      .agg(min(col("day")).as("island_start"),
        max(col("day")).as("island_end"),
        count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
      .withColumn("gap_after",
        coalesce(lead(col("island_start"), 1).over(wi)
          - col("island_end") - 1, lit(0L)))
      .select(col("event_type"), col("island_start"), col("island_end"),
        col("n_days"), col("n_events"), col("gap_after"))
      .orderBy(col("event_type"), col("island_start"))
  }

  /** D69 — seasonality-aware volume anomalies: a raw daily threshold
    * flags every weekend twice and misses a quiet-day spike entirely,
    * so the expected volume is the per-(type, day-of-week) integer
    * mean and the alarm is a robust MAD gate on the residual —
    * |n − dow_mean| > 3·MAD, with MAD the exact lower median of the
    * type's absolute residuals (Hampel's robust scale; one wild day
    * cannot widen its own gate the way 3σ does). The median rides the
    * E52/H8 count-histogram discipline — cumulative counts over the
    * DISTINCT residual-value frame, smallest value with
    * 2·cum ≥ n_days+1-ish (`cum ≥ (n+1) div 2`) — never a
    * corpus-ordered window. dow = day % 7 on the epoch day, identical
    * in both engines.
    *
    * Scale: the same (type, day) contraction as D66/D68; the dow
    * means are one more window over it, the MAD histogram is
    * residual-domain-sized, and the MAD map joins back on the bounded
    * type domain. */
  def seasonalAnomalies(events: DataFrame): DataFrame = {
    val daily = cusumDaily(events)
    val wDow = Window.partitionBy(col("event_type"), col("dow"))
    val base = daily
      .withColumn("dow", expr("day % 7"))
      .withColumn("sum_dow", sum(col("n")).over(wDow))
      .withColumn("cnt_dow", count(col("n")).over(wDow))
      .withColumn("dow_mean", expr("sum_dow div cnt_dow"))
      .withColumn("residual", col("n") - col("dow_mean"))
      .withColumn("abs_res", abs(col("residual")))
    val wv = Window.partitionBy(col("event_type")).orderBy(col("abs_res"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val mad = base
      .groupBy(col("event_type"), col("abs_res")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wv))
      .withColumn("n_tot",
        sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .filter(expr("cum >= (n_tot + 1) div 2"))
      .groupBy(col("event_type")).agg(min(col("abs_res")).as("mad"))
    base.join(mad, Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"), col("dow"),
        col("dow_mean"), col("residual"), col("mad"),
        when(col("abs_res") > lit(3L) * col("mad"), 1L).otherwise(0L)
          .as("anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** D68 — per-key OLS trend of the daily event volume, kept EXACT
    * RATIONAL: slope = (k·Σxy − Σx·Σy) / (k·Σx² − (Σx)²) with x
    * rebased to day − min(day) per key (x < k keeps every term far
    * from 2⁶³; the un-rebased epoch-day cross terms would not be).
    * Numerator and denominator are emitted as exact BIGINTs alongside
    * `slope_ppm = sign(num)·(10⁶·|num| div den)` — the sign is split
    * out because Spark's `div` truncates toward zero while DuckDB's
    * `//` floors on negatives (the H5 divergence, dodged the D57 way:
    * only non-negative operands ever reach the division). den > 0
    * whenever a key has ≥2 distinct days; single-day keys emit
    * slope_ppm = 0 with den = 0 (documented, not NULL, so the row
    * still hashes).
    *
    * Overflow bound (ANSI mode fails loudly past it): |num| ≤ k²·Σy —
    * rescale y (counts → thousands) for series where k²·Σy·10⁶
    * approaches 2⁶³, the TWA/D31 discipline.
    *
    * Scale: the same (type, day) contraction as D66; two window
    * passes + one aggregation over the domain-sized daily frame. */
  def volumeTrend(events: DataFrame): DataFrame = {
    val daily = cusumDaily(events)
    val wk = Window.partitionBy(col("event_type"))
    daily
      .withColumn("x", col("day") - min(col("day")).over(wk))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
        sum(col("n")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("n")).as("sxy"))
      .withColumn("num", col("k") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("k") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope_ppm",
        when(col("den") === 0L, 0L)
          .when(col("num") >= 0L, expr("1000000 * num div den"))
          .otherwise(-expr("1000000 * (-num) div den")))
      .select(col("event_type"), col("k").as("n_days"), col("sy").as("total"),
        col("num"), col("den"), col("slope_ppm"))
      .orderBy(col("event_type"))
  }

  /** D78 — Theil–Sen robust trend of the daily volume (Theil '50, Sen
    * JASA '68): the median of all pairwise slopes — the estimator that
    * shrugs off the outlier days OLS (D68) chases (one flash-crowd day
    * can own an OLS slope; it is one vote among n² here; 29.3%
    * breakdown point). Slopes are quantized to integer e-6/day by the
    * sign-split division BEFORE the median (comparing raw rationals
    * cross-engine would need cross-multiplied sort keys; a fixed e-6
    * grid loses < 1e-6/day and keeps everything integer), and the
    * median is the LOWER median at rank ⌈n_pairs/2⌉ read off the
    * D19/D49 count-of-counts contraction — never a row sort over the
    * pair frame. Days with no observations are ABSENT observations
    * here, not zeros (the D74 grid-completion choice inverted, and
    * deliberately: a robust slope over observed days answers "what is
    * the typical day-over-day drift where we HAVE data"; zero-filling
    * would let ingestion gaps vote as real collapse — use D70 to
    * find the gaps first).
    *
    * Scale: the (type, day) contraction first (the only corpus-sized
    * work), then pairs over the bounded day domain (n ≤ 3650 days →
    * ≤ 6.7M pairs per type), contracted again to distinct slope
    * values before the cumulative window. */
  def theilSenTrend(events: DataFrame): DataFrame = {
    val daily = cusumDaily(events)
    val a = daily.select(col("event_type"), col("day").as("t"),
      col("n").as("xt"))
    val b = daily.select(col("event_type"), col("day").as("u"),
      col("n").as("xu"))
    val pairs = a.join(b, Seq("event_type"))
      .filter(col("u") > col("t"))
      .select(col("event_type"),
        when(col("xu") >= col("xt"),
          expr("1000000 * (xu - xt) div (u - t)"))
          .otherwise(-expr("1000000 * (xt - xu) div (u - t)"))
          .as("slope_e6"))
    val cc = pairs.groupBy(col("event_type"), col("slope_e6"))
      .agg(count(lit(1)).as("c"))
    val wt = Window.partitionBy(col("event_type"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("slope_e6"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val nd = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    cc
      .withColumn("n_pairs", sum(col("c")).over(wt))
      .withColumn("cum", sum(col("c")).over(wc))
      .filter(col("cum") >= expr("(n_pairs + 1) div 2") &&
        col("cum") - col("c") < expr("(n_pairs + 1) div 2"))
      .join(broadcast(nd), Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("slope_e6").as("sen_slope_e6"))
      .orderBy(col("event_type"))
  }

  /** Benford's-law expected first-significant-digit shares in ppm
    * (Newcomb 1881 / Benford 1938: P(d) = log10(1 + 1/d)). Published
    * constants rounded to ppm — they sum to exactly 1,000,000, so the
    * deviation arithmetic below stays closed over integers. */
  val BenfordPpm: Map[Int, Long] = Map(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** D65 — Benford first-digit conformance screen, the forensic-
    * accounting test (Nigrini, *Benford's Law*, Wiley 2012) that flags
    * invented or threshold-gamed amounts: fabricated numbers are
    * uniform-ish in their leading digit where organic transaction
    * amounts follow log10(1+1/d). Per group (here order priority —
    * any bounded segmentation key works) the observed first-digit
    * histogram of the amount in CENTS (leading digit is invariant
    * under the ×100 — the same digit users see), each digit's observed
    * share vs the Benford expectation in ppm, the signed deviation,
    * and a per-group χ²-style score `sum((obs−exp)² div exp)` — all
    * integer arithmetic, so both engines hash identically. Digits a
    * group never produced still surface as n=0 rows (their deficit is
    * exactly what an all-amounts-start-with-9 fraud looks like): the
    * group×digit grid is completed by a broadcast cross join of two
    * contracted frames before the deviation math.
    *
    * Scale: one scan of orders contracting straight to ≤ 9·|groups|
    * rows (map-side combine does the heavy lifting); every window
    * after that is over the contracted grid. The cross join is
    * |groups|×9 — domain-sized by construction. */
  def benfordScreen(orders: DataFrame,
                    groupCol: String = "o_orderpriority",
                    amountCol: String = "o_totalprice"): DataFrame =
    benfordFinish(benfordContract(orders, groupCol, amountCol))

  /** The (grp, digit, n) first-digit count: the map-side digit
    * extraction and its count — also the F22 streaming monitor's
    * complete-mode state (bounded at groups·9 rows), so live and batch
    * digits can never drift. */
  def benfordContract(rows: DataFrame, groupCol: String,
                      amountCol: String): DataFrame =
    rows
      .select(col(groupCol).as("grp"),
        expr(s"CAST(round($amountCol * 100) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0)
      .withColumn("digit", substring(col("cents").cast("string"), 1, 1)
        .cast("long"))
      .select(col("grp"), col("digit"))
      .groupBy(col("grp"), col("digit"))
      .agg(count(lit(1)).as("n"))

  /** The deviation finisher over (grp, digit, n) counts — the batch
    * screen's back half, also applied to streaming state snapshots. */
  def benfordFinish(obs: DataFrame): DataFrame = {
    val expPpm = BenfordPpm.foldLeft(lit(null).cast("long")) {
      case (acc, (d, p)) => when(col("digit") === d.toLong, p).otherwise(acc)
    }
    val digits = obs.sparkSession.range(1, 10).select(col("id").as("g_digit"))
    // grid keys are ALIASED so the grid⋈obs self-join (both derive from
    // obs — in streaming, from the same state snapshot view) never
    // carries conflicting attribute ids
    val grid = obs.select(col("grp").as("g_grp")).distinct()
      .crossJoin(broadcast(digits))
    val wg = Window.partitionBy(col("grp"))
    grid.join(obs,
        col("g_grp") === col("grp") && col("g_digit") === col("digit"),
        "left")
      .select(col("g_grp").as("grp"), col("g_digit").as("digit"),
        coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("n_grp", sum(col("n")).over(wg))
      .withColumn("obs_ppm", expr("1000000 * n div n_grp"))
      .withColumn("exp_ppm", expPpm)
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .withColumn("chi2_scaled",
        sum(expr("(dev_ppm * dev_ppm) div exp_ppm")).over(wg))
      .select(col("grp"), col("digit"), col("n"), col("obs_ppm"),
        col("exp_ppm"), col("dev_ppm"), col("chi2_scaled"))
      .orderBy(col("grp"), col("digit"))
  }

  /** D73 — structuring ("smurfing") detection, the classic AML screen
    * (31 USC §5324; Welling, *Smurfs, Money Laundering and the Federal
    * Criminal Law*, 41 Fla. L. Rev. 287 (1989)): a reportable transfer
    * split into several just-under-threshold pieces close together in
    * time. Per user, every SUB-threshold transaction is a candidate
    * window END; a window is flagged when the trailing `windowUs` span
    * holds ≥ `minTxn` sub-threshold transactions summing ≥
    * `minSumCents`. Emitted as a per-user mart row: flag count, peak
    * windowed sum/count, first flagged instant.
    *
    * Plan shape: the D61/D67 PREFIX-SUMS-WITH-PROBES discipline — a
    * naive trailing-window formulation is semantically quadratic in
    * per-user activity (a Zipf-hot account with 10k sub-threshold
    * txns would own ~10k² pair touches; Spark re-scans sliding RANGE
    * frames per row because sums can't retract under its
    * non-invertible window machinery). Instead each candidate end
    * plants one PROBE row at (ts − windowUs); a single grow-only
    * frame computes running sub-threshold sum/count; the windowed
    * figures are prefix(end) − prefix(probe), recovered by ONE
    * event_id-keyed join of two candidate-sized frames. O(n log n)
    * per user, zero pair rows, one user-keyed sort plus one
    * maximal-spread join — the exact shape the r7 skew tier promoted
    * for D61.
    *
    * Tie discipline at equal ts: probe(kind 0) sorts before the real
    * row(kind 1), so a transaction AT the lower bound ts−W is inside
    * the window — the span is inclusive [ts−W, ts] — and the running
    * sums count only kind-1 rows, so probe-vs-probe order is
    * irrelevant. The window end's own amount is included (a flagged
    * window is ≥ minTxn transactions INCLUDING its end). The oracle
    * twin replays this construction verbatim, so equal-ts corpora
    * (replica tiers) cannot diverge.
    *
    * Overflow: running per-user cent sums — bounded by a user's total
    * sub-threshold volume, the D31 bound class (loud under ANSI). */
  def structuring(txns: DataFrame,
                  thresholdCents: Long = 10000L,
                  windowUs: Long = 259200000000L,
                  minTxn: Long = 4L,
                  minSumCents: Long = 15000L): DataFrame = {
    val sub = txns
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("amt_cents"))
      .filter(col("amt_cents") > 0L && col("amt_cents") < thresholdCents)
    val timeline = sub
      .select(col("user_id"), col("ts_us"), lit(1).as("kind"),
        col("event_id"), col("amt_cents"))
      .unionByName(sub.select(col("user_id"),
        (col("ts_us") - windowUs).as("ts_us"), lit(0).as("kind"),
        col("event_id"), lit(0L).as("amt_cents")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixed = timeline
      .withColumn("ps",
        sum(when(col("kind") === 1, col("amt_cents")).otherwise(0L)).over(w))
      .withColumn("pc",
        sum(when(col("kind") === 1, 1L).otherwise(0L)).over(w))
    val probes = prefixed.filter(col("kind") === 0)
      .select(col("event_id"), col("ps").as("lo_s"), col("pc").as("lo_c"))
    prefixed.filter(col("kind") === 1)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("ps"), col("pc"))
      .join(probes, Seq("event_id"))
      .withColumn("win_sum", col("ps") - col("lo_s"))
      .withColumn("win_cnt", col("pc") - col("lo_c"))
      .filter(col("win_cnt") >= minTxn && col("win_sum") >= minSumCents)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_flagged"),
        max(col("win_sum")).as("peak_sum_cents"),
        max(col("win_cnt")).as("peak_n_txn"),
        min(col("ts_us")).as("first_flag_ts_us"))
      .orderBy(col("user_id"))
  }

  /** D77 — trailing-window VELOCITY features, the classic realtime
    * fraud feature block (count/sum of the user's transactions in the
    * last 1h / 24h / 7d as of EACH transaction — what a scoring model
    * reads at auth time): per transaction row the six features, exact
    * integers. Same prefix-sums-with-probes shape as D73, with THREE
    * probe rows per transaction (one per horizon) amortized over ONE
    * grow-only per-user frame — the per-user sort is paid once for
    * all horizons, and the probe recovery is a single event-keyed
    * join against a conditional-aggregation pivot of the probe frame
    * (one shuffle for all three horizons, never one join per window).
    * Window spans are inclusive [ts−W, ts] with the D73 tie
    * discipline (probes sort before real rows; same-ts upper ties by
    * event_id) — replayed verbatim in the oracle, tie-robust on
    * replica corpora. Output is transaction-sized by construction
    * (a feature mart, not a report). O(n log n) per user where the
    * naive per-horizon RANGE windows are each quadratic in Zipf-hot
    * accounts. */
  def velocityFeatures(txns: DataFrame,
                       windowsUs: Seq[(String, Long)] = Seq(
                         ("1h", 3600000000L),
                         ("24h", 86400000000L),
                         ("7d", 604800000000L))): DataFrame = {
    val real = txns.select(col("user_id"), col("ts_us"), col("event_id"),
      col("amt_cents"))
    val timeline = windowsUs.zipWithIndex.foldLeft(
      real.select(col("user_id"), col("ts_us"),
        lit(windowsUs.size).as("kind"), col("event_id"), col("amt_cents"))) {
      case (acc, ((_, w), i)) =>
        acc.unionByName(real.select(col("user_id"),
          (col("ts_us") - w).as("ts_us"), lit(i).as("kind"),
          col("event_id"), lit(0L).as("amt_cents")))
    }
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isReal = col("kind") === windowsUs.size
    val prefixed = timeline
      .withColumn("ps", sum(when(isReal, col("amt_cents")).otherwise(0L))
        .over(w))
      .withColumn("pc", sum(when(isReal, 1L).otherwise(0L)).over(w))
      // feeds both the probe pivot and the real-row side — un-cut, the
      // (windows+1)x-union prefix-sum window (the operator's one
      // corpus-sized sort) ran twice. Narrow rows, linear in the
      // probe-augmented timeline.
      .localCheckpoint(true)
    val pivotAggs = windowsUs.zipWithIndex.flatMap { case ((nm, _), i) =>
      Seq(max(when(col("kind") === i, col("ps"))).as(s"lo_s_$nm"),
        max(when(col("kind") === i, col("pc"))).as(s"lo_c_$nm"))
    }
    val probePivot = prefixed.filter(!isReal)
      .groupBy(col("event_id"))
      .agg(pivotAggs.head, pivotAggs.tail: _*)
    prefixed.filter(isReal)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("amt_cents"), col("ps"), col("pc"))
      .join(probePivot, Seq("event_id"))
      .select((Seq(col("user_id"), col("ts_us"), col("event_id"),
        col("amt_cents")) ++ windowsUs.flatMap { case (nm, _) =>
          Seq((col("pc") - col(s"lo_c_$nm")).as(s"cnt_$nm"),
            (col("ps") - col(s"lo_s_$nm")).as(s"sum_$nm"))
        }): _*)
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** D74 — exact autocorrelation profile (ACF at lags 1..maxLag) of the
    * per-type daily volume series — the diagnostic that separates
    * "traffic has a weekly pulse" (spike at lag 7, the D69 seasonal
    * model's premise) from "traffic is drifting" (slow decay, D68's
    * premise) before either model is fit. Standard estimator
    * r_k = Σ c_t·c_{t+k} / Σ c_t² with c_t = x_t − x̄, made integer by
    * the ×n trick: c_t := n·x_t − S is n·(x_t − x̄), and the n² factors
    * cancel in the ratio — no rational mean anywhere. Zero-activity
    * days are REAL observations: the day grid [min_day, max_day] is
    * completed per type (sequence+explode over the bounded day domain)
    * before centering, so a dead day pulls the ACF exactly as it
    * should. The ppm ratio is sign-split (the D68 idiom: Spark's `div`
    * truncates, DuckDB's `//` floors — computing on |num| keeps both
    * engines on the same floor).
    *
    * Scale: one scan contracts the corpus to (type, day) counts — the
    * only corpus-sized work; the grid completion, centering windows,
    * and the lag self-join (day+k equi-join, lags exploded from a
    * ≤maxLag literal array) all run on the day-domain frame. Products
    * are decimal(38,0) (HUGEINT in the twin): |c_t| ≤ n·x_max, so
    * int64 would cap the series at n_days·daily_volume < 3·10⁹ —
    * real at 100 TB; decimal holds to ~10¹⁹ daily rows. */
  def acfProfile(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val daily0 = events
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    val grid = daily0.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val wt = Window.partitionBy(col("event_type"))
    val centered = grid.join(daily0, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("s", sum(col("x")).over(wt))
      .select(col("event_type"), col("day"), col("n"),
        (col("n").cast("decimal(38,0)") * col("x") - col("s")).as("c"))
    val den = centered.groupBy(col("event_type"))
      .agg(sum(col("c") * col("c")).as("den"), max(col("n")).as("n_days"))
    // equi-join on the MATERIALIZED (type, day+lag) key — a join on
    // type alone followed by a day2 = day + lag filter would plan as a
    // per-type cartesian of the day frame (days² × lags rows before
    // the filter; ~10⁸ for a 10-year domain where this is ~10⁵)
    val num = centered
      .select(col("event_type"), col("c"),
        explode(sequence(lit(1L), lit(maxLag.toLong))).as("lag"),
        col("day"))
      .withColumn("day2", col("day") + col("lag"))
      .join(centered.select(col("event_type"), col("day").as("day2"),
          col("c").as("c2")),
        Seq("event_type", "day2"))
      .groupBy(col("event_type"), col("lag"))
      .agg(sum(col("c") * col("c2")).as("num"))
    num.join(den, Seq("event_type"))
      .select(col("event_type"), col("lag"), col("n_days"),
        when(col("den") === 0, lit(0L))
          .when(col("num") >= 0, expr("1000000 * num div den"))
          .otherwise(-expr("1000000 * (-num) div den"))
          .cast("long").as("acf_ppm"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** D76 — Lorenz/Gini spend-concentration profile per segmentation
    * group (Gini 1912; Lorenz 1905) — the inequality mart behind both
    * "is revenue one-whale-deep" risk reads and the D63 RFM cutoffs'
    * sanity check. Per group, users are ordered by lifetime cents
    * ascending ((spend, user_id) — deterministic under ties, and the
    * Gini sum Σ(2i−n−1)·xᵢ is invariant to tie order since equal x
    * swap freely); `gini_ppm = 10⁶·Σ(2i−n−1)xᵢ div ((n−1)·Σx)` is the
    * sample-normalized form (=1 when one user owns everything),
    * n=1 groups emit 0. Alongside: the Lorenz bottom-half share
    * (`bottom50_share_ppm`, cumulative spend of the first ⌊n/2⌋ users
    * over total) and the top-decile share (`top10_share_ppm`, last
    * n−⌊9n/10⌋ users) — the two points a curator actually quotes.
    *
    * Scale: one corpus-scan contraction to per-(group, user) totals;
    * every window after that runs on the user-domain frame partitioned
    * by group. Σ(2i−n−1)x ≤ n·Σx: decimal(38,0) (HUGEINT twin) keeps
    * the product exact past int64's n·Σcents ≈ 10¹⁸ ceiling. */
  def giniProfile(txns: DataFrame, group: String = "grp",
                  user: String = "user_id",
                  amt: String = "amt_cents"): DataFrame = {
    val per = txns.groupBy(col(group).as("grp"), col(user).as("u"))
      .agg(sum(col(amt)).as("x"))
    val wo = Window.partitionBy(col("grp"))
      .orderBy(col("x"), col("u"))
    val wg = Window.partitionBy(col("grp"))
    per
      .withColumn("i", row_number().over(wo).cast("long"))
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("tot", sum(col("x")).over(wg))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n_users"), max(col("tot")).as("total_cents"),
        // cast BEFORE the multiply: (2i−n−1)·x in raw long wraps once
        // rank·cents passes int64 (the 100× tier hit it under ANSI —
        // a Zipf-hot user's lifetime cents × a 10⁶-deep rank)
        sum((lit(2L) * col("i") - col("n") - 1L).cast("decimal(38,0)")
          * col("x")).as("gnum"),
        sum(when(col("i") <= expr("n div 2"), col("x")).otherwise(0L))
          .as("bottom_half_cents"),
        sum(when(col("i") > expr("(9 * n) div 10"), col("x")).otherwise(0L))
          .as("top_decile_cents"))
      .select(col("grp"), col("n_users"), col("total_cents"),
        when(col("n_users") <= 1L || col("total_cents") === 0L, lit(0L))
          .otherwise(expr(
            "1000000 * gnum div (cast(n_users - 1 as decimal(38,0)) * total_cents)")
            .cast("long")).as("gini_ppm"),
        when(col("total_cents") === 0L, lit(0L))
          .otherwise(expr("""CAST(1000000 * CAST(bottom_half_cents AS DECIMAL(38,0))
            div total_cents AS BIGINT)"""))
          .as("bottom50_share_ppm"),
        when(col("total_cents") === 0L, lit(0L))
          .otherwise(expr("""CAST(1000000 * CAST(top_decile_cents AS DECIMAL(38,0))
            div total_cents AS BIGINT)"""))
          .as("top10_share_ppm"))
      .orderBy(col("grp"))
  }

  /** D94 — Herfindahl–Hirschman concentration index per market
    * (Herfindahl 1950; the antitrust screen, and the one-number
    * companion to D76's full Lorenz curve): HHI = Σ shareᵢ² over the
    * market's participants — 10⁶/n for perfect competition, 10⁶ for
    * monopoly. Computed WITHOUT materializing shares:
    * hhi_ppm = 10⁶·Σxᵢ² div (Σx)², so everything is exact decimal
    * until one floored nonnegative `div`. Alongside: the normalized
    * form ((HHI − 1/n)/(1 − 1/n), 0 for even split regardless of n)
    * and the "effective number of participants" 1/HHI in milli-units
    * (the diversity reciprocal — 3.0 means "concentrated as if 3 equal
    * firms"). Single-participant markets pin hhi = 10⁶, normalized = 10⁶,
    * eff_n = 1000, never divide by zero.
    *
    * Scale: one corpus-scan contraction to (market, participant)
    * totals, one agg per market — Σx² needs decimal(38,0) (x ≈ 10¹²
    * cents squares past int64). */
  def hhiProfile(txns: DataFrame, market: String = "grp",
                 participant: String = "p",
                 amt: String = "amt_cents"): DataFrame =
    finishHhi(hhiContract(txns, market, participant, amt))

  /** The (market, participant) → total contraction — HHI's only
    * corpus-sized pass, and (sums merge associatively) exactly the
    * bounded state the F36 streaming monitor maintains live. */
  def hhiContract(txns: DataFrame, market: String = "grp",
                  participant: String = "p",
                  amt: String = "amt_cents"): DataFrame =
    txns.groupBy(col(market).as("grp"), col(participant).as("p"))
      .agg(sum(col(amt)).as("x"))

  /** The market-domain back half over a (grp, p, x) contraction —
    * shared verbatim with the F36 streaming monitor so live and batch
    * HHI are the same arithmetic over the same contraction shape. */
  def finishHhi(per: DataFrame): DataFrame =
    per
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_participants"),
        sum(col("x")).cast("decimal(38,0)").as("tot"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sq"))
      .withColumn("hhi",
        when(col("tot") <= 0, lit(0L))
          .otherwise(expr("CAST(1000000 * sq div (tot * tot) AS BIGINT)")))
      .select(col("grp"), col("n_participants"),
        col("tot").cast("long").as("total_cents"), col("hhi").as("hhi_ppm"),
        when(col("n_participants") <= 1L, lit(1000000L))
          .when(col("hhi") * col("n_participants") <= 1000000L, lit(0L))
          .otherwise(expr(
            "(hhi * n_participants - 1000000) div (n_participants - 1)"))
          .as("hhi_norm_ppm"),
        when(col("hhi") <= 0, lit(0L))
          .otherwise(expr("1000000000 div hhi")).as("eff_n_milli"))
      .orderBy(col("grp"))

  /** Per-type daily volume with ZERO-ACTIVITY DAYS COMPLETED into the
    * [min, max] day grid (the D74 posture: a dead day is a real
    * observation for any series statistic — dispersion, runs,
    * changepoints all read it as signal, not absence). One corpus scan
    * contracts to (type, day); the grid explode is day-domain-sized. */
  private def dailyGridCompleted(events: DataFrame): DataFrame = {
    val daily0 = events
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    daily0.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily0, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
  }

  /** D80 — Pareto / ABC contribution analysis over part revenue (the
    * 80/20 mart every category manager reads first): parts ranked by
    * discounted revenue, classed A while the INCLUSIVE cumulative
    * share stays ≤ cutAPct, B to cutBPct, C beyond — boundaries pinned
    * as `cum·100 ≤ tot·cut` on exact centi-cent integers (no floored
    * shares inside the classifier; ties broken revenue DESC then
    * partkey ASC so the rank is total and both engines walk one
    * order). Money in the §5 cents·(100−disc) exact form.
    *
    * Scale: the corpus contracts to the PART DOMAIN in one
    * aggregation; the rank window runs over that dimension-sized frame
    * (TPC-H parts are ~corpus/1500 — if a dimension ever outgrows one
    * reducer, pre-bucket by a sampled revenue quantile, the I22
    * range-exchange discipline). Comparisons in decimal(38,0):
    * tot·100 caps int64 near 10¹⁷ centi-cents. */
  def paretoClasses(lineitem: DataFrame, cutAPct: Int = 70,
                    cutBPct: Int = 90): DataFrame = {
    val perPart = lineitem
      .groupBy(col("l_partkey"))
      .agg(sum(expr("""cast(round(l_extendedprice*100) as bigint)
          * (100 - cast(round(l_discount*100) as bigint))"""))
        .as("rev_cp"))
    val wOrd = Window.orderBy(col("rev_cp").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    perPart
      .withColumn("cum", sum(col("rev_cp")).over(wOrd))
      .withColumn("tot", sum(col("rev_cp")).over(wTot))
      .withColumn("cls",
        when(col("cum").cast("decimal(38,0)") * 100
          <= col("tot").cast("decimal(38,0)") * cutAPct, "A")
          .when(col("cum").cast("decimal(38,0)") * 100
            <= col("tot").cast("decimal(38,0)") * cutBPct, "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev_cp")).as("revenue_cp"),
        max(col("tot")).as("tot"))
      .select(col("cls"), col("n_parts"), col("revenue_cp"),
        // decimal: 10^6 * a class's centi-cents passes int64 already
        // at single-digit-GB corpora
        expr("""cast(1000000 * cast(revenue_cp as decimal(38,0)) div tot
            as bigint)""").as("share_ppm"))
      .orderBy(col("cls"))
  }

  /** D81 — Pettitt changepoint test (Appl. Statist. 1979) on the
    * per-type daily volume: the NONPARAMETRIC single-changepoint
    * locator — where D66's CUSUM needs a target mean and flags when a
    * known level drifts, Pettitt asks "did the distribution shift, and
    * WHEN" with no level, no variance, no distribution assumed (rank
    * arithmetic only, so one flash-crowd day cannot drag the answer
    * the way a mean-based split point would). U_t = Σ_{i≤t,j>t}
    * sgn(x_i − x_j) via the exact O(n log n) recursion U_t = U_{t−1} +
    * V_t, V_t = (#days below x_t) − (#days above) — V off the
    * count-of-counts VALUE contraction (the D69 median discipline),
    * never the O(n²) pair join. K = max |U_t| over t < n (U_n ≡ 0 is
    * excluded by construction), changepoint = earliest day attaining
    * K (pinned). All integers end to end — nothing to float.
    *
    * Scale: one corpus scan to the (type, day) grid; the value
    * histogram, both windows, and the argmax all run day-domain-sized. */
  def pettittChangepoint(events: DataFrame): DataFrame = {
    val daily = dailyGridCompleted(events)
    val wVal = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = daily.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(sum(col("c")).over(wVal), lit(0L)))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("x"), col("below"),
        (col("n") - col("below") - col("c")).as("above"), col("n"))
    val wDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val u = daily.join(hist, Seq("event_type", "x"))
      .withColumn("v", col("below") - col("above"))
      .withColumn("u", sum(col("v")).over(wDay))
      .withColumn("d1",
        max(col("day")).over(Window.partitionBy(col("event_type"))))
      .filter(col("day") < col("d1"))
    u.groupBy(col("event_type"))
      .agg(max(abs(col("u"))).as("k_stat"), max(col("n")).as("n_days"))
      .join(u.select(col("event_type"), col("day"), col("u")),
        Seq("event_type"))
      .filter(abs(col("u")) === col("k_stat"))
      .groupBy(col("event_type"), col("k_stat"), col("n_days"))
      .agg(min(col("day")).as("cp_day"))
      .join(u.select(col("event_type"), col("day").as("cp_day"),
        col("u").as("u_at_cp")), Seq("event_type", "cp_day"))
      .select(col("event_type"), col("n_days"), col("cp_day"),
        col("k_stat"), col("u_at_cp"))
      .orderBy(col("event_type"))
  }

  /** D82 — index of dispersion (Fano factor, variance-to-mean ratio)
    * of the per-type daily volume: the one-number burstiness verdict a
    * capacity planner reads before trusting any mean — Poisson arrivals
    * sit at 1, bursty/clumped traffic far above, quota-throttled
    * traffic below; D74's ACF says WHERE the dependence is, this says
    * HOW FAR from memoryless the volume is. Exact rational, zero
    * floats: Fano = sampleVar/mean = (n·Σx² − (Σx)²) / ((n−1)·Σx)
    * after cross-multiplying the two n's away — ppm floors only at the
    * emitted columns. Zero-activity days are in the grid (a dead day
    * is dispersion, not absence); a constant series emits variance 0,
    * single-day and zero-total series pin to 0, never NULL.
    *
    * Scale: one scan to the (type, day) grid, one aggregation per type
    * — products in decimal(38,0) (n·Σx² caps int64 once daily volume
    * nears 4·10⁷ over a 10-year domain; decimal holds to ~10¹⁵/day). */
  def dispersionIndex(events: DataFrame): DataFrame =
    dailyGridCompleted(events)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .withColumn("varnum",
        col("n").cast("decimal(38,0)") * col("sxx")
          - col("sx").cast("decimal(38,0)") * col("sx"))
      .select(col("event_type"), col("n").as("n_days"),
        expr("1000000 * sx div n").as("mean_e6"),
        when(col("n") <= 1L, lit(0L))
          .otherwise(expr("""cast(1000000 * varnum
            div (cast(n as decimal(38,0)) * (n - 1)) as bigint)"""))
          .cast("long").as("var_e6"),
        when(col("n") <= 1L || col("sx") === 0L, lit(0L))
          .otherwise(expr("""cast(1000000 * varnum
            div (cast(n - 1 as decimal(38,0)) * sx) as bigint)"""))
          .cast("long").as("fano_ppm"))
      .orderBy(col("event_type"))
  /** D86 — week-over-week MOVERS: per (type, 7-day epoch bucket) the
    * volume, the previous bucket's volume, and the sign-split exact
    * ppm change — the change-detection read on top of D23's resample
    * (aggregation says what the level IS; this says what MOVED, which
    * is what an ops review actually scans). Weeks are epoch-day div 7
    * (pinned — calendar-ISO week rules differ across engines and add
    * nothing here); a type's first observed week has no baseline and
    * is EXCLUDED (pinned — a 0-baseline ppm would be ±∞); an empty
    * intermediate week is a real 0-volume bucket via the D74 grid
    * completion, so a feed that died and recovered shows a −10⁶ then
    * a +∞-avoided re-entry through the 0→n guard (prev=0 pins
    * delta_ppm to 10⁶ with the counts visible).
    *
    * Scale: one scan to the (type, week) grid (day-domain-sized /7),
    * one lag window over it. */
  def weeklyMovers(events: DataFrame): DataFrame = {
    val weekly0 = events
      .select(col("event_type"),
        expr("ts_us div 604800000000").as("week"))
      .groupBy(col("event_type"), col("week"))
      .agg(count(lit(1)).as("n"))
    val grid = weekly0.groupBy(col("event_type"))
      .agg(min(col("week")).as("w0"), max(col("week")).as("w1"))
      .select(col("event_type"),
        explode(sequence(col("w0"), col("w1"))).as("week"))
      .join(weekly0, Seq("event_type", "week"), "left")
      .select(col("event_type"), col("week"),
        coalesce(col("n"), lit(0L)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    grid
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .filter(col("prev_n").isNotNull)
      .select(col("event_type"), col("week"), col("n"), col("prev_n"),
        when(col("prev_n") === 0L, lit(1000000L))
          .when(col("n") >= col("prev_n"),
            expr("1000000 * (n - prev_n) div prev_n"))
          .otherwise(-expr("1000000 * (prev_n - n) div prev_n"))
          .cast("long").as("delta_ppm"))
      .orderBy(col("event_type"), col("week"))
  }

  /** D85 — exact QUANTILE LADDER per group: the p25/p50/p75/p90/p99
    * cut points every ops dashboard quotes, EXACT off the
    * count-of-counts value histogram (the D19/D49/D69 discipline —
    * never a corpus sort, never percentile_approx's merge-order
    * nondeterminism, and unlike the D72 sketch these are the true
    * order statistics). Quantile definition pinned: q_p = min value
    * whose inclusive cumulative count reaches ⌈p·n/100⌉ (the lower
    * quantile — p50 coincides with D19's lower median for every n).
    * The ladder is one literal explode against the histogram's
    * cumulative frame; each (group, p) picks exactly the bucket whose
    * cumulative range covers its rank (cum ≥ r ∧ cum − c < r), so no
    * argmin pass is needed.
    *
    * Scale: one corpus pass to the (group, value) histogram — bounded
    * by the value domain (coarsen first if the domain is unbounded,
    * the D63 cents→dollars move); windows and the ladder join run on
    * that contraction. */
  def quantileLadder(rows: DataFrame, group: String, value: String,
                     quantiles: Seq[Long] = Seq(25L, 50L, 75L, 90L, 99L))
      : DataFrame =
    finishLadder(ladderContract(rows, group, col(value)), quantiles)

  /** The (grp, x, c) value histogram — the one corpus-sized pass of
    * D85 and D90, and (counts add) the complete-mode state of the F31
    * and F34 streaming monitors: one state family, two finishers. */
  def ladderContract(rows: DataFrame, group: String, value: Column): DataFrame =
    rows.select(col(group).as("grp"), value.as("x"))
      .groupBy(col("grp"), col("x"))
      .agg(count(lit(1)).as("c"))

  /** The ladder back half over a (grp, x, c) value histogram (rank
    * windows are non-associative, never state; the finishAuc
    * discipline). */
  def finishLadder(hist: DataFrame,
                   quantiles: Seq[Long] = Seq(25L, 50L, 75L, 90L, 99L))
      : DataFrame = {
    val wv = Window.partitionBy(col("grp")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    hist
      .withColumn("cum", sum(col("c")).over(wv))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy(col("grp"))))
      .select(col("grp"), col("x"), col("c"), col("cum"), col("n"),
        explode(lit(quantiles.toArray)).as("p"))
      .withColumn("r", expr("(p * n + 99) div 100"))
      .filter(col("cum") >= col("r") && col("cum") - col("c") < col("r"))
      .select(col("grp"), col("p"), col("n"), col("x").as("q_value"))
      .orderBy(col("grp"), col("p"))
  }

  /** Attach the interpolated median as a per-group column via window
    * aggregates — NO self-join (joins of a frame against its own
    * aggregation hit conflicting-reference resolution on streaming
    * snapshot tables; windows don't, and this finisher must run on
    * those snapshots). Ranks r_lo=(n+1) div 2 and r_hi=(n+2) div 2
    * are picked from cumulative ranges, med = their midpoint —
    * exactly Spark's `percentile(x, 0.5)` for every n (odd: the
    * middle; even: the average of the two middles). */
  private def withMedian(hist: DataFrame, out: String): DataFrame = {
    val wv = Window.partitionBy(col("grp")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wg = Window.partitionBy(col("grp"))
    hist
      .withColumn("cum", sum(col("c")).over(wv))
      .withColumn("n", sum(col("c")).over(wg))
      .withColumn("rlo", expr("(n + 1) div 2"))
      .withColumn("rhi", expr("(n + 2) div 2"))
      .withColumn(out,
        (max(when(col("cum") >= col("rlo") &&
            col("cum") - col("c") < col("rlo"), col("x"))).over(wg) +
          max(when(col("cum") >= col("rhi") &&
            col("cum") - col("c") < col("rhi"), col("x"))).over(wg)) / 2)
      .drop("cum", "n", "rlo", "rhi")
  }

  /** D90's back half over a (grp, x, c) value histogram — also the
    * F34 streaming monitor's finisher (medians are non-associative,
    * never state; the finishLadder discipline).
    * Returns (event_type, med, mad, n_rows, n_outliers) under
    * Hampel's |x−med| > 3·MAD rule. Join-free: both median picks are
    * window aggregates over the (re-grouped) histogram. */
  def finishMad(hist: DataFrame): DataFrame = {
    val dev = withMedian(hist, "med")
      .select(col("grp"), abs(col("x") - col("med")).as("x"), col("c"),
        col("med"))
      .groupBy(col("grp"), col("x"))
      .agg(sum(col("c")).as("c"), min(col("med")).as("med"))
    withMedian(dev, "mad")
      .groupBy(col("grp"))
      .agg(min(col("med")).as("med"), min(col("mad")).as("mad"),
        sum(col("c")).as("n_rows"),
        sum(when(col("x") > lit(3) * col("mad"), col("c"))
          .otherwise(lit(0L))).as("n_outliers"))
      .select(col("grp").as("event_type"), col("med"), col("mad"),
        col("n_rows"), col("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** D90 — exact MAD robust outliers per type, histogram-first: one
    * scan contracts to the (type, cents) value histogram (value-domain
    * bounded), then [[finishMad]] does two rank-window median picks
    * and the fence count on that contraction — the same plan at any
    * row count, and the finisher the F34 stream shares. */
  def madOutliers(events: DataFrame): DataFrame =
    finishMad(ladderContract(events, "event_type",
      graft.functions.GraftFunctions.cents(col("value"))))

  /** B26 — FRESHNESS mart: per stream (event type) the lag of its last
    * arrival behind the corpus frontier — the is-the-feed-alive check
    * an ingestion SLA reads every run, and D70's complement: islands
    * audit a type's PAST gaps, this flags the open-ended gap NOW
    * (a feed that stopped yesterday has a perfect island history).
    * Lag in whole seconds, staleness flagged against a caller-pinned
    * budget; first/last instants and row mass beside it so a stale
    * flag comes with its blast radius. One scan, one contraction to
    * the type domain, frontier via one broadcast scalar. */
  def freshness(events: DataFrame, staleAfterS: Long = 86400L): DataFrame =
    finishFreshness(freshnessContract(events), staleAfterS)

  /** The per-type (first_ts_us, last_ts_us, n_rows) contraction — also
    * the F30 live monitor's complete-mode state (min/max/count merge
    * associatively, bounded by the type domain). */
  def freshnessContract(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(min(col("ts_us")).as("first_ts_us"),
        max(col("ts_us")).as("last_ts_us"), count(lit(1)).as("n_rows"))

  /** The freshness back half over a per-type (first, last, n) frame
    * (the frontier depends on every type: non-associative, never
    * streaming state). */
  def finishFreshness(per: DataFrame, staleAfterS: Long = 86400L)
      : DataFrame =
    per.crossJoin(broadcast(per.agg(max(col("last_ts_us")).as("frontier"))))
      .withColumn("lag_s", expr("(frontier - last_ts_us) div 1000000"))
      .select(col("event_type"), col("n_rows"), col("first_ts_us"),
        col("last_ts_us"), col("lag_s"),
        when(col("lag_s") > staleAfterS, 1L).otherwise(0L).as("stale_flg"))
      .orderBy(col("event_type"))

  /** D84 — inter-arrival profile: per event type, the DOUBLING
    * HISTOGRAM (the E56 bit-length idiom) of the gaps between a user's
    * consecutive events — the event-level companion of D82's daily
    * Fano: D82 says the VOLUME is bursty, this says what the burst
    * micro-structure is (sub-second machine-gun retries vs human
    * think-time vs daily pulls land in different octaves, and a bot
    * cohort shows as mass where the human curve has none). Seconds
    * granularity, bucket = bitLength(gap_s + 1) so gap 0 is bucket 1
    * and each bucket spans one octave — value-domain-bounded (≤ ~40
    * buckets for any physical gap) with NO transcendentals (the D72
    * no-log2 discipline). Order within a user is the pinned (ts,
    * event_id) total order, so tie gaps are deterministic on replica
    * corpora.
    *
    * Scale: ONE user-keyed shuffle (the D62 lag window), immediate
    * contraction to (type, bucket); shares are one window over that
    * octave-bounded frame. */
  def interArrivalProfile(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val gaps = events
      .select(col("event_type"), col("user_id"), col("ts_us"),
        col("event_id"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gap_s", expr("(ts_us - prev) div 1000000"))
      .withColumn("gap_bits", length(bin(col("gap_s") + 1)).cast("long"))
    gaps
      .groupBy(col("event_type"), col("gap_bits"))
      .agg(count(lit(1)).as("n_gaps"), min(col("gap_s")).as("min_gap_s"),
        max(col("gap_s")).as("max_gap_s"))
      .withColumn("tot",
        sum(col("n_gaps")).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("gap_bits"), col("n_gaps"),
        col("min_gap_s"), col("max_gap_s"),
        expr("1000000 * n_gaps div tot").as("share_ppm"))
      .orderBy(col("event_type"), col("gap_bits"))
  }

  /** D83 — Wald–Wolfowitz runs test (Ann. Math. Statist. 1940) on the
    * per-type daily volume's above/below-median signs: the randomness
    * check that catches what D68's slope cannot — a series can be
    * trend-free yet REGIME-Y (long above-median stretches then long
    * below), and too FEW runs is exactly that clustering while too
    * MANY is oscillation/overcorrection. Median is the exact lower
    * median off the count-of-counts contraction (the D69 discipline);
    * exact-median days carry no sign and are EXCLUDED (pinned — the
    * standard conditioning). Runs counted by the D70 boundary trick
    * (sign ≠ lagged sign). R, n1, n2 are exact integers; z is the one
    * IEEE step, algebraically rearranged to integer arguments:
    * z = A·√B / √C with A = (n1+n2)(R−1) − 2n1n2, B = n1+n2−1,
    * C = 2n1n2·(2n1n2 − n1 − n2) — three exact integers through two
    * correctly-rounded √ and one multiply/divide in pinned literal
    * order (the H13/H17 precedent). One-sided series (n1·n2 = 0) or a
    * single run pins z = 0 with the counts showing why.
    *
    * Scale: one scan to the (type, day) grid; the median histogram,
    * sign lag, and run count are all day-domain windows. */
  def runsTest(events: DataFrame): DataFrame = {
    val daily = dailyGridCompleted(events)
    val wVal = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val med = daily.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wVal))
      .withColumn("n_tot",
        sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .filter(expr("cum >= (n_tot + 1) div 2"))
      .groupBy(col("event_type")).agg(min(col("x")).as("med"))
    val signed = daily.join(med, Seq("event_type"))
      .filter(col("x") =!= col("med"))
      .withColumn("sgn", when(col("x") > col("med"), 1L).otherwise(-1L))
    val wDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    signed
      .withColumn("brk",
        when(lag(col("sgn"), 1).over(wDay).isNull
          || lag(col("sgn"), 1).over(wDay) =!= col("sgn"), 1L)
          .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(col("brk")).as("runs"),
        sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("n2"))
      .withColumn("za",
        (col("n1") + col("n2")) * (col("runs") - 1L)
          - lit(2L) * col("n1") * col("n2"))
      .withColumn("zc",
        lit(2L) * col("n1") * col("n2")
          * (lit(2L) * col("n1") * col("n2") - col("n1") - col("n2")))
      .select(col("event_type"), col("runs"), col("n1"), col("n2"),
        when(col("n1") === 0L || col("n2") === 0L || col("zc") <= 0L,
          lit(0.0))
          .otherwise(col("za").cast("double")
            * sqrt((col("n1") + col("n2") - 1L).cast("double"))
            / sqrt(col("zc").cast("double")))
          .as("z"))
      .orderBy(col("event_type"))
  }
}
