package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation operators in exact integer space — the metrics a
  * training pipeline computes at corpus scale over classifier scores
  * (here the E46 hashed scorer; any integer score column works).
  *
  * Both avoid the naive global row sort: scores are contracted to
  * DISTINCT values first (the D46/D49 count-of-counts discipline), so
  * the only ordered work runs over the distinct-score frame — bounded
  * by score cardinality, not corpus size.
  */
object Evaluation {

  /** H4 — exact AUC via the rank-sum (Mann-Whitney U) identity:
    * AUC = (Σ avg-rank of positives − nPos(nPos+1)/2) / (nPos·nNeg),
    * ties handled by average rank. Doubling ranks keeps everything
    * integral: a tie group occupying positions [cum+1, cum+n] has
    * 2·avgRank = 2·cum + n + 1, so U·2 and the final ppm are exact —
    * bit-identical cross-engine, no floats anywhere.
    *
    * Scale shape: one groupBy contracts the corpus to distinct scores
    * with (n, n_pos); the rank prefix-sum window runs over THAT frame
    * only. Exact while nPos·nNeg·10^6 fits a long — beyond ~3·10^9
    * scored rows, stratify (per-slice AUC) before this op. */
  def aucExact(scored: DataFrame, score: String = "score",
               label: String = "label"): DataFrame =
    finishAuc(scoreContract(scored, score, label))

  /** The distinct-score contraction (s, n, np): per distinct score the
    * row count and the positive count — the only corpus-sized pass of
    * H4, H7, H8, H11 and H15. Counters merge associatively, so this
    * frame is also the F27 scorer-health monitor's complete-mode state,
    * bounded by the score domain. */
  def scoreContract(scored: DataFrame, score: String = "score",
                    label: String = "label"): DataFrame =
    scored.groupBy(col(score).as("s"))
      .agg(count(lit(1)).as("n"), sum(col(label)).as("np"))

  /** The rank-sum back half over a (s, n, np) distinct-score frame —
    * applied to batch contractions and F27 state snapshots alike. */
  def finishAuc(byScore: DataFrame): DataFrame = {
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum", coalesce(sum(col("n")).over(w), lit(0L)))
      .agg(sum(col("np")).as("n_pos"),
        sum(col("n") - col("np")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("cum") + col("n") + lit(1L)))
          .as("sum_r2"))
      .select(col("n_pos"), col("n_neg"),
        expr("(sum_r2 - n_pos * (n_pos + 1)) * 500000 div (n_pos * n_neg)")
          .as("auc_ppm"))
  }

  /** H6 — exact two-sample Kolmogorov–Smirnov drift statistic:
    * D = max_x |F_A(x) − F_B(x)|, the continuous-distribution
    * complement to the B16 χ² categorical monitor (train/serve drift,
    * corpus-vs-corpus shift). Scaled to integers by n_a·n_b:
    * D_num = max over merged distinct values of |n_b·cum_a − n_a·cum_b|
    * — no division until the final ppm, so the statistic itself is
    * cross-engine exact.
    *
    * Scale shape: the corpus contracts to distinct values with per-side
    * counts in one aggregation; the cumulative window runs over THAT
    * frame only (value-domain-sized, not corpus-sized — quantize/bin
    * first if the domain is unbounded). Exact while n_a·n_b·10^6 fits a
    * long (same stratify-beyond-~3·10^9-rows caveat as H4). */
  def ksDrift(samples: DataFrame, side: String = "side",
              v: String = "v"): DataFrame =
    finishKs(ksContract(samples, side, v))

  /** The distinct-value contraction (x, da, db): per distinct value the
    * side-0 and other-side counts — also the F29 streaming drift
    * monitor's complete-mode state, bounded by the value domain. */
  def ksContract(samples: DataFrame, side: String = "side",
                 v: String = "v"): DataFrame =
    samples.groupBy(col(v).as("x"))
      .agg(sum(when(col(side) === 0L, 1L).otherwise(0L)).as("da"),
        sum(when(col(side) =!= 0L, 1L).otherwise(0L)).as("db"))

  /** The KS back half over an (x, da, db) distinct-value frame — the
    * cumulative-max walk is non-associative, so it is never streaming
    * state. */
  def finishKs(byV: DataFrame): DataFrame = {
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = byV
      .withColumn("ca", sum(col("da")).over(w))
      .withColumn("cb", sum(col("db")).over(w))
    val tot = cum.agg(sum(col("da")).as("n_a"), sum(col("db")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(abs(col("n_b") * col("ca") - col("n_a") * col("cb")))
        .as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        expr("d_num * 1000000 div greatest(n_a * n_b, 1)").as("ks_ppm"))
  }

  /** H21 — per-SLICE AUC (stratified discrimination audit): the H4
    * rank-sum AUC computed within every slice of a grouping column
    * (language, source, market segment…) — the subgroup-performance
    * mart a deployed scorer owes its users: a healthy global AUC can
    * hide one slice where the model is a coin flip (Simpson-flavored
    * aggregation bias), and THIS is the table that shows it. Same
    * doubled-rank tie handling, same exact ppm; a DEGENERATE slice
    * (single-class — n_pos·n_neg = 0) is expected here rather than an
    * input error, so it pins auc_ppm = 500000 (no ranking information)
    * with its counts visible, never NULL and never a division failure.
    *
    * Scale: one pass contracts the corpus to (slice, score) cells; the
    * rank windows run per slice over that frame — adding the slice key
    * to H4's contraction costs nothing and distributes BETTER (the
    * windows partition instead of single-node). */
  def sliceAuc(scored: DataFrame, slice: String = "slice",
               score: String = "score", label: String = "label")
      : DataFrame = {
    val byScore = scored.groupBy(col(slice).as("slice"), col(score).as("s"))
      .agg(count(lit(1)).as("n"), sum(col(label)).as("np"))
    val w = Window.partitionBy(col("slice")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum", coalesce(sum(col("n")).over(w), lit(0L)))
      .groupBy(col("slice"))
      .agg(sum(col("np")).as("n_pos"),
        sum(col("n") - col("np")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("cum") + col("n") + lit(1L)))
          .as("sum_r2"))
      .select(col("slice"), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(500000L))
          .otherwise(expr(
            "(sum_r2 - n_pos * (n_pos + 1)) * 500000 div (n_pos * n_neg)"))
          .as("auc_ppm"))
      .orderBy(col("slice"))
  }

  /** H7 — exact precision/recall curve: one operating point per
    * distinct score threshold t (predict positive when score ≥ t),
    * TP/FP counts via a DESCENDING cumulative window over the
    * distinct-score contraction — the corpus is touched by exactly one
    * aggregation, the ordered work is score-cardinality-sized. The
    * ppm ratios are integer divisions of exact counts, so every
    * operating point hash-verifies cross-engine. */
  def prCurve(scored: DataFrame, score: String = "score",
              label: String = "label"): DataFrame = {
    val byScore = scoreContract(scored, score, label)
    val w = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = byScore
      .withColumn("tp", sum(col("np")).over(w))
      .withColumn("pp", sum(col("n")).over(w))
    val tot = byScore.agg(sum(col("np")).as("n_pos"))
    cum.crossJoin(broadcast(tot))
      .select(col("s").as("threshold"), col("tp"),
        (col("pp") - col("tp")).as("fp"),
        expr("tp * 1000000 div greatest(pp, 1)").as("precision_ppm"),
        expr("tp * 1000000 div greatest(n_pos, 1)").as("recall_ppm"))
      .orderBy(col("threshold"))
  }

  /** H8 — best-F1 operating point: the threshold a deployed classifier
    * actually ships with. F1(t) = 2·TP/(PP + nPos) (the identity
    * 2TP+FP+FN = PP+nPos), compared across thresholds in pico-units
    * (2·TP·10^12 div (PP+nPos)) — exact argmax whenever two true F1
    * fractions differ by ≥ 10^-12 (they do until corpora reach ~10^6
    * scored rows per the quantization bound; past that the pico tie
    * falls to the deterministic threshold tie-break, so the answer is
    * still cross-engine stable, within 10^-12 of optimal). Same
    * distinct-score contraction as H7: the corpus is touched once. */
  def bestF1(scored: DataFrame, score: String = "score",
             label: String = "label"): DataFrame = {
    val byScore = scoreContract(scored, score, label)
    val w = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val pts = byScore
      .withColumn("tp", sum(col("np")).over(w))
      .withColumn("pp", sum(col("n")).over(w))
      .crossJoin(broadcast(byScore.agg(sum(col("np")).as("n_pos"))))
      .select(col("s").as("threshold"), col("tp"), col("pp"), col("n_pos"),
        expr("2 * tp * 1000000000000 div (pp + n_pos)").as("f1_pico"))
    pts.join(broadcast(pts.agg(max(col("f1_pico")).as("f1_pico"))),
        Seq("f1_pico"))
      .orderBy(col("threshold").desc).limit(1)
      .select(col("threshold"), col("tp"), (col("pp") - col("tp")).as("fp"),
        (col("n_pos") - col("tp")).as("fn"), col("f1_pico"))
  }

  /** H10 — Poisson-bootstrap uncertainty band for the H4 AUC (Kleiner
    * et al.-style resampling for metrics at corpus scale): replicate r
    * reweights every scored row by an independent Poisson(1) draw —
    * the distributed-safe stand-in for multinomial resampling, since
    * per-row draws need no global coordination — and the weighted
    * rank-sum AUC of each replicate is one point of the sampling
    * distribution. Draws are DETERMINISTIC: the md5-derived h32 of
    * (replicate, row id) is uniform on [0, 2^32) and inverted through
    * the Poisson(1) CDF as six precomputed integer thresholds
    * (⌊cdf·2^32⌋ — constants, so no transcendentals at runtime and the
    * weights replay bit-identically cross-engine).
    *
    * Weighted tie-aware rank-sum: grouping by distinct score s with
    * replicate weights (wp_s, wn_s),
    * 2U = Σ_s wp_s·(2·cumWn_below(s) + wn_s), AUC = U/(Wp·Wn) — all
    * integer until the final ppm division.
    *
    * Scale shape: the corpus is touched by ONE map pass that emits b
    * weighted copies of each row, and partial aggregation contracts to
    * b×distinct-scores per task before the only shuffle — replicate
    * cost is map CPU, not shuffle volume. The per-replicate window runs
    * over the b×distinct-score contraction. Exact while
    * Wp·Wn·10^6 fits a long (weights average 1, so the H4
    * ~3·10^9-rows stratification bound applies unchanged). */
  def aucBootstrap(scored: DataFrame, score: String = "score",
                   label: String = "label", id: String = "doc_id",
                   b: Int = 16): DataFrame = {
    import graft.functions.GraftFunctions.h32
    // Poisson(1) inverse CDF on h32 ∈ [0, 2^32): thresholds ⌊cdf_k·2^32⌋
    val u = h32(concat(lit("boot:"), col("r").cast("string"),
      lit(":"), col("rid")))
    val wgt = when(u < 1580030168L, 0L)
      .when(u < 3160060337L, 1L)
      .when(u < 3950075421L, 2L)
      .when(u < 4213413783L, 3L)
      .when(u < 4279248373L, 4L)
      .when(u < 4292415291L, 5L)
      .otherwise(6L)
    val byScore = scored
      .select(col(score).as("s"), col(label).as("lbl"),
        col(id).cast("string").as("rid"))
      .withColumn("r", explode(array((0 until b).map(lit(_)): _*)))
      .withColumn("wgt", wgt)
      .groupBy(col("r"), col("s"))
      .agg(sum(when(col("lbl") === 1L, col("wgt")).otherwise(0L)).as("wp"),
        sum(when(col("lbl") =!= 1L, col("wgt")).otherwise(0L)).as("wn"))
    val w = Window.partitionBy(col("r")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cumn", coalesce(sum(col("wn")).over(w), lit(0L)))
      .groupBy(col("r"))
      .agg(sum(col("wp")).as("w_pos"), sum(col("wn")).as("w_neg"),
        sum(col("wp") * (lit(2L) * col("cumn") + col("wn"))).as("u2"))
      .select(col("r").cast("long").as("r"), col("w_pos"), col("w_neg"),
        expr("u2 * 500000 div greatest(w_pos * w_neg, 1)").as("auc_ppm"))
      .orderBy(col("r"))
  }

  /** H5 — calibration curve (reliability diagram): fixed-width score
    * bins with observed positive rate per bin. One map-side bin
    * assignment + one grouped aggregation — no window at all. Scores
    * are SHIFTED non-negative before binning: Spark's `div` truncates
    * toward zero while DuckDB's `//` floors, so negative-score bins
    * would disagree cross-engine; after the shift both floor. */
  def calibration(scored: DataFrame, score: String = "score",
                  label: String = "label", binWidth: Long = 500L,
                  shift: Long = 1000000000L): DataFrame =
    scored
      .withColumn("bin",
        expr(s"(($score + $shift) div $binWidth) * $binWidth - $shift"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col(label)).as("n_pos"),
        sum(col(score)).as("sum_score"))
      .withColumn("pos_rate_ppm", expr("n_pos * 1000000 div n"))
      .orderBy(col("bin"))

  /** H11 — exact decile lift / cumulative-gains table, the
    * campaign-targeting view of a scorer (score DESC = contact order):
    * per bucket the positive count, cumulative capture rate
    * (`gain_ppm = 1e6·cumPos div totPos`) and cumulative lift vs a
    * random contact policy (`lift_ppm = 1e6·cumPos·N div (cumN·totPos)`
    * — 1e6 = random). Buckets are assigned on the DISTINCT-SCORE
    * contraction: a score lands in `least(k−1, k·cum_lt div N)` where
    * `cum_lt` counts rows scoring STRICTLY HIGHER, so all ties share a
    * bucket (documented: bucket sizes are N/k only when ties don't
    * straddle a boundary) and the assignment is hash-exact cross-engine
    * — never ntile, whose tie handling differs. Integer ppm throughout.
    *
    * Scale: one grouped aggregation contracts the corpus to the
    * distinct-score frame (domain-bounded for integer scorers like H9's);
    * both cumulative windows run on that contraction, then on the
    * k-row bucket frame. Same posture as H4/H7/H8. */
  def liftTable(scored: DataFrame, score: String = "score",
                label: String = "label", buckets: Int = 10): DataFrame = {
    val byScore = scoreContract(scored, score, label)
    val wd = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val binned = byScore
      .withColumn("cum_lt", coalesce(sum(col("n")).over(wd), lit(0L)))
      .withColumn("ntot", sum(col("n")).over(tot))
      .withColumn("ptot", sum(col("np")).over(tot))
      .withColumn("bucket",
        least(lit(buckets - 1L), expr(s"$buckets * cum_lt div ntot")) + 1L)
    val wb = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    binned
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n"), sum(col("np")).as("n_pos"),
        max(col("ntot")).as("ntot"), max(col("ptot")).as("ptot"))
      .withColumn("cum_n", sum(col("n")).over(wb))
      .withColumn("cum_pos", sum(col("n_pos")).over(wb))
      .select(col("bucket"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"),
        expr("cum_pos * 1000000 div ptot").as("gain_ppm"),
        // widen to decimal(38,0): the int64 form overflows once
        // cum_pos·ntot ≳ 9.2e12 — far below the ~3e9-row H4 bound.
        // IntegralDivide on decimals returns BIGINT, exact for any
        // corpus the sibling metrics admit (product < 1e25 ≪ 1e38).
        expr("""cast(cast(cum_pos as decimal(38,0)) * ntot * 1000000
                div (cast(cum_n as decimal(38,0)) * ptot) as bigint)""")
          .as("lift_ppm"))
      .orderBy(col("bucket"))
  }

  /** H11 — COST-optimal operating point: the threshold fraud ops
    * actually deploy is not best-F1 but min-money-lost — each false
    * positive costs a review (`fpCostCents`), each missed fraud costs
    * the loss (`fnCostCents`), and the chosen threshold minimizes
    * `fp·fpCost + fn·fnCost` in exact cents. The candidate set is
    * every distinct score PLUS the explicit FLAG-NOTHING point
    * (threshold max(s)+1: tp=fp=0, all positives missed) — without it
    * the search can only recommend flagging at least the top score
    * even when reviews cost more than the fraud they catch. Ties
    * break to the HIGHER threshold (fewer flags, same money).
    *
    * Scale: the H7/H8 distinct-score contraction — one corpus pass,
    * cumulative windows over the score domain, argmin via a broadcast
    * 1-row aggregate join. Integer scores by the §5 discipline. */
  def costThreshold(scored: DataFrame, fpCostCents: Long, fnCostCents: Long,
                    score: String = "score", label: String = "label")
      : DataFrame = {
    val byScore = scoreContract(scored, score, label)
    val w = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = byScore.agg(sum(col("np")).as("n_pos"),
      (max(col("s")) + 1L).as("none_t"))
    val pts = byScore
      .withColumn("tp", sum(col("np")).over(w))
      .withColumn("pp", sum(col("n")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("s").as("threshold"), col("tp"), col("pp"), col("n_pos"))
    val flagNone = tot.select(col("none_t").as("threshold"),
      lit(0L).as("tp"), lit(0L).as("pp"), col("n_pos"))
    val costs = pts.unionByName(flagNone)
      .select(col("threshold"), col("tp"),
        (col("pp") - col("tp")).as("fp"),
        (col("n_pos") - col("tp")).as("fn"))
      .withColumn("cost_cents",
        col("fp") * fpCostCents + col("fn") * fnCostCents)
    costs.join(broadcast(costs.agg(min(col("cost_cents")).as("cost_cents"))),
        Seq("cost_cents"))
      .orderBy(col("threshold").desc).limit(1)
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        col("cost_cents"))
  }

  /** H15 — exact AVERAGE PRECISION (AP, the scalar that summarizes
    * H7's PR curve the way H4 summarizes ROC): AP = Σ_k ΔR_k·P_k over
    * score levels descending — the ranking metric that, unlike AUC,
    * collapses when positives are rare and the top of the list is
    * wrong, which is why retrieval and fraud-triage evals quote it.
    * Tie handling pinned: a tie group contributes its whole positive
    * mass at the group's OWN precision (the "all-at-this-threshold"
    * reading — thresholds live between distinct scores, so partial
    * credit inside a group is not observable). Per-level precision is
    * an exact ppm floor; AP_ppm = (Σ np_k·prec_ppm_k) div n_pos —
    * deterministic cross-engine, alongside the no-skill baseline
    * (prevalence) the number is read against.
    *
    * Scale: the H4/H7 distinct-score contraction — one corpus pass,
    * one cumulative window over the score domain. */
  def averagePrecision(scored: DataFrame, score: String = "score",
                       label: String = "label"): DataFrame =
    finishAp(scoreContract(scored, score, label))

  /** The AP back half over a (s, n, np) frame — F27's other finisher. */
  def finishAp(byScore: DataFrame): DataFrame = {
    val w = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    byScore
      .withColumn("cum_tp", sum(col("np")).over(w))
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("prec_ppm", expr("1000000 * cum_tp div cum_n"))
      .agg(sum(col("np")).as("n_pos"), sum(col("n") - col("np")).as("n_neg"),
        sum(col("np") * col("prec_ppm")).as("apsum"))
      .select(col("n_pos"), col("n_neg"),
        expr("apsum div n_pos").as("ap_ppm"),
        expr("1000000 * n_pos div (n_pos + n_neg)").as("prevalence_ppm"))
  }

  /** H14 — McNemar's paired test (Psychometrika 1947): did classifier
    * B actually improve on classifier A, judged ONLY on the rows where
    * they disagree? Accuracy deltas on the full corpus double-count
    * the easy rows both get right; the paired statistic
    * χ² = (b−c)²/(b+c) over the discordant cells (b = A right/B
    * wrong, c = A wrong/B right) is the test that matches how model
    * swaps are actually decided. No continuity correction (pinned —
    * the uncorrected form is the one that is exact-rational). Cells
    * and per-model accuracies are exact integers off ONE corpus pass
    * (a single aggregation, no shuffle beyond it); the χ² is one
    * double division of exactly-represented integers in identical
    * literal order (the D71 discipline). b+c = 0 (never disagree)
    * emits χ² = 0 with the cells showing why, never NULL/NaN. */
  def mcnemar(paired: DataFrame, a: String = "pred_a",
              b: String = "pred_b", label: String = "label"): DataFrame =
    paired
      .agg(count(lit(1)).as("n"),
        sum(when(col(a) === col(label), 1L).otherwise(0L)).as("n_a_right"),
        sum(when(col(b) === col(label), 1L).otherwise(0L)).as("n_b_right"),
        sum(when(col(a) === col(label) && col(b) =!= col(label), 1L)
          .otherwise(0L)).as("b_cell"),
        sum(when(col(a) =!= col(label) && col(b) === col(label), 1L)
          .otherwise(0L)).as("c_cell"))
      .select(col("n"), col("n_a_right"), col("n_b_right"),
        expr("1000000 * n_a_right div n").as("acc_a_ppm"),
        expr("1000000 * n_b_right div n").as("acc_b_ppm"),
        col("b_cell"), col("c_cell"),
        when(col("b_cell") + col("c_cell") === 0L, lit(0.0))
          .otherwise(
            ((col("b_cell") - col("c_cell")) *
              (col("b_cell") - col("c_cell"))).cast("double") /
              (col("b_cell") + col("c_cell")).cast("double"))
          .as("chi2"))

  /** The shared concordance contraction: one row of exact-BIGINT pair
    * masses (C, D), marginal tie terms and n0 off the (binA, binB)
    * contingency cells — every rank-association coefficient (τ-b,
    * gamma, Somers' D) is a different ratio over these five numbers. */
  private def concordanceCounts(binned: DataFrame, a: String, b: String)
      : DataFrame = {
    val cells = binned.groupBy(col(a).as("i"), col(b).as("j"))
      .agg(count(lit(1)).as("n"))
    val c2 = cells.select(col("i").as("i2"), col("j").as("j2"),
      col("n").as("n2"))
    val conc = cells.join(broadcast(c2),
        col("i2") > col("i") && col("j2") > col("j"))
      .agg(coalesce(sum(col("n") * col("n2")), lit(0L)).as("c_pairs"))
    val disc = cells.join(broadcast(c2),
        col("i2") > col("i") && col("j2") < col("j"))
      .agg(coalesce(sum(col("n") * col("n2")), lit(0L)).as("d_pairs"))
    val margA = cells.groupBy(col("i")).agg(sum(col("n")).as("t"))
      .agg(sum(col("t")).as("ntot"),
        sum(expr("t * (t - 1) div 2")).as("ties_a"))
    val margB = cells.groupBy(col("j")).agg(sum(col("n")).as("t"))
      .agg(sum(expr("t * (t - 1) div 2")).as("ties_b"))
    conc.crossJoin(broadcast(disc)).crossJoin(broadcast(margA))
      .crossJoin(broadcast(margB))
      .withColumn("n0", expr("ntot * (ntot - 1) div 2"))
  }

  /** H13 — Kendall τ-b rank correlation between two BINNED integer
    * columns (Kendall 1938; tie-corrected τ-b 1945) — here the
    * score-confound check an eval suite owes its users: is the scorer
    * ranking quality, or just re-measuring length? (A |τ| near 1
    * against n_chars means the "quality" scorer is a ruler.) Callers
    * bin both sides first (the H5 fixed-width discipline) — that is
    * what makes the computation cell-contracted AND what bounds it:
    * concordant/discordant pair masses come from a strict-dominance
    * self-join of the (binA, binB) contingency cells, each unordered
    * pair of distinct cells counted in exactly one orientation, so
    * the work is |cells|² with |cells| bounded by the bin grid —
    * never N². Tie terms Σt(t−1)/2 come off the two marginals. C, D,
    * n0, and both tie terms are exact BIGINTs; τ-b itself is the one
    * IEEE step — (C−D)/√((n0−n1)(n0−n2)) assembled in identical
    * literal order from exact integers (sqrt is correctly rounded in
    * IEEE 754, so both engines produce the same double — the q_abtest
    * χ² precedent). Degenerate marginals (all mass in one bin) emit
    * τ-b = 0 with the tie terms showing why, never NULL.
    *
    * Scale: one corpus pass to the cell contraction; the dominance
    * join broadcasts the cell frame (grid-bounded by contract). Exact
    * while N² < 2⁶³ — the H4 stratify-beyond caveat. */
  def kendallTauB(binned: DataFrame, a: String = "va", b: String = "vb")
      : DataFrame =
    concordanceCounts(binned, a, b)
      .select(col("ntot").as("n"), col("c_pairs"), col("d_pairs"),
        col("n0"), col("ties_a"), col("ties_b"),
        when(col("n0") === col("ties_a") || col("n0") === col("ties_b"),
          lit(0.0))
          .otherwise(
            (col("c_pairs") - col("d_pairs")).cast("double") /
              sqrt((col("n0") - col("ties_a")).cast("double") *
                (col("n0") - col("ties_b")).cast("double")))
          .as("tau_b"))

  /** H23 — Goodman–Kruskal GAMMA and both Somers' D directions off the
    * SAME concordance contraction as H13's τ-b (one cell pass, three
    * coefficient families): gamma = (C−D)/(C+D) ignores all ties (the
    * optimist — any monotone signal scores high); Somers' D is the
    * asymmetric pair: D_b|a = (C−D)/(n0 − ties_a) normalizes by pairs
    * untied on a, D_a|b by pairs untied on b. With a = score and b = a
    * BINARY outcome, pairs untied on b are exactly the n_pos·n_neg
    * label-crossing pairs, so D_a|b IS the credit-scoring Gini =
    * 2·AUC−1 (the H4 bridge, spec-pinned — score ties count ½ in AUC
    * and 0 in C−D, the same thing). All three are single IEEE divisions
    * over exact BIGINTs; degenerate denominators emit 0 with the
    * counts visible, never NULL. */
  def rankAssociation(binned: DataFrame, a: String = "va", b: String = "vb")
      : DataFrame =
    concordanceCounts(binned, a, b)
      .select(col("ntot").as("n"), col("c_pairs"), col("d_pairs"),
        col("n0"), col("ties_a"), col("ties_b"),
        when(col("c_pairs") + col("d_pairs") === 0L, lit(0.0))
          .otherwise((col("c_pairs") - col("d_pairs")).cast("double") /
            (col("c_pairs") + col("d_pairs")).cast("double"))
          .as("gamma"),
        when(col("n0") === col("ties_a"), lit(0.0))
          .otherwise((col("c_pairs") - col("d_pairs")).cast("double") /
            (col("n0") - col("ties_a")).cast("double"))
          .as("somers_d_ba"),
        when(col("n0") === col("ties_b"), lit(0.0))
          .otherwise((col("c_pairs") - col("d_pairs")).cast("double") /
            (col("n0") - col("ties_b")).cast("double"))
          .as("somers_d_ab"))

  /** H16 — Cohen's κ chance-corrected agreement (Educ. Psychol. Meas.
    * 1960) between two categorical raters — the inter-rater companion
    * to H14: McNemar asks "did B beat A against the LABEL on the
    * discordant rows"; κ asks "do A and B even agree beyond what their
    * own base rates force" with no label at all (two lang-id scorers,
    * two dedup verdicts, model-vs-heuristic triage). Raw agreement
    * over-credits raters that both say the majority class; κ subtracts
    * the marginal-product chance floor:
    * κ = (p_o − p_e)/(1 − p_e) = (n·agree − Σ_k r_k·c_k) /
    * (n² − Σ_k r_k·c_k) — computed on the EXACT integer cross-multiplied
    * form, never on floored p_o/p_e (a ppm floor inside the ratio
    * would poison the correction term). The ppm is sign-split (κ is
    * negative for systematic disagreement — the D68 truncate-vs-floor
    * idiom); both-raters-constant (n² = Σr·c, p_e = 1) pins κ = 0 with
    * the marginal sums showing why, never NULL.
    *
    * Scale: one corpus pass contracts to (pred_a, pred_b) contingency
    * cells — bounded by the label alphabet squared — and everything
    * after (marginals, the Σr·c join) runs on that frame. Exact while
    * n² fits decimal(38,0): ~10¹⁹ rows. */
  def cohenKappa(paired: DataFrame, a: String = "pred_a",
                 b: String = "pred_b"): DataFrame =
    finishKappa(kappaContract(paired, a, b))

  /** The (pred_a, pred_b, n) contingency-cell contraction — also the
    * F28 streaming agreement monitor's complete-mode state, bounded by
    * the label alphabet squared. */
  def kappaContract(paired: DataFrame, a: String = "pred_a",
                    b: String = "pred_b"): DataFrame =
    paired.groupBy(col(a).as("pred_a"), col(b).as("pred_b"))
      .agg(count(lit(1)).as("n"))

  /** The κ back half over a (pred_a, pred_b, n) cell frame, applied to
    * batch contractions and F28 state snapshots alike. */
  def finishKappa(cells: DataFrame): DataFrame = {
    val margA = cells.groupBy(col("pred_a").as("k"))
      .agg(sum(col("n")).as("r"))
    val margB = cells.groupBy(col("pred_b").as("k"))
      .agg(sum(col("n")).as("c"))
    val chance = margA.join(margB, Seq("k"), "inner")
      .agg(coalesce(sum(col("r").cast("decimal(38,0)") * col("c")),
        lit(0L).cast("decimal(38,0)")).as("rc"))
    val totals = cells.agg(sum(col("n")).as("ntot"),
      sum(when(col("pred_a") === col("pred_b"), col("n"))
        .otherwise(lit(0L))).as("agree"))
    totals.crossJoin(broadcast(chance))
      .withColumn("num",
        col("ntot").cast("decimal(38,0)") * col("agree") - col("rc"))
      .withColumn("den",
        col("ntot").cast("decimal(38,0)") * col("ntot") - col("rc"))
      .select(col("ntot").as("n"), col("agree"),
        expr("1000000 * agree div ntot").as("po_ppm"),
        expr("cast(1000000 * rc div (cast(ntot as decimal(38,0)) * ntot)"
          + " as bigint)").as("pe_ppm"),
        when(col("den") === 0, lit(0L))
          .when(col("num") >= 0,
            expr("cast(1000000 * num div den as bigint)"))
          .otherwise(-expr("cast(1000000 * (-num) div den as bigint)"))
          .cast("long").as("kappa_ppm"))
  }

  /** H17 — Matthews correlation coefficient at a pinned threshold
    * (Matthews, BBA 1975; = the φ coefficient of the 2×2 table): the
    * single-threshold verdict that stays honest under class imbalance,
    * where accuracy and even F1 reward the flag-everything /
    * flag-nothing degenerates (F1 ignores TN entirely — a scorer can
    * post 0.9 F1 while anti-correlated on the rare class). The four
    * cells and the numerator tp·tn − fp·fn are exact BIGINTs off one
    * corpus pass; MCC itself is the one IEEE step — num /
    * √(s1·s2·s3·s4) with the four marginal factors cast to double and
    * multiplied in identical literal order both engines (each factor
    * ≤ n is exactly representable below 2⁵³; the PRODUCT is where
    * int64 would overflow at n ≳ 55k, hence doubles — the H13 √
    * precedent). Any zero marginal pins MCC = 0 (the undefined-limit
    * convention), cells emitted so the degenerate is visible. */
  def mccAtThreshold(scored: DataFrame, threshold: Long = 1L,
                     score: String = "score", label: String = "label")
      : DataFrame =
    scored
      .agg(sum(when(col(score) >= threshold && col(label) === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col(score) >= threshold && col(label) === 0L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col(score) < threshold && col(label) === 1L, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col(score) < threshold && col(label) === 0L, 1L)
          .otherwise(0L)).as("tn"))
      .withColumn("s1", col("tp") + col("fp"))
      .withColumn("s2", col("tp") + col("fn"))
      .withColumn("s3", col("tn") + col("fp"))
      .withColumn("s4", col("tn") + col("fn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("s1") === 0L || col("s2") === 0L || col("s3") === 0L
            || col("s4") === 0L, lit(0.0))
          .otherwise(
            (col("tp") * col("tn") - col("fp") * col("fn")).cast("double") /
              sqrt(col("s1").cast("double") * col("s2").cast("double") *
                col("s3").cast("double") * col("s4").cast("double")))
          .as("mcc"))

  /** H18 — expected calibration error (ECE; Naeini et al., AAAI 2015)
    * plus the max-gap MCE, on H12's exact binning geometry: the
    * deployment-gating scalar ("is a 0.9 really a 0.9?") where H5
    * draws the picture and H12 attributes the Brier mass. The mean
    * |gap| is kept exact by weighting BEFORE flooring: per category
    * n_k·|rate_k − p_k| = |10⁶·np_k − p_k·n_k| is an exact integer
    * (one floor total at the final div n, not one per bin); MCE is the
    * max per-bin |10⁶·np_k div n_k − p_k| — its inner floor is on a
    * non-negative integer ratio so both engines land identically.
    * Same clamped-linear link and midpoint categories as H12, so the
    * three calibration views (H5/H12/H18) describe one geometry.
    *
    * Scale: the H12 shape — one map pass, contraction to ≤ 10⁶/binPpm
    * category rows; sums decimal(38,0) (10⁶·np_k caps int64 near 10¹³
    * rows). */
  def expectedCalibrationError(scored: DataFrame, score: String = "score",
                               label: String = "label",
                               linkSlope: Long = 25L,
                               binPpm: Long = 50000L): DataFrame =
    scored
      .withColumn("phat", expr(
        s"""(least(999999, greatest(0, 500000 + $score * $linkSlope))
            div $binPpm) * $binPpm + ${binPpm / 2}"""))
      .groupBy(col("phat"))
      .agg(count(lit(1)).as("n_k"), sum(col(label)).as("np_k"))
      .agg(sum(col("n_k")).as("n"), count(lit(1)).as("n_bins"),
        sum(abs(lit(1000000L).cast("decimal(38,0)") * col("np_k")
          - col("phat").cast("decimal(38,0)") * col("n_k"))).as("gsum"),
        max(abs(expr("1000000 * np_k div n_k") - col("phat")))
          .as("mce_ppm"))
      .select(col("n"), col("n_bins"),
        expr("cast(gsum div n as bigint)").as("ece_ppm"), col("mce_ppm"))

  /** H20 — Harrell's concordance index (C-index; JAMA 1982) for
    * RIGHT-CENSORED time-to-event data: H4's AUC generalized to
    * survival — of all pairs whose outcome order is KNOWN despite
    * censoring, the share where the higher risk score had the earlier
    * event. The pair admissibility is the whole point: (event i,
    * any j observed beyond t_i) is comparable; (censored i, anything
    * after) is not — i's true event time is unknown; two events at the
    * same t are not (no order); (event, censored) at the same t is —
    * the censored one provably survived past the event (the standard
    * Harrell conventions, all pinned). Tied scores score ½:
    * c_ppm = 500000·(2·conc + tied) div comparable, exact.
    *
    * NOT O(n²): callers bin the score (the H13 binning contract), the
    * corpus contracts to (t, sbin) cells, and the pair masses come off
    * the completed t×sbin GRID — later(t,s) = tot(s) − cumIncl(t,s)
    * via one per-s time window, the <s / >s / =s splits via per-t
    * score windows, same-time censored mass likewise. Work after the
    * one contraction pass is grid-sized (lag-domain × bin-domain);
    * pair COUNTS stay exact (we count, never enumerate). Exact while
    * n² < 2⁶³ — the H4 stratify-beyond caveat. Zero comparable pairs
    * (all censored, or one time point of events) pins c_ppm = 500000
    * (no information ≡ coin flip), counts showing why. */
  def concordanceIndex(surv: DataFrame, time: String = "t",
                       event: String = "is_event",
                       score: String = "sbin"): DataFrame = {
    val cells = surv.groupBy(col(time).as("t"), col(score).as("s"))
      .agg(count(lit(1)).as("n"), sum(col(event)).as("ne"))
      // three consumers (both grid axes + the grid join) — un-cut, each
      // re-ran the caller's study frame (for q_cindex the whole
      // lineitem⋈orders censoring join; 32 scans in the r14 plan
      // audit). (t, s)-grid-sized: bounded by contract.
      .localCheckpoint(true)
    // the score-bin domain is bounded BY CONTRACT (callers bin), so it
    // carries the engine's bounded-by-construction broadcast marker
    val grid = cells.select(col("t")).distinct()
      .crossJoin(broadcast(cells.select(col("s")).distinct()))
      .join(cells, Seq("t", "s"), "left")
      .select(col("t"), col("s"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("ne"), lit(0L)).as("ne"))
    val wTime = Window.partitionBy(col("s")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wScoreTot = Window.partitionBy(col("s"))
    val wLess = Window.partitionBy(col("t")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wMore = Window.partitionBy(col("t")).orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val g = grid
      .withColumn("later", sum(col("n")).over(wScoreTot)
        - sum(col("n")).over(wTime))
      .withColumn("cens", col("n") - col("ne"))
      .withColumn("later_lt", coalesce(sum(col("later")).over(wLess),
        lit(0L)))
      .withColumn("later_gt", coalesce(sum(col("later")).over(wMore),
        lit(0L)))
      .withColumn("cens_lt", coalesce(sum(col("cens")).over(wLess),
        lit(0L)))
      .withColumn("cens_gt", coalesce(sum(col("cens")).over(wMore),
        lit(0L)))
    g.filter(col("ne") > 0L)
      .agg(
        sum(col("ne") * (col("later_lt") + col("cens_lt"))).as("conc"),
        sum(col("ne") * (col("later_gt") + col("cens_gt"))).as("disc"),
        sum(col("ne") * (col("later") + col("cens"))).as("tied"))
      .select(col("conc"), col("disc"), col("tied"),
        (col("conc") + col("disc") + col("tied")).as("comparable"),
        when(col("conc") + col("disc") + col("tied") === 0L, lit(500000L))
          .otherwise(expr(
            // decimal: 5e5 * pair masses passes int64 near 4e6 rows
            """cast(500000 * cast(2 * conc + tied as decimal(38,0))
               div (conc + disc + tied) as bigint)"""))
          .cast("long").as("c_ppm"))
  }

  /** H22 — Spearman rank correlation (tie-corrected: Pearson over
    * MIDRANKS) between two binned integer columns — H13's companion
    * with the complementary failure mode: Kendall's τ-b reads pair
    * concordance (robust, but its dominance join is |cells|²), ρ reads
    * monotone association through rank arithmetic that is LINEAR in
    * the cell frame — on a fine bin grid ρ is the one you can afford,
    * and quoting both is the standard confound report. Midranks stay
    * integral by the H4 DOUBLING trick (a tie block over positions
    * [cum+1, cum+t] has 2·midrank = 2·cum + t + 1; the factor 2
    * cancels in ρ), so every moment is an exact decimal(38,0) off one
    * weighted pass; ρ itself is the one IEEE step — num/√(sxx·syy) in
    * pinned literal order from exactly-computed integers (the
    * H13/H17 precedent). Degenerate marginals (an axis with one
    * distinct value) pin ρ = 0, never NULL/NaN.
    *
    * Scale: one corpus pass to the (va, vb) cell contraction; the two
    * rank maps are value-domain windows above aggregates; the moment
    * pass is cell-frame-sized. */
  def spearmanRho(binned: DataFrame, a: String = "va", b: String = "vb")
      : DataFrame = {
    val cells = binned.groupBy(col(a).as("va"), col(b).as("vb"))
      .agg(count(lit(1)).as("n"))
    def ranks(axis: String, out: String): DataFrame = {
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      cells.groupBy(col(axis).as("v")).agg(sum(col("n")).as("t"))
        .withColumn("cum", coalesce(sum(col("t")).over(w), lit(0L)))
        .select(col("v").as(axis),
          (lit(2L) * col("cum") + col("t") + lit(1L)).as(out))
    }
    cells
      .join(ranks("va", "ra2"), Seq("va"))
      .join(ranks("vb", "rb2"), Seq("vb"))
      .agg(sum(col("n")).as("nn"),
        sum(col("n").cast("decimal(38,0)") * col("ra2")).as("sa"),
        sum(col("n").cast("decimal(38,0)") * col("rb2")).as("sb"),
        sum(col("n").cast("decimal(38,0)") * col("ra2") * col("ra2"))
          .as("saa"),
        sum(col("n").cast("decimal(38,0)") * col("rb2") * col("rb2"))
          .as("sbb"),
        sum(col("n").cast("decimal(38,0)") * col("ra2") * col("rb2"))
          .as("sab"))
      .withColumn("num", col("nn") * col("sab") - col("sa") * col("sb"))
      .withColumn("sxx", col("nn") * col("saa") - col("sa") * col("sa"))
      .withColumn("syy", col("nn") * col("sbb") - col("sb") * col("sb"))
      .select(col("nn").as("n"),
        when(col("sxx") === 0 || col("syy") === 0, lit(0.0))
          .otherwise(col("num").cast("double") /
            sqrt(col("sxx").cast("double") * col("syy").cast("double")))
          .as("rho"))
  }

  /** H19 — multiclass confusion matrix with both per-cell shares: the
    * error-ANATOMY mart behind every scalar above (H14 says B beat A,
    * H16 says they agree — this says WHICH classes bleed into which:
    * "de mislabeled as en" and "en mislabeled as de" are different
    * bugs with different fixes). One row per OBSERVED (truth, pred)
    * cell — zero cells are absent by contract (the support-only
    * reading; a dense grid of structural zeros would scale with
    * alphabet², not data). Each cell carries its truth-row total and
    * prediction-column total plus both exact ppm shares: row_share =
    * per-class recall on the diagonal, col_share = per-class precision
    * on the diagonal, and off the diagonal they read as "x% of true K
    * goes to J" / "x% of predicted J is really K".
    *
    * Scale: one corpus pass to the cell contraction (alphabet²-
    * bounded); marginals are two windows over that frame. */
  def confusionMatrix(paired: DataFrame, truth: String = "label",
                      pred: String = "pred"): DataFrame = {
    val cells = paired.groupBy(col(truth).as("truth"), col(pred).as("pred"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("row_n",
        sum(col("n")).over(Window.partitionBy(col("truth"))))
      .withColumn("col_n",
        sum(col("n")).over(Window.partitionBy(col("pred"))))
      .select(col("truth"), col("pred"), col("n"), col("row_n"),
        col("col_n"),
        expr("1000000 * n div row_n").as("row_share_ppm"),
        expr("1000000 * n div col_n").as("col_share_ppm"))
      .orderBy(col("truth"), col("pred"))
  }

  /** H12 — Murphy decomposition of the Brier score (Murphy, J. Appl.
    * Meteor. 1973): BS = reliability − resolution + uncertainty — the
    * one-row verdict on WHY a probabilistic scorer is good or bad
    * (H5's reliability diagram is the picture; this is the number:
    * mis-calibration mass vs discrimination mass vs base-rate floor).
    * The margin becomes a forecast probability through a fixed
    * CLAMPED-LINEAR link (`p_ppm = clamp₀^999999(500000 +
    * margin·linkSlope)` — the integer-exact stand-in for a fitted
    * sigmoid; any monotone ppm link slots in), then discretizes to
    * `binPpm`-wide forecast categories at their midpoints — the H5
    * geometry, and the finite-category setting the decomposition is
    * stated for. All terms in e-12 units (ppm², e.g. BS·10¹²):
    * per-category observed rates are ppm floors, so the identity
    * holds to floor rounding — `identity_gap_e12` is EMITTED as a
    * self-check column (|gap| ≤ a few e3 ≪ the ~e11 terms; both
    * engines floor identically so even the gap hashes).
    *
    * Scale: one map pass assigns categories, one grouped aggregation
    * contracts the corpus to ≤ 10⁶/binPpm category rows; everything
    * after runs on that contraction. Sums in decimal(38,0) (HUGEINT
    * twin): n_k·10¹² would cap int64 at ~9·10⁶ rows. */
  def brierDecomposition(scored: DataFrame, score: String = "score",
                         label: String = "label", linkSlope: Long = 25L,
                         binPpm: Long = 50000L): DataFrame = {
    val byBin = scored
      .withColumn("phat", expr(
        s"""(least(999999, greatest(0, 500000 + $score * $linkSlope))
            div $binPpm) * $binPpm + ${binPpm / 2}"""))
      .groupBy(col("phat"))
      .agg(count(lit(1)).as("n_k"), sum(col(label)).as("np_k"))
    val tot = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    byBin
      .withColumn("nn", sum(col("n_k")).over(tot))
      .withColumn("pp", sum(col("np_k")).over(tot))
      .withColumn("obar", expr("1000000 * pp div nn"))
      .withColumn("obark", expr("1000000 * np_k div n_k"))
      .groupBy()
      .agg(max(col("nn")).as("n"), max(col("pp")).as("n_pos"),
        max(col("obar")).as("obar_ppm"),
        sum(expr("""cast(np_k as decimal(38,0))
            * (phat - 1000000) * (phat - 1000000)
            + cast(n_k - np_k as decimal(38,0)) * phat * phat"""))
          .as("bsum"),
        sum(expr("""cast(n_k as decimal(38,0))
            * (phat - obark) * (phat - obark)""")).as("rsum"),
        sum(expr("""cast(n_k as decimal(38,0))
            * (obark - obar) * (obark - obar)""")).as("ssum"))
      .select(col("n"), col("n_pos"), col("obar_ppm"),
        expr("cast(bsum div n as bigint)").as("brier_e12"),
        expr("cast(rsum div n as bigint)").as("reliability_e12"),
        expr("cast(ssum div n as bigint)").as("resolution_e12"),
        (col("obar_ppm") * (lit(1000000L) - col("obar_ppm")))
          .as("uncertainty_e12"))
      .withColumn("identity_gap_e12",
        col("brier_e12") - (col("reliability_e12") - col("resolution_e12")
          + col("uncertainty_e12")))
  }

  /** H26 — Cochran's Q test (Biometrika 1950): do k paired binary
    * raters fire at the same RATE over the same items — the k-rater
    * generalization of H14's McNemar (k = 2 reduces to it exactly),
    * and the gate before averaging k rule verdicts into one score:
    * per slice, Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²) with C_j =
    * rater j's fire count, R_i = item i's fired-rater count, T = ΣC =
    * ΣR. Both numerator (Cauchy–Schwarz) and denominator (R_i ≤ k)
    * are nonnegative exact integers, so the single milli `div` floors
    * identically cross-engine; all-agree slices (den = 0) pin 0 with
    * the marginals visible. Q ~ χ²(k−1) under H₀.
    *
    * Scale: input is the long (slice, item, rater, x) frame; one agg
    * per (slice, rater) for the C_j's, one per (slice, item) for the
    * R_i's — both contractions, then slice-domain arithmetic.
    * Decimal(38) squares: ΣC² passes int64 at ~3·10⁹ fires. */
  def cochranQ(long: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val byRater = long.groupBy(col("slice"), col("rater"))
      .agg(sum(col("x")).as("cj"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("k"), sum(col("cj")).as("t"),
        sum(col("cj").cast(dec) * col("cj")).as("sc2"))
    val byItem = long.groupBy(col("slice"), col("item"))
      .agg(sum(col("x")).as("ri"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("ri").cast(dec) * col("ri")).as("sr2"))
    byRater.join(byItem, Seq("slice"))
      .withColumn("num",
        (col("k") - lit(1L)).cast(dec)
          * (col("k").cast(dec) * col("sc2")
            - col("t").cast(dec) * col("t")))
      .withColumn("den",
        col("k").cast(dec) * col("t") - col("sr2"))
      .select(col("slice"), col("k"), col("n_items"), col("t"),
        (col("k") - lit(1L)).as("df"),
        when(col("den") <= 0, lit(0L))
          .otherwise(expr("CAST(1000 * num div den AS BIGINT)"))
          .as("q_milli"))
      .orderBy(col("slice"))
  }

  /** H28 — Krippendorff's α (nominal data; Content Analysis 1980), the
    * general inter-rater reliability H16's κ cannot give: ANY number
    * of raters, MISSING ratings allowed (units keep whatever raters
    * showed up, m_u varies), chance-corrected against the pooled
    * category marginals. Off the coincidence-matrix identity:
    * Do = Σ_u (m_u² − Σ_c n_cu²)/(m_u − 1), De = (n² − Σ_c n_c²)/(n−1),
    * α = 1 − Do/De — computed with Do scaled by lcm(1..maxRaters−1)
    * so every per-unit weight is INTEGER (m_u ≤ maxRaters by
    * construction of the long frame), and one floored nonnegative div:
    * alpha_ppm = 10⁶ − (10⁶·(n−1)·Do_scaled) div (scale·(n² − Σn_c²)).
    * Units with m_u < 2 are unpairable and excluded (the standard
    * conditioning); a slice whose pairable ratings all carry ONE
    * category pins α = 10⁶ (no disagreement is expressible), never a
    * zero-divide. α < 0 (systematic disagreement) falls out of the
    * subtraction with no sign-split needed — the div itself is
    * nonnegative.
    *
    * Scale: two contractions (slice×item×cat cells, then units), the
    * marginal pass is a semi-join of the cell frame against pairable
    * units — everything after is slice-domain. Decimal(38): n² passes
    * int64 at ~3·10⁹ pairable ratings per slice. */
  def krippendorffAlpha(long: DataFrame, maxRaters: Int = 3): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val scale = (1L until maxRaters.toLong)
      .foldLeft(1L)((l, k) => l / gcd(l, k) * k)
    // the (slice, item, cat) coincidence cells feed BOTH the unit
    // contraction and the marginal pass — un-cut, the caller's whole
    // explode frame re-derived per consumer (10-scan plan, r15).
    // Narrow integer rows, one per rated (item, cat) pair.
    val cells = long.groupBy(col("slice"), col("item"), col("cat"))
      .agg(count(lit(1)).as("ncu"))
      .localCheckpoint(true)
    // pairable units feed the observed-disagreement agg AND the
    // marginal semi-join; a strict contraction of cells.
    val units = cells.groupBy(col("slice"), col("item"))
      .agg(sum(col("ncu")).as("mu"),
        sum(col("ncu") * col("ncu")).as("snc2"))
      .filter(col("mu") >= 2L)
      .localCheckpoint(true)
    val obs = units.groupBy(col("slice"))
      .agg(count(lit(1)).as("n_items"),
        sum(expr(s"$scale div (mu - 1)")
          * (col("mu") * col("mu") - col("snc2"))).as("o_scaled"))
    val marg = cells
      .join(units.select(col("slice"), col("item")), Seq("slice", "item"),
        "left_semi")
      .groupBy(col("slice"), col("cat"))
      .agg(sum(col("ncu")).as("nc"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_cats"), sum(col("nc")).as("n"),
        sum(col("nc").cast(dec) * col("nc")).as("snc2"))
    obs.join(marg, Seq("slice"))
      .withColumn("de_num",
        col("n").cast(dec) * col("n") - col("snc2"))
      .select(col("slice"), col("n_items"), col("n"), col("n_cats"),
        when(col("de_num") <= 0, lit(1000000L))
          .otherwise(lit(1000000L) - expr(
            s"CAST(1000000 * CAST(n - 1 AS DECIMAL(38,0)) * o_scaled " +
              s"div ($scale * de_num) AS BIGINT)"))
          .as("alpha_ppm"))
      .orderBy(col("slice"))
  }
}
