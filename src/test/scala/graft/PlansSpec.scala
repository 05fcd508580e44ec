package graft

import org.apache.spark.sql.functions._

import graft.plans.AsOfNative
import graft.sources.Tables

/** The native as-of join (custom LogicalPlan → Strategy → SparkPlan):
  * semantics pinned against the window composition and by hand-built
  * edge cases; plan shape pinned to one AsOfJoinExec over exactly two
  * exchanges. (The DuckDB native-ASOF oracle covers it end-to-end via
  * `q_asof_native`.) */
class PlansSpec extends SparkSpec {

  /** The shared test session is built without GraftExtensions; register
    * the strategy through the public experimental-methods hook. */
  private def withStrategy(): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      cs.experimental.extraStrategies =
        cs.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
  }

  test("native as-of equals the window composition on real events") {
    withStrategy()
    val ev = Tables.events(spark, sf)
    def run(f: (org.apache.spark.sql.DataFrame, String, String, String, String,
        String, String) => org.apache.spark.sql.DataFrame) =
      f(ev, "user_id", "ts_us", "event_id", "event_type", "purchase", "error")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
    val composed = run(ops.AsOfJoin.lastPriorEvent)
    val native = run(ops.AsOfJoin.lastPriorEventNative)
    assert(native.length == composed.length && native.nonEmpty)
    assert(native.sameElements(composed))
  }

  test("native as-of: inclusive ties, unmatched rows, key skipping") {
    withStrategy()
    import spark.implicits._
    val l = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 5L), (4L, 3L, 7L))
      .toDF("id", "k", "t")
    val r = Seq((1L, 10L, "tie"), (1L, 15L, "later"), (2L, 6L, "after"),
      (4L, 1L, "orphan")).toDF("rk", "rt", "tag")
    val out = AsOfNative.join(l, r, Seq(l("k")), Seq(r("rk")), l("t"), r("rt"))
      .select(col("id"), col("tag"))
      .collect().map(row => row.getLong(0) -> row.getString(1)).toMap
    assert(out == Map(
      1L -> "tie",    // rt == t matches (inclusive, ASOF >= semantics)
      2L -> "later",  // greatest rt <= 20 wins, not the first
      3L -> null,     // only right row for key 2 is AFTER t=5
      4L -> null))    // key 3 has no right rows at all
  }

  test("native as-of plans one AsOfJoinExec over exactly two exchanges") {
    withStrategy()
    val ev = Tables.events(spark, sf)
    val plan = ops.AsOfJoin.lastPriorEventNative(ev, "user_id", "ts_us",
      "event_id", "event_type", "purchase", "error")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"native exec missing from plan:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 2, s"as-of should cost two exchanges, got $exchanges:\n$plan")
  }

  /** Round-5 fix: the content-sized frames (sparse-sim norms, prefix-join
    * sizes, inverted-index keep, tfidf df, coherence model) no longer
    * carry forced broadcast() hints — a hint bypasses Spark's size check
    * and OOMs an executor when distinct contents reach billions. The
    * plans must still BROADCAST at small scale, just via AQE's measured
    * decision instead of a forced one. */
  test("un-hinted content-sized joins still broadcast at test scale via AQE") {
    for (q <- Seq("q_sparse_sim", "q_prefix_join", "q_tfidf_top")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // materialize so AQE finalizes the adaptive plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$q final plan lost its small-scale broadcasts:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian:\n$plan")
    }
  }

  /** Round-6 plan-regression guard (VERDICT r5 #7): the join-strategy
    * shape of the ten most expensive bench queries, pinned as counts.
    * A regressed broadcast shows up as smj growth, a surprise cartesian
    * as cartesian > 0 — both fail here instead of silently costing
    * wall-clock at the next bench. Counts are for sf0.001 under the
    * shared test session; a LEGITIMATE plan improvement updates this
    * table in the same commit that changes the plan. */
  test("every ≥2s bench query's join strategies hold their audited shape") {
    // query -> (max sort-merge joins, min broadcast joins)
    val audited = Seq(
      "q_pagerank"        -> (0, 0),
      // r14: the optimization round's eager lineage cuts (grams /
      // members / postings / norms materialized once instead of
      // re-derived per consumer) truncate the previously-DUPLICATED
      // candidate pipelines out of the final plan, so the broadcast
      // floor drops with them (13 / 7 audited at this scale post-cut;
      // the old 20 / 25 counted the same joins several times over).
      "q_prefix_join"     -> (3, 13),
      "q_sparse_sim"      -> (6, 7),
      "q_bfs"             -> (0, 0),
      "q_dedup_cc"        -> (2, 0),
      "q_sssp"            -> (0, 0),
      "q_curate_full"     -> (1, 1),
      "q_copurchase"      -> (0, 5),
      "q_ann_ivf_learned" -> (0, 5),
      "q_containment"     -> (2, 5),
      // r6 additions to the bench top tier (audited via graft.Plans
      // at round close: km bhj=7 smj=1, impact bhj=3 smj=1)
      "q_km"              -> (1, 6),
      "q_dedup_impact"    -> (1, 3),
      // r14: queries whose shared frames gained eager lineage cuts
      // (concordanceIndex cells, perplexityBuckets scored) now truncate
      // the materialized pipeline out of the final plan — the floors
      // drop to the joins that remain visible after the cuts.
      // Scd2.merge is one keyed window with no joins, so the SCD2 pair
      // keeps only the point-in-time join's broadcast (audited via
      // graft.Plans at sf0.001: pit bhj=1 smj=0, squash bhj=0 smj=0).
      "q_scd2_pit"          -> (0, 1),
      "q_scd2_squash"       -> (0, 0),
      "q_cindex"            -> (1, 1),
      "q_lm_buckets"        -> (8, 2),
      // r7 (VERDICT r6 #6): coverage extended to EVERY query ≥2 s in
      // BENCH_SF01_r06.json; counts audited via graft.Plans at
      // sf0.001. q_kcore/q_dedup_clusters truncate at localCheckpoint
      // lineage cuts, so their counters only see the final stage.
      "q_kcore"             -> (0, 0),
      "q_approx_stats"      -> (0, 2),
      "q_minhash_calib"     -> (2, 12),
      "q_canon"             -> (0, 2),
      "q_winnow_pairs"      -> (0, 11),
      "q_dedup_clusters"    -> (0, 0),
      "q_semdedup"          -> (2, 7),
      "q_dedup_verify"      -> (2, 8),
      "q_dedup_incremental" -> (2, 18),
      "q_dsir"              -> (0, 2),
      "q_dupspan_removal"   -> (0, 6),
      "q_rrf_fusion"        -> (3, 9),
      "q_outliers"          -> (0, 2),
      "q_drift"             -> (0, 6),
      "q_snm"               -> (0, 10),
      // r7: pin the attribution rewrite — the prefix-sum shape joins
      // conversion-sized frames (broadcastable at test scale); a pair
      // materialization regressing back would surface as smj growth
      "q_attribution"       -> (1, 2),
      // r7 third leg's ≥2s newcomers (audited via graft.Plans at
      // sf0.001: cindex bhj=11 smj=1; curve bhj=18 smj=6; funnel
      // bhj=1 smj=1 — its LSH clustering truncates at checkpoint cuts)
      "q_dedup_curve"       -> (6, 18),
      "q_curation_funnel"   -> (1, 1),
      // r8 newcomer ≥2s (audited via graft.Plans at sf0.001: explain
      // bhj=8 smj=2, verifyCore's shape)
      "q_dedup_explain"     -> (2, 8),
      // r9: q_mart_merge's returned frame is the read-back of the merged
      // AtomicMart (fold is one window pass inside the publish): ZERO
      // joins of any kind — a cartesian or smj appearing here would mean
      // the manifest read started joining (audited: bhj=0 smj=0)
      "q_mart_merge"        -> (0, 0))
    val bad = audited.flatMap { case (q, (maxSmj, minBhj)) =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.queryExecution.toRdd.foreach(_ => ()) // finalize AQE in place
      val plan = df.queryExecution.executedPlan.toString
      def n(s: String) = plan.linesIterator.count(_.contains(s))
      val (cart, smj, bhj) =
        (n("CartesianProduct"), n("SortMergeJoin"), n("BroadcastHashJoin"))
      Seq(
        if (cart > 0) Some(s"$q: $cart cartesian products") else None,
        if (smj > maxSmj) Some(s"$q: $smj sort-merge joins (max $maxSmj) — a broadcast regressed?") else None,
        if (bhj < minBhj) Some(s"$q: only $bhj broadcast joins (min $minBhj)") else None
      ).flatten
    }
    assert(bad.isEmpty, s"plan-shape regressions:\n${bad.mkString("\n")}")
  }

  test("BloomSemiNode expands to the prefilter composition at analysis end") {
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"))
    val big = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 400000.0).select(col("o_orderkey"))
    val viaNode = graft.plans.BloomSemi.join(li, "l_orderkey", big, "o_orderkey")
    // the macro node must be gone after analysis, replaced by the
    // bloom bit-test probes + the exact semi-join
    val analyzed = viaNode.queryExecution.analyzed.toString
    assert(!analyzed.contains("BloomSemiNode"), s"node not expanded:\n$analyzed")
    val physical = viaNode.queryExecution.executedPlan.toString
    assert(physical.contains("shiftright"), s"no bloom probe in plan:\n$physical")
    assert(physical.contains("LeftSemi"), s"no exact semi-join in plan:\n$physical")
    // and semantics are exactly the plain semi-join
    val plain = li.join(big.withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"), "left_semi")
    assert(viaNode.count() == plain.count())
    assert(viaNode.exceptAll(plain).isEmpty)
  }
}
