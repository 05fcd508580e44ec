package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** D44 — distributed triangle counting over an undirected edge list:
  * the basic graph-analytics primitive (cluster cohesion, community
  * density — here, how CLIQUE-LIKE the near-dup graph is, which is
  * what justifies treating dup components as interchangeable groups).
  *
  * Standard oriented wedge join: edges are stored once as (a < b), so
  * each triangle {a<b<c} is found exactly once by joining wedges
  * (a,b)+(b,c) against the closing edge (a,c). The orientation is the
  * scale trick — every triangle has exactly one low-to-high traversal,
  * so no triangle is counted 6 ways and the wedge build fans out on
  * out-degree under the total order (degree-ordering is the documented
  * refinement when id order correlates badly with degree). Two
  * edge-keyed shuffles; all frames are graph-sized, never corpus-
  * sized.
  */
object GraphStats {

  /** Scoped loop configuration shared by the iterative operators
    * (PageRank / BFS / SSSP / k-core, [[Dedup.minLabelClosure]],
    * [[ConnectedComponents.components]]): the candidate graph is orders
    * of magnitude smaller than the corpus, so the loop's shuffles are
    * sized to the GRAPH (one partition per ~100k edges, capped) rather
    * than the session's corpus partitioning. AQE defaults OFF for the
    * loop — but r15's 10x-zipf tier measurements flipped it ON
    * (`keepAqe`) for every loop that re-shuffles the full (skewed)
    * edge list per round: kCore 19.0→8.4 s, BFS
    * 6.4→4.9, SSSP 5.3→4.9, PageRank 7.0→6.3 at 10x, with sf0.1
    * at-or-better — AQE's skew splitting beats its per-job replanning
    * latency as soon as the graph carries hot keys. Scale-adaptive by
    * construction: the partition count derives from the measured edge
    * count, not a constant. Every frame the loop returns is eagerly
    * checkpointed inside the scope, so restored session conf only
    * governs the caller's presentation sort. */
  private[graft] def withLoopConf[T](spark: org.apache.spark.sql.SparkSession,
                                     nEdges: Long,
                                     keepAqe: Boolean = false)(body: Int => T): T = {
    // A defaultParallelism FLOOR was tried here in r15 (hypothesis: the
    // edge-derived count serializes small-graph loops) and REVERTED on
    // measurement: at sf0.1 (~12 loop partitions) flooring to 32 made
    // every loop query 1.3-1.5x SLOWER in a same-window A/B (q_kcore
    // 4.31→6.51 s, q_pagerank 3.43→5.20, q_bfs 3.51→5.06, q_sssp
    // 2.78→3.74) — per-round scheduling on 32 near-empty partitions
    // costs more than the parallelism buys on a graph this small. The
    // edge-derived count already exceeds any reasonable floor once the
    // graph outgrows the box, which is the only regime where the floor
    // could matter.
    val parts = math.max(1L, math.min(nEdges / 100000L, 4096L)).toInt
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    // keepAqe: k-core's per-round degree aggregation + double semi-join
    // re-shuffles the FULL edge list every round — on a skewed (zipf)
    // graph the fixed-partition, AQE-off form stragglers badly (10x
    // tier: 19.0 s vs 8.6 for the AQE-on r13 form). Loops whose rounds
    // move only frontier/rank-sized frames keep AQE off (its per-job
    // re-planning is pure latency there).
    spark.conf.set("spark.sql.adaptive.enabled", keepAqe.toString)
    try body(parts)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** Per-node triangle counts; nodes in no triangle are absent.
    * `edges` must hold each undirected edge once as (id1 < id2). */
  def triangles(edges: DataFrame): DataFrame = {
    val ab = edges.select(col("id1").as("a"), col("id2").as("b"))
    val bc = edges.select(col("id1").as("b"), col("id2").as("c"))
    val ac = edges.select(col("id1").as("a"), col("id2").as("c"))
    ab.join(bc, Seq("b"))
      .join(ac, Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("node"))
  }

  /** D75 — local clustering coefficient (Watts–Strogatz, Nature 1998):
    * per node, the fraction of its neighbour pairs that are themselves
    * connected — `lcc_ppm = 10⁶·2·tri(v) div (deg(v)·(deg(v)−1))` —
    * the node-level cohesion read that separates a clique-like dup
    * cluster (lcc→1: members are mutually interchangeable, D44's
    * premise made per-node) from a hub-and-spoke one (lcc→0: one
    * template document stitching unrelated near-dups together, a
    * candidate for the E60 election to split). Nodes of degree ≥ 2
    * only (the coefficient is undefined below); triangle-free nodes
    * surface with lcc 0 via the degree-frame left join — their ABSENCE
    * from D44's output is exactly what this mart exists to show.
    *
    * Scale: the D44 oriented wedge join (its cost dominates) plus one
    * edge-scan degree aggregation; the join and grid completion run on
    * graph-sized frames. Integer ppm throughout — hash-exact. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val tri = triangles(edges)
    val deg = edges
      .select(explode(array(col("id1"), col("id2"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= 2L)
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("lcc_ppm",
        expr("1000000 * 2 * n_triangles div (degree * (degree - 1))"))
      .orderBy(col("node"))
  }

  /** D47 — fixed-iteration PageRank in EXACT integer ppm arithmetic.
    *
    * The web-corpus curation use: rank crawl URLs by link authority and
    * keep/weight documents by rank (the Common-Crawl-style quality
    * prior). All arithmetic is BIGINT parts-per-million with floor
    * division, so Spark and any ANSI engine produce bit-identical
    * ranks — no transcendentals, no float accumulation order to drift
    * (the §5 oracle-parity discipline).
    *
    * Per iteration: rank'(v) = 150000 + 85% · Σ_{u→v} rank(u) div
    * outdeg(u) — the standard damped update, unnormalized (baseline 1.0
    * ppm per node). Scale posture: `edges`/`outdeg`/`nodes` are
    * graph-sized and materialized ONCE (eager localCheckpoint — the
    * I10 lineage discipline); each round is one edge-keyed shuffle +
    * one node-keyed aggregate, the same per-round cost PageRank has on
    * any vertex-centric system. Dangling nodes are legal inputs: their
    * rank decays to the baseline and their mass is dropped, matching
    * the common "no dangling redistribution" simplification.
    */
  def pageRank(rawEdges: DataFrame, iters: Int = 5): DataFrame = {
    val spark = rawEdges.sparkSession
    // the corpus-shaped edge build runs under the session's own conf;
    // everything after is graph-sized and runs under the loop conf
    val e = rawEdges.select(col("src"), col("dst")).localCheckpoint(true)
    val nEdges = e.count() // materialized RDD — one cheap count job
    withLoopConf(spark, nEdges, keepAqe = true) { parts =>
      // out-degree is static across iterations — join it into the edge
      // list ONCE (and pre-partition by src, the per-round join key) so
      // each round pays one join + one aggregate, not two joins
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val eDeg = e.join(outdeg, Seq("src"))
        .repartition(parts, col("src")).localCheckpoint(true)
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct().localCheckpoint(true)

      var rank = nodes.withColumn("rank_ppm", lit(1000000L))
      for (i <- 1 to iters) {
        val contrib = eDeg
          .join(rank.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"),
            expr("rank_ppm div outdeg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("c"))
        // Unlike BFS/SSSP/k-core, each round references `rank` exactly
        // ONCE, so the lazily-unrolled plan grows LINEARLY (eDeg and
        // nodes are checkpointed leaves) — no need for a per-round
        // barrier. Cut only the final round: the whole unrolled chain
        // then executes as ONE pipelined job inside the loop conf,
        // instead of `iters` barriered checkpoint jobs (r15 same-window
        // A/B at sf0.1/32c: 3.36 s per-round form → 3.03 s this form).
        val next = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            expr("150000L + (coalesce(c, 0L) * 85) div 100").as("rank_ppm"))
        rank = if (i == iters) next.localCheckpoint(true) else next
      }
      rank
    }.orderBy(col("node"))
  }

  /** D50 — k-hop BFS distances from a seeded source set: the graph
    * companion to D47's global authority — LOCAL reachability ("how far
    * is this account from a known-fraud seed"), the classic
    * guilt-by-association feature a fraud pipeline derives from the
    * trade graph (and, in crawl curation, link-distance-from-seed-set
    * quality tiers).
    *
    * Delta iteration, NOT full relaxation: each round joins only the
    * FRONTIER (nodes first reached last round) against the edge list,
    * so total join work is Σ frontier-adjacent edges ≤ k·|E|, and on
    * small-diameter graphs rounds after the diameter are free (empty
    * frontier short-circuits via the anti-join). Per round: one
    * edge-keyed join + node-keyed min + anti-join vs settled — all
    * graph-sized, eager localCheckpoint per the I10 lineage discipline.
    * BFS min-dist needs no tie-breaking (unlike weighted SSSP) so the
    * result is engine-deterministic by construction; the oracle is a
    * depth-bounded recursive CTE with MIN(d) folded after the fixpoint.
    *
    * Sources: customer-side nodes (residue < 5·10^8 mod 10^9, the
    * replica-safe id-space test) with node ≡ 0 (mod srcMod). */
  def khopDistances(edges: DataFrame, srcMod: Long = 211, k: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val nEdges = e.count()
    withLoopConf(spark, nEdges, keepAqe = true) { _ =>
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct()
      var settled = nodes
        .filter(pmod(col("node"), lit(1000000000L)) < 500000000L &&
          col("node") % srcMod === 0)
        .withColumn("dist", lit(0L))
        .localCheckpoint(true)
      var frontier = settled
      for (_ <- 1 to k) {
        val cand = frontier
          .join(e.withColumnRenamed("src", "node"), Seq("node"))
          .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        frontier = cand
          .join(settled.select(col("node")), Seq("node"), "left_anti")
          .localCheckpoint(true)
        settled = settled.unionByName(frontier).localCheckpoint(true)
      }
      settled
    }.orderBy(col("node"))
  }

  /** The customer↔supplier trade graph (who transacts with whom),
    * symmetrized so every node has out-edges: the reference's fraud
    * domain re-read as link analysis (rank accounts by counterparty
    * authority). Suppliers are offset by 5·10^8 to share one id space
    * — deliberately NOT a multiple of 10^9, so the offset stays
    * collision-free under the replica generator's +r·10^9 key shifts
    * (customer residues sit near 0 mod 10^9, supplier residues near
    * 5·10^8). One join + distinct — edge-list-sized from there on. */
  def tradeEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
        Seq("o_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_suppkey") + 500000000L).as("supp"))
      .distinct()
    pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .unionByName(pairs.select(col("supp").as("src"), col("cust").as("dst")))
  }

  /** D53 weighted edges: the trade graph with an integer tie-strength
    * cost per edge — cost = 10^6 div (joint lineitem count), so heavily
    * trading counterparties are "close" and one-off ones "far". Same
    * replica-safe 5·10^8 supplier offset as [[tradeEdges]]; one join +
    * one pair-keyed count, edge-list-sized from there on. */
  def weightedTradeEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
        Seq("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"),
        (col("l_suppkey") + 500000000L).as("supp"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("cust"), col("supp"), expr("1000000L div cnt").as("w"))
    pairs.select(col("cust").as("src"), col("supp").as("dst"), col("w"))
      .unionByName(pairs.select(col("supp").as("src"), col("cust").as("dst"),
        col("w")))
  }

  /** D53 — hop-limited weighted SSSP (Bellman-Ford over ≤ k edges),
    * the weighted sibling of D50's BFS: min total cost from the seed
    * set, where cheap edges are strong trade ties — "how strongly
    * connected is this account to a known-fraud seed", the weighted
    * guilt-by-association feature.
    *
    * DELTA relaxation: each round relaxes only edges out of nodes whose
    * best-known cost IMPROVED last round. Exactness of the hop-limited
    * semantic is inductive: if a node's best ≤(i-1)-edge cost was found
    * at round j < i-1, its out-edges were already relaxed with that
    * cost at round j+1, so frontier-only relaxation reaches the same
    * d_i as full relaxation — while per-round join work shrinks to the
    * improving set (empty frontier → rounds are free). Min over integer
    * path sums → engine-deterministic, no tie-break needed. Per round:
    * one edge join + node-keyed min + one cost-compare join, all
    * graph-sized, eager lineage cuts (I10). Oracle = the k rounds of
    * FULL relaxation unrolled as chained CTEs (same d_k by the
    * induction; standard SQL recursion cannot carry a min fixpoint). */
  def ssspCosts(edges: DataFrame, srcMod: Long = 211, k: Int = 3): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst"), col("w")).localCheckpoint(true)
    val nEdges = e.count()
    withLoopConf(spark, nEdges, keepAqe = true) { _ =>
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct()
      var dist = nodes
        .filter(pmod(col("node"), lit(1000000000L)) < 500000000L &&
          col("node") % srcMod === 0)
        .withColumn("cost", lit(0L))
        .localCheckpoint(true)
      var frontier = dist
      for (_ <- 1 to k) {
        val cand = frontier
          .join(e.withColumnRenamed("src", "node"), Seq("node"))
          .select(col("dst").as("node"), (col("cost") + col("w")).as("c"))
          .groupBy(col("node")).agg(min(col("c")).as("c"))
        val improved = cand
          .join(dist, Seq("node"), "left")
          .filter(col("cost").isNull || col("c") < col("cost"))
          .select(col("node"), col("c").as("cost"))
          .localCheckpoint(true)
        dist = dist.unionByName(improved)
          .groupBy(col("node")).agg(min(col("cost")).as("cost"))
          .localCheckpoint(true)
        frontier = improved
      }
      dist
    }.orderBy(col("node"))
  }

  /** D64 — k-core decomposition (Seidman 1983; distributed peeling as
    * in Montresor et al., "Distributed k-Core Decomposition"): the
    * maximal subgraph in which every node keeps degree ≥ k, found by
    * repeatedly deleting under-degree nodes until fixpoint. The
    * density-based community filter the degree threshold alone can't
    * express — removing a weak node can cascade (its neighbors drop
    * under k next round), which is exactly what the iteration captures.
    *
    * Per round: one node-keyed degree aggregation + two semi-joins
    * (src and dst endpoint survival) — all edge-list-sized, eager
    * localCheckpoint lineage cuts per the I10 discipline. The
    * convergence probe collects ONE aggregated count per round (the
    * sanctioned metadata-sized collect, same as the CC loop). Survivor
    * sets only shrink, so rounds past the fixpoint are idempotent —
    * the DuckDB twin runs a FIXED generous round count and lands on
    * the identical core; Spark fails loudly if `maxRounds` weren't
    * enough rather than returning a half-peeled graph.
    *
    * `rawEdges` must be the symmetric (both-direction) edge list;
    * output is each core node with its degree INSIDE the core.
    *
    * Choosing the round budget: each peel round removes every node
    * whose CURRENT degree is < k, so the rounds needed equal the
    * longest "peel cascade" — a chain where each removal drops the
    * next node under k. Dense cores converge in a handful of rounds
    * (2 on the trade graph at every tested scale); the pathological
    * bound is O(n) (a path graph with k=2 peels one layer per round
    * from each end). `maxRounds` is the cheap first budget;
    * `escalateTo` lets a STILL-SHRINKING peel continue with doubling
    * budgets (progress is provable — the node count strictly
    * decreases — so extra rounds are never wasted on a stuck state),
    * and only a peel still shedding at `escalateTo` fails loudly.
    * Paired oracle runs stay safe: the SQL twin carries its own
    * convergence sentinel at its fixed round count. */
  def kCore(rawEdges: DataFrame, k: Int = 24, maxRounds: Int = 12,
            escalateTo: Int = 96): DataFrame = {
    val spark = rawEdges.sparkSession
    var edges = rawEdges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    val nEdges = edges.count()
    withLoopConf(spark, nEdges, keepAqe = true) { _ =>
      var nNodes = -1L
      var converged = false
      var round = 0
      var budget = maxRounds
      while (!converged && round < budget) {
        // eager cut on keep RESTORED (r15): the r14 keep-cut relied on
        // ReuseExchange sharing the groupBy between the two semi-joins,
        // which held at sf0.1 but regressed the 10x zipf tier 8.6 →
        // 19.0 s (q_kcore) — with AQE off inside the loop the shared
        // exchange re-partitions the full skewed edge list per round
        // on fixed partitions. The keep set is degree-filtered NODE
        // ids, the smallest frame in the loop.
        val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src"))
          .localCheckpoint(true)
        edges = edges
          .join(keep, Seq("src"), "left_semi")
          .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
          .localCheckpoint(true)
        val m = edges.agg(countDistinct(col("src"))).head().getLong(0)
        converged = m == nNodes
        nNodes = m
        round += 1
        if (!converged && round == budget && budget < escalateTo) {
          // still strictly shrinking at the budget edge: double it (a
          // deep cascade needs more rounds, not a different algorithm)
          budget = math.min(budget * 2, escalateTo)
          spark.sparkContext.setJobDescription(
            s"kCore: escalating round budget to $budget")
        }
      }
      require(converged || nNodes == 0L,
        s"k-core peel did not converge within $budget rounds " +
          s"($nNodes nodes still shedding) — raise escalateTo")
      edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("core_deg"))
        .localCheckpoint(true)
    }.orderBy(col("node"))
  }

  /** The exact-content duplicate graph with TWO synthetic replicas per
    * seeded doc (so every seeded content forms a 3-clique): clique
    * edges within each md5 content group, stored low-to-high. The
    * per-group self-join is bounded by dup-group size — the quantity a
    * crawl dedup pipeline is sized around anyway. */
  def contentDupEdges(docs: DataFrame, dupMod: Long = 125): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val seeded = base.filter(col("doc_id") % dupMod === 0)
    val universe = base
      .unionByName(seeded.select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      .unionByName(seeded.select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      .select(col("doc_id"), md5(col("text")).as("ch"))
    universe.as("l").join(universe.as("r"), Seq("ch"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id1"), col("r.doc_id").as("id2"))
  }
}
