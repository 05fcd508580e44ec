package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via the alternating large-star /
  * small-star algorithm (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14 — public literature).
  *
  * [[Dedup.lshClusters]]' min-label propagation converges in
  * O(component diameter) rounds — ideal for LSH dup components, which
  * are near-cliques. This operator is the documented upgrade path for
  * adversarial graphs: star contractions halve path lengths, so a
  * chain of length n resolves in O(log² n) rounds instead of O(n).
  *
  * Each half-round is one aggregation + one join over the EDGE list
  * (never the corpus), with the same graph-sized scoped shuffle
  * partitioning as lshClusters. Convergence is the terminal state
  * itself — the edge set is a disjoint star forest (no root is a
  * child, one edge per child) — probed directly each round, which ends
  * the loop one full round earlier than fixed-point signature
  * comparison would.
  */
object ConnectedComponents {

  /** Large-star: every node connects its larger neighbors to the
    * minimum of its closed neighborhood. Output directed (u > v). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mn = sym.groupBy(col("u")).agg(min(col("v")).as("mnv"))
      .select(col("u"), least(col("u"), col("mnv")).as("m"))
    sym.join(mn, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: every node connects its smaller neighbors (and itself)
    * to their minimum. Input and output directed (u > v). */
  private def smallStar(e: DataFrame): DataFrame = {
    val mn = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    val moved = e.join(mn, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
    moved.unionByName(mn.select(col("u"), col("m").as("v"))).distinct()
  }

  /** Component labels for an undirected edge list `pairs` (columns
    * id1, id2): one row per node appearing in any pair, `label` = the
    * component's minimum node id. Throws if `maxRounds` is hit without
    * reaching the star fixed point (≈ 2·log²(longest path) rounds).
    */
  def components(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = pairs.sparkSession

    val canonical = pairs
      .select(greatest(col("id1"), col("id2")).as("u"),
        least(col("id1"), col("id2")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    val nEdges = canonical.count()

    // Shuffles sized to the graph, not the corpus (same rationale and
    // hang-avoidance as lshClusters: fixed shapes, classic scheduling).
    try GraphStats.withLoopConf(spark, nEdges, keepAqe = false) { _ =>
      // Terminal-state test, checked directly instead of waiting for a
      // whole extra confirming round: the edge set is a disjoint star
      // forest iff no root is also a child (no v appears as a u) AND
      // every child has exactly one edge. Stars are a fixed point of
      // both half-rounds, so this is exactly convergence. ONE action per
      // round: "some node is both a u and a v" replaces the earlier
      // limit-join probe, so chained-ness, edge count, and distinct-u
      // count all come out of a single two-level aggregation (the
      // scalar collect is a 3-value row, not a data collect).
      def isStarForest(e: DataFrame): Boolean = {
        val roles = e
          .select(col("u").as("node"), lit(1L).as("is_u"), lit(0L).as("is_v"))
          .unionByName(
            e.select(col("v").as("node"), lit(0L).as("is_u"), lit(1L).as("is_v")))
        val r = roles
          .groupBy(col("node"))
          .agg(sum(col("is_u")).as("u_cnt"),
            max(col("is_u")).as("a"), max(col("is_v")).as("b"))
          .agg(sum(col("a") * col("b")), sum(col("u_cnt")), sum(col("a")))
          .collect()(0)
        r.isNullAt(0) || // empty edge set: trivially a star forest
          (r.getLong(0) == 0L && r.getLong(1) == r.getLong(2))
      }
      var edges = canonical
      var round = 0
      var converged = isStarForest(edges)
      while (!converged && round < maxRounds) {
        // localCheckpoint (eager) CUTS LINEAGE each round: without it the
        // logical plan nests the whole history (union+join+distinct per
        // round, ~4× branching), and Catalyst analysis alone goes
        // exponential by round ~10. Old checkpoint blocks are graph-sized
        // and free on GC of the superseded frame.
        edges = smallStar(largeStar(edges)).localCheckpoint(true)
        converged = isStarForest(edges)
        round += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"ConnectedComponents: no fixed point after $maxRounds rounds")
      // Fixed point = disjoint stars: every non-root has exactly one
      // edge (child > root); roots label themselves.
      val nodes = pairs.select(col("id1").as("node"))
        .unionByName(pairs.select(col("id2").as("node")))
        .distinct()
      val result = nodes
        .join(edges.select(col("u").as("node"), col("v").as("lab")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("lab"), col("node")).as("label"))
        .localCheckpoint(true)
      edges.unpersist(false)
      result
    } finally canonical.unpersist(false)
  }
}
