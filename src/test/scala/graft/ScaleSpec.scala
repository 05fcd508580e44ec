package graft

import org.apache.spark.sql.functions._

import graft.relational.{Bucketing, Salting}
import graft.sources.Tables

/** Scale-posture mechanics: co-located bucketed joins (no shuffle) and
  * salted skew aggregation (identical results, fanned-out reducers). */
class ScaleSpec extends SparkSpec {

  test("co-bucketed join plans with no shuffle exchange") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sf).select(
      col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Bucketing.writeBucketed(li, "b_lineitem", "l_orderkey", 8)
    Bucketing.writeBucketed(ord, "b_orders", "l_orderkey", 8)
    val joined = Bucketing.colocatedJoin(spark, "b_lineitem", "b_orders", "l_orderkey")
    assert(!Bucketing.hasShuffle(joined), "bucketed join must not shuffle")
    // and the join is still correct
    val direct = li.join(ord, Seq("l_orderkey"))
    assert(joined.count() == direct.count())
  }

  test("banded range join: physical join keys include the time bucket") {
    val plan = SparkEntry.queries("q_range_join")(spark, sf)
      .queryExecution.executedPlan.toString
    val joinLine = plan.linesIterator.find(_.contains("HashJoin"))
    assert(joinLine.isDefined, s"no hash join in plan:\n$plan")
    assert(joinLine.get.contains("bkt"),
      s"join keys must include the bucket, got: ${joinLine.get}")
  }

  test("candidate-based dedup plans never cross-join the corpus") {
    for (q <- Seq("q_dedup_verify", "q_dedup_embed", "q_dedup_minhash")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q plans a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested-loop join")
    }
  }

  test("second-leg r4 plan shapes: pure-map fingerprints, partial topk, bounded joins") {
    // native simhash: the operator is scan → project → output sort;
    // the ONLY exchange is the final presentation range sort
    val sh = SparkEntry.queries("q_dedup_simhash")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(sh.linesIterator.count(_.contains("Exchange")) <= 1 &&
      !sh.contains("Generate"), s"simhash must be a pure map:\n$sh")
    // TopKMinL must plan as partial + final ObjectHashAggregate —
    // the exchange carries per-partition k-row buffers, not the corpus
    val tk = SparkEntry.queries("q_topk_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(tk.contains("partial_topk_min_l"),
      s"topk aggregate must map-side combine:\n$tk")
    assert(!tk.contains("Window"), s"topk must not fall back to a window:\n$tk")
    // prefix join and triangle count: candidate joins only, no
    // cartesian/nested-loop anywhere
    for (q <- Seq("q_prefix_join", "q_triangles", "q_table_diff")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans an unbounded join:\n$plan")
    }
  }

  test("eighth-leg plan shapes: map-side sketch partials, domain-sized dictionary sort") {
    // D55 HLL registers and D58 bitset words must plan partial+final
    // aggregates — the exchange carries register/word partials, never
    // raw rows (that bound is the entire scale story of both sketches)
    for ((q, agg) <- Seq("q_hll_distinct" -> "partial_max",
                         "q_bitset_distinct" -> "partial_bit_or")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains(agg), s"$q must map-side combine ($agg):\n$plan")
    }
    // B22 dictionary: the global sort feeds from a DISTINCT aggregate
    // (domain-sized), never from the raw column
    val dict = graft.etl.Dictionary.build(
      graft.sources.Tables.events(spark, sf).select(col("event_type")),
      "event_type").queryExecution.executedPlan.toString
    val sortLine = dict.linesIterator.indexWhere(_.contains("Sort"))
    assert(sortLine >= 0 && dict.contains("HashAggregate"),
      s"dictionary must sort the aggregated domain, not the corpus:\n$dict")
    // D56 interval overlap: the candidate join must be a hash join on
    // (key, bucket) — no nested loop from the inequality predicate
    val io = SparkEntry.queries("q_interval_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!io.contains("CartesianProduct") &&
      !io.contains("BroadcastNestedLoopJoin"),
      s"overlap join must stay a bucketed hash join:\n$io")
  }

  test("stratified sample and chunking plan shapes hold at scale") {
    // top-N per stratum must push into WindowGroupLimit (no full sort of
    // a stratum's partition survives to the window)
    val strat = SparkEntry.queries("q_stratified")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(strat.contains("WindowGroupLimit"),
      s"stratified sample must push the per-stratum limit:\n$strat")
    // chunking must stay shuffle-free after its explicit repartition
    val chunk = SparkEntry.queries("q_chunk")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = chunk.linesIterator.count(_.contains("Exchange"))
    // one round-robin repartition + the final output range sort
    assert(exchanges <= 2, s"chunking plans $exchanges exchanges:\n$chunk")
  }

  test("z-order layout bounds BOTH dimension spans per partition") {
    import spark.implicits._
    // 64x64 grid, one row per cell; 16 partitions. A single-column range
    // layout gives the other dimension a span of 63 in every partition;
    // the z-curve must bound both.
    val grid = (0 until 4096).map(i => (i.toLong % 64, i.toLong / 64))
      .toDF("d1", "d2")
    val laid = graft.ops.ZOrder.layout(grid, "d1", "d2", bits = 6,
      numPartitions = 16)
    val spans = laid
      .select(col("d1"), col("d2"), spark_partition_id().as("p"))
      .groupBy(col("p"))
      .agg((max(col("d1")) - min(col("d1"))).as("s1"),
        (max(col("d2")) - min(col("d2"))).as("s2"))
      .collect()
    val avg1 = spans.map(_.getLong(1)).sum.toDouble / spans.length
    val avg2 = spans.map(_.getLong(2)).sum.toDouble / spans.length
    assert(avg1 < 40 && avg2 < 40,
      s"z-layout spans too wide: d1 $avg1, d2 $avg2 (naive layout = 63)")
  }

  test("z-order layout skips row groups end-to-end on the second dimension") {
    import spark.implicits._
    // 256×256 grid written two ways: z-ordered, and range-sorted on d1
    // only. A thin d2 filter then measures what Spark's parquet reader
    // ACTUALLY reads (recordsRead skips min/max-pruned row groups): the
    // d1-sorted layout has the full d2 range in every file and can skip
    // nothing; the z-layout bounds d2 per file, so most files prune.
    // This is the end-to-end counterpart of the span-statistics test
    // above — scan metrics, not layout statistics.
    val n = 256
    val grid = (0 until n * n).map(i => (i.toLong % n, i.toLong / n))
      .toDF("d1", "d2")
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    graft.ops.ZOrder.layout(grid, "d1", "d2", bits = 8, numPartitions = 32)
      .write.mode("overwrite").parquet(s"$tmp/z")
    grid.repartitionByRange(32, col("d1")).sortWithinPartitions(col("d1"))
      .write.mode("overwrite").parquet(s"$tmp/naive")

    def recordsRead(path: String): Long = {
      @volatile var total = 0L
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            total += e.taskMetrics.inputMetrics.recordsRead
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val scan = spark.read.parquet(path)
          .filter(col("d2") >= 100L && col("d2") <= 107L)
        // the range predicate must reach the parquet reader
        val plan = scan.queryExecution.executedPlan.toString
        assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(d2,100)"),
          s"d2 range not pushed down:\n$plan")
        assert(scan.count() == 8L * n) // the slice itself is correct
        // task-end events post asynchronously; poll until stable
        var last = -1L
        var spins = 0
        while (total != last && spins < 100) {
          last = total; Thread.sleep(100); spins += 1
        }
        total
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    val naive = recordsRead(s"$tmp/naive")
    val z = recordsRead(s"$tmp/z")
    assert(naive == n.toLong * n,
      s"d1-sorted layout should read everything for a d2 filter, read $naive")
    assert(z <= naive / 2 && z > 0,
      s"z-layout should prune most row groups: read $z of $naive")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in final plan)") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 95% of rows share one key: one shuffle partition dwarfs the rest
      val skewed = spark.range(300000)
        .select(when(col("id") % 20 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val oth = spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = skewed.join(oth, Seq("k"))
      // materialize through THIS QueryExecution so the adaptive plan
      // finalizes in place (a .write would plan a fresh execution)
      j.queryExecution.toRdd.foreach(_ => ())
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
      // graft.Plans reads the same marker off the final plan
      val counts = Plans.shapeCounts(j.queryExecution.executedPlan).toMap
      assert(counts("skew") >= 1, counts)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("co-purchase bestseller skew spreads across reducers (D60 claim)") {
    import spark.implicits._
    // synthetic bestseller: part 0 rides in EVERY order, plus a
    // 100-part long tail (each tail part in 1/50 of orders)
    val li = (0L until 2000L).flatMap { o =>
      Seq((o, 0L), (o, 1L + o % 50), (o, 51L + o % 50))
    }.toDF("l_orderkey", "l_partkey")
    val out = graft.ops.MarketBasket.coPurchase(li)
    out.queryExecution.toRdd.foreach(_ => ())
    val plan = out.queryExecution.executedPlan.toString
    // (a) plan shape: the pair aggregate exchanges on BOTH pair
    // columns — partitioning on p1 alone would send every
    // bestseller-involving row to one reducer
    val twoKeyAggExchange = plan.linesIterator.exists(l =>
      l.contains("hashpartitioning") &&
        "#\\d+L?".r.findAllIn(l.takeWhile(_ != ')')).size >= 2)
    assert(twoKeyAggExchange,
      s"no two-key hashpartitioning exchange in the final plan:\n$plan")
    // (b) the claim itself: a bestseller is a hot ITEM but its pair
    // rows are many distinct KEYS (p_best, x), so the aggregation
    // shuffle load stays balanced. Simulate Spark's own partitioner
    // (murmur3 hash pmod n) over the pre-agg pair rows: with 2/3 of
    // all rows involving the bestseller, no reducer may exceed 3x the
    // mean load.
    val items = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val pairRows = items.as("a")
      .join(items.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("p1"), col("b.p").as("p2"))
    val loads = pairRows
      .groupBy(pmod(hash(col("p1"), col("p2")), lit(32)).as("part"))
      .agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    val mean = loads.sum.toDouble / 32
    assert(loads.max <= 3 * mean,
      s"bestseller pairs concentrated: max ${loads.max} vs mean $mean")
  }

  test("I21: parquet bloom filters prune row groups on point lookups") {
    import spark.implicits._
    // Pseudo-shuffled high-cardinality keys: every row group spans the
    // full key range, so min/max stats prune NOTHING — and dictionary
    // encoding is disabled to isolate the bloom filter's contribution.
    val n = 200000
    val df = (0 until n)
      .map(i => ((i.toLong * 2654435761L) % 1000003L, i.toLong))
      .toDF("k", "payload")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    def write(path: String, bloom: Boolean): Unit = {
      var w = df.repartition(4).write
        .option("parquet.enable.dictionary", "false")
        .option("parquet.block.size", (128 * 1024).toString)
      if (bloom) w = w
        .option("parquet.bloom.filter.enabled#k", "true")
        .option("parquet.bloom.filter.expected.ndv#k", n.toString)
      w.mode("overwrite").parquet(path)
    }
    write(s"$tmp/plain", bloom = false)
    write(s"$tmp/bloom", bloom = true)
    val key = (77L * 2654435761L) % 1000003L // present exactly once

    def recordsRead(path: String): Long = {
      @volatile var total = 0L
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            total += e.taskMetrics.inputMetrics.recordsRead
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val scan = spark.read.parquet(path).filter(col("k") === key)
        assert(scan.count() == 1L)
        var last = -1L
        var spins = 0
        while (total != last && spins < 100) {
          last = total; Thread.sleep(100); spins += 1
        }
        total
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    val plain = recordsRead(s"$tmp/plain")
    val bloomed = recordsRead(s"$tmp/bloom")
    assert(plain == n.toLong,
      s"without bloom, stats prune nothing on shuffled keys: read $plain")
    assert(bloomed * 2 <= plain && bloomed > 0,
      s"bloom should skip most row groups: read $bloomed of $plain")
  }

  test("bloom prefilter drops most non-matching rows and loses none") {
    import graft.relational.BloomPrune
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"))
    val big = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 480000.0).select(col("o_orderkey"))
    val bits = BloomPrune.buildBits(big, "o_orderkey")
    val total = li.count()
    val surviving = BloomPrune.prefilter(li, "l_orderkey", bits).count()
    val matching = li.join(big.withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"), "left_semi").count()
    // no false negatives, and leakage (false positives) stays small:
    // the prefilter must remove the bulk of the non-matching corpus
    assert(surviving >= matching, "bloom dropped a matching row")
    assert(surviving <= matching + (total - matching) / 10,
      s"bloom leaked too much: $surviving survivors for $matching matches of $total")
    // the full operator is exactly the plain semi-join (bag equality:
    // same multiset size and no extra rows)
    val viaBloom = BloomPrune.semiJoin(li, "l_orderkey", big, "o_orderkey")
    assert(viaBloom.count() == matching)
    assert(viaBloom.exceptAll(li.join(
      big.withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"), "left_semi")).isEmpty)
  }

  test("oracle-checked salted join really joins on (key, salt)") {
    val plan = SparkEntry.queries("q_salted_join")(spark, sf)
      .queryExecution.executedPlan.toString
    val joinLine = plan.linesIterator.find(_.contains("HashJoin"))
    assert(joinLine.isDefined, s"no hash join in plan:\n$plan")
    assert(joinLine.get.contains("_salt"),
      s"join keys must include the salt, got: ${joinLine.get}")
  }

  test("salted join equals direct join") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"))
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val direct = ev.join(cust, Seq("user_id"))
    val salted = Salting.saltedJoin(ev, cust, "user_id", carrier = "event_id")
    assert(salted.count() == direct.count())
    assert(salted.select("event_id", "c_mktsegment")
      .exceptAll(direct.select("event_id", "c_mktsegment")).isEmpty)
  }

  test("salted aggregation equals direct aggregation") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        graft.functions.GraftFunctions.cents(col("value")).as("v"))
    val direct = ev.groupBy("event_type")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Salting.saltedAgg(ev, "event_type", "v", carrier = "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("I23 hive-partitioned layout: partition filters prune directories at planning time") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    // 8 date partitions × 1000 rows; the classic dt= lake layout
    spark.range(8000)
      .select(col("id"), concat(lit("2024-03-0"), (col("id") % 8) + 1).as("dt"))
      .write.partitionBy("dt").mode("overwrite").parquet(tmp)
    val scan = spark.read.parquet(tmp).filter(col("dt") === "2024-03-03")
    // pruning is PLANNING-time (directory listing), not row-group stats:
    // the scan node must carry the partition filter and see 1 partition
    val exec = scan.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(exec.partitionFilters.nonEmpty, "partition filter not pushed to scan")
    assert(exec.selectedPartitions.partitionCount == 1,
      s"expected 1 of 8 partitions, planned ${exec.selectedPartitions.partitionCount}")
    assert(scan.count() == 1000L)
  }

  test("I30 dynamic partition pruning: a dim filter prunes fact partitions at RUNTIME") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    // fact partitioned by region key; the filter arrives only through
    // the DIM side — static pruning cannot see it, DPP must
    spark.range(8000)
      .select(col("id"), (col("id") % 8).as("rk"), (col("id") * 3).as("v"))
      .write.partitionBy("rk").mode("overwrite").parquet(s"$tmp/fact")
    Seq((0L, "EU"), (1L, "US"), (2L, "APAC"), (3L, "EU"), (4L, "US"),
      (5L, "APAC"), (6L, "EU"), (7L, "US"))
      .toDF("rk", "region").write.mode("overwrite").parquet(s"$tmp/dim")
    val q = spark.read.parquet(s"$tmp/fact")
      .join(spark.read.parquet(s"$tmp/dim").filter(col("region") === "US"), Seq("rk"))
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
    val Array(row) = q.collect() // AQE: inspect the final plan post-run
    assert(row.getLong(1) == 3000L)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def rec(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => rec(a.executedPlan)
      case qs: QueryStageExec => rec(qs.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => (o.children ++ o.subqueries).flatMap(rec)
    }
    val scans = rec(q.queryExecution.executedPlan)
    val factScan = scans.find(_.metadata.get("Location").exists(_.contains("fact")))
      .getOrElse(fail(s"no fact scan found among ${scans.size} scans"))
    // the runtime filter reached the scan's partition filters…
    assert(factScan.partitionFilters.exists(_.toString.contains("dynamicpruning")),
      s"no dynamicpruning filter on the fact scan: ${factScan.partitionFilters}")
    // …and actually pruned: 3 of 8 partitions (rk ∈ {1,4,7}) were read
    assert(factScan.metrics("numPartitions").value == 3,
      s"expected 3 pruned-in partitions, read ${factScan.metrics("numPartitions").value}")
  }

  test("B18 schema evolution: mergeSchema unions column sets, old files read as null") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v1")
      .write.mode("overwrite").parquet(s"$tmp/w=1")
    Seq((2L, "b", 42L)).toDF("id", "v1", "v2")
      .write.mode("overwrite").parquet(s"$tmp/w=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
    assert(merged.columns.toSet == Set("id", "v1", "v2", "w"))
    val rows = merged.select("id", "v2").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows == Map(1L -> None, 2L -> Some(42L)),
      "pre-evolution files must surface the new column as null")
    // a predicate on the evolved column still drops pre-evolution rows
    assert(merged.filter(col("v2") === 42L).count() == 1L)
  }

  test("B17 compaction: FFD bins rewrite small files with no shuffle, content intact") {
    import spark.implicits._
    import graft.sources.Compaction
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // fragment: 64 tiny files + leave nothing at target size
    spark.range(20000).select(col("id"), (col("id") * 7 % 100).as("v"))
      .repartition(64).write.mode("overwrite").parquet(s"$tmp/frag")
    val sizes = new java.io.File(s"$tmp/frag").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length())
    assert(sizes.length == 64)
    val target = sizes.sum / 4 // expect ~5 bins (FFD leaves headroom)
    val plan = Compaction.plan(spark, s"$tmp/frag", target)
    assert(plan.skipped.isEmpty)
    assert(plan.bins.map(_.files.size).sum == 64, "every small file binned once")
    assert(plan.bins.forall(_.bytes <= target), "no bin over target")
    assert(plan.bins.length >= 4 && plan.bins.length <= 8,
      s"FFD should pack ~5 bins, got ${plan.bins.length}")
    // the per-bin rewrite plan is narrow: multi-file scan + coalesce(1)
    val binPlan = spark.read.parquet(plan.bins.head.files: _*).coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!binPlan.contains("Exchange"), s"bin rewrite must not shuffle:\n$binPlan")

    val outs = Compaction.compact(spark, plan, s"$tmp/out")
    assert(outs.length == plan.bins.length)
    outs.foreach { dir =>
      val pfs = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(pfs.length == 1, s"$dir should hold exactly one output file")
    }
    val back = spark.read.parquet(outs: _*)
    assert(back.count() == 20000L)
    assert(back.agg(sum("id"), sum("v")).as[(Long, Long)].head() ==
      spark.read.parquet(s"$tmp/frag").agg(sum("id"), sum("v")).as[(Long, Long)].head())
    // already-compact files are skipped, not rewritten
    val plan2 = Compaction.plan(spark, s"$tmp/frag", sizes.min)
    assert(plan2.bins.isEmpty && plan2.skipped.length == 64)
  }

  test("driver-bound structures: compaction pack at 1e5 files, posting caps at the boundary") {
    import graft.sources.Compaction
    // B17: the two adversarial listings for the driver-side pack.
    // "unpairable": every file is 0.9×target, so every file is its own
    // bin (the bin-count worst case that wedged the O(n·bins) FFD);
    // "mixed": seeded xorshift sizes across 1–127 MB.
    val target = 128L * 1024 * 1024
    val n = 100000
    for (shape <- Seq("unpairable", "mixed")) {
      var seed = 0x9E3779B97F4A7C15L
      def nextLong(): Long = { seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17; seed }
      val files = (0 until n).map { i =>
        val sz =
          if (shape == "unpairable") target * 9 / 10
          else 1024L * 1024 * (1 + math.floorMod(nextLong(), 127L))
        (f"file:/lake/t/part-$i%08d.parquet", sz)
      }
      val size = files.toMap
      val plan = Compaction.pack(files, target)
      val placed = plan.bins.flatMap(_.files) ++ plan.skipped
      assert(placed.length == n && placed.toSet == size.keySet,
        s"$shape: every file placed exactly once")
      assert(plan.bins.forall(_.bytes <= target), s"$shape: bin over target")
      assert(plan.bins.forall(b => b.bytes == b.files.map(size).sum),
        s"$shape: bin bytes disagree with its files")
      assert(plan.bins.map(_.bytes).sum == files.map(_._2).filter(_ < target).sum,
        s"$shape: byte mass not conserved")
      if (shape == "unpairable") assert(plan.bins.length == n)
    }

    // E47: "hot" is in every doc (over the 78% ppm gate), "warm" in
    // 77.9% of docs (just under it: the boundary term), "u<id>" once
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("hot "),
        when(col("id") % 1000 < 779, lit("warm ")).otherwise(lit("")),
        lit("u"), col("id").cast("string")).as("text"))
    def postings(maxPostings: Long): Map[String, (Long, Long)] =
      graft.ops.TextAnalysis.invertedIndex(docs, maxPostings = maxPostings)
        .filter(col("term").isin("hot", "warm"))
        .select(col("term"), col("df"),
          when(col("postings") === "", 0L)
            .otherwise(size(split(col("postings"), ","))).cast("long"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val gateOnly = postings(Long.MaxValue)
    assert(gateOnly("hot") == (2000L, 0L), "over-ppm term kept a posting list")
    assert(gateOnly("warm") == (1558L, 1558L), "under-cap list length != df")
    val capped = postings(1000L)
    assert(capped("hot")._2 == 0L && capped("warm") == (1558L, 0L),
      "maxPostings did not stop-list the boundary term")
  }

  test("I22 range layout: non-overlapping per-file key ranges, key scans prune") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_range").toString
    val n = 65536L
    graft.ops.ZOrder.rangeLayout(
        spark.range(n).select(col("id").as("k"), (col("id") % 97).as("v")),
        "k", numPartitions = 16)
      .write.mode("overwrite").parquet(s"$tmp/sorted")
    // per-file min/max must form disjoint intervals (total order on disk)
    val ranges = spark.read.parquet(s"$tmp/sorted")
      .groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 4, s"expected many files, got ${ranges.length}")
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"file ranges interleave: hi $hi1 > next lo $lo2")
    }
    // a thin key-range scan reads only the intersecting files' rows
    @volatile var total = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          total += e.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val scan = spark.read.parquet(s"$tmp/sorted")
        .filter(col("k") >= 1000L && col("k") <= 1999L)
      assert(scan.queryExecution.executedPlan.toString.contains("PushedFilters"))
      assert(scan.count() == 1000L)
      var last = -1L; var spins = 0
      while (total != last && spins < 100) { last = total; Thread.sleep(100); spins += 1 }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(total > 0 && total <= n / 8,
      s"sorted layout should prune most row groups: read $total of $n")
  }

  test("B35 compaction under the manifest: file count drops, rows identical, readers isolated") {
    import spark.implicits._
    import graft.sources.AtomicMart
    val path = java.nio.file.Files.createTempDirectory("graft_optimize").toString
    // fragment on purpose: 8 writer tasks × 4 partitions → 8 files/partition
    val rows = spark.range(4000).repartition(8)
      .select(col("id"), (col("id") % 4).cast("string").as("bucket"),
        (col("id") * 7).as("v"))
    AtomicMart.publish(rows, path, Seq("bucket"))
    val before = AtomicMart.read(spark, path)
    val filesBefore = before.inputFiles.length
    assert(filesBefore == 32, s"expected 8 files × 4 partitions, got $filesBefore")
    val sumBefore = before.agg(sum("v")).as[Long].head()
    // a reader binds BEFORE the compaction...
    val reader = AtomicMart.read(spark, path)
    val v = AtomicMart.compact(spark, path, statCols = Seq("v"))
    assert(v == 1L)
    val after = AtomicMart.read(spark, path)
    // one file per partition, same rows
    assert(after.inputFiles.length == 4, s"got ${after.inputFiles.length} files")
    assert(after.agg(sum("v")).as[Long].head() == sumBefore)
    assert(after.count() == 4000)
    // ...and still sees exactly its own version afterwards (old files live)
    assert(reader.agg(sum("v")).as[Long].head() == sumBefore)
    assert(reader.inputFiles.length == 32)
    // compacting again is a no-op (nothing fragmented): same version back
    assert(AtomicMart.compact(spark, path) == 1L)
    // the rewrite captured stats → skipping now works on the compacted set
    val (thin, kept, skipped) = AtomicMart.readFiltered(spark, path, col("v").between(0L, 70L))
    assert(kept + skipped == 4 && thin.count() == 11)
  }

  test("B34 manifest data skipping: a non-partition predicate prunes files before listing") {
    import spark.implicits._
    import graft.sources.AtomicMart
    val path = java.nio.file.Files.createTempDirectory("graft_skip").toString
    // 8 date partitions; amount_cents is clustered so each partition's
    // [min,max] window is tight — the layout stats skipping rewards
    val rows = spark.range(8000)
      .select(col("id"),
        concat(lit("2024-03-0"), (col("id") % 8) + 1).as("dt"),
        (col("id") * 10).as("amount_cents"),
        concat(lit("u"), col("id") % 97).as("user"))
    AtomicMart.publish(rows, path, Seq("dt"), statCols = Seq("amount_cents", "user"))
    // full-scan twin for the hash check
    val full = AtomicMart.read(spark, path)
      .filter(col("amount_cents") >= 100L && col("amount_cents") <= 3000L)
    // id*10 in [100,3000] → id in [10,300]; those ids hit every dt
    // partition, so THIS predicate skips nothing (stats are honest)...
    val (all, keptAll, skipAll) = AtomicMart.readFiltered(spark, path,
      col("amount_cents").between(100L, 3000L))
    assert(keptAll == 8 && skipAll == 0)
    assert(all.count() == full.count())
    // ...but republishing one partition with a disjoint amount range
    // gives the skipper something to prune: per-partition stats differ
    val hot = spark.range(8000, 9000)
      .select(col("id"), lit("2024-03-09").as("dt"),
        (col("id") * 1000L).as("amount_cents"),
        concat(lit("v"), col("id") % 7).as("user"))
    AtomicMart.publish(hot, path, Seq("dt"), statCols = Seq("amount_cents", "user"))
    val (pruned, kept, skipped) = AtomicMart.readFiltered(
      spark, path, col("amount_cents").between(8_000_000L, 8_500_000L))
    assert(skipped == 8 && kept == 1,
      s"manifest stats must skip the 8 cold partitions, kept=$kept skipped=$skipped")
    // the skip is visible at the FILE level: only the hot partition's
    // files are in the scan, and values are exact (residual filter)
    assert(pruned.inputFiles.length < AtomicMart.read(spark, path).inputFiles.length)
    assert(pruned.select(min("amount_cents"), max("amount_cents")).as[(Long, Long)].head()
      == ((8_000_000L, 8_500_000L)))
    // string-domain stats prune too: users v0..v6 live only in the hot partition
    val (justHot, keptS, skippedS) = AtomicMart.readFiltered(spark, path, col("user").between("v0", "v6"))
    assert(skippedS == 8 && keptS == 1 && justHot.count() == 1000)
    // stat-less manifests stay readable and conservative: a column with
    // no stats scans everything, answers exactly
    val (noStats, keptN, skippedN) = AtomicMart.readFiltered(spark, path, col("id").between(0L, 10L))
    assert(keptN == 9 && skippedN == 0 && noStats.count() == 11)
  }

  test("E17 100x regression: IVF routing survives centroid norms past int64 (BigInt mirror)") {
    // Round-9 judge finding: correlated KMeans cells at the 100x tier
    // sum ~22k members x ~1e6-unit components, so the centroid norm2
    // passes int64 max (~3.4e19 observed) and the codegen'd long kernel
    // wrapped SILENTLY, routing queries to the wrong cells. This fixture
    // reproduces the hazard at test size: two orthogonal directions,
    // 100 aligned members each at the per-row long-math ceiling
    // (component 3e8 u-units -> row norm2 5.76e18, still < int64), so
    // the CELL centroid norm2 is ~5.9e22 — provably past int64, pinned
    // below with the BigInt mirror (the D93 pattern).
    import spark.implicits._
    val dim = 64
    val dirA = Array.fill(dim)(300.0f)                      // svec comp +3e8
    val dirB = Array.tabulate(dim)(i => if (i % 2 == 0) 300.0f else -300.0f)
    val rows =
      Seq((0L, dirA)) ++                                    // the query, cell 0
      (10L until 110L).map(i => (i, dirA)) ++               // cell 0 members
      (200L until 300L).map(i => (i, dirB))                 // cell 1 members
    val emb = rows.toDF("vec_id", "embedding")
    val cells = rows.map { case (id, _) => (id, if (id < 200L) 0L else 1L) }
      .toDF("vec_id", "cell")

    // BigInt mirror: exact centroid norm2 of cell 0 = 64*(101*3e8)^2
    val cnorm2A = BigInt(64) * (BigInt(101) * BigInt(300000000L)).pow(2)
    assert(cnorm2A > BigInt(Long.MaxValue),
      s"fixture must exceed int64 to exercise the hazard: $cnorm2A")
    // ...and the engine's DECIMAL(38) centroid norm agrees with it exactly
    val withLabel = emb.withColumn("label", when(col("vec_id") < 200L, 0L).otherwise(1L))
    val cn = graft.ops.Ann.labelCentroids(withLabel).collect()
      .map(r => r.getLong(0) -> BigInt(r.getDecimal(2).toBigInteger)).toMap
    assert(cn(0L) == cnorm2A, s"cell-0 cnorm2 ${cn(0L)} != BigInt mirror $cnorm2A")
    assert(cn(1L) > BigInt(Long.MaxValue), "cell-1 norm must also exceed int64")

    // Routing: the query is EXACTLY direction A, so nprobe=1 must pick
    // cell 0 and return its members at cos == 1.0. Pre-fix, the wrapped
    // (often negative) cnorm2 made ccos NaN/garbage and cell 1 could win.
    val got = graft.ops.Ann.ivfTopKLearned(emb, cells, nQueries = 1, k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 3, s"expected 3 neighbors, got ${got.toSeq}")
    got.foreach { case (qid, cell, vid, cos) =>
      assert(qid == 0L && cell == 0L && cos == 1.0 && vid >= 10L && vid < 110L,
        s"mis-routed neighbor: ${got.toSeq}")
    }
    assert(got.map(_._3).toSeq == Seq(10L, 11L, 12L))
  }

  test("I32 z-ordered DML rewrite restores row-group skipping on the touched partition") {
    import spark.implicits._
    import graft.sources.{AtomicMart, MartDml}
    val n = 256
    val grid = (0 until n * n).map(i => (i.toLong % n, i.toLong / n))
      .toDF("d1", "d2").withColumn("part", lit("p0"))
    val path = java.nio.file.Files.createTempDirectory("graft_dmlz").toString
    // initial layout: range-sorted on d1 — every file spans all of d2,
    // so a thin d2 filter must read the whole partition
    AtomicMart.publish(
      grid.repartitionByRange(32, col("d1")).sortWithinPartitions(col("d1")),
      path, Seq("part"))

    def recordsRead(thin: => org.apache.spark.sql.DataFrame): Long = {
      @volatile var total = 0L
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            total += e.taskMetrics.inputMetrics.recordsRead
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        thin.count()
        var last = -1L; var spins = 0
        while (total != last && spins < 100) { last = total; Thread.sleep(100); spins += 1 }
        total
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    def d2slice = AtomicMart.read(spark, path)
      .filter(col("d2") >= 100L && col("d2") <= 107L)
    val before = recordsRead(d2slice)
    assert(before >= n.toLong * n - n, s"d1-sorted layout should read ~everything, read $before")

    // DELETE one d1 stripe WITH the I11 z-layout hook: the rewrite
    // re-clusters the touched partition, so the same thin d2 filter now
    // prunes most row groups — the table keeps its skipping power
    val r = MartDml.delete(spark, path, col("d1") === 255L,
      layout = Some(df => graft.ops.ZOrder.layout(df, "d1", "d2", bits = 8, numPartitions = 32)))
    assert(r.rewritten == 1)
    assert(AtomicMart.read(spark, path).count() == n.toLong * n - n)
    val after = recordsRead(d2slice)
    assert(d2slice.count() == 8L * (n - 1)) // the slice stays exact
    assert(after <= before / 2 && after > 0,
      s"z-ordered rewrite should prune most row groups: read $after of $before")
  }
}
