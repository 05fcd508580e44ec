package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, Dedup, Sessionize}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{AsOfEvent, AsOfHit}

/** Streaming ↔ batch parity: the SAME rows through a streaming operator
  * (MemoryStream-driven) and its batch twin must produce the SAME
  * answer. This pins the two implementations to one semantics — the
  * hand-built expectations in StreamingSpec check behavior, this suite
  * checks agreement:
  *   F10 session windows   ↔ D17 [[Sessionize.sessions]]
  *   F11 streaming as-of   ↔ D11 [[AsOfJoin.lastPriorEvent]] and the
  *                            native I12 exec (3-way)
  *   F8  interval join     ↔ the same predicate on static frames
  *   F5  minhash near-dedup↔ first-per-signature keeper over batch sigs
  *   F7  SRP embed dedup   ↔ first-per-signature keeper over batch sigs
  *   F12 streaming SCD2    ↔ B5 [[graft.etl.Scd2.merge]] chain
  */
class ParitySpec extends SparkSpec {
  import spark.implicits._

  // 10 h base offset: rows at the epoch sit AT the initial watermark and
  // are dropped by stateful operators (see StreamingSpec).
  private def us(minutes: Long): Long = (600L + minutes) * 60000000L
  private def ts(minutes: Long): Timestamp = new Timestamp(us(minutes) / 1000L)

  test("F2 streaming pattern rule agrees with the batch guessing-amount rule") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{FraudHit, Txn}
    val maxMin = 30L
    val rows = Seq(
      // user 1: textbook pattern -> hit at m=6
      (1L, 0L, 5000L, "REJECT"), (1L, 2L, 4000L, "REJECT"),
      (1L, 4L, 3000L, "REJECT"), (1L, 6L, 2500L, "SUCCESS"),
      // user 2: not strictly decreasing -> no hit
      (2L, 0L, 5000L, "REJECT"), (2L, 2L, 6000L, "REJECT"),
      (2L, 4L, 3000L, "REJECT"), (2L, 6L, 2500L, "SUCCESS"),
      // user 3: pattern window exceeded (40 min span > 30) -> no hit
      (3L, 0L, 5000L, "REJECT"), (3L, 20L, 4000L, "REJECT"),
      (3L, 30L, 3000L, "REJECT"), (3L, 40L, 2500L, "SUCCESS"),
      // user 4: success above the last reject -> no hit
      (4L, 0L, 5000L, "REJECT"), (4L, 2L, 4000L, "REJECT"),
      (4L, 4L, 3000L, "REJECT"), (4L, 6L, 3500L, "SUCCESS"),
      // user 5: hit, then a second success whose lookback now contains
      // the first success -> only one hit
      (5L, 0L, 9000L, "REJECT"), (5L, 2L, 8000L, "REJECT"),
      (5L, 4L, 7000L, "REJECT"), (5L, 6L, 100L, "SUCCESS"),
      (5L, 8L, 50L, "SUCCESS")
    ).map { case (u, m, a, r) => (u, us(m), a, r) }

    val in = MemoryStream[Txn]
    val q = StreamingOps.guessingAmountStream(in.toDS(), maxMinutes = maxMin)
      .writeStream.format("memory").queryName("pfraud")
      .outputMode("append").start()
    try {
      in.addData(rows.map { case (u, t, a, r) => Txn(u, t, a, r) })
      q.processAllAvailable()
      val streamed = spark.table("pfraud").as[FraudHit].collect()
        .map(h => (h.user_id, h.ts_us)).toSet

      val txns = rows.toDF("user_id", "ts_us", "amt_cents", "oper_result")
        .withColumn("event_type", lit("purchase"))
      val clients = Seq((1L, "P1", "N1", "T1", "S1"))
        .toDF("c_custkey", "passport_num", "fio", "phone", "segment")
      val batch = graft.fraud.FraudRules
        .guessingAmountFraud(txns, clients, maxMin)
        .select(col("client_key"), col("event_dt_us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed == Set((1L, us(6)), (5L, us(6)))) // and both are right
    } finally q.stop()
  }

  test("F1 incremental windowed aggregation agrees with the one-shot batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    // two micro-batches force incremental state updates (several
    // windows receive rows in both batches); complete mode then exposes
    // the accumulated result for comparison against a one-shot batch
    // aggregation of the same rows.
    val batch1 = for {
      u <- 1L to 3L; m <- Seq(1L, 17L, 61L, 125L)
    } yield (ts(m + u), Seq("purchase", "error")((u % 2).toInt), 1.5 * m + u)
    val batch2 = for {
      u <- 1L to 3L; m <- Seq(5L, 63L, 200L)
    } yield (ts(m + u), "purchase", 2.5 * m + u)

    val in = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.windowedEventCounts(
      in.toDF().toDF("ts_t", "event_type", "value"), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("pwinagg")
      .outputMode("complete").start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("pwinagg")
        .select(unix_micros(col("window.start")), col("event_type"),
          col("n"), col("sum_cents"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet

      val batch = (batch1 ++ batch2).toDF("ts_t", "event_type", "value")
        .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.GraftFunctions.cents(col("value"))).as("sum_cents"))
        .select(unix_micros(col("window.start")), col("event_type"),
          col("n"), col("sum_cents"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("F10 session windows agree with the batch sessionizer") {
    implicit val sqlCtx = spark.sqlContext
    val gapMin = 30L
    // three users, gaps straddling the 30-min session boundary
    val rows = for {
      u <- 1L to 3L
      (m, i) <- Seq(0L, 12L, 29L, 75L, 80L, 200L).zipWithIndex
    } yield (u, m + u * 3, 100L * u + i) // (user, minute, cents)

    val in = MemoryStream[(Timestamp, Long, Long)]
    val events = in.toDF().toDF("ts_t", "user_id", "amt_cents")
    val q = StreamingOps.sessionizedCounts(events, gap = s"$gapMin minutes",
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("psessions")
      .outputMode("complete").start()
    try {
      in.addData(rows.map { case (u, m, c) => (ts(m), u, c) })
      q.processAllAvailable()
      val streamed = spark.table("psessions")
        .select(col("user_id"), unix_micros(col("session_start")),
          unix_micros(col("session_end")), col("n_events"), col("sum_cents"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2) - gapMin * 60000000L, r.getLong(3), r.getLong(4)))
        .toSet

      val batch = Sessionize.sessions(
        rows.toDF("user_id", "minute", "amt_cents")
          .withColumn("ts_us", expr(s"(600 + minute) * 60000000")),
        key = "user_id", tsUs = "ts_us", valueCents = "amt_cents",
        gapMinutes = gapMin)
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events"), col("sum_cents"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .toSet
      // session_window's end = last event + gap; batch end_us = last event
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("F11 streaming as-of agrees with the composed AND native batch as-of") {
    implicit val sqlCtx = spark.sqlContext
    // shared test session has no GraftExtensions; register the native
    // as-of strategy through the experimental hook (same as PlansSpec)
    locally {
      val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      if (!cs.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
        cs.experimental.extraStrategies =
          cs.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    }
    // refs and queries per user, including an unmatched query (user 3's
    // first query precedes every ref) and co-timed tie cases
    val evs = for {
      u <- 1L to 3L
      (m, isRef) <- Seq((5L + u, true), (15L + u, true), (2L, false),
        (20L + u, false), (35L, true), (38L + u, false))
    } yield (u, us(m), isRef)

    val in = MemoryStream[AsOfEvent]
    val q = StreamingOps.streamingAsOf(in.toDS(), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("pasof")
      .outputMode("append").start()
    try {
      in.addData(evs.map { case (u, t, r) => AsOfEvent(u, t, r, new Timestamp(t / 1000L)) })
      q.processAllAvailable()
      // flush: ref for an unused key pushes the watermark past every query
      in.addData(AsOfEvent(999L, us(600), true, ts(600)))
      q.processAllAvailable()
      in.addData(AsOfEvent(999L, us(601), true, ts(601)))
      q.processAllAvailable()
      val streamed = spark.table("pasof").as[AsOfHit].collect()
        .filter(_.user_id != 999L)
        .map(h => (h.user_id, h.ts_us, h.asof_ts, h.gap)).toSet

      val batchEvents = evs.zipWithIndex
        .map { case ((u, t, r), i) => (i.toLong, u, t, if (r) "r" else "q") }
        .toDF("event_id", "user_id", "ts_us", "event_type")
      def asSet(df: org.apache.spark.sql.DataFrame) = df
        .select(col("user_id"), col("ts_us"), col("asof_ts"), col("gap"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val composed = asSet(AsOfJoin.lastPriorEvent(batchEvents,
        "user_id", "ts_us", "event_id", "event_type", "q", "r"))
      val native = asSet(AsOfJoin.lastPriorEventNative(batchEvents,
        "user_id", "ts_us", "event_id", "event_type", "q", "r"))
      assert(streamed == composed, s"stream=$streamed batch=$composed")
      assert(streamed == native, s"stream=$streamed native=$native")
    } finally q.stop()
  }

  test("F8 stream-stream interval join agrees with the static-frame join") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = for {
      u <- 1L to 4L
      m <- Seq(60L, 62L + u, 90L)
    } yield (u, m, 100L * u + m)
    val errors = for {
      u <- 1L to 4L
      m <- Seq(49L, 55L + u, 58L, 86L, 89L)
    } yield (u, m)

    val pIn = MemoryStream[(Timestamp, Long, Long)]
    val eIn = MemoryStream[(Timestamp, Long)]
    val q = StreamingOps.purchaseErrorJoin(
      pIn.toDF().toDF("ts_t", "user_id", "amt_cents"),
      eIn.toDF().toDF("ts_t", "user_id"),
      watermark = "30 minutes", maxGapMinutes = 10)
      .writeStream.format("memory").queryName("pssjoin")
      .outputMode("append").start()
    try {
      pIn.addData(purchases.map { case (u, m, c) => (ts(m), u, c) })
      eIn.addData(errors.map { case (u, m) => (ts(m), u) })
      q.processAllAvailable()
      pIn.addData((ts(600), 999L, 0L))
      eIn.addData((ts(600), 999L))
      q.processAllAvailable()
      val streamed = spark.table("pssjoin")
        .select(col("user_id"), unix_micros(col("p_ts")),
          unix_micros(col("e_ts")), col("amt_cents"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter(_._1 != 999L).toSet

      val expected = (for {
        (u, pm, c) <- purchases
        (eu, em) <- errors
        if eu == u && us(em) >= us(pm) - 10L * 60000000L && us(em) <= us(pm)
      } yield (u, us(pm), us(em), c)).toSet
      assert(streamed == expected, s"stream=$streamed batch=$expected")
    } finally q.stop()
  }

  test("F5 streaming near-dedup keeps exactly the batch first-per-signature docs") {
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "spark structured streaming joins watermarks and stateful operators",
      "completely unrelated text about parquet files and column pruning")
    // 9 docs: each content appears 3 times at distinct, interleaved times
    val docs = (0 until 9).map(i => (i.toLong, texts(i % 3), 2L * i))

    val in = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamingNearDedup(
      in.toDF().toDF("ts_t", "doc_id", "text"), "2 hours")
      .writeStream.format("memory").queryName("pneardedup")
      .outputMode("append").start()
    try {
      // one micro-batch per doc in event-time order: "first arriving" is
      // then deterministic and equals "earliest event time"
      docs.sortBy(_._3).foreach { case (id, text, m) =>
        in.addData((ts(m), id, text))
        q.processAllAvailable()
      }
      val streamed = spark.table("pneardedup")
        .select("doc_id").as[Long].collect().toSet

      val sig = Dedup.withMinhashSigPerRow(
        Dedup.withShingles(
          docs.toDF("doc_id", "text", "minute"), distinct = false), 8)
        .withColumn("sig_key", concat_ws("_",
          (0 until 8).map(i => col(s"sig_$i").cast("string")): _*))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("sig_key")).orderBy(col("minute"))
      val batch = sig
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("F3 streaming exact dedup keeps exactly the batch first-per-content docs") {
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq("alpha beta gamma", "delta epsilon zeta", "eta theta iota")
    val docs = (0 until 9).map(i => (i.toLong, texts(i % 3), 2L * i))

    val in = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamingDedup(
      in.toDF().toDF("ts_t", "doc_id", "text"), "2 hours")
      .writeStream.format("memory").queryName("pexactdedup")
      .outputMode("append").start()
    try {
      docs.sortBy(_._3).foreach { case (id, text, m) =>
        in.addData((ts(m), id, text))
        q.processAllAvailable()
      }
      val streamed = spark.table("pexactdedup")
        .select("doc_id").as[Long].collect().toSet

      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_hash")).orderBy(col("minute"))
      val batch = docs.toDF("doc_id", "text", "minute")
        .withColumn("content_hash", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // and the batch keeper set matches Dedup.exact's min-id keepers
      // (ids arrive in time order here, so first == min)
      val exact = Dedup.exact(docs.toDF("doc_id", "text", "minute"))
        .select("keep_id").as[Long].collect().toSet
      assert(streamed == exact, s"stream=$streamed exact=$exact")
    } finally q.stop()
  }

  test("F33 streaming DQ counters finish ≡ batch check suite on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.Checks
    // streamable = row-local non-distinct counters (Unique/Referential
    // are batch-cadence by contract — the op rejects them loudly)
    val checks: Seq[Checks.Check] = Seq(
      Checks.NotNull("m1_name", "name"),
      Checks.Bounds("m2_v", col("v"), 0L, 50L),
      Checks.Accepted("m3_tag", "tag", Seq("X", "Y")),
      Checks.Predicate("m5_pos", col("v") > 0L, allowed = 1L))
    val rows = Seq(
      (1L, Some("a"), 10L, "X"), (2L, Some("b"), 99L, "Y"),
      (2L, Some("c"), 20L, "X"), (3L, None, 30L, "Z"),
      (9L, Some("d"), -5L, "X"), (4L, Some("e"), 11L, "Y"))
    val in = MemoryStream[(Long, Option[String], Long, String)]
    val q = StreamingOps.dqCountsStream(
      in.toDF().toDF("k", "name", "v", "tag"), checks)
      .writeStream.format("memory").queryName("pdq")
      .outputMode("complete").start()
    try {
      val (b1, b2) = rows.splitAt(3)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val streamed = Checks.verdicts(
        Checks.stackCounts(spark.table("pdq"), checks), checks)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
      val batch = Checks.run(rows.toDF("k", "name", "v", "tag"), checks)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed.exists(_._2 > 0)) // violations actually flowed
    } finally q.stop()
  }

  test("F32 streaming spatial neighbors ≡ batch D87 pair set, each pair exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val r = 100000L
    val pts = graft.ops.Spatial.points(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(pts.length > 30)
    val static = pts.toSeq.toDF("id", "x", "y")
    val in = MemoryStream[(Long, Long, Long)]
    val q = StreamingOps.spatialNeighborsStream(
      in.toDF().toDF("id", "x", "y"), static, r)
      .writeStream.format("memory").queryName("pspatial")
      .outputMode("append").start()
    try {
      // arrivals in two micro-batches, id order (the replay discipline)
      val (b1, b2) = pts.sortBy(_._1).splitAt(pts.length / 2)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      val streamed = spark.table("pspatial")
        .select("id1", "id2", "cheb")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      // batch D87 emits (lo, hi); the stream emits (arrival, earlier)
      val batch = graft.ops.Spatial.pairsFromPoints(static, r)
        .collect().map(x => (x.getLong(1), x.getLong(0), x.getLong(2))).toSet
      assert(streamed == batch, s"stream-batch=${streamed -- batch} batch-stream=${batch -- streamed}")
      assert(streamed.nonEmpty)
      // exactly once: no pair emitted twice across micro-batches
      assert(spark.table("pspatial").count() == streamed.size)
    } finally q.stop()
  }

  test("F7 streaming embed dedup keeps exactly the batch first-per-signature vectors") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val distinctVecs = Array.fill(3)(Array.fill(64)(rnd.nextFloat()))
    // 9 vectors: each base vector appears 3 times, interleaved
    val vecs = (0 until 9).map(i => (i.toLong, distinctVecs(i % 3), 2L * i))

    val in = MemoryStream[(Timestamp, Long, Array[Float])]
    val q = StreamingOps.streamingEmbedDedup(
      in.toDF().toDF("ts_t", "vec_id", "embedding"), "2 hours")
      .writeStream.format("memory").queryName("pembdedup")
      .outputMode("append").start()
    try {
      vecs.sortBy(_._3).foreach { case (id, v, m) =>
        in.addData((ts(m), id, v))
        q.processAllAvailable()
      }
      val streamed = spark.table("pembdedup")
        .select("vec_id").as[Long].collect().toSet

      val sig = vecs.toDF("vec_id", "embedding", "minute")
        .withColumn("svec", transform(col("embedding"),
          x => graft.functions.GraftFunctions.scaled(x)))
        .withColumn("srp_sig", graft.functions.SrpSig.sigL(col("svec"), 16))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("srp_sig")).orderBy(col("minute"))
      val batch = sig
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("vec_id").as[Long].collect().toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("F13 streaming aggregate maintenance equals incremental merge and full recompute") {
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.IncrementalAgg
    val in = MemoryStream[(Long, Long)]
    val q = StreamingOps.aggMaintenanceStream(in.toDS().toDF("user_id", "v"))
      .writeStream.format("memory").queryName("aggmaint")
      .outputMode("complete").start()
    val b1 = Seq((1L, 10L), (1L, 5L), (2L, 7L))
    val b2 = Seq((1L, 20L), (3L, 1L), (2L, 3L))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("aggmaint")
    val full = (b1 ++ b2).toDF("user_id", "v").groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_cents"),
        min(col("v")).as("min_cents"), max(col("v")).as("max_cents"))
    val incr = IncrementalAgg.merge(
      IncrementalAgg.state(b1.toDF("user_id", "v"), "user_id", col("v")),
      IncrementalAgg.state(b2.toDF("user_id", "v"), "user_id", col("v")),
      "user_id")
    assert(streamed.exceptAll(full).isEmpty && full.exceptAll(streamed).isEmpty)
    assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty)
  }

  test("F13u update-mode agg deltas are changed-keys-only and reassemble to batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    val q = StreamingOps.aggMaintenanceStream(in.toDS().toDF("user_id", "v"))
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = df.collect().map(r =>
          (id, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        buf.synchronized { buf ++= rows }; ()
      }.start()
    val b1 = Seq((1L, 10L), (1L, 5L), (2L, 7L))
    val b2 = Seq((1L, 20L), (3L, 1L)) // touches users 1 and 3, NOT 2
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val lastBatch = buf.map(_._1).max
    // the update-mode contract: the second trigger refreshed only the
    // touched keys — no user-2 rewrite
    assert(buf.filter(_._1 == lastBatch).map(_._2).toSet == Set(1L, 3L),
      s"second trigger should emit users {1,3} only: $buf")
    val state = StreamingOps.reassembleUpdates(
      buf.toSeq.toDF("batch_id", "user_id", "n", "sum_cents",
        "min_cents", "max_cents"),
      keys = Seq("user_id"))
    val full = (b1 ++ b2).toDF("user_id", "v").groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_cents"),
        min(col("v")).as("min_cents"), max(col("v")).as("max_cents"))
    assert(state.exceptAll(full).isEmpty && full.exceptAll(state).isEmpty)
  }

  test("F15u update-mode CMS deltas touch only rehashed counters and reassemble to batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = StreamingOps.cmsMaintenanceStream(in.toDS().toDF("tok"))
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = df.collect().map(r =>
          (id, r.getLong(0), r.getLong(1), r.getLong(2)))
        buf.synchronized { buf ++= rows }; ()
      }.start()
    val b1 = (1 to 40).map(i => s"tok${i % 10}")
    val b2 = Seq("only-in-batch-two")
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val lastBatch = buf.map(_._1).max
    // one token hashes into exactly `depth` counters — the second
    // trigger must not rewrite the whole d×w table
    assert(buf.count(_._1 == lastBatch) <= 3,
      s"second trigger rewrote more than the touched counters: $buf")
    val state = StreamingOps.reassembleUpdates(
      buf.toSeq.toDF("batch_id", "j", "b", "cnt"), keys = Seq("j", "b"))
    val batch = graft.ops.Sketches.cmsCounters((b1 ++ b2).toDF("tok"))
    assert(state.exceptAll(batch).isEmpty && batch.exceptAll(state).isEmpty)
  }

  test("F14u update-mode top-k deltas exercise the custom aggregate and reassemble to batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Seq[Long])]
    val q = StreamingOps.topKStream(in.toDS().toDF("event_type", "v"), k = 3)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = df.collect().map(r => (id, r.getString(0), r.getSeq[Long](1)))
        buf.synchronized { buf ++= rows }; ()
      }.start()
    val b1 = Seq(("a", 5L), ("a", 1L), ("b", 2L))
    val b2 = Seq(("a", 3L)) // touches key a only; state-store merge path
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val lastBatch = buf.map(_._1).max
    assert(buf.filter(_._1 == lastBatch).map(_._2) == Seq("a"),
      s"second trigger should refresh key a only: $buf")
    // last-writer-wins per key equals the batch top-k
    val state = buf.groupBy(_._2).map { case (k, rows) =>
      k -> rows.maxBy(_._1)._3
    }
    val expected = (b1 ++ b2).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.take(3)).toMap
    assert(state == expected, s"state=$state expected=$expected")
  }

  test("F17u update-mode drift-bin deltas reassemble to the batch bins") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val q = StreamingOps.driftBinsStream(in.toDS().toDF("g", "v"),
        group = "g", valueCol = "v", mn = 0L, mx = 99L, nBins = 10)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = df.collect().map(r =>
          (id, r.getString(0), r.getLong(1), r.getLong(2)))
        buf.synchronized { buf ++= rows }; ()
      }.start()
    val b1 = (0L to 99L).map(v => ("a", v)) ++ Seq(("b", 5L), ("b", 95L))
    val b2 = Seq(("b", 7L)) // touches one (group, bin) counter only
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val lastBatch = buf.map(_._1).max
    assert(buf.filter(_._1 == lastBatch).map(r => (r._2, r._3)) == Seq(("b", 0L)),
      s"second trigger should refresh only (b, bin 0): $buf")
    val state = StreamingOps.reassembleUpdates(
      buf.toSeq.toDF("batch_id", "g", "bin", "n"), keys = Seq("g", "bin"))
    val batch = StreamingOps.driftBinsStream((b1 ++ b2).toDF("g", "v"),
      group = "g", valueCol = "v", mn = 0L, mx = 99L, nBins = 10)
    assert(state.exceptAll(batch).isEmpty && batch.exceptAll(state).isEmpty)
    // and the upserted state FINISHES to the same χ² as the batch
    // monitor against a fixed deployed baseline — the full F17 contract
    // in update mode, not just matching bins (VERDICT r5 #5)
    import graft.etl.DataQuality
    val bBins = (0L to 99L).flatMap(v => Seq(("a", v), ("b", v)))
      .toDF("g", "v")
      .withColumn("bin", expr("((v - 0) * 10) div (99 - 0 + 1)"))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("n_b"))
    val chiStream = DataQuality.chi2FromBins(
      bBins, state.withColumnRenamed("n", "n_c"), "g")
    val chiBatch = DataQuality.chi2FromBins(
      bBins, batch.withColumnRenamed("n", "n_c"), "g")
    assert(chiStream.exceptAll(chiBatch).isEmpty &&
      chiBatch.exceptAll(chiStream).isEmpty,
      "update-mode reassembled state must finish to the batch chi-squared")
  }

  test("F16u/F18u update-mode register and bitset deltas reassemble to batch") {
    implicit val sqlCtx = spark.sqlContext
    // HLL registers: keys (g, idx), mergeable max
    val inH = MemoryStream[(Long, Long)]
    val bufH = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val qH = StreamingOps.hllMaintenanceStream(inH.toDS().toDF("g", "v"))
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = df.collect().map(r => (id, r.getLong(0), r.getLong(1), r.getInt(2).toLong))
        bufH.synchronized { bufH ++= rows }; ()
      }.start()
    val h1 = (1L to 200L).map(i => (i % 3, i))
    val h2 = Seq((0L, 777L))
    inH.addData(h1: _*); qH.processAllAvailable()
    inH.addData(h2: _*); qH.processAllAvailable()
    qH.stop()
    // one new value touches at most its own (g, idx) register
    assert(bufH.count(_._1 == bufH.map(_._1).max) <= 1)
    val stateH = StreamingOps.reassembleUpdates(
      bufH.toSeq.toDF("batch_id", "g", "idx", "mreg"), keys = Seq("g", "idx"))
    val batchH = graft.ops.Sketches.hllRegisters(
      (h1 ++ h2).toDF("g", "v"), "g", "v")
      .select(col("g"), col("idx"), col("mreg").cast("long"))
    assert(stateH.exceptAll(batchH).isEmpty && batchH.exceptAll(stateH).isEmpty)

    // bitset words: keys (g, w), mergeable bit_or
    val inB = MemoryStream[(Long, Long)]
    val bufB = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val qB = StreamingOps.bitsetMaintenanceStream(inB.toDS().toDF("g", "v"))
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = df.collect().map(r => (id, r.getLong(0), r.getLong(1), r.getLong(2)))
        bufB.synchronized { bufB ++= rows }; ()
      }.start()
    val v1 = (1L to 100L).map(i => (i % 2, i))
    val v2 = Seq((1L, 999L)) // one id -> one (g, word) delta
    inB.addData(v1: _*); qB.processAllAvailable()
    inB.addData(v2: _*); qB.processAllAvailable()
    qB.stop()
    assert(bufB.count(_._1 == bufB.map(_._1).max) == 1)
    val stateB = StreamingOps.reassembleUpdates(
      bufB.toSeq.toDF("batch_id", "g", "w", "mask"), keys = Seq("g", "w"))
    val batchB = graft.ops.Sketches.bitsetWords((v1 ++ v2).toDF("g", "v"), "g", "v")
    assert(stateB.exceptAll(batchB).isEmpty && batchB.exceptAll(stateB).isEmpty)
  }

  test("F14 streaming top-k agg equals the batch window top-k across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val q = StreamingOps.topKStream(in.toDS().toDF("event_type", "v"), k = 3)
      .writeStream.format("memory").queryName("topkstream")
      .outputMode("complete").start()
    // ties, duplicates, and a key that only appears in batch 2 —
    // the state-store merge must handle all three
    val b1 = Seq(("a", 5L), ("a", 1L), ("a", 9L), ("b", 2L))
    val b2 = Seq(("a", 1L), ("a", 3L), ("b", 8L), ("c", 4L))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("topkstream")
      .select(col("event_type"), explode(col("tk")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val expected = (b1 ++ b2).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.take(3)).toMap
    assert(streamed == expected, s"streamed=$streamed expected=$expected")
  }

  test("F15 streaming count-min maintenance equals the batch sketch build") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = StreamingOps.cmsMaintenanceStream(in.toDS().toDF("tok"))
      .writeStream.format("memory").queryName("cmsstream")
      .outputMode("complete").start()
    // real corpus tokens split across three micro-batches, plus a
    // batch-2-only token: the counter merge must fold all of them
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
      .as[String].collect().toSeq
    val (b1, rest) = toks.splitAt(toks.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2 :+ "only-in-batch-two": _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cmsstream")
    val batch = graft.ops.Sketches.cmsCounters(
      (toks :+ "only-in-batch-two").toDF("tok"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // state is bounded by the sketch dimensions, not the stream
    assert(streamed.count() <= 3L * 512L)
  }

  test("F16 streaming HLL maintenance equals the batch registers and estimate") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val q = StreamingOps.hllMaintenanceStream(in.toDS().toDF("g", "v"))
      .writeStream.format("memory").queryName("hllstream")
      .outputMode("complete").start()
    // three micro-batches over two groups, with cross-batch overlap:
    // the register max must fold duplicates away across batches
    val all = (1L to 4000L).map(i => (i % 2, i))
    val (b1, rest) = all.splitAt(1500)
    val (b2, b3) = rest.splitAt(1500)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2 ++ b1.take(500): _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hllstream")
    val batch = graft.ops.Sketches.hllRegisters(
      all.toDF("g", "v"), "g", "v")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // state bounded by the register file, not the 4000 distinct values
    assert(streamed.count() <= 2L * 64L)
    // and the finished estimates agree with the batch op end to end
    val se = graft.ops.Sketches.hllEstimate(streamed, "g")
    val be = graft.ops.Sketches.hllDistinct(all.toDF("g", "v"), "g", "v")
    assert(se.exceptAll(be).isEmpty && be.exceptAll(se).isEmpty)
  }

  test("F18 streaming bitset maintenance equals the batch exact distinct") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val q = StreamingOps.bitsetMaintenanceStream(in.toDS().toDF("g", "v"))
      .writeStream.format("memory").queryName("bitsetstream")
      .outputMode("complete").start()
    val all = (0L until 3000L).map(i => (i % 3, i % 700))
    val (b1, rest) = all.splitAt(1000)
    val (b2, b3) = rest.splitAt(1000)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2 ++ b1.take(200): _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bitsetstream")
    val batch = graft.ops.Sketches.bitsetWords(all.toDF("g", "v"), "g", "v")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // state bounded by the word file: 3 groups × ⌈700/63⌉ words
    assert(streamed.count() <= 3L * 12L)
    val se = graft.ops.Sketches.bitsetFinish(streamed, "g")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = all.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.size.toLong).toMap
    assert(se == want, "finished snapshot must be the exact distinct count")
  }

  test("F24 streaming quantile-sketch maintenance equals the batch sketch and quantiles") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val q = StreamingOps.qsketchMaintenanceStream(in.toDS().toDF("g", "v"))
      .writeStream.format("memory").queryName("qskstream")
      .outputMode("complete").start()
    // long-tailed values over two groups with cross-batch repeats: the
    // bucket counts must fold additively across batches
    val all = (1L to 3000L).map(i => ((i % 2).toString, (i * i) % 500000L + 1L))
    val (b1, rest) = all.splitAt(1000)
    val (b2, b3) = rest.splitAt(1000)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2 ++ b1.take(300): _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()
    val folded = all ++ b1.take(300)
    val streamed = spark.table("qskstream")
    val batch = graft.ops.QuantileSketch.buildSketch(
      folded.toDF("g", "v"), "g", "v")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // state bounded by the log-linear grid, not the distinct values
    assert(streamed.count() <= 2L * ((63 - 6 + 1) * 64 + 64))
    // and the finished quantiles agree with the batch op end to end
    val se = graft.ops.QuantileSketch.quantiles(streamed, "g")
    val be = graft.ops.QuantileSketch.groupQuantiles(
      folded.toDF("g", "v"), "g", "v")
    assert(se.exceptAll(be).isEmpty && be.exceptAll(se).isEmpty)
  }

  test("F17 streaming drift bins equal the batch monitor end to end") {
    import graft.etl.DataQuality
    implicit val sqlCtx = spark.sqlContext
    // baseline spans [0, 99] so the batch monitor's union bounds equal
    // the baseline bounds — the fixed-bin streaming form must then
    // agree exactly, bins AND finished χ²
    val baseline = (0L to 99L).flatMap(v => Seq(("a", v), ("b", v / 2)))
    val current = (10L to 89L).flatMap(v => Seq(("a", v), ("b", 99L - v)))
    val in = MemoryStream[(String, Long)]
    val q = StreamingOps.driftBinsStream(in.toDS().toDF("g", "v"),
        group = "g", valueCol = "v", mn = 0L, mx = 99L)
      .writeStream.format("memory").queryName("driftstream")
      .outputMode("complete").start()
    val (c1, c2) = current.splitAt(current.length / 2)
    in.addData(c1: _*); q.processAllAvailable()
    in.addData(c2: _*); q.processAllAvailable()
    q.stop()
    val streamedBins = spark.table("driftstream")
      .withColumnRenamed("n", "n_c")
    val batch = DataQuality.driftChi2(
      baseline.toDF("g", "v"), current.toDF("g", "v"), "g", "v")
    // rebuild the baseline side with the same fixed bounds and finish
    val bBins = baseline.toDF("g", "v")
      .withColumn("bin", expr("((v - 0) * 10) div (99 - 0 + 1)"))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("n_b"))
    val viaStream = DataQuality.chi2FromBins(bBins, streamedBins, "g")
    assert(viaStream.exceptAll(batch).isEmpty &&
      batch.exceptAll(viaStream).isEmpty)
    assert(streamedBins.count() <= 2L * 10L)
  }

  test("F12 streaming SCD2 maintenance equals the batch merge chain") {
    import graft.etl.{Scd2, Scd2Snapshots}
    import graft.streaming.StreamingIngest
    val root = java.nio.file.Files.createTempDirectory("graft_scd2_stream")
    val drop = java.nio.file.Files.createDirectory(root.resolve("drop"))
    val hist = root.resolve("hist").toString

    // land each day's snapshot as one file in the drop dir, ordered by
    // mod time so the file source replays the reference's daily cadence
    def land(df: org.apache.spark.sql.DataFrame, day: String, mtime: Long): Unit = {
      import scala.jdk.CollectionConverters._
      val tmp = root.resolve(s"tmp_$day")
      df.withColumn("batch_dt", lit(day)).coalesce(1)
        .write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = drop.resolve(s"snapshot_$day.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(
        dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    land(Scd2Snapshots.day1(spark, sf), Scd2Snapshots.Day1, 1000000L)
    land(Scd2Snapshots.day2(spark, sf), Scd2Snapshots.Day2, 2000000L)

    val snapSchema = spark.read.parquet(drop.resolve(s"snapshot_${Scd2Snapshots.Day1}.parquet").toString).schema
    val stream = spark.readStream.schema(snapSchema)
      .option("maxFilesPerTrigger", 1).parquet(drop.toString)
    val q = StreamingIngest.scd2Stream(stream, Scd2Snapshots.Key,
      Scd2Snapshots.Attrs, "batch_dt", hist, root.resolve("ckpt").toString)
    q.awaitTermination()

    val cols = (Scd2Snapshots.Key +: Scd2Snapshots.Attrs) ++
      Seq("effective_from", "effective_to", "deleted_flg")
    val expected = Scd2.merge(
      Scd2.init(Scd2Snapshots.day1(spark, sf), Scd2Snapshots.Day1),
      Scd2Snapshots.day2(spark, sf),
      Scd2Snapshots.Key, Scd2Snapshots.Attrs, Scd2Snapshots.Day2)
      .select(cols.map(col): _*)
    val got = StreamingIngest.latestHistory(spark, hist).get
      .select(cols.map(col): _*)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // and the two-batch path really produced two history versions
    assert(new java.io.File(hist).list().count(_.startsWith("v=")) == 2)
  }

  test("F19 streaming episode maintenance equals the batch pattern counts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{SeqCounts, SeqEvent}
    // user 1's opening view ARRIVES in batch 2 (out of order across
    // batches): the funnel episode v..c..p only exists after the state
    // merge re-sorts history — counting per batch could never see it.
    val b1 = Seq(
      SeqEvent(1L, 20L, 2L, "click"), SeqEvent(1L, 30L, 3L, "purchase"),
      SeqEvent(2L, 10L, 4L, "view"), SeqEvent(2L, 20L, 5L, "purchase"))
    val b2 = Seq(
      SeqEvent(1L, 10L, 1L, "view"),
      SeqEvent(2L, 30L, 6L, "view"), SeqEvent(2L, 40L, 7L, "click"),
      SeqEvent(3L, 10L, 8L, "error"))
    val in = MemoryStream[SeqEvent]
    val q = StreamingOps.episodeStream(in.toDS())
      .writeStream.format("memory").queryName("episodes")
      .outputMode("update").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      // update mode appends one refreshed row per touched user per
      // trigger; n_events grows strictly, so max(n_events) per user IS
      // the final state
      val streamed = spark.table("episodes").as[SeqCounts].collect()
        .groupBy(_.user_id).view
        .mapValues(_.maxBy(_.n_events)).values
        .map(c => (c.user_id, c.n_events, c.seq, c.n_funnel, c.n_direct))
        .toSet
      val batch = graft.ops.Analytics.patternEpisodes(
        (b1 ++ b2).map(e => (e.user_id, e.ts_us, e.event_id, e.event_type))
          .toDF("user_id", "ts_us", "event_id", "event_type"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // and the cross-batch episode really materialized
      assert(streamed.exists(t => t._1 == 1L && t._3 == "vcp" && t._4 == 1L))
    } finally q.stop()
  }

  test("F22 streaming Benford digit state finishes to the batch screen") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Analytics
    val in = MemoryStream[(String, Double)]
    val q = StreamingOps.benfordDigitsStream(in.toDS().toDF("g", "amt"),
        group = "g", amount = "amt")
      .writeStream.format("memory").queryName("benford_state")
      .outputMode("complete").start()
    try {
      val b1 = Seq(("a", 1.00), ("a", 1.23), ("a", 25.00))
      val b2 = Seq(("a", 0.09), ("b", 9.50), ("b", 0.002)) // 0.002 → 0 cents, dropped
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      // the live state is bounded at groups·9 and merges across batches
      val snapshot = spark.table("benford_state")
      assert(snapshot.count() <= 2 * 9)
      val streamed = Analytics.benfordFinish(snapshot)
      val batch = Analytics.benfordScreen((b1 ++ b2).toDF("g", "amt"),
        "g", "amt")
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty)
      // the zero-cent row must not have minted a group: only a and b
      assert(streamed.select("grp").distinct().count() == 2)
    } finally q.stop()
  }

  test("F23 streaming daily state finishes to the batch CUSUM detector") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Analytics
    val day = 86400000000L
    val in = MemoryStream[(String, Long)]
    val q = StreamingOps.cusumDailyStream(in.toDS().toDF("event_type", "ts_us"))
      .writeStream.format("memory").queryName("cusum_state")
      .outputMode("complete").start()
    try {
      // batch 2 delivers more events for day 0 AFTER day 3 arrived —
      // the daily counters must merge across triggers, out of order
      val b1 = (0 until 10).map(i => ("a", 0L * day + i)) ++
        (0 until 30).map(i => ("a", 3L * day + i))
      val b2 = (0 until 5).map(i => ("a", 0L * day + 100 + i)) ++
        (0 until 30).map(i => ("a", 1L * day + i)) ++
        (0 until 30).map(i => ("a", 2L * day + i))
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val snapshot = spark.table("cusum_state")
      assert(snapshot.count() == 4)  // bounded by the day domain
      val streamed = Analytics.cusumFinish(snapshot)
      val batch = Analytics.cusumShifts(
        (b1 ++ b2).toDF("event_type", "ts_us"))
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("F21 streaming transition deltas sum to the batch Markov matrix") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{MarkovEvent, TransitionDelta}
    // the pair (click@20 → click@30) STRADDLES the batch boundary —
    // only the O(1) last-event state can see it
    val b1 = Seq(MarkovEvent(1L, 10L, 1L, "view"),
      MarkovEvent(1L, 20L, 2L, "click"),
      MarkovEvent(2L, 10L, 3L, "purchase"))
    val b2 = Seq(MarkovEvent(1L, 30L, 4L, "click"),
      MarkovEvent(1L, 40L, 5L, "purchase"),
      MarkovEvent(2L, 20L, 6L, "view"))
    val in = MemoryStream[MarkovEvent]
    val q = StreamingOps.markovStream(in.toDS())
      .writeStream.format("memory").queryName("markov_deltas")
      .outputMode("update").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val deltas = spark.table("markov_deltas").as[TransitionDelta].collect()
      assert(!deltas.exists(_.from_state == "__late__"))
      val streamed = deltas.groupBy(d => (d.from_state, d.to_state)).view
        .mapValues(_.map(_.n).sum).toMap
      val batch = graft.ops.Analytics.markovTransitions(
        (b1 ++ b2).map(e => (e.user_id, e.ts_us, e.event_id, e.event_type))
          .toDF("user_id", "ts_us", "event_id", "event_type"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("F21 drops behind-frontier stragglers loudly, frontier unharmed") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{MarkovEvent, TransitionDelta}
    val in = MemoryStream[MarkovEvent]
    val q = StreamingOps.markovStream(in.toDS())
      .writeStream.format("memory").queryName("markov_late")
      .outputMode("update").start()
    try {
      in.addData(MarkovEvent(1L, 10L, 1L, "view"),
        MarkovEvent(1L, 30L, 3L, "purchase"))
      q.processAllAvailable()
      // ts=20 arrives AFTER the frontier reached 30: dropped + flagged,
      // and the already-emitted view→purchase pair stays untouched
      in.addData(MarkovEvent(1L, 20L, 2L, "click"),
        MarkovEvent(1L, 40L, 4L, "view"))
      q.processAllAvailable()
      val deltas = spark.table("markov_late").as[TransitionDelta].collect()
      val agg = deltas.groupBy(d => (d.from_state, d.to_state)).view
        .mapValues(_.map(_.n).sum).toMap
      assert(agg == Map(
        ("view", "purchase") -> 1L,
        ("purchase", "view") -> 1L,
        ("__late__", "__late__") -> 1L), agg.toString)
    } finally q.stop()
  }

  // ------------------------------------------------------------------
  // Checkpoint-restart recovery (VERDICT r6 #2): kill each stateful
  // maintainer mid-stream, restart the SAME plan from its checkpoint,
  // feed the remainder, and assert the final state still equals the
  // batch twin over ALL rows. This is the production contract a
  // streaming engine sells: executor loss or redeploy between triggers
  // must not corrupt or drop state. One case per state family —
  //   agg (F13)  heap (F14/I20)  sketch (F15)  bitset (F18)
  //   history (F19)  last-event (F21)
  // — because each family recovers a DIFFERENT thing from the store:
  // algebraic tuples, a custom aggregate's serialized buffer, counter
  // tables, bit words, a keyed event log, a keyed frontier.
  // ------------------------------------------------------------------

  private def ckDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ck-$tag-").toString

  /** Run `plan` in complete mode against `ck`, feed `feed`, stop. */
  private def completeRun[A](in: MemoryStream[A],
                             plan: => org.apache.spark.sql.DataFrame,
                             name: String, ck: String, feed: Seq[A]): Unit = {
    val q = plan.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck).outputMode("complete").start()
    try { in.addData(feed: _*); q.processAllAvailable() } finally q.stop()
  }

  test("restart/counters: F33 DQ counters survive a mid-stream restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.Checks
    val checks: Seq[Checks.Check] = Seq(
      Checks.NotNull("r1_name", "name"),
      Checks.Bounds("r2_v", col("v"), 0L, 50L),
      Checks.Predicate("r3_pos", col("v") > 0L, allowed = 1L))
    val in = MemoryStream[(Long, Option[String], Long)]
    val ck = ckDir("dq")
    val b1 = Seq((1L, Some("a"), 10L), (2L, None, 99L))
    val b2 = Seq((3L, Some("c"), -5L), (4L, Some("d"), 20L))
    def plan = StreamingOps.dqCountsStream(
      in.toDS().toDF("k", "name", "v"), checks)
    completeRun(in, plan, "dq_rs1", ck, b1)
    completeRun(in, plan, "dq_rs2", ck, b2)
    val streamed = Checks.verdicts(
      Checks.stackCounts(spark.table("dq_rs2"), checks), checks)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    val batch = Checks.run((b1 ++ b2).toDF("k", "name", "v"), checks)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.map(_._2).sum > 0) // violations from BOTH incarnations
  }

  test("restart/stateless: F32 spatial monitor emits no duplicate pairs across a restart") {
    implicit val sqlCtx = spark.sqlContext
    val r = 100000L
    val pts = graft.ops.Spatial.points(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val static = pts.toSeq.toDF("id", "x", "y")
    val in = MemoryStream[(Long, Long, Long)]
    val ck = ckDir("spatial")
    val (b1, b2) = pts.sortBy(_._1).splitAt(pts.length / 2)
    // the memory sink cannot recover a checkpoint; the FILE sink is the
    // fault-tolerant one (exactly-once via its file-manifest log) and
    // is what a production F32 writes to anyway
    val outDir = java.nio.file.Files.createTempDirectory("graft-sp-out-").toString
    def plan = StreamingOps.spatialNeighborsStream(
      in.toDF().toDF("id", "x", "y"), static, r)
    def appendRun(feed: Seq[(Long, Long, Long)]): Unit = {
      val q = plan.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ck).outputMode("append").start()
      try { in.addData(feed: _*); q.processAllAvailable() } finally q.stop()
    }
    appendRun(b1.toSeq)
    appendRun(b2.toSeq)
    // the source offsets (not operator state — the join is stateless)
    // are what recovery must not replay: batch-1 pairs must not re-emit
    val all = spark.read.parquet(outDir)
      .select("id1", "id2").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(all.length == all.distinct.length, "a pair re-emitted across the restart")
    val batch = graft.ops.Spatial.pairsFromPoints(static, r)
      .collect().map(x => (x.getLong(1), x.getLong(0))).toSet
    assert(all.toSet == batch)
  }

  test("restart/histogram: F34 MAD monitor ≡ the percentile batch twin across a restart") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val ck = ckDir("mad")
    // odd AND even group sizes (both median interpolation branches),
    // an outlier beyond 3·MAD, restart between the halves
    val b1 = Seq(("a", 10L), ("a", 12L), ("a", 11L), ("b", 5L), ("b", 7L))
    val b2 = Seq(("a", 13L), ("a", 500L), ("b", 6L), ("b", 100L))
    def plan = StreamingOps.madState(in.toDS().toDF("t", "v"), "t", "v")
    completeRun(in, plan, "mad_rs1", ck, b1)
    completeRun(in, plan, "mad_rs2", ck, b2)
    val streamed = graft.ops.Analytics.finishMad(spark.table("mad_rs2"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    // independent twin: Spark's percentile formulation (what the DuckDB
    // oracle checks), NOT the shared finisher
    val e = (b1 ++ b2).toDF("t", "v")
    val med = e.groupBy(col("t")).agg(percentile(col("v"), lit(0.5)).as("med"))
    val dev = e.join(med, Seq("t")).withColumn("ad", abs(col("v") - col("med")))
    val mad = dev.groupBy(col("t")).agg(percentile(col("ad"), lit(0.5)).as("mad"))
    val batch = dev.join(mad, Seq("t"))
      .groupBy(col("t"))
      .agg(min(col("med")).as("med"), min(col("mad")).as("mad"),
        count(lit(1)).as("n_rows"),
        count(when(col("ad") > lit(3) * col("mad"), 1)).as("n_outliers"))
      .orderBy(col("t"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.exists(_._5 > 0)) // the planted outliers actually flag
  }

  test("restart/agg: F13 state survives a mid-stream restart (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val ck = ckDir("agg")
    val b1 = Seq((1L, 10L), (1L, 5L), (2L, 7L))
    val b2 = Seq((1L, 20L), (3L, 1L), (2L, 3L))
    def plan = StreamingOps.aggMaintenanceStream(in.toDS().toDF("user_id", "v"))
    completeRun(in, plan, "agg_rs1", ck, b1) // incarnation 1, then "kill"
    completeRun(in, plan, "agg_rs2", ck, b2) // incarnation 2 recovers state
    val streamed = spark.table("agg_rs2")
    val full = (b1 ++ b2).toDF("user_id", "v").groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_cents"),
        min(col("v")).as("min_cents"), max(col("v")).as("max_cents"))
    assert(streamed.exceptAll(full).isEmpty && full.exceptAll(streamed).isEmpty)
  }

  test("restart/heap: F14 custom top-k aggregate buffer round-trips the checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val ck = ckDir("topk")
    // k=2 smallest per type; the post-restart batch REPLACES one heap
    // member (1 < 3), proving the recovered buffer keeps merging, not
    // just surviving
    val b1 = Seq(("a", 5L), ("a", 3L), ("a", 9L), ("b", 7L))
    val b2 = Seq(("a", 1L), ("b", 2L), ("b", 8L))
    def plan = StreamingOps.topKStream(
      in.toDS().toDF("event_type", "v"), k = 2)
    completeRun(in, plan, "topk_rs1", ck, b1)
    completeRun(in, plan, "topk_rs2", ck, b2)
    val streamed = spark.table("topk_rs2")
      .select(col("event_type"), col("tk"))
      .as[(String, Seq[Long])].collect()
      .map { case (t, v) => t -> v.sorted }.toMap
    assert(streamed == Map("a" -> Seq(1L, 3L), "b" -> Seq(2L, 7L)), streamed)
  }

  test("restart/sketch: F15 count-min counters recover and keep folding") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val ck = ckDir("cms")
    val b1 = Seq("x", "y", "x", "z")
    val b2 = Seq("x", "w", "y")
    def plan = StreamingOps.cmsMaintenanceStream(
      in.toDS().toDF("tok"), depth = 3, width = 64)
    completeRun(in, plan, "cms_rs1", ck, b1)
    completeRun(in, plan, "cms_rs2", ck, b2)
    val streamed = spark.table("cms_rs2")
    val batch = graft.ops.Sketches.cmsCounters(
      (b1 ++ b2).toDF("tok"), 3, 64)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("restart/bitset: F18 exact-distinct bit words recover across the restart") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val ck = ckDir("bits")
    // id 5 repeats after the restart: the recovered word must absorb it
    // idempotently (bit_or), keeping the count exact
    val b1 = Seq((1L, 5L), (1L, 70L), (2L, 5L))
    val b2 = Seq((1L, 5L), (1L, 200L), (2L, 6L), (3L, 1L))
    def plan = StreamingOps.bitsetMaintenanceStream(
      in.toDS().toDF("g", "v"))
    completeRun(in, plan, "bits_rs1", ck, b1)
    completeRun(in, plan, "bits_rs2", ck, b2)
    val streamed = graft.ops.Sketches.bitsetFinish(spark.table("bits_rs2"), "g")
      .select(col("g"), col("n_distinct"))
      .as[(Long, Long)].collect().toMap
    assert(streamed == Map(1L -> 3L, 2L -> 2L, 3L -> 1L), streamed)
  }

  test("restart/qsketch: F24 bucket counts recover and keep folding") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val ck = ckDir("qsk")
    // values straddling the first octave boundary before and after the
    // restart: the recovered counters must keep ADDING (64 lands in the
    // same bucket twice across incarnations), not reset or double-fold
    val b1 = Seq(("a", 63L), ("a", 64L), ("b", 5L))
    val b2 = Seq(("a", 64L), ("a", 130L), ("b", 5L))
    def plan = StreamingOps.qsketchMaintenanceStream(in.toDS().toDF("g", "v"))
    completeRun(in, plan, "qsk_rs1", ck, b1)
    completeRun(in, plan, "qsk_rs2", ck, b2)
    val streamed = spark.table("qsk_rs2")
    val batch = graft.ops.QuantileSketch.buildSketch(
      (b1 ++ b2).toDF("g", "v"), "g", "v")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("restart/history: F19 keyed event log recovers; a cross-restart episode forms") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{SeqCounts, SeqEvent}
    val in = MemoryStream[SeqEvent]
    val ck = ckDir("hist")
    val buf = scala.collection.mutable.ArrayBuffer.empty[SeqCounts]
    def start() = StreamingOps.episodeStream(in.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[SeqCounts], _: Long) =>
        val rows = ds.collect(); buf.synchronized { buf ++= rows }; ()
      }.start()
    // user 1's funnel v..c..p STRADDLES the restart: v,c before the
    // kill, p after — only recovered history state can complete it
    val b1 = Seq(SeqEvent(1L, 10L, 1L, "view"), SeqEvent(1L, 20L, 2L, "click"),
      SeqEvent(2L, 10L, 3L, "view"))
    val b2 = Seq(SeqEvent(1L, 30L, 4L, "purchase"), SeqEvent(2L, 20L, 5L, "purchase"))
    val q1 = start()
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { in.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    val streamed = buf.synchronized {
      buf.groupBy(_.user_id).view.mapValues(_.maxBy(_.n_events)).values
        .map(c => (c.user_id, c.n_events, c.seq, c.n_funnel, c.n_direct)).toSet
    }
    val batch = graft.ops.Analytics.patternEpisodes(
      (b1 ++ b2).map(e => (e.user_id, e.ts_us, e.event_id, e.event_type))
        .toDF("user_id", "ts_us", "event_id", "event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.exists(t => t._1 == 1L && t._3 == "vcp" && t._4 == 1L))
  }

  test("restart/session: F10 open session state recovers; a straddling session merges") {
    implicit val sqlCtx = spark.sqlContext
    val gapMin = 30L
    val in = MemoryStream[(Timestamp, Long, Long)]
    val ck = ckDir("sess")
    def plan = StreamingOps.sessionizedCounts(
      in.toDF().toDF("ts_t", "user_id", "amt_cents"),
      gap = s"$gapMin minutes", watermark = "10 minutes")
    // user 1's single session STRADDLES the restart: events at minutes
    // 0/12 before the kill, 29 after (within the 30-min gap of 12) —
    // only a recovered open-session state can merge them into ONE
    // session of 3 events. User 2's post-restart event at minute 200
    // opens a separate session (gap exceeded).
    val b1 = Seq((ts(0), 1L, 10L), (ts(12), 1L, 20L), (ts(5), 2L, 5L))
    val b2 = Seq((ts(29), 1L, 30L), (ts(200), 2L, 7L))
    completeRun(in, plan, "sess_rs1", ck, b1)
    completeRun(in, plan, "sess_rs2", ck, b2)
    val streamed = spark.table("sess_rs2")
      .select(col("user_id"), col("n_events"), col("sum_cents"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == Set((1L, 3L, 60L), (2L, 1L, 5L), (2L, 1L, 7L)),
      streamed.toString)
  }

  test("restart/last-event: F21 frontier recovers; a cross-restart transition pairs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{MarkovEvent, TransitionDelta}
    val in = MemoryStream[MarkovEvent]
    val ck = ckDir("markov")
    val buf = scala.collection.mutable.ArrayBuffer.empty[TransitionDelta]
    def start() = StreamingOps.markovStream(in.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[TransitionDelta], _: Long) =>
        val rows = ds.collect(); buf.synchronized { buf ++= rows }; ()
      }.start()
    // click@20 → purchase@30 pairs ACROSS the restart: only the
    // recovered last-event frontier can emit it (deltas are
    // append-only facts, so the recovered state must also NOT re-emit
    // the pre-restart pair — the sum check catches double counting)
    val b1 = Seq(MarkovEvent(1L, 10L, 1L, "view"),
      MarkovEvent(1L, 20L, 2L, "click"), MarkovEvent(2L, 10L, 3L, "view"))
    val b2 = Seq(MarkovEvent(1L, 30L, 4L, "purchase"),
      MarkovEvent(2L, 20L, 5L, "click"))
    val q1 = start()
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { in.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    val deltas = buf.synchronized { buf.toList }
    assert(!deltas.exists(_.from_state == "__late__"))
    val streamed = deltas.groupBy(d => (d.from_state, d.to_state)).view
      .mapValues(_.map(_.n).sum).toMap
    val batch = graft.ops.Analytics.markovTransitions(
      (b1 ++ b2).map(e => (e.user_id, e.ts_us, e.event_id, e.event_type))
        .toDF("user_id", "ts_us", "event_id", "event_type"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("F25 streaming structuring monitor ≡ batch D73 across restart, " +
      "finalization, eviction, and a late member; stragglers counted") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{StructFlags, StructTxn}
    val in = MemoryStream[StructTxn]
    val ck = ckDir("struct")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, StructFlags)]
    def start() = StreamingOps.structuringStream(in.toDS(),
        windowUs = 100L, minTxn = 3L, minSumCents = 150L)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StructFlags], bid: Long) =>
        val rows = ds.collect()
        buf.synchronized { buf ++= rows.map(bid -> _) }; ()
      }.start()
    // user 1: the window ending at ts=100 STRADDLES the restart (txns
    // 0,50 before; 100 after — only a recovered buffer can flag it);
    // then a LATE member at ts=90 (behind the frontier but inside W)
    // grows windows 90 and 100 retroactively; then ts=350 finalizes
    // both ends and evicts their rows; a fresh flag forms at ts=420
    // entirely after the eviction. Batch: flags at 90,100,420 —
    // n=3, peak 240/4, first 90.
    // user 3: a straggler at ts=10 behind frontier(500)−W must be
    // DROPPED and surface in n_late, never silently.
    val b1 = Seq(StructTxn(1L, 0L, 1L, 60L), StructTxn(1L, 50L, 2L, 60L),
      StructTxn(2L, 0L, 10L, 60L), StructTxn(3L, 0L, 20L, 60L))
    val b2 = Seq(StructTxn(1L, 100L, 3L, 60L), StructTxn(3L, 500L, 21L, 60L))
    val b3 = Seq(StructTxn(1L, 90L, 4L, 60L), StructTxn(1L, 350L, 5L, 60L),
      StructTxn(3L, 10L, 22L, 60L))
    val b4 = Seq(StructTxn(1L, 400L, 6L, 60L), StructTxn(1L, 420L, 7L, 60L))
    val q1 = start()
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try {
      in.addData(b2: _*); q2.processAllAvailable()
      in.addData(b3: _*); q2.processAllAvailable()
      in.addData(b4: _*); q2.processAllAvailable()
    } finally q2.stop()
    val last = buf.synchronized {
      buf.groupBy(_._2.user_id).view.mapValues(_.maxBy(_._1)._2).toMap
    }
    assert(last(3L).n_late == 1L, s"straggler not counted: ${last(3L)}")
    val streamed = last.values.filter(f => f.n_flagged > 0)
      .map(f => (f.user_id, f.n_flagged, f.peak_sum_cents, f.peak_n_txn,
        f.first_flag_ts_us)).toSet
    // everything except user 3's late-DROPPED straggler (ts=10)
    val batchIn = b1 ++ b2 ++ b3.filterNot(_.user_id == 3L) ++ b4
    val batch = graft.ops.Analytics.structuring(
      batchIn.map(t => (t.user_id, t.ts_us, t.event_id, t.amt_cents))
        .toDF("user_id", "ts_us", "event_id", "amt_cents"),
      thresholdCents = 100L, windowUs = 100L, minTxn = 3L,
      minSumCents = 150L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.exists(t => t._1 == 1L && t._2 == 3L && t._3 == 240L
      && t._4 == 4L && t._5 == 90L))
  }

  test("F27 streaming scorer health: state finishes to batch AUC and AP " +
      "across a restart; state stays score-domain-sized") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val ck = ckDir("health")
    def plan = StreamingOps.scorerHealthState(
      in.toDS().toDF("score", "label"))
    // scores repeat across triggers: the per-score counters must MERGE
    val b1 = Seq((10L, 1L), (20L, 0L), (10L, 0L), (30L, 1L))
    val b2 = Seq((10L, 1L), (20L, 1L), (40L, 0L), (30L, 1L))
    completeRun(in, plan, "health_rs1", ck, b1)
    completeRun(in, plan, "health_rs2", ck, b2)
    val snapshot = spark.table("health_rs2")
    assert(snapshot.count() == 4, "state is the distinct-score frame")
    val all = (b1 ++ b2).toDF("score", "label")
    val sAuc = graft.ml.Evaluation.finishAuc(snapshot).collect().head
    val bAuc = graft.ml.Evaluation.aucExact(all).collect().head
    assert(sAuc.toSeq == bAuc.toSeq, s"auc: $sAuc vs $bAuc")
    val sAp = graft.ml.Evaluation.finishAp(snapshot).collect().head
    val bAp = graft.ml.Evaluation.averagePrecision(all).collect().head
    assert(sAp.toSeq == bAp.toSeq, s"ap: $sAp vs $bAp")
  }

  test("F28 streaming agreement: cells finish to batch kappa across a " +
      "restart; state stays alphabet-squared-sized") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val ck = ckDir("agree")
    def plan = StreamingOps.agreementState(
      in.toDS().toDF("pred_a", "pred_b"))
    // cell keys repeat across triggers AND the restart: counters merge
    val b1 = Seq(("en", "en"), ("en", "de"), ("de", "de"), ("en", "en"))
    val b2 = Seq(("de", "en"), ("en", "en"), ("de", "de"), ("en", "de"))
    completeRun(in, plan, "agree_rs1", ck, b1)
    completeRun(in, plan, "agree_rs2", ck, b2)
    val snapshot = spark.table("agree_rs2")
    assert(snapshot.count() == 4, "state is the observed-cell frame")
    val sK = graft.ml.Evaluation.finishKappa(snapshot).collect().head
    val bK = graft.ml.Evaluation.cohenKappa(
      (b1 ++ b2).toDF("pred_a", "pred_b")).collect().head
    assert(sK.toSeq == bK.toSeq, s"kappa: $sK vs $bK")
  }

  test("F31 streaming exact quantiles: histogram finishes to batch D85 " +
      "across a restart; state stays value-domain-sized") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val ck = ckDir("ladder")
    def plan = StreamingOps.ladderState(in.toDS().toDF("grp", "x"))
    // values repeat across triggers AND the restart: counts must merge
    val b1 = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 7L))
    val b2 = Seq(("a", 3L), ("a", 2L), ("b", 7L), ("a", 10L))
    completeRun(in, plan, "lad_rs1", ck, b1)
    completeRun(in, plan, "lad_rs2", ck, b2)
    val snapshot = spark.table("lad_rs2")
    assert(snapshot.count() == 5, "state is the (grp, value) histogram")
    val sL = graft.ops.Analytics.finishLadder(snapshot)
      .collect().map(_.toSeq)
    val bL = graft.ops.Analytics.quantileLadder(
      (b1 ++ b2).toDF("grp", "x"), "grp", "x")
      .collect().map(_.toSeq)
    assert(sL.toSeq == bL.toSeq, s"ladder: $sL vs $bL")
  }

  test("F30 streaming freshness: per-type extrema finish to batch B26 " +
      "across a restart; state stays type-domain-sized") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val ck = ckDir("fresh")
    def plan = StreamingOps.freshnessState(
      in.toDS().toDF("event_type", "ts_us"))
    val s = 1000000L
    val b1 = Seq(("live", 0L), ("stale", 100L * s), ("live", 50L * s))
    val b2 = Seq(("live", 200000L * s), ("quiet", 199999L * s))
    completeRun(in, plan, "fresh_rs1", ck, b1)
    completeRun(in, plan, "fresh_rs2", ck, b2)
    val snapshot = spark.table("fresh_rs2")
    assert(snapshot.count() == 3, "state is the type frame")
    val sF = graft.ops.Analytics.finishFreshness(snapshot, 100000L)
      .collect().map(_.toSeq)
    val bF = graft.ops.Analytics.freshness(
      (b1 ++ b2).toDF("event_type", "ts_us"), 100000L)
      .collect().map(_.toSeq)
    assert(sF.toSeq == bF.toSeq, s"freshness: $sF vs $bF")
  }

  test("F29 streaming KS drift: value counts finish to batch H6 across a " +
      "restart; state stays value-domain-sized") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val ck = ckDir("ksdrift")
    def plan = StreamingOps.ksState(in.toDS().toDF("side", "v"))
    // values repeat across triggers AND the restart: counters merge
    val b1 = Seq((0L, 10L), (0L, 20L), (1L, 20L), (1L, 30L))
    val b2 = Seq((0L, 10L), (1L, 40L), (0L, 30L), (1L, 20L))
    completeRun(in, plan, "ks_rs1", ck, b1)
    completeRun(in, plan, "ks_rs2", ck, b2)
    val snapshot = spark.table("ks_rs2")
    assert(snapshot.count() == 4, "state is the distinct-value frame")
    val sKs = graft.ml.Evaluation.finishKs(snapshot).collect().head
    val bKs = graft.ml.Evaluation.ksDrift(
      (b1 ++ b2).toDF("side", "v")).collect().head
    assert(sKs.toSeq == bKs.toSeq, s"ks: $sKs vs $bKs")
  }

  test("F38 streaming rank drift: (slice,v) counters finish to batch D92 " +
      "across a restart; ties and one-sided slices agree") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val ck = ckDir("rankdrift")
    def plan = StreamingOps.rankDriftState(in.toDS().toDF("slice", "grp", "v"))
    // s1 drifts (live sample sits above the reference, with a cross-
    // restart tie at v=20); s2 stays one-sided → the finisher must pin
    // z=0 there, live exactly like batch
    val b1 = Seq(("s1", 0L, 10L), ("s1", 0L, 20L), ("s1", 1L, 20L),
      ("s2", 0L, 5L), ("s2", 0L, 7L))
    val b2 = Seq(("s1", 1L, 30L), ("s1", 1L, 40L), ("s1", 0L, 10L),
      ("s2", 0L, 5L))
    completeRun(in, plan, "rank_rs1", ck, b1)
    completeRun(in, plan, "rank_rs2", ck, b2)
    val snapshot = spark.table("rank_rs2")
    // state is the distinct (slice, v) frame — 4 s1 values + 2 s2 values
    assert(snapshot.count() == 6, "state must stay value-domain-sized")
    val s = graft.ops.RankTests.finishMannWhitney(snapshot).collect()
      .map(_.toSeq)
    val b = graft.ops.RankTests.mannWhitney(
      (b1 ++ b2).toDF("slice", "grp", "v")).collect().map(_.toSeq)
    assert(s.toSeq == b.toSeq, s"stream=${s.toSeq} batch=${b.toSeq}")
  }

  test("F26 streaming velocity features ≡ batch D77 row for row across " +
      "a restart (train/serve agreement); straggler tombstoned") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.{StructTxn, VeloRow}
    val in = MemoryStream[StructTxn]
    val ck = ckDir("velo")
    val buf = scala.collection.mutable.ArrayBuffer.empty[VeloRow]
    def start() = StreamingOps.velocityStream(in.toDS(),
        windowsUs = Seq(10L, 50L, 100L))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[VeloRow], _: Long) =>
        val rows = ds.collect(); buf.synchronized { buf ++= rows }; ()
      }.start()
    val b1 = Seq(StructTxn(1L, 0L, 1L, 5L), StructTxn(1L, 8L, 2L, 7L))
    val b2 = Seq(StructTxn(1L, 50L, 3L, 11L), StructTxn(9L, 1000L, 90L, 9L))
    val b3 = Seq(StructTxn(1L, 120L, 4L, 13L),
      StructTxn(9L, 0L, 91L, 1L))   // 0 < 1000-100: must tombstone
    val q1 = start()
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try {
      in.addData(b2: _*); q2.processAllAvailable()
      in.addData(b3: _*); q2.processAllAvailable()
    } finally q2.stop()
    val (lateRows, served) = buf.synchronized { buf.toList }.partition(_.late)
    assert(lateRows.map(r => (r.user_id, r.event_id)) == List((9L, 91L)))
    val streamed = served.map(r => (r.user_id, r.ts_us, r.event_id,
      r.amt_cents, r.cnt_1h, r.sum_1h, r.cnt_24h, r.sum_24h,
      r.cnt_7d, r.sum_7d)).toSet
    val batch = graft.ops.Analytics.velocityFeatures(
      (b1 ++ b2 ++ b3.filterNot(_.user_id == 9L))
        .map(t => (t.user_id, t.ts_us, t.event_id, t.amt_cents))
        .toDF("user_id", "ts_us", "event_id", "amt_cents"),
      windowsUs = Seq(("1h", 10L), ("24h", 50L), ("7d", 100L)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9))).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("restart/hhi: F36 concentration state ≡ batch D94 across a restart") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val ck = ckDir("hhi")
    val b1 = Seq(("m1", 1L, 100L), ("m1", 2L, 50L), ("m2", 9L, 10L))
    // m2 stays single-participant (pins hhi=norm=10⁶, eff_n=1000);
    // m1 gains a third participant AFTER the restart — the recovered
    // (m1, 1) counter must absorb the new 25 on top of the pre-kill 100
    val b2 = Seq(("m1", 1L, 25L), ("m1", 3L, 25L), ("m2", 9L, 90L))
    def plan = StreamingOps.hhiState(
      in.toDS().toDF("grp", "p", "amt_cents"))
    completeRun(in, plan, "hhi_rs1", ck, b1)
    completeRun(in, plan, "hhi_rs2", ck, b2)
    val streamed = graft.ops.Analytics.finishHhi(spark.table("hhi_rs2"))
    val batch = graft.ops.Analytics.hhiProfile(
      (b1 ++ b2).toDF("grp", "p", "amt_cents"))
    assert(streamed.exceptAll(batch).isEmpty
      && batch.exceptAll(streamed).isEmpty)
    val m2 = streamed.filter(col("grp") === "m2").collect().head
    assert(m2.getLong(3) == 1000000L && m2.getLong(5) == 1000L)
  }

  test("restart/oov: F37 OOV-mass counters ≡ the batch ppm across a restart") {
    implicit val sqlCtx = spark.sqlContext
    // deploy-time vocabulary off a static reference corpus: counts
    // alpha=2, beta=1, gamma=1 — the V=2 cut keeps alpha then beta
    // (tie broken token-ascending), so gamma is OOV by the cut line
    val vocab = graft.ops.CorpusStats.topVocab(
      Seq(("ref", "alpha beta gamma alpha")).toDF("source", "text"),
      vocabSize = 2)
    val in = MemoryStream[(String, String)]
    val ck = ckDir("oov")
    val b1 = Seq(("s1", "alpha beta zeta"), ("s2", "qq alpha"))
    val b2 = Seq(("s1", "gamma yy"))
    def plan = StreamingOps.oovMassState(
      in.toDS().toDF("source", "text"), vocab)
    completeRun(in, plan, "oov_rs1", ck, b1)
    completeRun(in, plan, "oov_rs2", ck, b2)
    val streamed = graft.ops.CorpusStats
      .finishOovMass(spark.table("oov_rs2"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // s1: 5 tokens, OOV {zeta, gamma, yy} = 3 → 600000 ppm (the
    // post-restart gamma+yy fold onto the recovered pre-kill counter);
    // s2: 2 tokens, OOV {qq} = 1 → 500000 ppm
    assert(streamed == Set(("s1", 5L, 3L, 600000L),
      ("s2", 2L, 1L, 500000L)), streamed.toString)
  }

  test("F39 triggered CDF stream: kill between delivery and bookmark replays; mirror ≡ head") {
    import java.nio.file.Files
    import scala.collection.mutable.ArrayBuffer
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    import graft.sources.{AtomicMart, MartDml}
    import graft.streaming.MartCdfSource
    val table = Files.createTempDirectory("graft_cdfsrc").toString
    val replica = Files.createTempDirectory("graft_cdfrep").toString
    // Spark's checkpoint is the bookmark: every run below shares it
    val cp = Files.createTempDirectory("graft_cdfbk").resolve("cp").toString
    def rows(xs: (Long, Long, String)*) =
      xs.toSeq.toDF("k", "amount", "status")
        .withColumn("part", concat(lit("p"), col("k") % 2))
    // one AvailableNow drain through `sink`; returns the ticket ranges
    def drain(sink: DataFrame => Unit): Seq[(Long, Long)] = {
      val tickets = ArrayBuffer.empty[(Long, Long)]
      spark.readStream.format("graft.streaming.MartCdfSource")
        .option("path", table).load()
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (t: DataFrame, _: Long) =>
          tickets ++= t.as[(Long, Long)].collect()
          sink(t)
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      tickets.toSeq
    }
    def mirror(t: DataFrame): Unit =
      MartCdfSource.mirror(t, table, replica, Seq("part"))
    // v0: initial snapshot
    AtomicMart.publish(rows((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "a")), table, Seq("part"))
    assert(drain(mirror) == Seq((-1L, 0L)))
    assert(AtomicMart.read(spark, replica).count() == 3)
    // caught up: the next drain delivers nothing
    assert(drain(mirror).isEmpty)
    // v1: update + v2: delete land on the source
    MartDml.update(spark, table, col("k") === 2L, Map("amount" -> lit(25L)))
    MartDml.delete(spark, table, col("k") === 3L)
    // KILL between delivery and the checkpoint's commit: a sink that
    // throws kills the query, so the SAME range replays on the rerun
    var killed = false
    val e = intercept[StreamingQueryException] {
      drain { t =>
        assert(t.as[(Long, Long)].collect().toSeq == Seq((0L, 2L)))
        MartCdfSource.changesFor(t, table, Seq("k")).foreach(_.count()) // deliver, then die
        killed = true
        throw new RuntimeException("crash before the batch commits")
      }
    }
    assert(killed, e.toString)
    // the rerun on the same checkpoint folds the range into the replica
    assert(drain(mirror) == Seq((0L, 2L)))
    // fold across restarts ≡ source head (values AND multiset size)
    val got = AtomicMart.read(spark, replica)
      .select("k", "amount", "status").as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 10L, "a"), (2L, 25L, "a")), got.toString)
    assert(AtomicMart.read(spark, replica).count() == 2)
    // a drain at the head re-delivers nothing
    assert(drain(mirror).isEmpty)
  }
}
