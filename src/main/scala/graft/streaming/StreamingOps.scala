package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.GraftFunctions._

/** Structured-streaming variants of the engine's operators (SURVEY.md §2 F).
  * The reference processes daily file drops in batch (main.py); the same
  * rules run here as continuous queries — watermarked windows for the
  * aggregations, keyed state for the sequential-pattern rule. State is
  * partitioned by user key, so a 1000-executor cluster shards it exactly
  * like the batch shuffles.
  *
  * The aggregation monitors have no code here: each runs its batch
  * operator's own contraction on the stream as a complete- or
  * update-mode grouped aggregation, and each state snapshot finishes
  * through that operator's batch finisher — one state family, two
  * finishers, so live and batch can never disagree:
  *
  *  - F13 `IncrementalAgg.state`; F15 `Sketches.cmsCounters`; F16
  *    `Sketches.hllRegisters`; F18 `Sketches.bitsetWords`; F24
  *    `QuantileSketch.buildSketch`
  *  - F22 `Analytics.benfordContract` → `benfordFinish`; F23
  *    `Analytics.cusumDaily` → `cusumFinish`; F30
  *    `Analytics.freshnessContract` → `finishFreshness`; F31/F34
  *    `Analytics.ladderContract` → `finishLadder`/`finishMad`; F36
  *    `Analytics.hhiContract` → `finishHhi`
  *  - F27 `Evaluation.scoreContract` → `finishAuc`/`finishAp`; F28
  *    `Evaluation.kappaContract` → `finishKappa`; F29
  *    `Evaluation.ksContract` → `finishKs`; F38
  *    `RankTests.mannWhitneyContract` → `finishMannWhitney`
  *
  * What stays here is state no batch contraction shares: keyed state,
  * joins, dedups, deploy-time-pinned bins (F17) and vocabularies (F37),
  * and the row-local DQ counters (F33).
  */
object StreamingOps {

  /** One card/user operation; `graft.fraud.FraudModel.transactions` row. */
  case class Txn(user_id: Long, ts_us: Long, amt_cents: Long, oper_result: String)

  /** Emitted when the amount-guessing pattern completes. */
  case class FraudHit(user_id: Long, ts_us: Long, amt_cents: Long)

  /** Keyed state: the last `need` operations, most recent last. */
  case class PatternState(last: List[(Long, Long, String)])

  /** [[Txn]] + the event-time column: the watermark attribute must
    * survive into flatMapGroupsWithState's child plan for event-time
    * timeouts, so the timestamp rides along in the typed row. */
  case class TxnW(user_id: Long, ts_us: Long, amt_cents: Long,
                  oper_result: String, ts_t: java.sql.Timestamp)

  /** F1 — watermarked sliding-window aggregation over the event stream. */
  def windowedEventCounts(events: DataFrame,
                          watermark: String = "10 minutes",
                          windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts_t", watermark)
      .groupBy(window(col("ts_t"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))

  /** F3 — streaming dedup: exact-content drop within the watermark
    * horizon (state = one hash per doc inside the horizon). */
  def streamingDedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts_t", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** F5 — streaming NEAR-duplicate suppression: drop any doc whose
    * MinHash band bucket was already seen inside the watermark horizon.
    * More aggressive than exact dedup (any shared band kills a doc) —
    * the right trade for streaming ingestion, where state must stay
    * bounded and a false-positive drop is cheaper than a kept near-dup.
    * Batch twin: [[graft.ops.Dedup.minhashLsh]].
    */
  def streamingNearDedup(docs: DataFrame, watermark: String = "1 hour",
                         bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    import graft.ops.Dedup
    val k = bands * rowsPerBand
    val sig = Dedup.withMinhashSigPerRow(
      Dedup.withShingles(docs, distinct = false), k)
    val bandKey = md5(concat_ws("_",
      (0 until k).map(i => col(s"sig_$i").cast("string")): _*))
    sig
      .withColumn("band_key", bandKey)
      .drop((0 until k).map(i => s"sig_$i") :+ "sh": _*)
      .withWatermark("ts_t", watermark)
      .dropDuplicatesWithinWatermark("band_key")
  }

  /** F7 — streaming EMBEDDING near-duplicate suppression: drop any
    * vector whose signed-random-projection signature was already seen
    * inside the watermark horizon. The signature is the same native
    * single-pass [[graft.functions.SrpSig.sigL]] the batch operator
    * uses ([[graft.ops.Ann.embedCosineDups]]), so batch and stream
    * agree on bucket membership; state is one 64-bit signature per
    * surviving vector inside the horizon. */
  def streamingEmbedDedup(vecs: DataFrame, watermark: String = "1 hour",
                          bits: Int = 16): DataFrame =
    vecs
      .withColumn("svec",
        transform(col("embedding"), x => graft.functions.GraftFunctions.scaled(x)))
      .withColumn("srp_sig", graft.functions.SrpSig.sigL(col("svec"), bits))
      .drop("svec")
      .withWatermark("ts_t", watermark)
      .dropDuplicatesWithinWatermark("srp_sig")

  /** F2 — the amount-guessing rule (rep_fraud.py:187-261) as keyed
    * streaming state: three strictly-decreasing REJECTs then a lower
    * SUCCESS within `maxMinutes`. Batch twin:
    * [[graft.fraud.FraudRules.guessingAmountFraud]].
    *
    * State is bounded by an EVENT-TIME TTL: a user's pattern window can
    * only complete within `maxMinutes` of its oldest retained op, so
    * once the watermark passes newest-op + `maxMinutes` the key's state
    * is dead weight and is removed. Without this, keyed state grows with
    * the number of ever-seen users — unbounded on a 100 TB stream.
    */
  def guessingAmountStream(txns: Dataset[Txn],
                           maxMinutes: Long = graft.fraud.FraudRules.Analog.guessMaxMinutes,
                           watermarkDelay: String = "10 minutes"): Dataset[FraudHit] = {
    import txns.sparkSession.implicits._

    def step(userId: Long, rowsW: Iterator[TxnW],
             state: GroupState[PatternState]): Iterator[FraudHit] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val rows = rowsW.map(w => Txn(w.user_id, w.ts_us, w.amt_cents, w.oper_result))
        var last = state.getOption.map(_.last).getOrElse(Nil)
        val hits = scala.collection.mutable.ListBuffer.empty[FraudHit]
        rows.toSeq.sortBy(t => (t.ts_us, t.amt_cents)).foreach { t =>
          if (t.oper_result == "SUCCESS" && last.length >= 3) {
            val l3 = last.takeRight(3) // (ts, amt, res) oldest..newest
            val allReject = l3.forall(_._3 == "REJECT")
            val decreasing = l3(0)._2 > l3(1)._2 && l3(1)._2 > l3(2)._2 &&
              l3(2)._2 > t.amt_cents
            val inWindow = (t.ts_us - l3(0)._1) / 60000000L <= maxMinutes
            if (allReject && decreasing && inWindow)
              hits += FraudHit(userId, t.ts_us, t.amt_cents)
          }
          last = (last :+ ((t.ts_us, t.amt_cents, t.oper_result))).takeRight(3)
        }
        state.update(PatternState(last))
        if (last.nonEmpty) {
          val ttlMs = last.map(_._1).max / 1000L + maxMinutes * 60000L
          state.setTimeoutTimestamp(math.max(ttlMs, state.getCurrentWatermarkMs + 1))
        }
        hits.iterator
      }
    }

    txns
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", watermarkDelay)
      .as[TxnW]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step)
  }

  /** One keyed as-of input row: a reference event or a query event. */
  case class AsOfEvent(user_id: Long, ts_us: Long, is_ref: Boolean,
                       ts_t: java.sql.Timestamp)

  /** Resolved as-of match (same contract as the batch operator:
    * −1 sentinels for unmatched). */
  case class AsOfHit(user_id: Long, ts_us: Long, asof_ts: Long, gap: Long)

  /** Keyed as-of state: buffered ref timestamps and pending queries. */
  case class AsOfState(refs: List[Long], pending: List[Long])

  /** F11 — streaming as-of join (the streaming twin of the native
    * [[graft.plans.AsOfJoinExec]]): every query event is matched to the
    * greatest same-key ref event time ≤ its own, CORRECTLY under
    * out-of-order arrival — a query is finalized only once the
    * watermark passes its event time, so a ref that arrives late (but
    * inside the watermark delay) still wins. A naive "last seen ref"
    * enrichment is processing-order-dependent; this one is
    * deterministic given the watermark contract.
    *
    * State per key stays bounded: among refs at or below the watermark
    * only the NEWEST can ever match a future query (later queries
    * finalize at event times ≥ the watermark), so dominated refs are
    * evicted every invocation; refs older than `lookbackMinutes` expire
    * outright, and an idle key's state is removed by event-time timeout
    * once its horizon passes. Pending queries arm a timeout at their
    * event time, so resolution needs no further input for the key.
    */
  def streamingAsOf(events: Dataset[AsOfEvent],
                    watermarkDelay: String = "10 minutes",
                    lookbackMinutes: Long = 1440): Dataset[AsOfHit] = {
    import events.sparkSession.implicits._
    val lookbackUs = lookbackMinutes * 60000000L

    def finalize(st: AsOfState, wmMs: Long,
                 out: scala.collection.mutable.ListBuffer[AsOfHit],
                 key: Long): AsOfState = {
      val wmUs = wmMs * 1000L
      val (ready, stillPending) = st.pending.partition(_ <= wmUs)
      ready.sorted.foreach { q =>
        val m = st.refs.filter(_ <= q)
        if (m.isEmpty) out += AsOfHit(key, q, -1L, -1L)
        else out += AsOfHit(key, q, m.max, q - m.max)
      }
      // evict: refs dominated by the newest ref at/below the watermark,
      // and refs beyond the lookback horizon
      val newestLE = st.refs.filter(_ <= wmUs) match {
        case Nil => Long.MinValue
        case xs => xs.max
      }
      val keptRefs = st.refs.filter(r =>
        (r >= newestLE) && (r >= wmUs - lookbackUs))
      AsOfState(keptRefs, stillPending)
    }

    def step(key: Long, rows: Iterator[AsOfEvent],
             state: GroupState[AsOfState]): Iterator[AsOfHit] = {
      val out = scala.collection.mutable.ListBuffer.empty[AsOfHit]
      val prev = state.getOption.getOrElse(AsOfState(Nil, Nil))
      val st0 =
        if (state.hasTimedOut) prev
        else {
          val (refs, queries) = rows.toSeq.partition(_.is_ref)
          AsOfState(prev.refs ++ refs.map(_.ts_us),
            prev.pending ++ queries.map(_.ts_us))
        }
      val wmMs = state.getCurrentWatermarkMs
      val st = finalize(st0, wmMs, out, key)
      if (st.refs.isEmpty && st.pending.isEmpty) state.remove()
      else {
        state.update(st)
        // wake at the earliest pending query, else at state expiry
        val targetMs =
          if (st.pending.nonEmpty) st.pending.min / 1000L
          else st.refs.max / 1000L + lookbackMinutes * 60000L
        state.setTimeoutTimestamp(math.max(targetMs + 1, wmMs + 1))
      }
      out.iterator
    }

    events
      .withWatermark("ts_t", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(step)
  }

  /** F8 — stream-stream interval join: each purchase matched to the same
    * user's error events in the preceding `maxGapMinutes`. Both sides
    * carry watermarks, so Spark buffers only the interval's worth of
    * state per key and evicts rows as the watermark advances — the
    * streaming twin of the banded batch range join (D18), with the
    * state bound playing the role of the time bucket. */
  def purchaseErrorJoin(purchases: DataFrame, errors: DataFrame,
                        watermark: String = "30 minutes",
                        maxGapMinutes: Int = 10): DataFrame = {
    val p = purchases.withWatermark("ts_t", watermark)
      .select(col("user_id").as("p_user"), col("ts_t").as("p_ts"),
        col("amt_cents"))
    val e = errors.withWatermark("ts_t", watermark)
      .select(col("user_id").as("e_user"), col("ts_t").as("e_ts"))
    p.join(e, expr(
      s"""p_user = e_user AND
         |e_ts BETWEEN p_ts - INTERVAL $maxGapMinutes MINUTES AND p_ts
         |""".stripMargin))
      .select(col("p_user").as("user_id"), col("p_ts"), col("e_ts"),
        col("amt_cents"))
  }

  /** F20 — F8's interval join as LEFT OUTER: a purchase with NO error
    * in its preceding window still emits, with a null e_ts — the shape
    * a fraud pipeline needs to assert a NEGATIVE ("this purchase was
    * clean") continuously. The outer row cannot be produced on
    * arrival: a matching error may still come, so Spark holds the
    * purchase in the same bounded interval state as F8 and emits the
    * null-extended row only when the watermark passes the end of its
    * match window — eviction time is exactly when the negative claim
    * becomes final. State bound and shuffle shape are identical to F8;
    * only the eviction path differs. */
  def purchaseErrorJoinOuter(purchases: DataFrame, errors: DataFrame,
                             watermark: String = "30 minutes",
                             maxGapMinutes: Int = 10): DataFrame = {
    val p = purchases.withWatermark("ts_t", watermark)
      .select(col("user_id").as("p_user"), col("ts_t").as("p_ts"),
        col("amt_cents"))
    val e = errors.withWatermark("ts_t", watermark)
      .select(col("user_id").as("e_user"), col("ts_t").as("e_ts"))
    p.join(e, expr(
      s"""p_user = e_user AND
         |e_ts BETWEEN p_ts - INTERVAL $maxGapMinutes MINUTES AND p_ts
         |""".stripMargin), "leftOuter")
      .select(col("p_user").as("user_id"), col("p_ts"), col("e_ts"),
        col("amt_cents"))
  }

  /** F9 — stream-static enrichment: the event stream joined to a batch
    * dimension. The static side broadcasts per micro-batch; no
    * streaming state at all. */
  def enrichStream(txns: DataFrame, clients: DataFrame): DataFrame =
    txns.join(broadcast(clients), Seq("user_id"), "left")

  /** F33 — B29's check suite run LIVE: the fused row-local violation
    * counters maintained as ONE complete-mode global aggregation over
    * the stream (every metric is an associative conditional count —
    * the batch fusion survives streaming unchanged). Verdicts finish
    * through the batch `Checks.stackCounts`+`verdicts` on each
    * snapshot — budgets are presentation, never state. Unique needs a
    * distinct aggregation (unbounded key state Spark rightly refuses
    * in one global streaming agg) and Referential needs a second
    * frame — both stay batch/periodic by design, and this guards
    * against them loudly. */
  def dqCountsStream(rows: DataFrame, checks: Seq[graft.etl.Checks.Check]): DataFrame = {
    require(checks.forall(c => !c.isInstanceOf[graft.etl.Checks.Unique] &&
      !c.isInstanceOf[graft.etl.Checks.Referential]),
      "streaming DQ carries row-local counters only: Unique needs distinct " +
        "state and Referential a second frame — run those on the batch cadence")
    graft.etl.Checks.rowLocalCounts(rows, checks)
  }

  /** F32 — D87's grid-blocked spatial neighbor join run LIVE: each
    * arriving point (id, x, y) is matched against the static point set
    * within Chebyshev radius `r` via the same 3×3 cell explode on the
    * STREAM side and the home-cell key on the static build side — a
    * stateless stream-static equi-join per micro-batch, so there is no
    * watermark and no state store to grow. Emitting only earlier
    * (static_id < id) partners makes arrival-order replay equal the
    * batch D87 pair set exactly once each — ParitySpec pins it. */
  def spatialNeighborsStream(pts: DataFrame, static: DataFrame, r: Long): DataFrame = {
    val home = static.select(col("id").as("id2"), col("x").as("x2"),
      col("y").as("y2"),
      (col("x").divide(r)).cast("long").as("cx"),
      (col("y").divide(r)).cast("long").as("cy"))
    val offsets = array((-1L to 1L).flatMap(dx => (-1L to 1L).map(dy =>
      struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)
    val probe = pts
      .withColumn("o", explode(offsets))
      .select(col("id").as("id1"), col("x").as("x1"), col("y").as("y1"),
        ((col("x").divide(r)).cast("long") + col("o.dx")).as("cx"),
        ((col("y").divide(r)).cast("long") + col("o.dy")).as("cy"))
    probe.join(broadcast(home), Seq("cx", "cy"))
      .filter(col("id2") < col("id1") &&
        abs(col("x1") - col("x2")) <= r && abs(col("y1") - col("y2")) <= r)
      .select(col("id1"), col("id2"),
        greatest(abs(col("x1") - col("x2")), abs(col("y1") - col("y2"))).as("cheb"))
  }

  /** F17 — streaming drift-monitor state (B16 run live): the CURRENT
    * window's binned counts as a complete-mode grouped aggregation
    * with bin bounds FIXED from the deployed baseline (production
    * drift monitors pin baseline bins at deploy time; recomputing
    * bounds per batch would make bins non-comparable). State is
    * bounded at groups·nBins rows regardless of stream length, counts
    * merge associatively, and each emitted snapshot finishes through
    * B16's chi2FromBins against the static baseline — parity-pinned
    * to the batch monitor on identical rows. */
  def driftBinsStream(rows: DataFrame, group: String, valueCol: String,
                      mn: Long, mx: Long, nBins: Int = 10): DataFrame =
    rows.select(col(group), col(valueCol).as("v"))
      .withColumn("bin", expr(s"((v - $mn) * $nBins) div ($mx - $mn + 1)"))
      .groupBy(col(group), col("bin")).agg(count(lit(1)).as("n"))

  /** F14 — streaming bounded top-k-smallest per group through the I20
    * custom TypedImperativeAggregate (D42's engine). Streaming
    * aggregation state IS the aggregate's buffer: each micro-batch
    * folds new rows into the O(k) heap, and the state store round-trip
    * exercises the aggregate's serialize/deserialize/merge path —
    * the exact contract a custom aggregate must honor for incremental
    * maintenance. State per key is k longs, never an event buffer. */
  def topKStream(rows: DataFrame, key: String = "event_type",
                 value: String = "v", k: Int = 5): DataFrame =
    rows.groupBy(col(key))
      .agg(graft.functions.TopKMinL(col(value), k).as("tk"))

  /** F10 — native session windows: per-user sessions closed by `gap` of
    * inactivity, the streaming twin of the batch sessionizer (D17).
    * `session_window` merges its keyed state as events arrive and emits
    * a session once the watermark passes its close — state per key is
    * one open session, not an event buffer. */
  def sessionizedCounts(events: DataFrame, gap: String = "30 minutes",
                        watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts_t", watermark)
      .groupBy(session_window(col("ts_t"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("amt_cents")).as("sum_cents"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_cents"))

  /** F13u/F15u — update-mode consumer contract. Complete mode re-emits
    * the WHOLE state table every micro-batch — fine for sketch-sized
    * state, unaffordable for a sink that must absorb a full rewrite per
    * trigger. In update mode the same aggregations emit only the keys
    * refreshed by that trigger; the sink's current-state table is then
    * the LAST row per key in batch order, which is exactly what an
    * upsert (merge-on-key) sink materializes. This helper is that
    * reassembly, for sinks/tests that capture `(batch_id, delta rows)`:
    * last-writer-wins per key, batch id descending. */
  def reassembleUpdates(updates: DataFrame, keys: Seq[String],
                        batchCol: String = "batch_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(batchCol).desc)
    updates
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", batchCol)
  }

  /** One keyed input event for [[episodeStream]]. */
  case class SeqEvent(user_id: Long, ts_us: Long, event_id: Long,
                      event_type: String)
  case class SeqHistory(evs: List[(Long, Long, String)])
  case class SeqCounts(user_id: Long, n_events: Long, seq: String,
                       n_funnel: Long, n_direct: Long)

  /** F19 — streaming episode maintenance (D59 live): each user's coded
    * history is the keyed state, merged SORTED on every update so
    * cross-batch and out-of-order arrivals land in the same total
    * (ts, event_id) order the batch operator uses, then the episode
    * regexes recount over the merged string. Per-key state is the
    * user's own coded history — the same bounded-by-activity contract
    * as batch D59 (cap or time-window hyperactive keys upstream); the
    * counts themselves are NOT mergeable across arbitrary splits (an
    * episode can straddle a batch boundary), which is exactly why the
    * history, not the counts, is the state. Update mode: one refreshed
    * row per touched user per trigger. */
  def episodeStream(events: Dataset[SeqEvent], funnelPat: String = "vc*p",
                    directPat: String = "vp"): Dataset[SeqCounts] = {
    import events.sparkSession.implicits._
    def code(t: String): String = t match {
      case "view" => "v"; case "click" => "c"; case "purchase" => "p"
      case "signup" => "s"; case _ => "e"
    }
    def count(p: String, s: String): Long = {
      val m = java.util.regex.Pattern.compile(p).matcher(s)
      var c = 0L
      while (m.find()) c += 1
      c
    }
    def step(u: Long, rows: Iterator[SeqEvent],
             st: GroupState[SeqHistory]): SeqCounts = {
      val merged =
        (st.getOption.map(_.evs).getOrElse(Nil) ++
          rows.map(e => (e.ts_us, e.event_id, code(e.event_type))))
          .sortBy(x => (x._1, x._2))
      st.update(SeqHistory(merged))
      val seq = merged.map(_._3).mkString
      SeqCounts(u, merged.size.toLong, seq,
        count(funnelPat, seq), count(directPat, seq))
    }
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
  }

  /** One keyed input event for [[markovStream]]. */
  case class MarkovEvent(user_id: Long, ts_us: Long, event_id: Long,
                         event_type: String)
  case class MarkovState(last_ts: Long, last_id: Long, last_type: String,
                         n_late: Long)
  case class TransitionDelta(user_id: Long, from_state: String,
                             to_state: String, n: Long)

  /** F21 — streaming Markov-transition maintenance (D62 live), and the
    * one keyed-state shape no other F component has: O(1) PER KEY. The
    * state is only the user's LAST event (ts, id, type) — not a
    * history buffer like F19 — because a first-order transition needs
    * exactly one look-behind; each trigger emits per-user transition
    * DELTAS, and the downstream `groupBy(from,to).sum(n)` (update or
    * complete mode, the F13 pattern) maintains the live matrix.
    *
    * The price of O(1) state is an IN-ORDER-PER-KEY contract: a
    * transition delta is append-only fact, so an event arriving behind
    * the state's frontier cannot retroactively re-pair its neighbors
    * (that correction needs F19's full-history state). Such stragglers
    * are therefore DROPPED — never silently: each drop emits a
    * `("__late__","__late__")` delta row, so the live matrix carries
    * its own data-quality column and parity with batch D62 is exact
    * whenever the late count is zero. Within a trigger, rows are
    * sorted (ts, event_id) first, so intra-batch disorder is free. */
  def markovStream(events: Dataset[MarkovEvent]): Dataset[TransitionDelta] = {
    import events.sparkSession.implicits._
    def step(u: Long, rows: Iterator[MarkovEvent],
             st: GroupState[MarkovState]): Iterator[TransitionDelta] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var (lastTs, lastId, lastType) = st.getOption
        .map(s => (s.last_ts, s.last_id, s.last_type))
        .getOrElse((Long.MinValue, Long.MinValue, null: String))
      var late = 0L
      val counts = scala.collection.mutable.LinkedHashMap
        .empty[(String, String), Long]
      sorted.foreach { e =>
        val behind = e.ts_us < lastTs ||
          (e.ts_us == lastTs && e.event_id <= lastId)
        if (behind) late += 1
        else {
          if (lastType != null)
            counts.updateWith((lastType, e.event_type)) {
              c => Some(c.getOrElse(0L) + 1L)
            }
          lastTs = e.ts_us; lastId = e.event_id; lastType = e.event_type
        }
      }
      st.update(MarkovState(lastTs, lastId, lastType,
        st.getOption.map(_.n_late).getOrElse(0L) + late))
      val deltas = counts.iterator.map { case ((f, t), n) =>
        TransitionDelta(u, f, t, n)
      }
      if (late > 0)
        deltas ++ Iterator(TransitionDelta(u, "__late__", "__late__", late))
      else deltas
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(step)
  }

  /** One sub-threshold transaction for [[structuringStream]] (callers
    * pre-filter to `0 < amt_cents < threshold`, exactly like the batch
    * op's input contract). */
  case class StructTxn(user_id: Long, ts_us: Long, event_id: Long,
                       amt_cents: Long)
  /** Keyed state: finalized counters + the still-mutable txn window.
    * `fin_up_to` is the exclusive finalization frontier (= max seen ts
    * − W): ends below it can never gain members, so their flag verdict
    * is folded into the counters and the row is dropped once it also
    * can't be a MEMBER of any admissible future end (ts < frontier−2W).
    * `first_ts` uses Long.MaxValue as the "no flag yet" sentinel. */
  case class StructState(n_flagged: Long, peak_sum: Long, peak_cnt: Long,
                         first_ts: Long, frontier: Long, n_late: Long,
                         buf: List[(Long, Long, Long)])
  case class StructFlags(user_id: Long, n_flagged: Long,
                         peak_sum_cents: Long, peak_n_txn: Long,
                         first_flag_ts_us: Long, n_late: Long)

  /** F25 — streaming structuring monitor (D73 live): per user the
    * trailing-window smurfing screen as keyed state with a BOUNDED
    * buffer — unlike F19's grow-forever history, the state here is the
    * finalized counters plus only the transactions still inside
    * 2·windowUs of the user's frontier. The 2W bound is exact, not a
    * heuristic, and rests on two monotonicity facts: (1) a window
    * ending at `e` only admits members in [e−W, e], and once the
    * frontier passes e+W no accepted arrival (all ≥ frontier−W) can
    * join it — so ends below frontier−W are FINAL and fold into the
    * counters; (2) a window's (sum, count) only GROWS as late members
    * arrive, so a flag never retracts and finalization commits each
    * end's verdict exactly once. Rows below frontier−2W can't be
    * members of any admissible end and are evicted. Arrivals behind
    * frontier−W are dropped LOUDLY into an `n_late` column (the F21
    * price-of-bounded-state contract): parity with batch D73 is exact
    * whenever n_late = 0.
    *
    * Each trigger re-evaluates the ≤2W buffer with the batch tie
    * discipline (member iff ts ∈ [e−W, e], same-ts upper ties by
    * event_id ≤ e's) via an in-memory prefix-sum pass — O(b log b) per
    * touched user per trigger, b bounded by 2W of per-user activity.
    * Update mode: one refreshed mart row per touched user. */
  def structuringStream(txns: Dataset[StructTxn],
                        windowUs: Long = 259200000000L,
                        minTxn: Long = 4L,
                        minSumCents: Long = 15000L): Dataset[StructFlags] = {
    import txns.sparkSession.implicits._
    def flagsOf(buf: Vector[(Long, Long, Long)]): Seq[(Long, Long, Long)] = {
      // buf sorted by (ts, id); returns (end_ts, win_sum, win_cnt) of
      // FLAGGED ends only. Prefix sums + a moving lower bound: both
      // pointers only advance, so the pass is linear after the sort.
      val pre = new Array[Long](buf.length + 1)
      var i = 0
      while (i < buf.length) { pre(i + 1) = pre(i) + buf(i)._3; i += 1 }
      var lo = 0
      val out = Seq.newBuilder[(Long, Long, Long)]
      var e = 0
      while (e < buf.length) {
        val endTs = buf(e)._1
        while (buf(lo)._1 < endTs - windowUs) lo += 1
        val s = pre(e + 1) - pre(lo)
        val c = (e + 1 - lo).toLong
        if (c >= minTxn && s >= minSumCents) out += ((endTs, s, c))
        e += 1
      }
      out.result()
    }
    def step(u: Long, rows: Iterator[StructTxn],
             st: GroupState[StructState]): StructFlags = {
      val prev = st.getOption.getOrElse(
        StructState(0L, 0L, 0L, Long.MaxValue, Long.MinValue, 0L, Nil))
      val (accepted, late) = rows.toSeq.partition(t =>
        prev.frontier == Long.MinValue || t.ts_us >= prev.frontier - windowUs)
      val buf = (prev.buf.map(x => (x._1, x._2, x._3)) ++
        accepted.map(t => (t.ts_us, t.event_id, t.amt_cents)))
        .sortBy(x => (x._1, x._2)).toVector
      val frontier = math.max(prev.frontier,
        if (buf.isEmpty) Long.MinValue else buf.last._1)
      val flags = flagsOf(buf)
      // finalize ONLY the band [prevFinUpTo, finUpTo): ends below it
      // were folded into the counters by an earlier trigger (their
      // rows may still sit in the buffer as MEMBERS of newer windows —
      // recounting them would double-charge the mart)
      val finUpTo = frontier - windowUs
      val prevFinUpTo =
        if (prev.frontier == Long.MinValue) Long.MinValue
        else prev.frontier - windowUs
      val fresh = flags.filter(_._1 >= prevFinUpTo)
      val (done, live) = fresh.partition(_._1 < finUpTo)
      val nf = prev.n_flagged + done.size
      val ps = (prev.peak_sum +: (done ++ live).map(_._2)).max
      val pc = (prev.peak_cnt +: (done ++ live).map(_._3)).max
      val ft = (prev.first_ts +: (done ++ live).map(_._1)).min
      val nl = prev.n_late + late.size
      st.update(StructState(nf, math.max(prev.peak_sum, done.map(_._2)
          .foldLeft(0L)(math.max)),
        math.max(prev.peak_cnt, done.map(_._3).foldLeft(0L)(math.max)),
        math.min(prev.first_ts, done.map(_._1)
          .foldLeft(Long.MaxValue)(math.min)),
        frontier, nl,
        buf.filter(_._1 >= frontier - 2 * windowUs).toList))
      StructFlags(u, nf + live.size, ps, pc, ft, nl)
    }
    txns.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
  }

  /** F37 — streaming OUT-OF-VOCABULARY mass monitor (E72 live): each
    * micro-batch's tokens classify STATELESSLY against the pinned
    * deploy-time vocabulary ([[graft.ops.CorpusStats]] `topVocab`,
    * broadcast — recomputing it per batch would make rates
    * non-comparable, the F17 fixed-baseline rule), then per-source
    * (n_tokens, oov_tokens) counters fold as complete-mode grouped
    * sums — state bounded by the SOURCE domain forever. Snapshots
    * finish through the shared `finishOovMass` ppm. The batch op's
    * distinct `oov_types` is deliberately ABSENT here: exact distinct
    * types need per-source word state (unbounded — the F33
    * reject-don't-degrade rule); a corpus audit uses E72, and a live
    * approximate-types sidecar is one F16 HLL register file away. */
  def oovMassState(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(vocab.withColumn("in_vocab", lit(1L))),
        Seq("w"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
          .as("oov_tokens"))

  case class VeloState(frontier: Long, n_late: Long,
                       buf: List[(Long, Long, Long)])
  case class VeloRow(user_id: Long, ts_us: Long, event_id: Long,
                     amt_cents: Long, cnt_1h: Long, sum_1h: Long,
                     cnt_24h: Long, sum_24h: Long, cnt_7d: Long,
                     sum_7d: Long, late: Boolean)

  /** F26 — the ONLINE serving path of the D77 velocity features, and
    * the reason both exist: a fraud model is trained on the batch mart
    * and scored against this stream — if the two disagree, the model
    * sees TRAIN/SERVE SKEW, the classic silent killer of deployed
    * scorers. This maintainer makes the agreement a THEOREM instead of
    * a hope: per user the F25 state shape (frontier + the transactions
    * inside 2·Wmax, the same exactness argument — an accepted arrival
    * is ≥ frontier−Wmax, its deepest window reaches frontier−2·Wmax),
    * each trigger merges arrivals into the sorted buffer FIRST and
    * then computes every new transaction's features over the merged
    * buffer with the batch operator's exact member rule ((ts, id) ≤
    * end's, ts ≥ end−W) — so intra-trigger disorder is invisible and
    * an in-order-per-key feed reproduces batch D77 row for row
    * (ParitySpec pins it, across a checkpoint restart). Emitted rows
    * are append-only facts (the F21 contract): a late-but-accepted
    * arrival gets CORRECT event-time features itself, but does not
    * retro-correct rows already served — exactly what a serving log
    * would show. Stragglers behind frontier−Wmax emit a `late=true`
    * tombstone row (zero features) — loud, never silent. */
  def velocityStream(txns: Dataset[StructTxn],
                     windowsUs: Seq[Long] = Seq(3600000000L, 86400000000L,
                       604800000000L)): Dataset[VeloRow] = {
    import txns.sparkSession.implicits._
    require(windowsUs.size == 3, "VeloRow carries exactly three horizons")
    val wmax = windowsUs.max
    def step(u: Long, rows: Iterator[StructTxn],
             st: GroupState[VeloState]): Iterator[VeloRow] = {
      val prev = st.getOption.getOrElse(
        VeloState(Long.MinValue, 0L, Nil))
      val (accepted, dropped) = rows.toSeq.partition(t =>
        prev.frontier == Long.MinValue || t.ts_us >= prev.frontier - wmax)
      val buf = (prev.buf ++ accepted.map(t =>
        (t.ts_us, t.event_id, t.amt_cents)))
        .sortBy(x => (x._1, x._2)).toVector
      val frontier = math.max(prev.frontier,
        if (buf.isEmpty) Long.MinValue else buf.last._1)
      val pre = new Array[Long](buf.length + 1)
      var i = 0
      while (i < buf.length) { pre(i + 1) = pre(i) + buf(i)._3; i += 1 }
      def feats(t: StructTxn): Seq[Long] = {
        // end position: last index with (ts, id) <= (t.ts, t.id) —
        // binary search over the sorted buffer
        var blo = 0; var bhi = buf.length - 1; var end = -1
        while (blo <= bhi) {
          val mid = (blo + bhi) >>> 1
          val m = buf(mid)
          if (m._1 < t.ts_us || (m._1 == t.ts_us && m._2 <= t.event_id)) {
            end = mid; blo = mid + 1
          } else bhi = mid - 1
        }
        windowsUs.flatMap { w =>
          var lo = 0
          while (lo <= end && buf(lo)._1 < t.ts_us - w) lo += 1
          Seq((end + 1 - lo).toLong, pre(end + 1) - pre(lo))
        }
      }
      st.update(VeloState(frontier, prev.n_late + dropped.size,
        buf.filter(_._1 >= frontier - 2 * wmax).toList))
      (accepted.sortBy(t => (t.ts_us, t.event_id)).map { t =>
        val f = feats(t)
        VeloRow(u, t.ts_us, t.event_id, t.amt_cents,
          f(0), f(1), f(2), f(3), f(4), f(5), late = false)
      } ++ dropped.map(t =>
        VeloRow(u, t.ts_us, t.event_id, t.amt_cents,
          0L, 0L, 0L, 0L, 0L, 0L, late = true))).iterator
    }
    txns.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(step)
  }
}
