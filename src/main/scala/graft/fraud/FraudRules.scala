package graft.fraud

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's four fraud rules (rep_fraud.py), re-expressed as
  * composable Spark transforms. Each returns the mart schema
  * `(event_dt_us, client_key, passport, fio, phone, segment, rule)` —
  * REP_FRAUD's `(event_dt, passport, fio, phone, event_type)` plus the
  * analog's client/segment keys.
  *
  * Scale notes (SURVEY.md §6): the client/account dimensions are tiny
  * relative to the event stream, so every dim join here broadcasts; the
  * window rules shuffle once on the card/user key — the same hash
  * partitioning a real cluster would use — and never sort globally.
  */
object FraudRules {

  /** A rule's hits in the mart schema: hit time, client key, client dims. */
  private def hits(joined: DataFrame, ts: String, client: String, rule: String): DataFrame =
    joined.select(col(ts).as("event_dt_us"), col(client).as("client_key"),
      col("passport_num").as("passport"), col("fio"), col("phone"), col("segment"),
      lit(rule).as("rule"))

  /** The reference's `WHERE date > valid_to OR passport IN (SELECT …)`
    * (rep_fraud.py:6-55): the blacklisted clients, plus the expired ones
    * not blacklisted. The two sets are disjoint, so the union needs no
    * dedup — no shuffle or aggregate inside the broadcast build. */
  private def invalidClients(clients: DataFrame, blacklist: DataFrame,
                             batchDate: String): DataFrame =
    clients.join(broadcast(blacklist), Seq("c_custkey"), "left_semi")
      .unionByName(clients
        .filter(to_date(lit(batchDate)) > col("passport_valid_to"))
        .join(broadcast(blacklist), Seq("c_custkey"), "left_anti"))

  /** Rule 1 — operation on an expired or blacklisted passport
    * (rep_fraud.py:6-55): [[invalidClients]], then the reference's full
    * dimension traversal (rep_fraud.py:28-35): transactions → cards →
    * accounts → invalid clients. The three dim hops pre-collapse into
    * ONE broadcast build side (dims join dims first — all tiny), so the
    * fact stream is still touched exactly once, map-side.
    */
  def passportFraud(clients: DataFrame, blacklist: DataFrame,
                    cards: DataFrame, accountsBridge: DataFrame,
                    txns: DataFrame, batchDate: String): DataFrame = {
    val invalid = invalidClients(clients, blacklist, batchDate)
    // clients → accounts → cards, collapsed dim-side before touching txns
    val invalidCards = invalid
      .join(accountsBridge, invalid("c_custkey") === accountsBridge("client"))
      .join(cards, Seq("account_num"))
    hits(txns.join(broadcast(invalidCards), Seq("card_num")),
      "ts_us", "c_custkey", "passport_fraud")
  }

  /** Rule 1, direct-join form — for feeds whose transactions already
    * carry the client key (the staged/streamed drops map card→client
    * upstream): the dim chain collapses to one broadcast join. */
  def passportFraud(clients: DataFrame, blacklist: DataFrame,
                    txns: DataFrame, batchDate: String): DataFrame = {
    val invalid = invalidClients(clients, blacklist, batchDate)
    hits(txns.join(broadcast(invalid), txns("user_id") === invalid("c_custkey")),
      "ts_us", "c_custkey", "passport_fraud")
  }

  /** Rule 2 — operation on an inactive contract (rep_fraud.py:59-106):
    * expired-account filter, LEFT join to the client dim (reference
    * keeps accounts with no client), then the transaction join.
    */
  def accountFraud(accounts: DataFrame, clients: DataFrame,
                   txns: DataFrame, batchDate: String): DataFrame = {
    val invalid = accounts
      .filter(to_date(lit(batchDate)) > col("valid_to"))
      .join(broadcast(clients), accounts("client") === clients("c_custkey"), "left")
    hits(txns.join(broadcast(invalid), txns("user_id") === invalid("client")),
      "ts_us", "client", "account_fraud")
  }

  /** Rule 3 — operations in different cities within one hour
    * (rep_fraud.py:110-184): cards seen in >1 distinct city (groupBy +
    * HAVING), `lead()` over (card, ts) flagging a different city within
    * `maxMinutes`, `max(ts)` per card, dim join-back.
    *
    * The reference computes the minute delta as `julianday(t) -
    * julianday(lead(t))` — a negative number, so its `<= 60` bound is
    * vacuously true; we implement the documented intent (next event at
    * most `maxMinutes` later).
    */
  def cityFraud(txns: DataFrame, clients: DataFrame,
                maxMinutes: Long = 60): DataFrame = {
    // Single-pass form of the reference's three-step query (HAVING
    // subquery + self-join + window): the distinct-city count rides the
    // same user-key window partitioning as the lead(), and the final
    // max() reuses it too — ONE shuffle end to end instead of three.
    // Result-identical to the reference shape (the DuckDB oracle keeps
    // the original formulation as the cross-check).
    val wAll = Window.partitionBy(col("user_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val flagged = txns
      .select(col("user_id"), col("ts_us"), col("city"))
      .withColumn("cnt_city", size(collect_set(col("city")).over(wAll)))
      .withColumn("lead_us", lead(col("ts_us"), 1).over(w))
      .withColumn("lead_city", lead(col("city"), 1).over(w))
      .filter(col("cnt_city") > 1 &&
        col("city") =!= col("lead_city") &&
        expr("(lead_us - ts_us) div 60000000") <= maxMinutes &&
        col("lead_us") >= col("ts_us"))
      .groupBy(col("user_id"))
      .agg(max(col("ts_us")).as("event_dt_us"))
    hits(flagged.join(broadcast(clients), flagged("user_id") === clients("c_custkey"), "left"),
      "event_dt_us", "user_id", "city_fraud")
  }

  /** Rule 4 — amount-guessing (rep_fraud.py:187-261): within the
    * PAYMENT/WITHDRAW analog subset, `lag()`×3 over (card, ts) — three
    * consecutive REJECTs with strictly decreasing amounts followed by a
    * SUCCESS with a lower amount, the whole run inside `maxMinutes`.
    */
  def guessingAmountFraud(txns: DataFrame, clients: DataFrame,
                          maxMinutes: Long,
                          opTypes: Seq[String] = Seq("purchase", "error")): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val ops = txns
      .filter(col("event_type").isin(opTypes: _*))
      .select(col("user_id"), col("ts_us"), col("amt_cents"), col("oper_result"))
    val lagged = ops
      .withColumn("lag_amt_1", lag(col("amt_cents"), 1).over(w))
      .withColumn("lag_amt_2", lag(col("amt_cents"), 2).over(w))
      .withColumn("lag_amt_3", lag(col("amt_cents"), 3).over(w))
      .withColumn("lag_res_1", lag(col("oper_result"), 1).over(w))
      .withColumn("lag_res_2", lag(col("oper_result"), 2).over(w))
      .withColumn("lag_res_3", lag(col("oper_result"), 3).over(w))
      .withColumn("lag_us_3", lag(col("ts_us"), 3).over(w))
    val flagged = lagged.filter(
      col("oper_result") === "SUCCESS" &&
      col("lag_res_1") === "REJECT" &&
      col("lag_res_2") === "REJECT" &&
      col("lag_res_3") === "REJECT" &&
      col("lag_amt_3") > col("lag_amt_2") &&
      col("lag_amt_2") > col("lag_amt_1") &&
      col("lag_amt_1") > col("amt_cents") &&
      expr("(ts_us - lag_us_3) div 60000000") <= maxMinutes)
    hits(flagged.join(broadcast(clients), flagged("user_id") === clients("c_custkey"), "left"),
      "ts_us", "user_id", "guessing_amount_fraud")
  }

  /** REP_FRAUD mart: tagged UNION ALL of all rules (main.py:20-26). */
  def mart(rules: Seq[DataFrame]): DataFrame =
    rules.reduce(_ unionByName _)

  /** Memoized persisted transaction frames, keyed by (session, dir):
    * all four rules (and the mart union) read the same enriched frame,
    * so a session shares ONE materialization of the scan + JSON city
    * extraction. Memoizing the DataFrame (rather than re-persisting an
    * identical plan per call) keeps the cache manager from logging
    * "already cached" on every fraud query, and [[unpersistAll]] gives
    * long-lived sessions an explicit release hook. */
  private val txnCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def enrichedTxns(s: SparkSession, d: String): DataFrame = {
    // Entries for stopped sessions would otherwise pin the SparkSession
    // (and its persisted plans) for the life of the process.
    txnCache.keySet.removeIf { case (sess, _) => sess.sparkContext.isStopped }
    txnCache.computeIfAbsent((s, d), { case (s, d) =>
      FraudModel.transactions(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** Release every persisted transaction frame (benchmarks, long-lived
    * sessions). Blocking=false: eviction proceeds asynchronously. */
  def unpersistAll(): Unit = {
    txnCache.values.forEach(df => { df.unpersist(false); () })
    txnCache.clear()
  }

  /** All four rules with the calibrated analog parameters. */
  def allRules(s: SparkSession, d: String, batchDate: String = "2024-06-30")
      : Seq[DataFrame] = {
    val txns = enrichedTxns(s, d)
    val cls = FraudModel.clients(s, d)
    Seq(
      passportFraud(cls, FraudModel.passportBlacklist(s, d),
        FraudModel.cards(s, d), FraudModel.accountsBridge(s, d), txns, batchDate),
      accountFraud(FraudModel.accounts(s, d), cls, txns, batchDate),
      cityFraud(txns, cls, maxMinutes = 60),
      guessingAmountFraud(txns, cls, maxMinutes = 4320))
  }
}
