package graft.fraud

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables
import graft.functions.GraftFunctions._

/** Analog data model mapping the testdata star schema onto the
  * reference DWH (SURVEY.md §3):
  *
  *   DWH_FACT_TRANSACTIONS → events   (card→user_id, amt→value cents,
  *     oper_result := error→REJECT else SUCCESS, city := props.k % 5)
  *   DWH_DIM_CLIENTS       → customer (passport_valid_to synthesized
  *     deterministically from c_custkey; blacklist := c_acctbal < 0)
  *   DWH_DIM_ACCOUNTS      → orders   (valid_to := o_orderdate + 9000d)
  *
  * DWH_DIM_CARDS has no analog: a transaction's card is its client, so
  * the reference's card → account → client chain is the identity on
  * `user_id` = `c_custkey`.
  *
  * All derived columns use exact integer / date arithmetic so the DuckDB
  * oracle computes bit-identical values (SURVEY.md §5).
  */
object FraudModel {

  /** Transaction-stream analog of DWH_FACT_TRANSACTIONS
    * (reference sql_scripts/DWH_tables.sql). */
  def transactions(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      col("user_id"),
      col("ts_us"),
      col("ts_t"),
      cents(col("value")).as("amt_cents"),
      col("event_type"),
      when(col("event_type") === "error", lit("REJECT"))
        .otherwise(lit("SUCCESS")).as("oper_result"),
      (get_json_object(col("props"), "$.k").cast(LongType) % 5).as("city"))

  /** Client dimension analog of DWH_DIM_CLIENTS; `fio` mirrors the
    * reference's name concatenation (rep_fraud.py:15), and
    * `passport_num`/`phone` the mart's identity columns
    * (rep_fraud.py:37-43 REP_FRAUD carries passport + phone) —
    * synthesized deterministically from the client key so the DuckDB
    * twin computes identical strings. */
  def clients(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey"),
      concat(col("c_name"), lit(" "), col("c_mktsegment")).as("fio"),
      concat(
        lpad(((col("c_custkey") * 7) % 10000).cast("string"), 4, "0"), lit(" "),
        lpad(((col("c_custkey") * 7919) % 1000000).cast("string"), 6, "0"))
        .as("passport_num"),
      concat(lit("+7"),
        lpad(((col("c_custkey") * 104729) % 1000000000L).cast("string"), 9, "0"))
        .as("phone"),
      col("c_mktsegment").as("segment"),
      col("c_acctbal"),
      date_add(to_date(lit("2024-01-01")), ((col("c_custkey") * 7) % 400).cast("int"))
        .as("passport_valid_to"))

  /** Blacklisted-passport fact analog of DWH_FACT_PASSPORT_BLACKLIST. */
  def passportBlacklist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_acctbal") < 0).select(col("c_custkey"))

  /** Account dimension analog of DWH_DIM_ACCOUNTS: contract expiry
    * `valid_to` := o_orderdate + 9000 days; only 'P' (pending) orders
    * count as live account contracts in this analog. */
  def accounts(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "P")
      .select(
        col("o_orderkey").as("account_num"),
        col("o_custkey").as("client"),
        date_add(to_date(col("o_orderdate")), 9000).as("valid_to"))
}
