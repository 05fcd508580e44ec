package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.etl.FraudEtlPipeline
import graft.fraud.FraudRules
import graft.etl.FraudEtlPipeline.Layout
import graft.sources.AtomicMart

/** End-to-end daily-batch orchestration (main.py analog): two days of
  * file drops through ingest → SCD2 → rules → mart → archive. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeDay1(drop: Path): Unit = {
    Files.writeString(drop.resolve("transactions_01032021.txt"),
      """transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal
        |1;2021-03-01 10:00:00;100.00;1;PAYMENT;SUCCESS;T1
        |2;2021-03-01 10:05:00;50.00;3;PAYMENT;SUCCESS;T2
        |3;2021-03-01 11:00:00;70.00;4;PAYMENT;SUCCESS;T1
        |4;2021-03-01 11:30:00;20.00;4;PAYMENT;SUCCESS;T2
        |""".stripMargin)
    Files.writeString(drop.resolve("passport_blacklist_01032021.csv"),
      "date;passport\n2021-03-01;3\n2021-03-01;1\n")
    Files.writeString(drop.resolve("terminals_01032021.csv"),
      """terminal_id;terminal_type;terminal_city;terminal_address
        |T1;ATM;Moscow;Lenina 1
        |T2;POS;Oslo;Karl Johans 2
        |""".stripMargin)
  }

  private def writeDay2(drop: Path): Unit = {
    Files.writeString(drop.resolve("transactions_02032021.txt"),
      """transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal
        |10;2021-03-02 09:00:00;50.00;2;WITHDRAW;REJECT;T1
        |11;2021-03-02 09:05:00;40.00;2;WITHDRAW;REJECT;T1
        |12;2021-03-02 09:10:00;30.00;2;WITHDRAW;REJECT;T1
        |13;2021-03-02 09:15:00;20.00;2;WITHDRAW;SUCCESS;T1
        |""".stripMargin)
    Files.writeString(drop.resolve("passport_blacklist_02032021.csv"),
      "date;passport\n")
    Files.writeString(drop.resolve("terminals_02032021.csv"),
      """terminal_id;terminal_type;terminal_city;terminal_address
        |T1;ATM;Riga;Brivibas 9
        |T3;POS;Bern;Bahnhof 3
        |""".stripMargin)
  }

  /** Half the 21 jobs day 2 ran when each rule parsed the drop again and
    * SCD2 merged by three detect joins and two pins. */
  private val DayJobBudget = 10

  /** Spark jobs that `body` starts on this thread, counted by job group. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      // job-start events post asynchronously; poll until stable
      var last = -1
      var spins = 0
      while (jobs.get != last && spins < 100) {
        last = jobs.get; Thread.sleep(100); spins += 1
      }
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private lazy val clients = Seq(
    (1L, "IVANOV IVAN", "0001 000001", "+7000000001", "VIP",
      java.sql.Date.valueOf("2021-01-01")),
    (2L, "PETROV PETR", "0002 000002", "+7000000002", "STD",
      java.sql.Date.valueOf("2025-01-01")),
    (3L, "SIDOROV SID", "0003 000003", "+7000000003", "STD",
      java.sql.Date.valueOf("2025-01-01")),
    (4L, "KOTOV KOT", "0004 000004", "+7000000004", "VIP",
      java.sql.Date.valueOf("2025-01-01")))
    .toDF("c_custkey", "fio", "passport_num", "phone", "segment",
      "passport_valid_to")
  private lazy val accounts = Seq((2L, java.sql.Date.valueOf("2020-06-01")))
    .toDF("client", "valid_to")

  test("Daily's four-rule union equals the benchmark's four explicit rule calls") {
    // (client, minute, cents, op type, result, city): client 1 expired
    // and blacklisted, 3 blacklisted, 2 on an expired account; 4 hops
    // city within the hour, 3 only after it; 2 guesses within 20
    // minutes, 3 within 30, 4 over a transfer
    val txns = Seq(
      (1L, 0L, 10000L, "PAYMENT", "SUCCESS", "Moscow"),
      (3L, 5L, 5000L, "PAYMENT", "SUCCESS", "Oslo"),
      (3L, 200L, 5000L, "PAYMENT", "SUCCESS", "Moscow"),
      (4L, 60L, 7000L, "PAYMENT", "SUCCESS", "Moscow"),
      (4L, 90L, 2000L, "PAYMENT", "SUCCESS", "Oslo"),
      (2L, 1000L, 5000L, "WITHDRAW", "REJECT", "Riga"),
      (2L, 1005L, 4000L, "WITHDRAW", "REJECT", "Riga"),
      (2L, 1010L, 3000L, "WITHDRAW", "REJECT", "Riga"),
      (2L, 1015L, 2000L, "WITHDRAW", "SUCCESS", "Riga"),
      (3L, 3000L, 50L, "WITHDRAW", "REJECT", "Moscow"),
      (3L, 3010L, 40L, "WITHDRAW", "REJECT", "Moscow"),
      (3L, 3020L, 30L, "WITHDRAW", "REJECT", "Moscow"),
      (3L, 3030L, 20L, "WITHDRAW", "SUCCESS", "Moscow"),
      (4L, 2000L, 500L, "TRANSFER", "REJECT", "Oslo"),
      (4L, 2001L, 400L, "TRANSFER", "REJECT", "Oslo"),
      (4L, 2002L, 300L, "TRANSFER", "REJECT", "Oslo"),
      (4L, 2003L, 200L, "TRANSFER", "SUCCESS", "Oslo"))
      .zipWithIndex.map { case ((u, m, a, t, r, c), i) => (i.toLong, u, m * 60000000L, a, t, r, c) }
      .toDF("event_id", "user_id", "ts_us", "amt_cents", "event_type", "oper_result", "city")
    val blacklist = Seq(1L, 3L).toDF("c_custkey")
    val batchDate = "2021-03-02"
    val daily = FraudRules.mart(
      FraudRules.Inputs(txns, clients, blacklist, accounts, batchDate), FraudRules.Daily)
    // perfbench/driver/Driver.scala's tracedDay, call for call
    val replay = FraudRules.mart(Seq(
      FraudRules.passportFraud(clients, blacklist, txns, batchDate),
      FraudRules.accountFraud(accounts, clients, txns, batchDate),
      FraudRules.cityFraud(txns, clients, maxMinutes = 60),
      FraudRules.guessingAmountFraud(txns, clients, maxMinutes = 20,
        opTypes = Seq("PAYMENT", "WITHDRAW"))))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(daily) == rows(replay))
    val byRule = daily.select("rule", "client_key").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byRule == Map("passport_fraud" -> Set(1L, 3L), "account_fraud" -> Set(2L),
      "city_fraud" -> Set(4L), "guessing_amount_fraud" -> Set(2L)))
  }

  test("two daily runs: SCD2 versions, rule hits, mart append, archive") {
    val root = Files.createTempDirectory("graft_pipeline")
    val drop = Files.createDirectory(root.resolve("drop"))
    val layout = Layout(drop.toString, root.resolve("archive").toString,
      root.resolve("terminals_hist").toString, root.resolve("mart").toString)

    writeDay1(drop)
    assert(FraudEtlPipeline.runDaily(spark, layout, clients, accounts)
      .contains("2021-03-01"))

    val hist1 = spark.read.parquet(layout.historyPath)
    assert(hist1.count() == 2) // T1, T2 initialized
    val mart1 = AtomicMart.read(spark, layout.martPath)
    // client 1: expired passport; client 3: blacklisted
    val flagged1 = mart1.filter(col("rule") === "passport_fraud")
      .select("client_key").as[Long].collect().toSeq
    assert(flagged1.toSet == Set(1L, 3L))
    // client 1 is expired AND blacklisted: still one row per transaction
    assert(flagged1.count(_ == 1L) == 1)
    // client 4: Moscow 11:00 -> Oslo 11:30 within an hour
    assert(mart1.filter(col("rule") === "city_fraud")
      .select("client_key").as[Long].collect().toSet == Set(4L))

    writeDay2(drop)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val day2Jobs = jobsOf("pipeline-day2") {
      assert(FraudEtlPipeline.runDaily(spark, layout, clients, accounts)
        .contains("2021-03-02"))
    }
    // a merge into a 2-version history plus four rules over 4 rows
    assert(day2Jobs <= DayJobBudget, s"day 2 ran $day2Jobs jobs")
    // nothing persisted or pinned outlives the run
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned)

    val hist2 = spark.read.parquet(layout.historyPath)
    // T1 changed (closed + reopened), T2 deleted (closed + tombstone), T3 new
    assert(hist2.count() == 5)
    assert(hist2.filter(col("terminal_id") === "T1" &&
      col("terminal_city") === "Riga" &&
      col("effective_to") === graft.etl.Scd2.HighDate).count() == 1)
    assert(hist2.filter(col("terminal_id") === "T2" &&
      col("deleted_flg") === 1L).count() == 1)

    val mart2 = AtomicMart.read(spark, layout.martPath)
    // day-2 adds the amount-guessing hit for client 2 (+ account_fraud rows)
    assert(mart2.filter(col("rule") === "guessing_amount_fraud")
      .select("client_key").as[Long].collect().toSet == Set(2L))
    assert(mart2.filter(col("rule") === "account_fraud")
      .select("client_key").as[Long].collect().toSet == Set(2L))
    assert(mart2.count() > mart1.count())

    // drops consumed and archived; a third run finds nothing
    assert(Files.list(drop).count() == 0)
    assert(Files.list(root.resolve("archive")).count() == 6)
    assert(FraudEtlPipeline.runDaily(spark, layout, clients, accounts).isEmpty)

    // day 2's drop lands again (a crash after publish, before archive):
    // the replay republishes the same mart rows, it does not add to them
    def rows(mart: org.apache.spark.sql.DataFrame) =
      mart.collect().map(_.toString).sorted.toSeq
    writeDay2(drop)
    assert(FraudEtlPipeline.runDaily(spark, layout, clients, accounts)
      .contains("2021-03-02"))
    assert(rows(AtomicMart.read(spark, layout.martPath)) == rows(mart2))
  }
}
