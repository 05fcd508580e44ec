package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.FraudEtlPipeline
import graft.sources.AtomicMart
import graft.streaming.StreamingIngest

/** F4 — continuous file-drop ingestion into a date-partitioned lake,
  * with partition pruning proven in-plan on readback. */
class StreamingIngestSpec extends SparkSpec {

  test("continuous fraud mart: micro-batches run rules and append hits") {
    val root = Files.createTempDirectory("graft_stream_fraud")
    val drop = Files.createDirectory(root.resolve("drop")).toString
    val mart = root.resolve("mart").toString
    Files.writeString(java.nio.file.Paths.get(drop, "transactions_01032021.txt"),
      """transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal
        |1;2021-03-01 10:00:00;10.00;1;PAYMENT;SUCCESS;T1
        |2;2021-03-01 11:00:00;20.00;2;PAYMENT;SUCCESS;T1
        |""".stripMargin)
    import spark.implicits._
    val clients = Seq(
      (1L, "IVANOV IVAN", "0001 000001", "+7000000001", "VIP",
        java.sql.Date.valueOf("2021-01-01"), 0L),
      (2L, "PETROV PETR", "0002 000002", "+7000000002", "STD",
        java.sql.Date.valueOf("2025-01-01"), 0L))
      .toDF("c_custkey", "fio", "passport_num", "phone", "segment",
        "passport_valid_to", "blacklisted")
    val accounts = Seq((2L, java.sql.Date.valueOf("2020-06-01")))
      .toDF("client", "valid_to")
    val stream = StreamingIngest
      .dropStream(spark, drop, FraudEtlPipeline.txnSchema)
      .select(
        col("transaction_id").as("event_id"),
        col("card_num").as("user_id"),
        unix_micros(col("transaction_date")).as("ts_us"),
        (col("amount") * 100).cast("long").as("amt_cents"),
        col("oper_type").as("event_type"), col("oper_result"))
    val q = StreamingIngest.continuousFraudMart(stream, clients, accounts,
      "2021-03-01", mart, root.resolve("ckpt").toString)
    q.awaitTermination()
    val hits = AtomicMart.read(spark, mart)
    // client 1 expired passport; client 2 expired account
    assert(hits.filter(col("rule") === "passport_fraud")
      .select("client_key").as[Long].collect().toSet == Set(1L))
    assert(hits.filter(col("rule") === "account_fraud")
      .select("client_key").as[Long].collect().toSet == Set(2L))
  }

  test("replayed micro-batch converges: the mart never double-appends (F6+B15)") {
    val root = Files.createTempDirectory("graft_stream_replay")
    val drop = Files.createDirectory(root.resolve("drop")).toString
    val mart = root.resolve("mart").toString
    Files.writeString(java.nio.file.Paths.get(drop, "transactions_01032021.txt"),
      """transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal
        |1;2021-03-01 10:00:00;10.00;1;PAYMENT;SUCCESS;T1
        |2;2021-03-01 11:00:00;20.00;2;PAYMENT;SUCCESS;T1
        |""".stripMargin)
    import spark.implicits._
    val clients = Seq(
      (1L, "IVANOV IVAN", "0001 000001", "+7000000001", "VIP",
        java.sql.Date.valueOf("2021-01-01"), 0L),
      (2L, "PETROV PETR", "0002 000002", "+7000000002", "STD",
        java.sql.Date.valueOf("2025-01-01"), 0L))
      .toDF("c_custkey", "fio", "passport_num", "phone", "segment",
        "passport_valid_to", "blacklisted")
    val accounts = Seq((2L, java.sql.Date.valueOf("2020-06-01")))
      .toDF("client", "valid_to")
    def run(ckpt: String): Unit = {
      val stream = StreamingIngest
        .dropStream(spark, drop, FraudEtlPipeline.txnSchema)
        .select(
          col("transaction_id").as("event_id"),
          col("card_num").as("user_id"),
          unix_micros(col("transaction_date")).as("ts_us"),
          (col("amount") * 100).cast("long").as("amt_cents"),
          col("oper_type").as("event_type"), col("oper_result"))
      StreamingIngest.continuousFraudMart(stream, clients, accounts,
        "2021-03-01", mart, ckpt).awaitTermination()
    }
    run(root.resolve("ckpt").toString)
    val first = AtomicMart.read(spark, mart).drop("epoch").collect().toSeq
    assert(first.nonEmpty)
    // kill-and-replay: a fresh checkpoint re-delivers the same files as
    // micro-batch 0 — the worst-case at-least-once replay. The
    // epoch-keyed commit must replace, not append.
    run(root.resolve("ckpt_replay").toString)
    val replayed = AtomicMart.read(spark, mart).drop("epoch").collect().toSeq
    assert(replayed.groupBy(identity).view.mapValues(_.size).toMap ==
      first.groupBy(identity).view.mapValues(_.size).toMap,
      s"mart diverged after replay: ${first.size} -> ${replayed.size} rows")
  }

  test("csv drops land partitioned; second drop is incremental; reads prune") {
    val root = Files.createTempDirectory("graft_stream_ingest")
    val drop = Files.createDirectory(root.resolve("drop")).toString
    val lake = root.resolve("lake").toString
    val ckpt = root.resolve("ckpt").toString

    Files.writeString(java.nio.file.Paths.get(drop, "transactions_01032021.txt"),
      """transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal
        |1;2021-03-01 10:00:00;10.00;1;PAYMENT;SUCCESS;T1
        |2;2021-03-01 11:00:00;20.00;2;PAYMENT;SUCCESS;T1
        |""".stripMargin)

    val stream = StreamingIngest.dropStream(spark, drop, FraudEtlPipeline.txnSchema)
    val q1 = StreamingIngest.landPartitioned(stream, "transaction_date", lake, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(lake).count() == 2)

    // a later drop is picked up incrementally (old file not re-read)
    Files.writeString(java.nio.file.Paths.get(drop, "transactions_02032021.txt"),
      """transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal
        |3;2021-03-02 09:00:00;30.00;3;WITHDRAW;REJECT;T2
        |""".stripMargin)
    val q2 = StreamingIngest.landPartitioned(
      StreamingIngest.dropStream(spark, drop, FraudEtlPipeline.txnSchema),
      "transaction_date", lake, ckpt)
    q2.awaitTermination()
    val all = spark.read.parquet(lake)
    assert(all.count() == 3)

    // date filter prunes to one partition directory
    val pruned = all.filter(col("p_date") === "2021-03-02")
    assert(pruned.count() == 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("p_date"), "expected partition filter in scan")
  }

  test("F35 epoch commit: kills on either side of the commit replay into exactly-once") {
    import graft.sources.AtomicMart
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = Files.createTempDirectory("graft_epoch")
    val drop = Files.createDirectory(root.resolve("drop")).toString
    val mart = root.resolve("mart").toString
    val ckpt = root.resolve("ckpt").toString
    val sch = StructType(Seq(
      StructField("user", StringType), StructField("amount", LongType)))
    def stream() = StreamingIngest.dropStream(spark, drop, sch)
    def writeDrop(name: String, rows: (String, Long)*): Unit =
      Files.writeString(java.nio.file.Paths.get(drop, name),
        "user;amount\n" + rows.map { case (u, a) => s"$u;$a" }.mkString("\n") + "\n")

    // epoch 0 lands cleanly through the real sink
    writeDrop("d1.csv", ("u1", 10L), ("u2", 20L))
    StreamingIngest.epochMartStream(stream(), mart, Seq("user"), ckpt).awaitTermination()
    assert(AtomicMart.read(spark, mart).count() == 2)
    val reader0 = AtomicMart.read(spark, mart) // binds v-now: isolation witness

    // epoch 1: the sink dies AFTER the commit but BEFORE the checkpoint
    // advances — the nastiest at-least-once window (work is visible,
    // the engine doesn't know). The replay must REPLACE, not append.
    writeDrop("d2.csv", ("u1", 11L), ("u3", 30L))
    val killedLate = stream().writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       e: Long) =>
        AtomicMart.publishEpoch(b.toDF(), mart, Seq("user"), e)
        sys.error(s"killed after epoch $e committed")
      }
      .start()
    intercept[Exception](killedLate.awaitTermination())
    assert(AtomicMart.read(spark, mart).count() == 4) // the kill landed once
    StreamingIngest.epochMartStream(stream(), mart, Seq("user"), ckpt).awaitTermination()
    assert(AtomicMart.read(spark, mart).count() == 4, "replayed epoch must replace itself, not append")

    // epoch 2: the sink dies BETWEEN stage and commit — nothing may be
    // visible, and the restart must converge from the checkpoint.
    writeDrop("d3.csv", ("u4", 40L))
    val killedEarly = stream().writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       e: Long) =>
        AtomicMart.stage(b.toDF().withColumn("epoch", lit(e.toString)),
          mart, Seq("user", "epoch"))
        sys.error(s"killed mid-epoch $e, after stage, before commit")
      }
      .start()
    intercept[Exception](killedEarly.awaitTermination())
    assert(AtomicMart.read(spark, mart).count() == 4, "a staged-only epoch must be invisible")
    StreamingIngest.epochMartStream(stream(), mart, Seq("user"), ckpt).awaitTermination()
    val fin = AtomicMart.read(spark, mart)
    assert(fin.count() == 5)
    import spark.implicits._
    assert(fin.select("user", "amount").as[(String, Long)].collect().toSet ==
      Set(("u1", 10L), ("u2", 20L), ("u1", 11L), ("u3", 30L), ("u4", 40L)))
    // exactly one orphan snapshot (the staged-only attempt) to reclaim,
    // and the pre-kill reader still sees its own version in full
    assert(AtomicMart.vacuum(spark, mart, retainLast = 10, graceMs = 0L)
      .count(_.contains("/data/")) == 1)
    assert(reader0.count() == 2)
  }
}
