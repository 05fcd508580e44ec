package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{GraftSession, SparkEntry}
import graft.etl.{FraudEtlPipeline, Scd2}
import graft.etl.FraudEtlPipeline.Layout
import graft.fraud.FraudRules
import graft.ops.FragmentCache
import graft.sources.{AtomicMart, DelimitedSource}

/** JVM side of the benchmark: one session at `local[4]`, one calling
  * thread, a closed loop (the next operation starts when the previous
  * one returns). Runs the untimed warm-up pass, then `passes` timed
  * passes, and writes every pass and operation to `out` as JSON;
  * `run.py` turns that into metrics and checks outputs.
  *
  * Arguments are `key=value`: workload, seed, passes, trace, work (the
  * run's private directory), out, and `data` + `queries` (query
  * workloads) or `inputs` (fraud_daily).
  */
object Driver {
  val Cores = 4

  final case class Op(name: String, s: Double, err: Option[String])

  trait Workload {
    /** The untimed pass that fills the Tables memo and codegen cache. */
    def warmup(): Seq[Op]
    /** One timed pass; `tracer` is set on traced passes. */
    def pass(tag: String, order: Long, tracer: Option[Tracer]): Seq[Op]
    /** Untimed, after a pass: what `run.py` needs to check it. */
    def check(tag: String): Map[String, Any]
    /** Untimed, after the timed passes and cold for result caches as
      * they were: a pass whose outputs `run.py` checks, for workloads
      * whose timed passes write nothing checkable; else empty. */
    def verify(salt: Long): Seq[Op]
  }

  def timed(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.take(1).mkString.take(300))
      }
    Op(name, (System.nanoTime() - t0) / 1e9, err)
  }

  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** (compiles, seconds); Spark keeps a count and a reservoir of compile
    * times, not their sum, so seconds = count x reservoir mean. */
  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean / 1e3)
  }

  def main(args: Array[String]): Unit = {
    val conf = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val work = conf("work")
    val nPasses = conf("passes").toInt
    val traced = conf("trace") == "1"
    val seed = conf("seed").toLong
    System.setProperty("graft.scratch.dir", s"$work/scratch")
    System.setProperty("graft.cells.dir", s"$work/cells")

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val workload: Workload = conf("workload") match {
      case "fraud_daily" => new FraudDaily(spark, conf("inputs"), work)
      case _ => new Queries(spark, conf("data"), conf("queries"), work, seed)
    }
    val (cg0, _) = codegen()
    val warm = workload.warmup()
    val setupS = (System.nanoTime() - t0) / 1e9
    val (cg1, cgMean) = codegen()
    val warmCheck = checked(workload, "warmup")

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    // A traced run traces every pass but the first and the last, so the
    // untraced passes sit as early and as late as the traced ones on
    // average and the tracing overhead is measured in the same window.
    for (p <- 0 until nPasses) {
      val tr = tracer.filter(_ => p > 0 && p < nPasses - 1)
      // cold for result caches: no session cache survives into a pass
      FragmentCache.clear()
      FraudRules.unpersistAll()
      System.gc()
      tr.foreach(_.attach())
      val (c0, _) = codegen()
      val cpu0 = cpuSeconds()
      val gc0 = gcSeconds()
      val w0 = System.nanoTime()
      val ops = workload.pass(s"p$p", seed * 1000 + p, tr)
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = cpuSeconds() - cpu0
      val gc = gcSeconds() - gc0
      val (c1, cMean) = codegen()
      val layers = tr.map { t => val l = t.take(); t.detach(); l }
      // a second collection after the cleaner has had a moment to drop
      // blocks of the pass's unreachable pins
      System.gc()
      Thread.sleep(100)
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      passes += Map(
        "traced" -> tr.isDefined, "wall_s" -> wall, "cpu_s" -> cpu, "gc_s" -> gc,
        "heap_mb" -> heapMb, "compiles" -> (c1 - c0), "compile_s" -> (c1 - c0) * cMean,
        "ops" -> ops.map(opJson), "layers" -> layers.getOrElse(Map.empty),
        "check" -> checked(workload, s"p$p"))
    }
    FragmentCache.clear()
    FraudRules.unpersistAll()
    val verify = workload.verify(seed * 1000 + nPasses)
    FragmentCache.clear()
    FraudRules.unpersistAll()
    val result = Map(
      "session_s" -> sessionS, "setup_s" -> setupS, "cores" -> Cores,
      "warmup" -> Map("ops" -> warm.map(opJson), "compiles" -> (cg1 - cg0),
        "compile_s" -> (cg1 - cg0) * cgMean, "check" -> warmCheck),
      "passes" -> passes.toSeq,
      "verify" -> Map("ops" -> verify.map(opJson)),
      "spans" -> tracer.map(_.spans.toSeq.map { case (op, ph, a, b) =>
        Map("op" -> op, "span" -> ph, "start_s" -> (a - start) / 1e9,
          "end_s" -> (b - start) / 1e9)
      }).getOrElse(Nil))
    Files.writeString(Paths.get(conf("out")), Json(result))
    spark.stop()
  }

  /** A check that cannot run (say, a pass that published nothing) is
    * reported to run.py, which fails the pass's operations. */
  private def checked(w: Workload, tag: String): Map[String, Any] =
    try w.check(tag)
    catch { case e: Throwable => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}") }

  private def opJson(o: Op): Map[String, Any] =
    Map("name" -> o.name, "s" -> o.s, "err" -> o.err.orNull)

  def dirBytes(dir: String): Long = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) 0L
    else Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}

/** `query_tail`: the frozen query list, in a seeded order per pass, each
  * query driven through the noop sink. */
final class Queries(spark: SparkSession, data: String, namesFile: String,
                    work: String, seed: Long) extends Driver.Workload {
  private val names = Files.readAllLines(Paths.get(namesFile)).asScala.toSeq
    .map(_.trim).filter(_.nonEmpty)

  private def order(salt: Long): Seq[String] = new scala.util.Random(salt).shuffle(names)

  /** A pass that writes every result as parquet for the DuckDB check. */
  private def written(tag: String, salt: Long): Seq[Driver.Op] =
    order(salt).map { n =>
      Driver.timed(n) {
        SparkEntry.queries(n)(spark, data).write.mode("overwrite")
          .parquet(s"$work/check/$tag/$n")
      }
    }

  /** Checked, with the oracle SQL written beside the results. */
  def warmup(): Seq[Driver.Op] = {
    val ops = written("warmup", seed)
    val sql = names.map { n =>
      n -> SparkEntry.oracleSql(n)
        .replace("__GRAFT_CELLS__", SparkEntry.cellsExportPath(data))
        .replace("__GRAFT_SEMCELLS__", SparkEntry.semCellsExportPath(data))
    }.toMap
    Files.writeString(Paths.get(s"$work/check/oracle_sql.json"), Json(sql))
    ops
  }

  def pass(tag: String, salt: Long, tracer: Option[Tracer]): Seq[Driver.Op] =
    order(salt).map { n =>
      Driver.timed(n) {
        tracer match {
          case None =>
            spark.sparkContext.setJobGroup(s"graftbench/$tag/$n", n)
            SparkEntry.queries(n)(spark, data).write.format("noop").mode("overwrite").save()
            spark.sparkContext.clearJobGroup()
          case Some(t) =>
            val op = s"$tag/$n"
            val df = t.span(op, "construct")(SparkEntry.queries(n)(spark, data))
            val qe = df.queryExecution
            t.span(op, "plan")(qe.executedPlan)
            // the plan just timed, run under its own SQL execution: a noop
            // write would optimize and plan the query a second time
            t.span(op, "exec") {
              SQLExecution.withNewExecutionId(qe, Some("noop"))(qe.toRdd.foreach(_ => ()))
            }
        }
      }
    }

  def check(tag: String): Map[String, Any] = Map.empty

  /** The timed passes go to the noop sink; this pass runs after them,
    * with the same warm memo and cold result caches, and is checked. */
  def verify(salt: Long): Seq[Driver.Op] = written("verify", salt)
}

/** `fraud_daily`: the generated days, one operation per day, through
  * `FraudEtlPipeline.runDaily` with the atomic mart sink, from empty
  * history and mart in every pass. */
final class FraudDaily(spark: SparkSession, inputs: String, work: String)
    extends Driver.Workload {
  private val days = Files.readAllLines(Paths.get(s"$inputs/days.txt")).asScala.toSeq
    .map(_.trim).filter(_.nonEmpty)
  private val clients = spark.read.parquet(s"$inputs/dwh/clients.parquet")
  private val accounts = spark.read.parquet(s"$inputs/dwh/accounts.parquet")
  private val termAttrs = Seq("terminal_type", "terminal_city", "terminal_address")

  private def layout(tag: String): Layout = {
    val root = s"$work/state/$tag"
    Layout(s"$root/drop", s"$root/archive", s"$root/history", s"$root/mart")
  }

  private def files(bid: String): Seq[String] = Seq(
    s"transactions_$bid.txt", s"passport_blacklist_$bid.csv", s"terminals_$bid.csv")

  def warmup(): Seq[Driver.Op] = pass("warmup", 0L, None)

  /** Every timed pass is checked already. */
  def verify(salt: Long): Seq[Driver.Op] = Nil

  def pass(tag: String, salt: Long, tracer: Option[Tracer]): Seq[Driver.Op] = {
    val l = layout(tag)
    Files.createDirectories(Paths.get(l.dropDir))
    days.map { bid =>
      // Stage one day at a time: discoverBatch takes the first name in
      // string order, so a DDMMYYYY backlog crossing a month would run
      // out of order.
      files(bid).foreach { f =>
        Files.copy(Paths.get(s"$inputs/days/$bid/$f"), Paths.get(s"${l.dropDir}/$f"))
      }
      Driver.timed(bid) {
        val got = tracer match {
          case None => FraudEtlPipeline.runDaily(spark, l, clients, accounts,
            FraudEtlPipeline.atomicPublish)
          case Some(t) => tracedDay(t, s"$tag/$bid", l)
        }
        val want = DelimitedSource.batchIdToDate(bid)
        require(got.contains(want), s"runDaily processed $got, expected $want")
      }
    }
  }

  /** The public calls `runDaily` makes, in its order, one span each. */
  private def tracedDay(t: Tracer, op: String, l: Layout): Option[String] = {
    val txnFile = DelimitedSource.discoverBatch(l.dropDir, ".txt").get
    val batchId = DelimitedSource.batchIdFromFilename(txnFile).get
    val batchDate = DelimitedSource.batchIdToDate(batchId)
    val paths = files(batchId).map(f => s"${l.dropDir}/$f")
    val (txns, blacklist, terminals) = t.span(op, "load") {
      (DelimitedSource.Csv(FraudEtlPipeline.txnSchema).load(spark, paths(0)),
        DelimitedSource.Csv(FraudEtlPipeline.blacklistSchema).load(spark, paths(1))
          .select(col("passport").as("c_custkey")),
        DelimitedSource.Csv(FraudEtlPipeline.terminalSchema).load(spark, paths(2)))
    }
    val current = t.span(op, "scd2") {
      val hist = Paths.get(l.historyPath)
      val history =
        if (Files.exists(hist))
          Scd2.merge(spark.read.parquet(l.historyPath), terminals, "terminal_id",
            termAttrs, batchDate)
        else Scd2.init(terminals, batchDate)
      history.write.mode("overwrite").parquet(l.historyPath + ".next")
      Driver.deleteTree(hist)
      Files.move(Paths.get(l.historyPath + ".next"), hist)
      Scd2.currentView(spark.read.parquet(l.historyPath))
    }
    t.span(op, "publish") {
      val ruleTxns = txns
        .join(broadcast(current.select(col("terminal_id"), col("terminal_city").as("city"))),
          txns("terminal") === col("terminal_id"), "left")
        .select(
          col("transaction_id").as("event_id"),
          col("card_num").as("user_id"),
          unix_micros(col("transaction_date")).as("ts_us"),
          round(col("amount") * 100).cast(LongType).as("amt_cents"),
          col("oper_type").as("event_type"),
          col("oper_result"),
          col("city"))
      val mart = FraudRules.mart(Seq(
        FraudRules.passportFraud(clients, blacklist, ruleTxns, batchDate),
        FraudRules.accountFraud(accounts, clients, ruleTxns, batchDate),
        FraudRules.cityFraud(ruleTxns, clients, maxMinutes = 60),
        FraudRules.guessingAmountFraud(ruleTxns, clients, maxMinutes = 20,
          opTypes = Seq("PAYMENT", "WITHDRAW"))))
      FraudEtlPipeline.atomicPublish(mart, l.martPath, batchDate)
    }
    t.span(op, "archive") {
      paths.foreach(p => DelimitedSource.archive(Paths.get(p), Paths.get(l.archiveDir)))
    }
    Some(batchDate)
  }

  /** Dumps the published mart and the terminal history's current view,
    * counts history rows and stored bytes, then drops the pass's state. */
  def check(tag: String): Map[String, Any] = {
    val l = layout(tag)
    val out = s"$work/check/$tag"
    AtomicMart.read(spark, l.martPath)
      .select("rule", "batch_date", "client_key", "event_dt_us")
      .coalesce(1).write.parquet(s"$out/mart")
    val hist = spark.read.parquet(l.historyPath)
    val historyRows = hist.count()
    Scd2.currentView(hist)
      .select("terminal_id", "terminal_type", "terminal_city", "terminal_address")
      .coalesce(1).write.parquet(s"$out/current")
    val res = Map(
      "history_rows" -> historyRows,
      "stored_bytes" -> (Driver.dirBytes(l.historyPath) + Driver.dirBytes(l.martPath)),
      "input_bytes" -> Driver.dirBytes(l.archiveDir))
    Driver.deleteTree(Paths.get(s"$work/state/$tag"))
    res
  }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
