package graftbench

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run. Spans are opened by the
  * benchmark around its calls into the program (construct / plan / exec
  * per query; load / scd2 / publish / archive per day). Each span runs
  * under its own job group, so job, stage and task events are keyed by
  * that group; block updates and finished query executions carry no
  * group and go to the open span, which is exact because the listener
  * bus is drained at every span end and one thread drives the program.
  *
  * Counters are summed per span phase; [[take]] returns and resets them
  * at the end of a pass. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var open = "idle"
  private val counters = mutable.Map.empty[String, Double]
  private val stageOf = mutable.Map.empty[Int, String]
  private val submitted = mutable.Map.empty[Int, Long]
  private val taskRun = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** (op, phase, start ns, end ns), kept in memory for the whole run. */
  val spans = mutable.ArrayBuffer.empty[(String, String, Long, Long)]

  private def add(phase: String, key: String, v: Double): Unit = synchronized {
    counters(s"$phase|$key") = counters.getOrElse(s"$phase|$key", 0.0) + v
  }
  private def max(phase: String, key: String, v: Double): Unit = synchronized {
    counters(s"$phase|$key") = math.max(counters.getOrElse(s"$phase|$key", 0.0), v)
  }
  private def phaseOfGroup(group: String): String =
    Option(group).filter(_.startsWith("graftbench/")).map(_.split('/').last).getOrElse(open)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val phase = phaseOfGroup(e.properties.getProperty("spark.jobGroup.id"))
      e.stageIds.foreach(stageOf(_) = phase)
      add(phase, "jobs", 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val id = e.stageInfo.stageId
      e.stageInfo.submissionTime.foreach(submitted(id) = _)
      add(stageOf.getOrElse(id, open), "stages", 1)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      // scheduler wait: stage submission to its first task launch
      submitted.remove(e.stageId).foreach { t0 =>
        add(stageOf.getOrElse(e.stageId, open), "sched_wait_s",
          math.max(0L, e.taskInfo.launchTime - t0) / 1e3)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val phase = stageOf.getOrElse(e.stageId, open)
      val m = e.taskMetrics
      add(phase, "tasks", 1)
      if (m != null) {
        add(phase, "task_run_s", m.executorRunTime / 1e3)
        add(phase, "task_cpu_s", m.executorCpuTime / 1e9)
        add(phase, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(phase, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(phase, "shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(phase, "spill_bytes", m.diskBytesSpilled.toDouble)
        add(phase, "scan_bytes", m.inputMetrics.bytesRead.toDouble)
        add(phase, "scan_rows", m.inputMetrics.recordsRead.toDouble)
        taskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val id = e.stageInfo.stageId
      // skew of stages with real work only: >= 2 tasks and >= 100 ms
      taskRun.remove(id).filter(t => t.size >= 2 && t.sum >= 100).foreach { t =>
        val sorted = t.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        max(stageOf.getOrElse(id, open), "task_skew", sorted.last.toDouble / median)
      }
      submitted.remove(id)
      stageOf.remove(id)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        add(open, "pin_blocks", 1)
        add(open, "pin_bytes", (b.memSize + b.diskSize).toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phase = open
      walk(qe.executedPlan) {
        case _: ShuffleExchangeExec => add(phase, "exchanges", 1)
        case _: BroadcastExchangeExec => add(phase, "broadcasts", 1)
        case _: SortMergeJoinExec => add(phase, "smj", 1)
        case w: WindowExec if w.partitionSpec.isEmpty =>
          add(phase, "single_partition_windows", 1)
        case w: DataWritingCommandExec =>
          val m = w.cmd.metrics
          m.get("numFiles").foreach(x => add(phase, "files_written", x.value.toDouble))
          m.get("numOutputBytes").foreach(x => add(phase, "write_bytes", x.value.toDouble))
          m.get("numOutputRows").foreach(x => add(phase, "rows_written", x.value.toDouble))
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Visits every node of the final (post-AQE) plan once, subqueries too. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    ListenerDrain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Runs `body` as span `phase` of operation `op`. */
  def span[T](op: String, phase: String)(body: => T): T = {
    open = phase
    sc.setJobGroup(s"graftbench/$op/$phase", phase)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      ListenerDrain(sc)
      sc.clearJobGroup()
      spans += ((op, phase, t0, t1))
      add(phase, "span_s", (t1 - t0) / 1e9)
      open = "idle"
    }
  }

  /** Counters since the last call, keyed `phase|counter`; resets them. */
  def take(): Map[String, Double] = {
    ListenerDrain(sc)
    synchronized {
      val out = counters.toMap
      counters.clear()
      out
    }
  }
}
