package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Plan-audit main: for each named query, one cold and two warm drives,
  * each split into DataFrame construction / planning (`executedPlan`) /
  * execution of that same planned QueryExecution. Prints one line per
  * query with the three drives' phase seconds and the shape counters
  * the plan audits in docs/PLANS.md track, read from the last drive's
  * FINAL adaptive plan, and writes that plan (`explain("formatted")`)
  * to `<outDir>/<query>_<suffix>.txt` — the before/after evidence files
  * the audits commit. An existing dump is never overwritten: if any
  * target file exists the run exits non-zero before doing any work.
  *
  * Usage: sbt "runMain graft.Plans <sfDir> <outDir> <suffix> q_x [q_y ...]"
  * Env: SPARK_GRAFT_BENCH_TIMEOUT (240 s per drive) and the [[Harness]]
  * session knobs.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: graft.Plans <sfDir> <outDir> <suffix> q_x [q_y ...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args.drop(3).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    val existing = names.map(n => Paths.get(outDir, s"${n}_$suffix.txt")).filter(Files.exists(_))
    if (unknown.nonEmpty || existing.nonEmpty) {
      unknown.foreach(n => System.err.println(s"[plans] unknown query $n"))
      existing.foreach(p => System.err.println(s"[plans] refusing to overwrite $p"))
      sys.exit(2)
    }
    Files.createDirectories(Paths.get(outDir))
    val (cells, scratch) = Harness.pidDirs("plans")
    val spark = Harness.session(cells, scratch)
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMEOUT", "240").toLong

    // construct / plan / exec seconds of one drive, and its
    // QueryExecution. The exec phase runs the plan just timed under its
    // own SQL execution: a noop write would wrap a fresh QueryExecution,
    // planning the query a second time and leaving this plan's AQE
    // stages un-finalized.
    def drive(name: String): (Seq[Double], QueryExecution) =
      Harness.drive(spark, s"plans-$name", timeoutSec) {
        val t0 = System.nanoTime()
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        val t1 = System.nanoTime()
        qe.executedPlan
        val t2 = System.nanoTime()
        SQLExecution.withNewExecutionId(qe, Some("noop"))(qe.toRdd.foreach(_ => ()))
        val t3 = System.nanoTime()
        (Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9), qe)
      }

    var failed = false
    names.foreach { name =>
      try {
        val drives = Seq.fill(3)(drive(name))
        val qe = drives.last._2
        val counts = shapeCounts(qe.executedPlan)
        val out = Paths.get(outDir, s"${name}_$suffix.txt")
        Files.write(out, qe.explainString(ExplainMode.fromString("formatted")).getBytes("UTF-8"),
          StandardOpenOption.CREATE_NEW)
        val phases = drives.map(_._1.map(s => f"$s%.3f").mkString("/"))
        println(s"PLANS $name construct/plan/exec cold=${phases(0)} " +
          s"warm=${phases(1)} warm=${phases(2)} " +
          counts.map { case (k, v) => s"$k=$v" }.mkString(" ") + s" -> $out")
      } catch { case e: Throwable =>
        failed = true
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }

  /** Node counts over the final adaptive plan, query stages and
    * subqueries included. */
  def shapeCounts(plan: SparkPlan): Seq[(String, Int)] = {
    val keys = Seq("exchanges", "bhj", "smj", "shj", "cartesian", "skew", "aqe_reads")
    val n = collection.mutable.Map(keys.map(_ -> 0): _*)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec => n("exchanges") += 1
        case _: BroadcastHashJoinExec => n("bhj") += 1
        case _: SortMergeJoinExec => n("smj") += 1
        case _: ShuffledHashJoinExec => n("shj") += 1
        case _: CartesianProductExec => n("cartesian") += 1
        case _: AQEShuffleReadExec => n("aqe_reads") += 1
        case _ =>
      }
      // AQE's marker on a join whose skewed partitions it split
      if (p.nodeName.contains("skew=true")) n("skew") += 1
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    keys.map(k => k -> n(k))
  }
}
