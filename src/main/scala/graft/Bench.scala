package graft

import graft.fraud.FraudRules
import graft.ops.FragmentCache

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Queries are driven through the `noop` datasource sink: every output
  * row is fully materialized (all columns evaluated, final sort
  * executed) without parquet-encode cost. A `count()` drive would let
  * Catalyst prune projections and final sorts, under-measuring map-only
  * queries — the noop write measures the plan users actually run.
  *
  * Errors are errors: a failing or timed-out query is recorded under
  * "errors" in the JSON and the process exits non-zero. No fake timings.
  *
  * Usage: sbt "runMain graft.Bench [q_x ...]" (trailing names: a subset).
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_PASSES (3),
  * SPARK_GRAFT_BENCH_TIMEOUT (240 s per drive), SPARK_GRAFT_BENCH_OUT
  * (bench_out.json), and the [[Harness]] session knobs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (cells, scratch) = Harness.pidDirs("bench")
    val spark = Harness.session(cells, scratch)
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMEOUT", "240").toLong
    def drive(name: String): Unit =
      Harness.drive(spark, s"bench-$name", timeoutSec) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }

    // JVM/codegen warm-up on a small scan so the first measured query
    // doesn't pay JIT + classloading. Best-effort: a warm-up failure
    // surfaces again (and gets recorded) in the measured passes.
    try drive("q1_agg") catch { case _: Throwable => }

    // min of three INTERLEAVED passes: the box is shared and noise is
    // bursty (up to 3x for ~30s windows — SURVEY §6). Back-to-back
    // repeats of one query both land inside the same burst; spreading a
    // query's runs across full passes lets its min come from whichever
    // pass was quiet.
    // Optional trailing args filter to a subset (dev loop); the driver
    // invokes with no args and benches everything.
    val names =
      if (args.nonEmpty) args.toSeq.sorted.filter(SparkEntry.queries.contains)
      else SparkEntry.registry.map(_.name).sorted
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Pass count knob: 3 interleaved passes by default; large-SF runs
    // can drop to 1-2 to bound wall-clock.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    for (_ <- 1 to passes) {
      // every pass cold: no result cache of an earlier pass is timed
      FragmentCache.clear()
      FraudRules.unpersistAll()
      for (name <- names if !errors.contains(name)) {
        val t0 = System.nanoTime()
        try {
          drive(name)
          val t = (System.nanoTime() - t0) / 1e9
          if (t < best.getOrElse(name, Double.MaxValue)) best(name) = t
        } catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString
          best.remove(name)
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        // ContextCleaner reaps dead checkpoint/broadcast/shuffle state
        // only after the driver GC collects the owning objects; with a
        // 24 GB heap a full GC may never happen on its own, so a long
        // sweep accumulates hundreds of dead blocks and later queries
        // pay the memory pressure (outside the timed region here).
        System.gc()
      }
    }
    val results = names.flatMap(n => best.get(n).map(n -> _))
    FraudRules.unpersistAll()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    // Stdout tail-capture truncated BENCH_r03.json (lost the first 9
    // queries + total); persist the full line to a file as the durable
    // artifact regardless of how much of stdout survives.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
