package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.registry result → parquet,
  * plus oracle_sql.json, for an external DuckDB compare (tools/check.py), plus a
  * HEAD_SHA provenance stamp when run inside a git checkout.
  *
  * Usage: sbt "runMain graft.Verify <sfDir> <outDir> [q_x ...]"
  * Env: SPARK_GRAFT_VERIFY_TIMEOUT (600 s per query),
  * SPARK_GRAFT_SCALED_TWINS=1 (scaled-tier oracle twins), and the
  * [[Harness]] session knobs. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    val headBefore = headSha()
    // Hermetic learned-cell snapshot: the KMeans assignment the learned
    // queries export (and the DuckDB twins read back) lives INSIDE this
    // run's out dir, so the dump and the table its oracle probes are one
    // immutable artifact — no interleaved run can clobber it. Same
    // hermeticity for the q_mart_*/q_src_orc scratch tables: each
    // Verify run builds them under ITS OWN out dir, so parallel sweeps
    // can't clobber each other (ADVICE r11).
    val spark = Harness.session(new java.io.File(outDir).getAbsolutePath,
      new java.io.File(outDir, "_scratch").getAbsolutePath)
    new java.io.File(outDir).mkdirs()
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT", "600").toLong
    // Optional trailing args filter to named queries (dev loop); the
    // driver's two-arg invocation still dumps everything.
    val selected =
      if (only.isEmpty) SparkEntry.registry
      else SparkEntry.registry.filter(d => only.contains(d.name))
    selected.foreach { d =>
      try Harness.drive(spark, s"verify-${d.name}", timeoutSec) {
        d.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${d.name}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Tier-switched twins (ADVICE r11): scaled close dumps swap in the
    // resource-feasible rewrites; the graded small tiers keep the
    // fully independent defaults.
    val scaled = sys.env.get("SPARK_GRAFT_SCALED_TWINS").contains("1")
    val json = SparkEntry.registry
      .map { d =>
        val sql = if (scaled) d.scaledOracle.getOrElse(d.oracle) else d.oracle
        // the learned-IVF twin reads the cell table the Spark query
        // exported; the path depends on the sf dir, so patch it in here
        val patched = sql.replace("__GRAFT_CELLS__", SparkEntry.cellsExportPath(sfDir))
          .replace("__GRAFT_SEMCELLS__", SparkEntry.semCellsExportPath(sfDir))
        s"${q(d.name)}: ${q(patched)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // The scratch tables (q_mart_*/q_src_orc live marts, ORC files…)
    // are inputs the queries build and re-read DURING the dump; no
    // oracle twin reads them (twins recompute from the base tables).
    // Leaving them under outDir makes every downstream directory
    // scanner (the driver's CORRECTNESS oracle enumerates outDir)
    // choke on non-parquet artifacts — delete them once the dump is
    // complete (VERDICT r12 #4). Only a scratch dir that lives under
    // THIS run's outDir is ours to reclaim.
    sys.props.get("graft.scratch.dir").foreach { s =>
      val scratch = new java.io.File(s).getCanonicalFile
      val out = new java.io.File(outDir).getCanonicalFile
      if (scratch.getPath.startsWith(out.getPath + java.io.File.separator) && scratch.exists()) {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(): Unit
        }
        rm(scratch)
      }
    }
    // Provenance stamp (tools/sweep_check.py): written only when HEAD
    // did not move during the dump, so the dump is that commit's output.
    if (headBefore.isDefined && headSha() == headBefore)
      Files.writeString(Paths.get(s"$outDir/HEAD_SHA"), headBefore.get + "\n")
  }

  /** `git rev-parse HEAD` of the working directory, if it is a checkout. */
  private def headSha(): Option[String] = {
    import scala.sys.process._
    scala.util.Try(Seq("git", "rev-parse", "HEAD").!!(ProcessLogger(_ => ())).trim).toOption
  }
}
