package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** B17 — small-file compaction (the OPTIMIZE-style table maintenance
  * every long-lived lake needs: streaming ingest and per-partition
  * appends fragment tables into thousands of KB-sized files, and at
  * 100 TB the scan's task-scheduling + footer-read overhead becomes
  * the bottleneck, not the bytes).
  *
  * Two phases, mirroring Delta/Iceberg OPTIMIZE (public semantics):
  *
  *  - [[plan]]: metadata-only — list file sizes (file-COUNT-sized
  *    driver work, never data-sized) and first-fit-decreasing bin-pack
  *    the under-sized files into rewrite groups of ~`targetBytes`.
  *    Files already ≥ `targetBytes` are left alone (rewriting them
  *    buys nothing and costs a full read+write).
  *
  *  - [[compact]]: each bin is rewritten by its OWN narrow job —
  *    read exactly that bin's files, `coalesce(1)`, write one output
  *    file. NO shuffle anywhere (coalesce over a multi-file scan is a
  *    narrow dependency); bins run as parallel jobs so the rewrite
  *    saturates the cluster while each output file stays one task's
  *    sequential write. Data volume moved = the small files only.
  *
  * The rewrite lands in a fresh directory; the swap is left to the
  * caller/catalog, and `compact` itself is pure rewrite mechanics.
  */
object Compaction {

  /** One rewrite group: the small files it merges and their bytes. */
  final case class Bin(files: Seq[String], bytes: Long)

  /** Compaction plan: `bins` to rewrite (≥2 files or 1 under-sized
    * file each… singletons only when a stray small file can't pair),
    * `skipped` files already at target size. */
  final case class Plan(bins: Seq[Bin], skipped: Seq[String])

  /** Listings a driver can hold comfortably: 20M entries ≈ 3–4 GB of
    * path strings on a default 8 GB driver. Beyond that the LISTING, not
    * the pack, is the problem — shard plan() per table partition.
    * ScaleSpec's "driver-bound structures" test checks [[pack]]'s
    * invariants on both adversarial shapes. */
  val MaxPlanFiles = 20_000_000

  /** Bin-pack (name, bytes) entries into rewrite groups of
    * ~`targetBytes` — best-fit-decreasing via a TreeMap of remaining
    * capacities: O(n log n) driver work, NOT the naive
    * first-fit-with-a-linear-scan, which is O(n·bins) and wedges the
    * driver at lake-real listings (a million stray small files whose
    * sizes don't pair is a million bins → 10¹² comparisons). BFD keeps
    * FFD's 11/9·OPT quality bound and the same determinism (ties
    * broken by insertion order). Exposed for the driver-bound test;
    * [[plan]] is listing + this. */
  def pack(files: Seq[(String, Long)], targetBytes: Long): Plan = {
    require(files.length <= MaxPlanFiles,
      s"compaction plan over ${files.length} files exceeds the $MaxPlanFiles " +
        "driver listing budget: shard plan() per table partition")
    val (big, small) = files.partition(_._2 >= targetBytes)
    val binFiles = collection.mutable.ArrayBuffer.empty[collection.mutable.ArrayBuffer[String]]
    val binBytes = collection.mutable.ArrayBuffer.empty[Long]
    // remaining capacity -> bins with exactly that much room
    val byRoom = new java.util.TreeMap[Long, java.util.ArrayDeque[Integer]]()
    def enqueue(room: Long, idx: Int): Unit =
      if (room > 0)
        byRoom.computeIfAbsent(room, _ => new java.util.ArrayDeque[Integer]()).addLast(idx)
    small.sortBy { case (f, len) => (-len, f) }.foreach { case (f, len) =>
      val e = byRoom.ceilingEntry(len) // tightest bin that still fits = best fit
      if (e == null) {
        binFiles += collection.mutable.ArrayBuffer(f)
        binBytes += len
        enqueue(targetBytes - len, binFiles.length - 1)
      } else {
        val idx = e.getValue.pollFirst()
        if (e.getValue.isEmpty) byRoom.remove(e.getKey)
        binFiles(idx) += f
        binBytes(idx) += len
        enqueue(targetBytes - binBytes(idx), idx)
      }
    }
    Plan(binFiles.indices.map(i => Bin(binFiles(i).toSeq, binBytes(i))),
      big.map(_._1))
  }

  /** List `path`'s parquet files and bin-pack the under-sized ones. */
  def plan(spark: SparkSession, path: String,
           targetBytes: Long): Plan = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(hp).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getLen))
    pack(files, targetBytes)
  }

  /** Execute `plan`: rewrite every bin into one file under `outDir`
    * (parallel narrow jobs); returns the per-bin output directories.
    * Skipped (already-compact) files are NOT copied — the caller swaps
    * them in alongside the rewritten bins. */
  def compact(spark: SparkSession, p: Plan, outDir: String): Seq[String] = {
    import scala.collection.parallel.CollectionConverters._
    p.bins.zipWithIndex.par.foreach { case (bin, i) =>
      spark.read.parquet(bin.files: _*).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/bin_$i")
    }
    p.bins.indices.map(i => s"$outDir/bin_$i")
  }
}
