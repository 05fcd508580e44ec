package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.sources.{AtomicMart, MartTxn}

/** The multi-day lake lifecycle glue: the pieces every maintenance op
  * already provides in isolation (SCD2 merge, fraud rules, B27 atomic
  * publish, E53 incremental dedup), composed into the contracts a lake
  * OPERATOR needs day over day — idempotent replay after a mid-run
  * kill, GDPR erasure that retracts whole partitions, and a standing
  * document corpus whose incremental near-dedup stays provably equal
  * to the one-shot batch over the same data. LifecycleSpec drives a
  * 5-day simulated pipeline (kill+rerun on day 3, erasure on day 4)
  * and asserts final state ≡ the crash-free lane.
  */
object LakeLifecycle {

  // ------------------------------------------------------------------
  // GDPR erasure against a B27 atomic mart
  // ------------------------------------------------------------------

  /** B19's erasure run against a PUBLISHED mart (not a query): rewrite
    * every (rule, batch_date) partition containing the subject's rows
    * without them, retracting partitions left empty — via ONE atomic
    * manifest commit, so readers see pre-erasure or post-erasure,
    * never a half-scrubbed mart. Touches only affected partitions
    * (the manifest is the partition index; untouched partitions keep
    * their old pointers — no full-table rewrite at 100 TB). Returns
    * the committed version. */
  def eraseClient(spark: SparkSession, martPath: String, clientKey: Long): Long = {
    // Bind to ONE version and declare it at commit time: if anything
    // republishes an affected partition between our read and our
    // commit, the OCC guard refuses instead of resurrecting the
    // subject's rows from a half-stale rewrite.
    val readV = AtomicMart.currentVersion(spark, martPath)
    val live = readV.map(AtomicMart.readVersion(spark, martPath, _))
      .getOrElse(AtomicMart.read(spark, martPath))
    // Partition keys holding the subject: bounded by the partition
    // count (days × rules), never by row count — safe to collect.
    val affected = live.filter(col("client_key") === clientKey)
      .select(col("rule").cast("string"), col("batch_date").cast("string"))
      .distinct().collect()
      .map(r => Seq(r.getString(0), r.getString(1)))
    if (affected.isEmpty) return AtomicMart.currentVersion(spark, martPath).getOrElse(0L)
    // Match affected partitions on the value PAIR (a concatenated key
    // would collide if a rule ever contained the separator), and keep
    // survivors null-safely: a NULL client_key row is NOT the erased
    // subject and must survive the rewrite (=!= would drop it).
    val inAffected = affected
      .map(a => col("rule").cast("string") === a(0) &&
        col("batch_date").cast("string") === a(1))
      .reduce(_ || _)
    val survivors = live
      .filter(inAffected)
      .filter(!(col("client_key") <=> lit(clientKey)))
    AtomicMart.publishReplacing(survivors, martPath, Seq("rule", "batch_date"),
      affected.toSeq, baseVersion = readV)
  }

  // ------------------------------------------------------------------
  // Standing document corpus with incremental near-dedup (E53 run as
  // a STATEFUL daily loop: persisted seen-store + band index, one B44
  // transaction per day so a killed day replays idempotently)
  // ------------------------------------------------------------------

  /** One lake root holding the two state tables, ordinary AtomicMart
    * tables partitioned by batch_day: `<root>/seen` rows are (doc_id,
    * text, ch) for every document ever ingested (the stored-sketch
    * stand-in the verify step re-reads), `<root>/index` rows are
    * (doc_id, band, bucket) — the E53 persisted band index
    * ([[graft.ops.Dedup.incrementalPairs]] probes it). A day's ingest
    * commits BOTH tables in one [[MartTxn]] transaction whose intent
    * log lives under the root, so no replayed day leaves the corpus
    * and its index at different days: a crash before the intent moves
    * neither table's version, and a crash after it is rolled forward
    * by the `MartTxn.recover` the next [[LakeLifecycle.dedupDay]] runs
    * before it reads. The lane's only reader is `dedupDay` itself; a
    * CONCURRENT outside reader could see one leg committed and the
    * other not in the middle of a commit, and must consume the pair
    * through `MartTxn.tailPair`. */
  final case class DocLake(root: String) {
    def seenPath: String = s"$root/seen"
    def indexPath: String = s"$root/index"
  }

  /** MinHash signatures need ≥3 tokens (the E53 precondition); shorter
    * docs still dedup by md5 identity, they just never band. */
  private def bandable(df: DataFrame): DataFrame =
    df.filter(size(split(col("text"), " ")) >= 3)

  private def emptySeen(spark: SparkSession): DataFrame = spark.emptyDataFrame
    .withColumn("doc_id", lit(0L)).withColumn("text", lit(""))
    .withColumn("ch", lit("")).limit(0)

  private def emptyIndex(spark: SparkSession): DataFrame = spark.emptyDataFrame
    .withColumn("doc_id", lit(0L)).withColumn("band", lit(0L))
    .withColumn("bucket", lit("")).limit(0)

  /** Duplicate ids within `batch` given the prior state: a batch doc
    * is a duplicate iff some EARLIER document (any prior day's, or a
    * smaller-id doc of the same batch) is md5-identical OR shares a
    * band bucket and passes the exact 3-gram Jaccard gate tNum/tDen —
    * the banded part is E53's core ([[graft.ops.Dedup.incrementalPairs]])
    * over `seen ∪ batch`. "Earlier = any seen doc, kept or dropped" —
    * the same relation the one-shot twin evaluates as ordered pairs,
    * which is what makes incremental ≡ one-shot provable
    * (survivor-only comparison would make the answer depend on batch
    * boundaries). */
  private def dupIds(batch: DataFrame, seen: DataFrame, seenIdx: DataFrame,
                     bands: Int, rowsPerBand: Int,
                     tNum: Int, tDen: Int): DataFrame = {
    val b = batch.select(col("doc_id"), col("text"), md5(col("text")).as("ch"))
      .localCheckpoint(true)
    // --- md5 identity vs (seen ∪ earlier-in-batch)
    val dupExactSeen = b.join(seen.select(col("ch")).distinct(), Seq("ch"), "left_semi")
    val firstInBatch = b.groupBy(col("ch")).agg(min(col("doc_id")).as("first_id"))
    val dupExactBatch = b.join(firstInBatch, Seq("ch"))
      .filter(col("doc_id") =!= col("first_id"))
    val dupExact = dupExactSeen.select(col("doc_id"))
      .unionByName(dupExactBatch.select(col("doc_id")))
    // --- banded near-dups vs (stored index ∪ earlier-in-batch)
    val bIdx = Dedup.bandIndex(bandable(b), bands, rowsPerBand).localCheckpoint(true)
    val dupNear = Dedup.incrementalPairs(bIdx, seenIdx, seen.unionByName(b), tNum, tDen)
      .filter(col("dup") === 1L).select(col("doc_id"))
    dupExact.unionByName(dupNear).distinct()
  }

  /** Ingest one day's document batch: returns the day's SURVIVORS and
    * atomically appends the WHOLE batch (survivors and duplicates) to
    * the seen store + band index under partition batch_day=`day`.
    * Replaying a killed day converges: both state tables are
    * AtomicMart tables keyed by the day, so the rerun replaces the
    * day's own partitions instead of double-appending, and the
    * returned survivors are a pure function of (prior state, batch).
    *
    * PRECONDITION (what makes incremental ≡ one-shot provable): doc_ids
    * must increase monotonically across batches — "earlier" is any-seen
    * incrementally but strictly-smaller-id within the one-shot pass, so
    * a later batch carrying a smaller id than an already-seen doc would
    * give the two lanes different survivor sets. Enforced below with a
    * max(seen)/min(batch) gate (one column-pruned agg per side). */
  def dedupDay(spark: SparkSession, lake: DocLake, batch: DataFrame, day: String,
               bands: Int = 4, rowsPerBand: Int = 2,
               tNum: Int = 7, tDen: Int = 10): DataFrame = {
    // a commit that died after its intent lands before anything reads
    MartTxn.recover(spark, lake.root)
    // a replayed day must not see its own half-written state
    def prior(path: String, empty: DataFrame): DataFrame =
      if (AtomicMart.currentVersion(spark, path).isEmpty) empty
      else AtomicMart.read(spark, path).filter(col("batch_day") =!= day)
        .select(empty.columns.map(col).toIndexedSeq: _*)
    val seen = prior(lake.seenPath, emptySeen(spark))
    val maxSeen = seen.agg(max(col("doc_id"))).head.get(0)
    if (maxSeen != null) {
      val minBatch = batch.agg(min(col("doc_id"))).head.get(0)
      if (minBatch != null) {
        require(maxSeen.asInstanceOf[Long] < minBatch.asInstanceOf[Long],
          s"dedupDay requires monotone doc_ids across batches: seen max " +
            s"$maxSeen >= batch min $minBatch (day $day)")
      }
    }
    val seenIdx = prior(lake.indexPath, emptyIndex(spark))
    val dups = dupIds(batch, seen, seenIdx, bands, rowsPerBand, tNum, tDen)
      .localCheckpoint(true)
    val b = batch.select(col("doc_id"), col("text"), md5(col("text")).as("ch"))
    val survivors = b.join(dups, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    MartTxn.publishAll(spark, lake.root, Seq(
      MartTxn.TxnBatch(lake.seenPath,
        b.withColumn("batch_day", lit(day)), Seq("batch_day")),
      MartTxn.TxnBatch(lake.indexPath,
        Dedup.bandIndex(bandable(b), bands, rowsPerBand)
          .withColumn("batch_day", lit(day)), Seq("batch_day"))))
    survivors
  }

  /** The one-shot twin: the same duplicate relation evaluated over the
    * whole corpus in one pass (ordered pairs, no state). Incremental
    * day-by-day survivors must equal this exactly — LifecycleSpec's
    * closing assertion. */
  def dedupOneShot(docs: DataFrame,
                   bands: Int = 4, rowsPerBand: Int = 2,
                   tNum: Int = 7, tDen: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    val dups = dupIds(docs, emptySeen(spark), emptyIndex(spark),
      bands, rowsPerBand, tNum, tDen)
    docs.select(col("doc_id"), col("text"))
      .join(dups, Seq("doc_id"), "left_anti")
  }
}
