package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.sources.{AtomicCatalog, AtomicMart}

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
  // a STATEFUL daily loop: persisted seen-store + band index, both
  // B27-atomic so a killed day replays idempotently)
  // ------------------------------------------------------------------

  /** One AtomicCatalog root holding the two state tables, both
    * partitioned by batch_day: `seen` rows are (doc_id, text, ch) for
    * every document ever ingested (the stored-sketch stand-in the
    * verify step re-reads), `index` rows are (doc_id, band, bucket) —
    * the E53 persisted band index. A day's ingest commits BOTH tables
    * in ONE catalog rename (B28), so no crash can leave the corpus and
    * its index at different days. */
  final case class DocLake(root: String)

  /** MinHash signatures need ≥3 tokens (the E53 precondition); shorter
    * docs still dedup by md5 identity, they just never band. */
  private def bandable(df: DataFrame): DataFrame =
    df.filter(size(split(col("text"), " ")) >= 3)

  /** Duplicate ids within `batch` given the prior state: a batch doc
    * is a duplicate iff some EARLIER document (any prior day's, or a
    * smaller-id doc of the same batch) is md5-identical OR shares a
    * band bucket and passes the exact 3-gram Jaccard gate tNum/tDen.
    * "Earlier = any seen doc, kept or dropped" — the same relation the
    * one-shot twin evaluates as ordered pairs, which is what makes
    * incremental ≡ one-shot provable (survivor-only comparison would
    * make the answer depend on batch boundaries). */
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
    // --- banded near-dup candidates vs (stored index ∪ earlier-in-batch)
    val bIdx = Dedup.bandIndex(bandable(b), bands, rowsPerBand).localCheckpoint(true)
    val candStored = bIdx
      .join(seenIdx.select(col("band"), col("bucket"), col("doc_id").as("other_id")),
        Seq("band", "bucket"))
      .select(col("doc_id"), col("other_id"))
    val candBatch = bIdx
      .join(bIdx.select(col("band"), col("bucket"), col("doc_id").as("other_id")),
        Seq("band", "bucket"))
      .filter(col("other_id") < col("doc_id"))
      .select(col("doc_id"), col("other_id"))
    val cand = candStored.unionByName(candBatch).distinct()
    // --- exact Jaccard verify on candidates only, texts re-read from
    //     the seen store (the stored-sketch fetch) or the batch itself
    val texts = seen.select(col("doc_id"), col("text"), col("ch"))
      .unionByName(b).localCheckpoint(true)
    val ids = cand.select(col("doc_id"))
      .unionByName(cand.select(col("other_id").as("doc_id"))).distinct()
    val involved = texts.join(ids, Seq("doc_id"), "left_semi")
    val grams = involved
      .select(col("doc_id"),
        explode(graft.functions.TextNative.ngramsL(col("text"), 3)).as("g"))
      .distinct().localCheckpoint(true)
    val sz = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val withCh = cand
      .join(involved.select(col("doc_id"), col("ch").as("ch1")), Seq("doc_id"))
      .join(involved.select(col("doc_id").as("other_id"), col("ch").as("ch2")),
        Seq("other_id"))
    val needInter = withCh.filter(col("ch1") =!= col("ch2"))
      .select(col("doc_id"), col("other_id"))
    val inter = needInter
      .join(grams, Seq("doc_id"))
      .join(grams.select(col("doc_id").as("other_id"), col("g")), Seq("other_id", "g"))
      .groupBy(col("doc_id"), col("other_id")).agg(count(lit(1)).as("n_inter"))
    val dupNear = withCh
      .join(inter, Seq("doc_id", "other_id"), "left")
      .join(sz.select(col("doc_id"), col("n_sh").as("n1")), Seq("doc_id"))
      .join(sz.select(col("doc_id").as("other_id"), col("n_sh").as("n2")), Seq("other_id"))
      .withColumn("ni",
        when(col("ch1") === col("ch2"), col("n1"))
          .otherwise(coalesce(col("n_inter"), lit(0L))))
      // Jaccard = ni/(n1+n2-ni) >= tNum/tDen, cross-multiplied exact
      .filter(col("ni") * tDen >= (col("n1") + col("n2") - col("ni")) * tNum)
      .select(col("doc_id"))
    dupExact.unionByName(dupNear).distinct()
  }

  /** Ingest one day's document batch: returns the day's SURVIVORS and
    * atomically appends the WHOLE batch (survivors and duplicates) to
    * the seen store + band index under partition batch_day=`day`.
    * Replaying a killed day converges: both state tables are
    * AtomicMart-published keyed by the day, so the rerun replaces the
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
    val seenAll = AtomicCatalog.read(spark, lake.root, "seen")
    val seen =
      if (seenAll.columns.nonEmpty)
        // a replayed day must not see its own half-written state
        seenAll.filter(col("batch_day") =!= day)
          .select(col("doc_id"), col("text"), col("ch"))
      else spark.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("text", lit(""))
        .withColumn("ch", lit("")).limit(0)
    if (seenAll.columns.nonEmpty) {
      val maxSeen = seenAll.filter(col("batch_day") =!= day)
        .agg(max(col("doc_id"))).head.get(0)
      val minBatch = batch.agg(min(col("doc_id"))).head.get(0)
      if (maxSeen != null && minBatch != null) {
        require(maxSeen.asInstanceOf[Long] < minBatch.asInstanceOf[Long],
          s"dedupDay requires monotone doc_ids across batches: seen max " +
            s"$maxSeen >= batch min $minBatch (day $day)")
      }
    }
    val idxAll = AtomicCatalog.read(spark, lake.root, "index")
    val seenIdx =
      if (idxAll.columns.nonEmpty)
        idxAll.filter(col("batch_day") =!= day)
          .select(col("doc_id"), col("band"), col("bucket"))
      else spark.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("band", lit(0L))
        .withColumn("bucket", lit("")).limit(0)
    val dups = dupIds(batch, seen, seenIdx, bands, rowsPerBand, tNum, tDen)
      .localCheckpoint(true)
    val b = batch.select(col("doc_id"), col("text"), md5(col("text")).as("ch"))
    val survivors = b.join(dups, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    // corpus + index land in ONE cross-table commit (B28): a kill
    // anywhere before the catalog rename leaves yesterday's pair; a
    // kill after it leaves today's pair — never a mixed-day lake
    AtomicCatalog.publish(spark, lake.root, Seq(
      AtomicCatalog.TableBatch("seen",
        b.withColumn("batch_day", lit(day)), Seq("batch_day")),
      AtomicCatalog.TableBatch("index",
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
    val emptySeen = spark.emptyDataFrame
      .withColumn("doc_id", lit(0L)).withColumn("text", lit(""))
      .withColumn("ch", lit("")).limit(0)
    val emptyIdx = spark.emptyDataFrame
      .withColumn("doc_id", lit(0L)).withColumn("band", lit(0L))
      .withColumn("bucket", lit("")).limit(0)
    val dups = dupIds(docs, emptySeen, emptyIdx, bands, rowsPerBand, tNum, tDen)
    docs.select(col("doc_id"), col("text"))
      .join(dups, Seq("doc_id"), "left_anti")
  }
}
