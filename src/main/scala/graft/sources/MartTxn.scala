package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import java.util.UUID

/** B44 — MULTI-TABLE TRANSACTIONS across independent AtomicMart
  * tables, with a change-feed consumer that can never observe table
  * A's update without table B's: the lake's one multi-table commit.
  *
  * Every leg stays an ordinary AtomicMart table with its own version
  * history, schema, CDF and bookmarks — the reference's daily run
  * (rep_fraud.py) derives a fraud mart AND the dimension snapshot it
  * joins against as two such independently-consumed tables, and the
  * document lake's day lane (`graft.etl.LakeLifecycle.dedupDay`)
  * commits its corpus and band index the same way. The design is a
  * durable INTENT LOG with roll-forward recovery (write-ahead logging /
  * presumed-commit 2PC, textbook public material — Gray & Reuter ch.
  * 10; Delta achieves the same pairing with `txn` app-ids in its
  * commit log, which is where the manifest's `txn` stamp comes from).
  *
  * Protocol (all primitives reuse B27's create-if-absent commit):
  *
  *  1. STAGE every leg — invisible; a crash leaves only orphan
  *     snapshots (vacuumable), no version moves.
  *  2. INTENT — one atomic file under `txnRoot/_txn/pending/` naming
  *     every leg's staged entries + declared schema. The transaction
  *     exists from this instant: any crash later is ROLLED FORWARD.
  *  3. COMMIT each leg through [[AtomicMart.commit]] with the txn id
  *     stamped into the manifest. Idempotent by construction: a replay
  *     first scans retained manifests for the stamp; and if two
  *     repairers race, the loser's duplicate commit re-lands the SAME
  *     entry pointers (values-equal partitions, identical dirs), so
  *     the extra version is content-identical and its CDF is empty.
  *  4. DONE record under `txnRoot/_txn/done/` (per-leg committed
  *     versions), then the pending intent retires.
  *
  * [[recover]] rolls any pending intent forward — called by every
  * consumer entry point, so a transaction that crashed between two leg
  * commits completes the moment anyone looks. [[tailPair]] is the
  * consumer contract VERDICT r11 #5 names: it pins both heads only
  * when no intent is in flight, then widens either head so that every
  * RECORDED transaction is on the same side of both windows — a tick
  * therefore folds to a transactionally consistent pair.
  */
object MartTxn {

  /** One table's batch in a multi-table transaction. */
  final case class TxnBatch(path: String, df: DataFrame, partCols: Seq[String])

  private[sources] final case class Leg(path: String, partCols: Seq[String],
                               entries: Seq[AtomicMart.Entry],
                               ddl: String, basis: Option[String])

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Canonical spelling of a table location (scheme + authority +
    * normalized path via the location's own filesystem), so that the
    * pair barrier and head widening in [[tailPair]] compare locations
    * rather than the caller's byte-for-byte string (ADVICE r13). */
  private def qualifiedLoc(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toUri.toString
  }

  private def pendingDir(root: String) = new Path(root, "_txn/pending")
  private def doneDir(root: String) = new Path(root, "_txn/done")

  /** Publish every batch under ONE transaction: after this returns,
    * all legs are committed; if the process dies anywhere past the
    * intent write, [[recover]] completes the rest. Returns the
    * committed version per table path. */
  def publishAll(spark: SparkSession, txnRoot: String,
                 batches: Seq[TxnBatch]): Map[String, Long] = {
    require(batches.nonEmpty && batches.map(_.path).distinct.length == batches.length,
      "one batch per table path")
    val txnId = UUID.randomUUID().toString
    val legs = stageAll(spark, batches)
    writeIntent(spark, txnRoot, txnId, legs)
    commitLegsAndRetire(spark, txnRoot, txnId, legs)
  }

  /** TEST SEAM for the crash-replay spec: run the protocol but "die"
    * after committing only the first `legsToCommit` legs — the intent
    * stays pending, no done record is written. Returns the txn id so
    * the spec can assert [[recover]] rolls the rest forward. */
  private[graft] def publishAllKilled(spark: SparkSession, txnRoot: String,
                                      batches: Seq[TxnBatch],
                                      legsToCommit: Int): String = {
    val txnId = UUID.randomUUID().toString
    val legs = stageAll(spark, batches)
    writeIntent(spark, txnRoot, txnId, legs)
    legs.take(legsToCommit).foreach(l => commitLeg(spark, txnId, l))
    txnId
  }

  // ---- the four protocol steps, public to the crash-replay spec so a
  // test can die between any two of them and assert recovery ----

  private[sources] def stageAll(spark: SparkSession,
                                batches: Seq[TxnBatch]): Seq[Leg] =
    batches.map { b =>
      val base = AtomicMart.readManifest(spark, b.path)
      val ddl = AtomicMart.mergedSchemaDdlFrom(base, b.df.schema, mergeSchema = false)
      val (_, entries) = AtomicMart.stage(b.df, b.path, b.partCols)
      Leg(b.path, b.partCols, entries, ddl, base.flatMap(_.schemaDdl))
    }

  private[sources] def writeIntent(spark: SparkSession, txnRoot: String,
                                   txnId: String, legs: Seq[Leg]): Unit = {
    val f = fs(spark, txnRoot)
    val body = legs.map { l =>
      val m = AtomicMart.Manifest(0L, l.partCols, l.entries, Some(l.ddl))
      val basis = l.basis.map(b => s""","basis":${AtomicMart.jq(b)}""").getOrElse("")
      s"""{"path":${AtomicMart.jq(l.path)}$basis,"manifest":${AtomicMart.render(m)}}"""
    }.mkString(s"""{"txn":${AtomicMart.jq(txnId)},"tables":[""", ",", "]}")
    f.mkdirs(pendingDir(txnRoot))
    val tmp = new Path(txnRoot, s"_txn/.tmp-$txnId")
    val out = f.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, new Path(pendingDir(txnRoot), s"$txnId.json")))
      throw new IllegalStateException(s"intent write lost a race for txn $txnId")
  }

  private[sources] def commitLegsAndRetire(spark: SparkSession, txnRoot: String,
                                           txnId: String, legs: Seq[Leg]): Map[String, Long] = {
    val versions = legs.map(l => l.path -> commitLeg(spark, txnId, l)).toMap
    writeDone(spark, txnRoot, txnId, versions)
    fs(spark, txnRoot).delete(new Path(pendingDir(txnRoot), s"$txnId.json"), false)
    versions
  }

  /** The version of `path` whose manifest carries `txnId`, scanning
    * retained versions head-down (bounded by the vacuum horizon —
    * like Delta's `txn` dedupe, replay idempotence only reaches as
    * far as retention, the documented lake contract). */
  private def txnVersion(spark: SparkSession, path: String, txnId: String): Option[Long] = {
    val head = AtomicMart.currentVersion(spark, path).getOrElse(return None)
    Iterator.iterate(head)(_ - 1).takeWhile(_ >= 0)
      .map(v => scala.util.Try(AtomicMart.manifestAt(spark, path, v)).toOption)
      .takeWhile(_.isDefined).flatten
      .collectFirst { case m if m.txn.contains(txnId) => m.version }
  }

  private def commitLeg(spark: SparkSession, txnId: String, leg: Leg): Long =
    txnVersion(spark, leg.path, txnId).getOrElse {
      try AtomicMart.commit(spark, leg.path, leg.entries, leg.partCols,
        schemaDdl = Some(leg.ddl), schemaBasis = Some(leg.basis), txn = Some(txnId))
      catch {
        case e: AtomicMart.PartitionConflictException =>
          // a racing repairer may have landed OUR txn between the scan
          // and the claim — that is success; anything else is genuine
          txnVersion(spark, leg.path, txnId).getOrElse(throw e)
      }
    }

  private def writeDone(spark: SparkSession, txnRoot: String, txnId: String,
                        versions: Map[String, Long]): Unit = {
    val f = fs(spark, txnRoot)
    f.mkdirs(doneDir(txnRoot))
    val tables = versions.toSeq.sortBy(_._1)
      .map { case (p, v) => s"[${AtomicMart.jq(p)},$v]" }.mkString("[", ",", "]")
    val tmp = new Path(txnRoot, s"_txn/.done-tmp-$txnId")
    val out = f.create(tmp, false)
    try out.write(s"""{"txn":${AtomicMart.jq(txnId)},"tables":$tables}"""
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // two racing repairers: first done-record wins, loser retires its tmp
    if (!f.rename(tmp, new Path(doneDir(txnRoot), s"$txnId.json")))
      f.delete(tmp, false)
  }

  private def parseLegs(body: String): (String, Seq[Leg]) = {
    val root = new AtomicMart.JReader(body).value()
      .asInstanceOf[AtomicMart.JObj].fields
    val txnId = root("txn").asInstanceOf[AtomicMart.JStr].s
    val legs = root("tables").asInstanceOf[AtomicMart.JArr].vs.map { t =>
      val o = t.asInstanceOf[AtomicMart.JObj].fields
      val mo = o("manifest").asInstanceOf[AtomicMart.JObj]
      // re-parse through the manifest reader for exact entry semantics
      val m = AtomicMart.parse(renderJVal(mo), 0L)
      Leg(o("path").asInstanceOf[AtomicMart.JStr].s, m.partCols, m.entries,
        m.schemaDdl.getOrElse(""),
        o.get("basis").map(_.asInstanceOf[AtomicMart.JStr].s))
    }
    (txnId, legs.toSeq)
  }

  // JVal → JSON text (the reader keeps no source offsets, so nested
  // objects are re-rendered to feed AtomicMart.parse)
  private def renderJVal(v: AtomicMart.JVal): String = v match {
    case AtomicMart.JStr(s) => AtomicMart.jq(s)
    case AtomicMart.JNum(n) => n.toString
    case AtomicMart.JArr(vs) => vs.map(renderJVal).mkString("[", ",", "]")
    case AtomicMart.JObj(fields) => fields.toSeq.sortBy(_._1)
      .map { case (k, fv) => s"${AtomicMart.jq(k)}:${renderJVal(fv)}" }
      .mkString("{", ",", "}")
  }

  /** Pending intents (txn ids) under the root. */
  def pending(spark: SparkSession, txnRoot: String): Seq[String] = {
    val f = fs(spark, txnRoot)
    val dir = pendingDir(txnRoot)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).sorted
  }

  /** What one recovery pass did: intents rolled forward vs intents
    * that REFUSED (poison-transaction posture) with the refusal. */
  final case class Recovery(recovered: Seq[String], poisoned: Seq[(String, String)])

  /** ROLL FORWARD every pending transaction: re-commit each leg
    * (idempotently — legs that already landed are skipped by the txn
    * stamp), write the done record, retire the intent. A transaction
    * whose done record already exists (crash between done-write and
    * intent-delete) just retires. Safe to call concurrently with
    * writers and other repairers.
    *
    * A PartitionConflictException on an intent means an unrelated
    * schema evolution landed between the crash and the replay, so that
    * intent's staged legs were derived under a schema that no longer
    * holds; completing them blindly would revert the evolution. That
    * intent stays pending and loud until an operator re-derives or
    * abandons it (the poison-transaction posture 2PC coordinators
    * take) — but the refusal is PER INTENT (ADVICE r12): it is caught,
    * reported in [[Recovery.poisoned]] and on stderr, and the pass
    * CONTINUES, so one poisoned transaction never blocks roll-forward
    * of the unrelated transactions sorted after it. */
  def recoverDetailed(spark: SparkSession, txnRoot: String): Recovery = {
    val f = fs(spark, txnRoot)
    val recovered = Seq.newBuilder[String]
    val poisoned = Seq.newBuilder[(String, String)]
    pending(spark, txnRoot).foreach { txnId =>
      val donePath = new Path(doneDir(txnRoot), s"$txnId.json")
      try {
        if (f.exists(donePath)) {
          f.delete(new Path(pendingDir(txnRoot), s"$txnId.json"), false)
        } else if (f.exists(new Path(txnRoot, s"_txn/abandoned/$txnId.json"))) {
          // a crashed [[abandon]] left the intent pending AND
          // tombstoned — finish the retirement, never replay it (the
          // done-record branch above wins if a racing repairer
          // completed the txn before the abandon tombstone landed)
          f.delete(new Path(pendingDir(txnRoot), s"$txnId.json"), false)
        } else {
          val in = f.open(new Path(pendingDir(txnRoot), s"$txnId.json"))
          val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
          val (id, legs) = parseLegs(body)
          commitLegsAndRetire(spark, txnRoot, id, legs)
        }
        recovered += txnId
      } catch {
        // a concurrent repairer retired this intent between our listing
        // and the open — already recovered, not an error
        case _: java.io.FileNotFoundException => ()
        case e: AtomicMart.PartitionConflictException =>
          System.err.println(
            s"[mart-txn] intent $txnId at $txnRoot is POISONED (schema moved " +
              s"under it; staying pending for operator re-derive/abandon): ${e.getMessage}")
          poisoned += txnId -> e.getMessage
      }
    }
    Recovery(recovered.result(), poisoned.result())
  }

  /** [[recoverDetailed]] keeping only the rolled-forward txn ids. */
  def recover(spark: SparkSession, txnRoot: String): Seq[String] =
    recoverDetailed(spark, txnRoot).recovered

  /** OPERATOR RESOLUTION for a poisoned intent (the other half of the
    * posture [[recoverDetailed]] documents): retire the pending intent
    * WITHOUT committing its remaining legs. The already-committed legs
    * stay committed — abandoning is "this transaction will never
    * complete; stop waiting for it", not a rollback (staged snapshots
    * are invisible and immutable, so the only states are committed and
    * never-was; the uncommitted legs' staged files fall to vacuum's
    * grace-gated orphan sweep). A tombstone under `_txn/abandoned/`
    * records the decision durably, and the done record is NOT written
    * — consumers' widening loops never see an abandoned txn as a
    * version pair to straddle-check. Refuses on an intent that is not
    * pending (already completed or already abandoned). */
  def abandon(spark: SparkSession, txnRoot: String, txnId: String): Unit = {
    val f = fs(spark, txnRoot)
    val pendingPath = new Path(pendingDir(txnRoot), s"$txnId.json")
    require(f.exists(pendingPath),
      s"txn $txnId at $txnRoot is not pending (completed, abandoned, or never existed)")
    val in = f.open(pendingPath)
    val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    val dir = new Path(txnRoot, "_txn/abandoned")
    f.mkdirs(dir)
    val tmp = new Path(txnRoot, s"_txn/.abandon-tmp-$txnId")
    val out = f.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    // tombstone first, then retire: a crash between the two leaves the
    // intent pending AND tombstoned — the next abandon call (or a
    // repairer honoring tombstones) just finishes the retirement
    if (!f.rename(tmp, new Path(dir, s"$txnId.json"))) f.delete(tmp, false)
    f.delete(pendingPath, false)
  }

  /** The table paths each pending intent's legs touch (for consumers
    * that must only wait on transactions involving THEIR tables). */
  private def pendingLegPaths(spark: SparkSession, txnRoot: String): Seq[(String, Set[String])] = {
    val f = fs(spark, txnRoot)
    pending(spark, txnRoot).flatMap { txnId =>
      try {
        val in = f.open(new Path(pendingDir(txnRoot), s"$txnId.json"))
        val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        Some(txnId -> parseLegs(body)._2.map(_.path).toSet)
      } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** Every completed transaction's per-table committed versions. */
  def doneRecords(spark: SparkSession, txnRoot: String): Seq[Map[String, Long]] = {
    val f = fs(spark, txnRoot)
    val dir = doneDir(txnRoot)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".json"))
      .sortBy(_.getPath.getName).map { s =>
        val in = f.open(s.getPath)
        val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        val root = new AtomicMart.JReader(body).value()
          .asInstanceOf[AtomicMart.JObj].fields
        root("tables").asInstanceOf[AtomicMart.JArr].vs.map { pair =>
          val ps = pair.asInstanceOf[AtomicMart.JArr].vs
          ps(0).asInstanceOf[AtomicMart.JStr].s -> ps(1).asInstanceOf[AtomicMart.JNum].n
        }.toMap
      }
  }

  /** A consistent pair of change-feed tails (the VERDICT r11 #5
    * consumer contract): no tick ever delivers one table's
    * transactional update without its partner's.
    *
    *  1. roll forward anything pending, then pin both heads;
    *  2. retry while any intent is in flight (an intent precedes its
    *     first leg commit, so heads pinned under "no pending" cannot
    *     straddle a half-committed transaction — a txn starting after
    *     the pin commits entirely ABOVE both heads);
    *  3. widen either head so every RECORDED transaction lands on the
    *     same side of both windows (covers a txn that completed
    *     between our pins — its commits exist, recover ran).
    *
    * Commit the bookmarks only after processing both tails
    * ([[MartCdf.tailCommit]]) — at-least-once delivery composing to
    * exactly-once with an idempotent sink, same as the single-table
    * B41 contract. */
  def tailPair(spark: SparkSession, txnRoot: String,
               pathA: String, bookmarkA: String,
               pathB: String, bookmarkB: String,
               keyColsA: Seq[String] = Nil,
               keyColsB: Seq[String] = Nil): (MartCdf.Tail, MartCdf.Tail) = {
    var tries = 0
    // ADVICE r13: the pair barrier compares LOCATIONS, not strings — a
    // consumer spelling the same table as `file:///x`, `/x/` or a
    // relative path must still be blocked by (and widened against) an
    // intent that recorded it as `/x`. Both sides are qualified through
    // the Hadoop filesystem before any comparison.
    val qA = qualifiedLoc(spark, pathA)
    val qB = qualifiedLoc(spark, pathB)
    while (true) {
      val pass = recoverDetailed(spark, txnRoot)
      var hA = AtomicMart.currentVersion(spark, pathA).getOrElse(
        throw new IllegalArgumentException(s"no committed version at $pathA"))
      var hB = AtomicMart.currentVersion(spark, pathB).getOrElse(
        throw new IllegalArgumentException(s"no committed version at $pathB"))
      // Only intents whose legs TOUCH this pair can half-commit it;
      // pending transactions on other tables under the same txn root
      // (poisoned or live) must not block this consumer (ADVICE r12).
      val blocking = pendingLegPaths(spark, txnRoot)
        .map { case (id, ps) => (id, ps.map(qualifiedLoc(spark, _))) }
        .filter { case (_, ps) => ps(qA) || ps(qB) }
      if (blocking.isEmpty) {
        val recs = doneRecords(spark, txnRoot)
          .map(_.map { case (p, v) => qualifiedLoc(spark, p) -> v })
        var widened = true
        while (widened) {
          widened = false
          recs.foreach { r =>
            (r.get(qA), r.get(qB)) match {
              case (Some(va), Some(vb)) =>
                if (va <= hA && vb > hB) { hB = vb; widened = true }
                if (vb <= hB && va > hA) { hA = va; widened = true }
              case _ => ()
            }
          }
        }
        return (MartCdf.tailStartAt(spark, pathA, bookmarkA, hA, keyColsA),
          MartCdf.tailStartAt(spark, pathB, bookmarkB, hB, keyColsB))
      }
      // A pair-touching intent that REFUSED this pass will never clear
      // by retrying — some of its legs may already be visible below
      // the heads, so pair consistency is genuinely unprovable until
      // an operator resolves it. Fail fast and name it rather than
      // spinning the retry budget (the poison posture scoped to the
      // transactions that actually involve this pair).
      val poisonedIds = pass.poisoned.map(_._1).toSet
      val blockedByPoison = blocking.collect { case (id, _) if poisonedIds(id) => id }
      require(blockedByPoison.size < blocking.size,
        s"tailPair at $txnRoot: poisoned intent(s) ${blockedByPoison.mkString(", ")} " +
          s"touch $pathA / $pathB — their legs may be half-visible; re-derive or " +
          "abandon them before consuming this pair")
      tries += 1
      require(tries < 10,
        s"tailPair at $txnRoot: intents stayed in flight across $tries recovery " +
          "passes — sustained concurrent transaction traffic; retry later")
    }
    throw new IllegalStateException("unreachable")
  }
}
