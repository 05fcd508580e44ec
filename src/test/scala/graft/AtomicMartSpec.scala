package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{AtomicMart, MartCdf, MartDml}

/** B27 — the crash-atomic publish contract, deterministically:
  *
  *  1. snapshot isolation: a reader that resolved version N sees
  *     version N in full even if a republish commits N+1 before the
  *     reader collects (the judged "all-old or all-new, never a mix");
  *  2. crash between stage and commit leaves the old version intact;
  *  3. republish converges (idempotent retry), untouched partitions
  *     keep their old pointers;
  *  4. vacuum removes orphaned/replaced snapshots without disturbing
  *     the live version.
  */
class AtomicMartSpec extends SparkSpec {
  import spark.implicits._

  private def mart(day: String, rows: (String, Long, Long)*) =
    rows.toSeq.toDF("rule", "tx_id", "amount")
      .withColumn("batch_date", lit(day))

  test("publish + read round-trips one day across two rules") {
    val path = Files.createTempDirectory("graft_amart").toString
    val day1 = mart("2021-03-01",
      ("passport", 1L, 100L), ("passport", 2L, 200L), ("city", 3L, 300L))
    val v = AtomicMart.publishDay(day1, path)
    assert(v == 0L)
    val back = AtomicMart.read(spark, path)
    assert(back.count() == 3)
    assert(back.select("rule", "tx_id", "amount").as[(String, Long, Long)]
      .collect().toSet == Set(("passport", 1L, 100L), ("passport", 2L, 200L), ("city", 3L, 300L)))
    // partition columns restored from directory names
    assert(back.columns.toSet == Set("rule", "tx_id", "amount", "batch_date"))
  }

  test("snapshot isolation: reader bound to v0 survives a concurrent republish of v1") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path)
    // Reader A binds NOW (resolves the v0 manifest at call time)...
    val readerA = AtomicMart.read(spark, path)
    // ...then the day is republished with corrected amounts (v1).
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 999L)), path)
    // A still sees all-old; a fresh reader sees all-new. Never a mix.
    assert(readerA.select("amount").as[Long].collect().toSeq == Seq(100L))
    assert(AtomicMart.read(spark, path).select("amount").as[Long].collect().toSeq == Seq(999L))
  }

  test("crash between stage and commit leaves the old version intact") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path)
    // Simulated crash: the day-2 publish stages its snapshot fully,
    // then dies before the manifest rename.
    AtomicMart.stage(mart("2021-03-02", ("passport", 9L, 900L)), path,
      Seq("rule", "batch_date"))
    assert(AtomicMart.currentVersion(spark, path).contains(0L))
    val seen = AtomicMart.read(spark, path)
    assert(seen.count() == 1)
    assert(seen.select("tx_id").as[Long].collect().toSeq == Seq(1L))
    // The retry re-stages and commits; the orphan snapshot stays
    // invisible and is reclaimed by vacuum.
    AtomicMart.publishDay(mart("2021-03-02", ("passport", 9L, 900L)), path)
    assert(AtomicMart.read(spark, path).count() == 2)
    val removed = AtomicMart.vacuum(spark, path, graceMs = 0L)
    // exactly the crashed stage's snapshot (plus the aged-out manifest)
    assert(removed.count(_.contains("/data/")) == 1)
    assert(AtomicMart.read(spark, path).count() == 2)
  }

  test("B31 time travel: every retained version reads back exactly; vacuum sets the horizon") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path)   // v0
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 999L)), path)   // v1 (replaces)
    AtomicMart.publishDay(mart("2021-03-02", ("passport", 2L, 200L)), path)   // v2 (adds a day)
    def amounts(v: Long) = AtomicMart.readVersion(spark, path, v)
      .select("amount").as[Long].collect().toSeq.sorted
    assert(amounts(0) == Seq(100L))
    assert(amounts(1) == Seq(999L))
    assert(amounts(2) == Seq(200L, 999L))
    assert(intercept[IllegalArgumentException](
      AtomicMart.readVersion(spark, path, 9L)).getMessage.contains("no committed version"))
    // vacuum keeps only snapshots the LATEST manifest references: v0's
    // replaced snapshot goes, v0 stops being readable, v2 is untouched
    AtomicMart.vacuum(spark, path, graceMs = 0L)
    assert(amounts(2) == Seq(200L, 999L))
    assert(intercept[Exception](amounts(0)).getMessage != null)
  }

  test("empty publish: a zero-row batch commits a no-op version, retracts nothing") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path)
    // a day with no fraud hits still publishes (the pipeline doesn't
    // special-case empty marts): new version, zero partitions staged,
    // every prior partition kept
    val v = AtomicMart.publishDay(
      mart("2021-03-02").limit(0), path)
    assert(v == 1L)
    assert(AtomicMart.read(spark, path).count() == 1)
    // and publishReplacing with an empty frame IS the retraction path
    AtomicMart.publishReplacing(
      mart("2021-03-01", ("passport", 1L, 100L)).limit(0), path,
      Seq("rule", "batch_date"), Seq(Seq("passport", "2021-03-01")))
    assert(AtomicMart.read(spark, path).count() == 0)
  }

  test("B32 shallow clone: zero-copy v0, then both sides evolve independently") {
    val src = Files.createTempDirectory("graft_amart").toString
    val dst = Files.createTempDirectory("graft_amart").toString + "/clone"
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), src)
    AtomicMart.shallowClone(spark, src, dst)
    assert(AtomicMart.read(spark, dst).select("amount").as[Long].collect().toSeq == Seq(100L))
    // no data directories were copied: the clone root holds no snapshots
    assert(!Files.exists(java.nio.file.Paths.get(dst, "data")))
    // diverge: a publish to the clone leaves the source untouched and
    // vice versa
    AtomicMart.publishDay(mart("2021-03-02", ("passport", 2L, 200L)), dst)
    AtomicMart.publishDay(mart("2021-03-03", ("passport", 3L, 300L)), src)
    assert(AtomicMart.read(spark, dst).select("amount").as[Long].collect().toSet
      == Set(100L, 200L))
    assert(AtomicMart.read(spark, src).select("amount").as[Long].collect().toSet
      == Set(100L, 300L))
    // the clone's vacuum reclaims nothing borrowed: source still reads
    AtomicMart.vacuum(spark, dst, graceMs = 0L)
    assert(AtomicMart.read(spark, src).count() == 2)
    assert(AtomicMart.read(spark, dst).count() == 2)
  }

  test("OCC: two concurrent publishers to disjoint partitions both land, versions linearize") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path) // v0
    // Two writers race: both stage, both try to commit v1. The loser
    // must REBASE onto the winner and land as v2 — neither batch lost.
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    def racer(day: String, txId: Long) = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        val (_, entries) = AtomicMart.stage(
          mart(day, ("passport", txId, txId * 10)), path, Seq("rule", "batch_date"))
        gate.await(10, TimeUnit.SECONDS) // both staged; commit simultaneously
        AtomicMart.commit(spark, path, entries, Seq("rule", "batch_date"))
      }
    })
    val (fa, fb) = (racer("2021-03-02", 2L), racer("2021-03-03", 3L))
    gate.countDown()
    val (va, vb) = (fa.get(60, TimeUnit.SECONDS), fb.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(Set(va, vb) == Set(1L, 2L), s"versions must linearize, got $va/$vb")
    assert(AtomicMart.currentVersion(spark, path).contains(2L))
    // no entry lost: the head manifest carries all three days
    assert(AtomicMart.read(spark, path).select("tx_id").as[Long].collect().toSet
      == Set(1L, 2L, 3L))
    // and history is coherent: v1 = base + the v1 winner only
    assert(AtomicMart.readVersion(spark, path, 1L).count() == 2)
  }

  test("OCC: same-partition concurrent replace is a loud conflict, not a silent winner") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path) // v0
    // Writer A stages a replacement of (passport, 03-01)...
    val (_, entriesA) = AtomicMart.stage(
      mart("2021-03-01", ("passport", 1L, 111L)), path, Seq("rule", "batch_date"))
    // ...writer B replaces the SAME partition and commits first (v1).
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 222L)), path)
    // A's commit declares the snapshot it read (v0), sees its partition
    // changed since, refuses.
    val e = intercept[AtomicMart.PartitionConflictException] {
      AtomicMart.commit(spark, path, entriesA, Seq("rule", "batch_date"),
        baseVersion = Some(0L))
    }
    assert(e.getMessage.contains("passport"))
    // B's publish is intact
    assert(AtomicMart.read(spark, path).select("amount").as[Long].collect().toSeq
      == Seq(222L))
  }

  test("vacuum retention window: v(n-1) readable, v(n-2) loudly gone, head untouched") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path) // v0
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 200L)), path) // v1
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 300L)), path) // v2
    AtomicMart.vacuum(spark, path, retainLast = 2, graceMs = 0L)
    def amount(v: Long) = AtomicMart.readVersion(spark, path, v)
      .select("amount").as[Long].collect().toSeq
    assert(amount(2L) == Seq(300L)) // head untouched
    assert(amount(1L) == Seq(200L)) // v(n-1) inside the window: still whole
    val e = intercept[IllegalArgumentException](amount(0L))
    assert(e.getMessage.contains("no committed version")) // v(n-2): loud, not corrupt
  }

  test("JSON-hostile partition values round-trip through the manifest") {
    val path = Files.createTempDirectory("graft_amart").toString
    // '}', '],"dir"' and quotes/backslashes are exactly what broke the
    // old regex splitter; values are user data so all must survive
    val hostile = Seq("""a}b"c\d""", """x],"dir"y""", "tab\there")
    val rows = hostile.zipWithIndex.map { case (r, i) => (r, i.toLong, 100L * i) }
    AtomicMart.publishDay(mart("2021-03-01", rows: _*), path)
    val back = AtomicMart.read(spark, path)
    assert(back.select("rule").as[String].collect().toSet == hostile.toSet)
    // manifest-pruned read still resolves each hostile value exactly
    hostile.foreach { r =>
      val (df, kept, skipped) = AtomicMart.readFiltered(spark, path, col("rule") === r)
      assert(df.count() == 1, s"value <$r>")
      assert(kept == 1 && skipped == 2, s"value <$r>")
    }
  }

  test("republish replaces only its own partitions; others keep old pointers") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01",
      ("passport", 1L, 100L), ("city", 2L, 200L)), path)
    AtomicMart.publishDay(mart("2021-03-02", ("passport", 3L, 300L)), path)
    // Republish ONLY (passport, 03-01); city/03-01 and 03-02 untouched.
    AtomicMart.publishDay(
      mart("2021-03-01", ("passport", 1L, 111L), ("passport", 10L, 110L)), path)
    val rows = AtomicMart.read(spark, path)
      .select("rule", "tx_id", "amount").as[(String, Long, Long)].collect().toSet
    assert(rows == Set(
      ("passport", 1L, 111L), ("passport", 10L, 110L),
      ("city", 2L, 200L), ("passport", 3L, 300L)))
    // Manifest-pruned partition read: no directory outside `city` listed.
    val (city, kept, skipped) = AtomicMart.readFiltered(spark, path, col("rule") === "city")
    assert(city.select("tx_id").as[Long].collect().toSeq == Seq(2L))
    assert(kept == 1 && skipped == 2)
    // vacuum is snapshot-granular: the first snapshot stays (city's
    // live pointer still targets it) and live rows are unchanged
    AtomicMart.vacuum(spark, path, graceMs = 0L)
    assert(AtomicMart.read(spark, path).count() == 4)
  }

  test("B38 table constraints: violating publish refused pre-stage, table untouched") {
    import graft.etl.Checks
    import graft.sources.MartConstraints
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path)
    MartConstraints.set(spark, path, Seq(
      Checks.NotNull("c_rule", "rule"),
      Checks.Bounds("c_amount", col("amount"), 0L, 1000L),
      Checks.Unique("c_pk", Seq("tx_id"))))
    // good batch passes through every commit path's shared funnel
    AtomicMart.publishDay(mart("2021-03-02", ("passport", 2L, 500L)), path)
    assert(AtomicMart.read(spark, path).count() == 2)
    // bounds + uniqueness violations: refused, loudly, naming both
    val bad = mart("2021-03-03", ("passport", 7L, 5000L), ("city", 7L, 10L))
    val ex = intercept[MartConstraints.ConstraintViolationException] {
      AtomicMart.publishDay(bad, path)
    }
    assert(ex.getMessage.contains("c_amount")
      && ex.getMessage.contains("c_pk"), ex.getMessage)
    // the refusal is PRE-stage: version head unmoved, rows unchanged,
    // and no orphan snapshot was even written
    assert(AtomicMart.currentVersion(spark, path).contains(1L))
    assert(AtomicMart.read(spark, path).count() == 2)
    // non-declarative checks cannot become table constraints
    intercept[IllegalArgumentException] {
      MartConstraints.set(spark, path,
        Seq(Checks.Predicate("c_pred", col("amount") > 0L)))
    }
    // clearing the suite re-opens the gate
    MartConstraints.clear(spark, path)
    AtomicMart.publishDay(bad, path)
    assert(AtomicMart.read(spark, path).count() == 4)
  }

  test("B38 declaration scans existing data and Unique holds TABLE-wide, not per-batch") {
    import graft.etl.Checks
    import graft.sources.MartConstraints
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(
      mart("2021-03-01", ("passport", 1L, 100L), ("passport", 2L, 5000L)), path)
    // (a) ADD CONSTRAINT semantics: existing data violates the bound →
    // declaration refused, nothing installed, later publishes unchecked
    val exSet = intercept[MartConstraints.ConstraintViolationException] {
      MartConstraints.set(spark, path, Seq(
        Checks.Bounds("c_amount", col("amount"), 0L, 1000L)))
    }
    assert(exSet.getMessage.contains("c_amount"), exSet.getMessage)
    assert(MartConstraints.get(spark, path).isEmpty)
    // (b) a name Checks.run would refuse is refused at DECLARATION
    intercept[IllegalArgumentException] {
      MartConstraints.set(spark, path,
        Seq(Checks.NotNull("bad`name\"", "rule")))
    }
    // (c) a suite the current data satisfies installs fine
    MartConstraints.set(spark, path, Seq(Checks.Unique("c_pk", Seq("tx_id"))))
    // (d) CROSS-batch duplicate: tx_id 1 is already live in an earlier
    // batch; a new APPENDING publish carrying it again must refuse —
    // uniqueness is a property of the table, not of one batch
    val exDup = intercept[MartConstraints.ConstraintViolationException] {
      AtomicMart.publishDay(mart("2021-03-02", ("passport", 1L, 50L)), path)
    }
    assert(exDup.getMessage.contains("c_pk")
      && exDup.getMessage.contains("already live"), exDup.getMessage)
    assert(AtomicMart.read(spark, path).count() == 2)
    // (e) genuinely new keys append through the same gate
    AtomicMart.publishDay(mart("2021-03-02", ("passport", 3L, 50L)), path)
    assert(AtomicMart.read(spark, path).count() == 3)
    // (f) a REPLACE of a live partition restages its own keys without
    // self-colliding (the merge/erasure path): day 1 rewritten minus
    // tx 2, keeping tx 1 — allowed, because day 1's partitions are
    // retracted by the same commit
    val rewritten = mart("2021-03-01", ("passport", 1L, 100L))
    AtomicMart.publishReplacing(rewritten, path, Seq("rule", "batch_date"),
      Seq(Seq("passport", "2021-03-01")))
    val left = AtomicMart.read(spark, path).select("tx_id").as[Long].collect().toSet
    assert(left == Set(1L, 3L))
  }

  /** values→dir pointer map parsed from a version file's raw JSON (the
    * spec lives outside graft.sources, so it reads the artifact the
    * way an external auditor would). */
  private def pointerMap(path: String, v: Long): Map[String, String] = {
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$path/_versions/v$v%09d.json")))
    """"values":\[([^\]]*)\],"dir":"([^"]*)"""".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toMap
  }

  test("B39 predicate DELETE: partition-pruned rewrite, untouched pointers byte-identical") {
    import graft.sources.MartDml
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01",
      ("passport", 1L, 100L), ("passport", 2L, 200L), ("city", 3L, 300L)), path)
    AtomicMart.publishDay(mart("2021-03-02",
      ("passport", 4L, 400L), ("city", 5L, 5000L), ("city", 6L, 10L)), path)
    val vBefore = AtomicMart.currentVersion(spark, path).get
    val before = pointerMap(path, vBefore)
    // predicate prunes on the PARTITION VALUE (batch_date) before any
    // scan; only (city, 03-02) contains matches → 1 partition rewritten
    val r = MartDml.delete(spark, path,
      col("amount") >= 1000L && col("batch_date") === "2021-03-02")
    assert(r.rewritten == 1 && r.untouched == 3, r)
    assert(r.version == vBefore + 1)
    val after = pointerMap(path, r.version)
    // untouched partitions keep their manifest pointers BYTE-identically
    before.foreach { case (values, dir) =>
      if (!values.contains("city") || !values.contains("2021-03-02"))
        assert(after(values) == dir, s"pointer moved for $values")
    }
    val touchedKey = before.keys.find(v => v.contains("city") && v.contains("2021-03-02")).get
    assert(after(touchedKey) != before(touchedKey), "touched pointer must move to a new snap dir")
    val rows = AtomicMart.read(spark, path).select("tx_id").as[Long].collect().toSet
    assert(rows == Set(1L, 2L, 3L, 4L, 6L))
    // snapshot isolation: the pre-delete version still reads tx 5
    assert(AtomicMart.readVersion(spark, path, vBefore)
      .filter(col("tx_id") === 5L).count() == 1)
    // no-match DELETE commits NOTHING — the head does not move
    val r2 = MartDml.delete(spark, path, col("amount") > 1000000L)
    assert(r2.version == r.version && r2.rewritten == 0)
    // deleting every row of a partition RETRACTS it
    val r3 = MartDml.delete(spark, path, col("rule") === "city" && col("batch_date") === "2021-03-02")
    assert(!pointerMap(path, r3.version).keys.exists(v =>
      v.contains("city") && v.contains("2021-03-02")))
  }

  test("B39 predicate UPDATE: assignments under when(), partition columns refused") {
    import graft.sources.MartDml
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01",
      ("passport", 1L, 100L), ("city", 2L, 200L)), path)
    AtomicMart.publishDay(mart("2021-03-02", ("passport", 3L, 300L)), path)
    val r = MartDml.update(spark, path,
      col("rule") === "passport" && col("batch_date") === "2021-03-01",
      Map("amount" -> (col("amount") + 1L)))
    assert(r.rewritten == 1 && r.untouched == 2, r)
    val got = AtomicMart.read(spark, path)
      .select("tx_id", "amount").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 101L, 2L -> 200L, 3L -> 300L))
    intercept[IllegalArgumentException] {
      MartDml.update(spark, path, col("amount") > 0L,
        Map("batch_date" -> lit("2021-04-01")))
    }
  }

  test("I31 multi-column data skipping: a conjunction prunes multiplicatively") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_amart").toString
    // 9 partitions; amount windows repeat every 3 dts, u repeats per
    // dt/3 — so each single-column window keeps 3 partitions but the
    // conjunction keeps exactly their 1-partition intersection
    val df = (0 until 9).flatMap { dt =>
      (0 until 50).map(i => (dt.toString, (dt % 3) * 1000L + i, s"u${dt / 3}", dt * 100L + i))
    }.toDF("dt", "amount", "u", "id")
    AtomicMart.publish(df, path, Seq("dt"), statCols = Seq("amount", "u"))
    val (one, kept1, skip1) = AtomicMart.readFiltered(spark, path,
      col("amount").between(1000L, 1999L))
    assert(kept1 == 3 && skip1 == 6 && one.count() == 150)
    val (both, kept2, skip2) = AtomicMart.readFiltered(spark, path,
      col("amount") >= 1000L && col("amount") <= 1999L && col("u") === "u1")
    assert(kept2 == 1 && skip2 == 8, s"kept=$kept2 skipped=$skip2")
    assert(both.select("dt").distinct().as[String].collect().toSeq == Seq("4"))
    assert(both.count() == 50)
    // partition-VALUE windows prune too, and compose with stat windows
    val (pv, kept3, skip3) = AtomicMart.readFiltered(spark, path,
      col("dt") === "7" && col("amount") >= 1000L)
    assert(kept3 == 1 && skip3 == 8 && pv.count() == 50)
    // an unextractable predicate stays exact: nothing pruned, answer right
    val (res, kept4, _) = AtomicMart.readFiltered(spark, path,
      (col("amount") % 7L) === 0L)
    assert(kept4 == 9 && res.count() ==
      AtomicMart.read(spark, path).filter((col("amount") % 7L) === 0L).count())
  }

  test("B40 change data feed: derived I/U/D, fold reproduces target, unchanged partitions unread") {
    import graft.sources.MartCdf
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01",
      ("passport", 1L, 100L), ("passport", 2L, 200L), ("city", 3L, 300L)), path)
    // v1 replaces ONLY the passport partition: tx1 updated, tx2
    // deleted, tx4 inserted; the city partition keeps its pointer
    AtomicMart.publishReplacing(
      mart("2021-03-01", ("passport", 1L, 150L), ("passport", 4L, 400L)),
      path, Seq("rule", "batch_date"), Seq(Seq("passport", "2021-03-01")))
    val feed = MartCdf.readChanges(spark, path, 0L, 1L, keyCols = Seq("tx_id"))
    val got = feed.select("tx_id", "amount", MartCdf.ChangeType)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 100L, "update_preimage"), (1L, 150L, "update_postimage"),
      (2L, 200L, "delete"), (4L, 400L, "insert")), got)
    // the unchanged city partition is never scanned
    assert(feed.inputFiles.forall(!_.contains("rule=city")), feed.inputFiles.toSeq)
    // fold contract: v0 ∖ (deletes ∪ preimages) ⊎ (inserts ∪ postimages) = v1
    val v0 = AtomicMart.readVersion(spark, path, 0L)
    val v1 = AtomicMart.readVersion(spark, path, 1L)
    val cols = v0.columns.map(col).toSeq
    val minus = feed.filter(col(MartCdf.ChangeType).isin("delete", "update_preimage")).select(cols: _*)
    val plus = feed.filter(col(MartCdf.ChangeType).isin("insert", "update_postimage")).select(cols: _*)
    val folded = v0.exceptAll(minus).unionByName(plus)
    assert(folded.exceptAll(v1).isEmpty && v1.exceptAll(folded).isEmpty)
    // empty range, keyless I/D-only form, and vacuumed horizon
    assert(MartCdf.readChanges(spark, path, 1L, 1L).count() == 0)
    val keyless = MartCdf.readChanges(spark, path, 0L, 1L)
      .groupBy(MartCdf.ChangeType).count().as[(String, Long)].collect().toMap
    assert(keyless == Map("delete" -> 2L, "insert" -> 2L))
    AtomicMart.publishDay(mart("2021-03-02", ("city", 9L, 900L)), path)
    AtomicMart.vacuum(spark, path, retainLast = 1, graceMs = 0L)
    intercept[Exception] {
      MartCdf.readChanges(spark, path, 0L, 2L, Seq("tx_id")).count()
    }
  }

  test("B41 exactly-once tail: initial snapshot, replay-until-committed, no gaps or dupes") {
    import graft.sources.MartCdf
    val path = Files.createTempDirectory("graft_amart").toString
    val bk = Files.createTempDirectory("graft_bk").toString
    AtomicMart.publishDay(mart("2021-03-01",
      ("passport", 1L, 100L), ("city", 2L, 200L)), path)
    // first tail: the current snapshot as inserts
    val t0 = MartCdf.tailStart(spark, path, bk, Seq("tx_id"))
    assert(t0.fromVersion == -1L && t0.toVersion == 0L)
    assert(t0.changes.filter(col(MartCdf.ChangeType) =!= "insert").count() == 0
      && t0.changes.count() == 2)
    MartCdf.tailCommit(spark, bk, t0.toVersion)
    // nothing new: empty range
    val t1 = MartCdf.tailStart(spark, path, bk, Seq("tx_id"))
    assert(t1.fromVersion == 0L && t1.toVersion == 0L && t1.changes.count() == 0)
    // a commit lands; consumer CRASHES after start, before commit —
    // the next start must replay the SAME range with the SAME rows
    AtomicMart.publishReplacing(
      mart("2021-03-01", ("passport", 1L, 150L)),
      path, Seq("rule", "batch_date"), Seq(Seq("passport", "2021-03-01")))
    val t2 = MartCdf.tailStart(spark, path, bk, Seq("tx_id"))
    val t3 = MartCdf.tailStart(spark, path, bk, Seq("tx_id"))
    assert(t2.fromVersion == t3.fromVersion && t2.toVersion == t3.toVersion)
    assert(t2.changes.exceptAll(t3.changes).isEmpty
      && t3.changes.exceptAll(t2.changes).isEmpty)
    MartCdf.tailCommit(spark, bk, t3.toVersion)
    // double-commit of the same range is a no-op, not an error
    MartCdf.tailCommit(spark, bk, t3.toVersion)
    // fold of everything DELIVERED-AND-COMMITTED equals the head
    val cols = Seq(col("rule"), col("tx_id"), col("amount"), col("batch_date"))
    val delivered0 = t0.changes.select(cols: _*)
    val minus = t3.changes.filter(
      col(MartCdf.ChangeType).isin("delete", "update_preimage")).select(cols: _*)
    val plus = t3.changes.filter(
      col(MartCdf.ChangeType).isin("insert", "update_postimage")).select(cols: _*)
    val folded = delivered0.exceptAll(minus).unionByName(plus)
    val head = AtomicMart.read(spark, path).select(cols: _*)
    assert(folded.exceptAll(head).isEmpty && head.exceptAll(folded).isEmpty)
    val t4 = MartCdf.tailStart(spark, path, bk, Seq("tx_id"))
    assert(t4.changes.count() == 0 && t4.fromVersion == 1L)
  }

  test("I31 null-count stats: IS [NOT] NULL prunes; all-null partitions skip value windows") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_amart").toString
    // dt=2 all-null v; dt=5 mixed; the rest null-free
    val df = (0 until 9).flatMap { dt =>
      (0 until 20).map { i =>
        val v: Option[Long] =
          if (dt == 2) None
          else if (dt == 5 && i % 2 == 0) None
          else Some(dt * 100L + i)
        (dt.toString, v, i.toLong)
      }
    }.toDF("dt", "v", "id")
    AtomicMart.publish(df, path, Seq("dt"), statCols = Seq("v"))
    val (nn, keptNN, skipNN) = AtomicMart.readFiltered(spark, path, col("v").isNotNull)
    assert(keptNN == 8 && skipNN == 1, s"kept=$keptNN")
    assert(nn.count() == 7 * 20 + 10)
    val (nl, keptNL, skipNL) = AtomicMart.readFiltered(spark, path, col("v").isNull)
    assert(keptNL == 2 && skipNL == 7, s"kept=$keptNL")
    assert(nl.count() == 20 + 10)
    // a value window alone skips the all-null partition: comparisons
    // against NULL never match, and the stats prove there is nothing else
    val (vw, keptVW, _) = AtomicMart.readFiltered(spark, path, col("v") >= 0L)
    assert(keptVW == 8 && vw.count() == 7 * 20 + 10)
    // a closed range stays consistent with the empty-bounds stat
    val (rb, keptRB, _) = AtomicMart.readFiltered(spark, path, col("v").between(0L, 10000L))
    assert(keptRB == 8 && rb.count() == 7 * 20 + 10)
  }

  test("B42 schema evolution: ADD COLUMN metadata-only; versions keep their own schema") {
    import graft.sources.{MartCdf, MartDml}
    val path = Files.createTempDirectory("graft_amart").toString
    val v0 = AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L), ("city", 2L, 200L)), path)
    // an unapproved new column refuses BEFORE anything stages
    intercept[IllegalArgumentException] {
      AtomicMart.publishDay(mart("2021-03-02", ("passport", 3L, 300L))
        .withColumn("region", lit("EU")), path)
    }
    assert(AtomicMart.currentVersion(spark, path).contains(v0))
    // ALTER TABLE ADD COLUMN: metadata-only — every pointer byte-identical
    val v1 = AtomicMart.addColumn(spark, path, "region", "STRING")
    assert(v1 == v0 + 1)
    assert(pointerMap(path, v0) == pointerMap(path, v1))
    // the new version conforms old rows with NULLs; v0 keeps its schema
    val now = AtomicMart.read(spark, path)
    assert(now.columns.contains("region") && now.filter(col("region").isNull).count() == 2)
    assert(!AtomicMart.readVersion(spark, path, v0).columns.contains("region"))
    // mergeSchema publish carrying the evolved column lands
    AtomicMart.publish(mart("2021-03-02", ("passport", 3L, 300L))
      .withColumn("region", lit("EU")), path, Seq("rule", "batch_date"), mergeSchema = true)
    val got = AtomicMart.read(spark, path)
      .select("tx_id", "region").as[(Long, Option[String])].collect().toMap
    assert(got == Map(1L -> None, 2L -> None, 3L -> Some("EU")))
    // a type conflict always refuses, mergeSchema or not
    intercept[IllegalArgumentException] {
      AtomicMart.publish(mart("2021-03-03", ("city", 9L, 1L))
        .withColumn("region", lit(7L)), path, Seq("rule", "batch_date"), mergeSchema = true)
    }
    intercept[IllegalArgumentException] { AtomicMart.addColumn(spark, path, "region", "STRING") }
    // a DML predicate on the EVOLVED column runs over pre-evolution
    // snapshots (conform supplies the NULLs; NULL-predicate rows survive)
    val r = MartDml.delete(spark, path, col("region") === "EU")
    assert(AtomicMart.read(spark, path).select("tx_id").as[Long].collect().toSet == Set(1L, 2L))
    // CDF across the evolution WIDENS to the to-version's schema and
    // still folds exactly: tx 3 inserted-then-deleted nets out, and the
    // surviving rows' preimages carry NULL region
    val feed = MartCdf.readChanges(spark, path, v0, r.version, keyCols = Seq("tx_id"))
    assert(feed.columns.contains("region"))
    val byType = feed.groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(byType.getOrElse("insert", 0L) == byType.getOrElse("delete", 0L))
    // a batch OMITTING a declared column still publishes (nullable write)
    AtomicMart.publish(mart("2021-03-04", ("city", 12L, 50L)), path, Seq("rule", "batch_date"))
    val last = AtomicMart.read(spark, path).filter(col("tx_id") === 12L)
    assert(last.columns.contains("region") && last.filter(col("region").isNull).count() == 1)

    // DROP COLUMN: metadata-only; the new head stops projecting it,
    // the pre-drop version still reads it (its manifest still declares it)
    val preDrop = AtomicMart.currentVersion(spark, path).get
    val vd = AtomicMart.dropColumn(spark, path, "region")
    assert(vd == preDrop + 1)
    assert(pointerMap(path, preDrop) == pointerMap(path, vd))
    assert(!AtomicMart.read(spark, path).columns.contains("region"))
    assert(AtomicMart.readVersion(spark, path, preDrop).columns.contains("region"))
    // partition columns cannot drop; absent columns cannot drop
    intercept[IllegalArgumentException] { AtomicMart.dropColumn(spark, path, "rule") }
    intercept[IllegalArgumentException] { AtomicMart.dropColumn(spark, path, "region") }
    // RESURRECTION guard: re-adding a burned name is refused — old
    // snapshot files still physically carry its values
    val exRes = intercept[IllegalArgumentException] {
      AtomicMart.addColumn(spark, path, "region", "STRING")
    }
    assert(exRes.getMessage.contains("resurrect"), exRes.getMessage)
    // a FRESH name is fine
    AtomicMart.addColumn(spark, path, "region_v2", "STRING")
    assert(AtomicMart.read(spark, path).columns.contains("region_v2"))
  }

  test("B39 DELETE keeps NULL-predicate rows: SQL deletes TRUE matches only") {
    import graft.sources.MartDml
    val path = Files.createTempDirectory("graft_amart").toString
    val df = Seq((1L, Some(100L)), (2L, Option.empty[Long]), (3L, Some(5000L)))
      .toDF("tx_id", "amount")
      .withColumn("rule", lit("passport")).withColumn("batch_date", lit("2021-03-01"))
    AtomicMart.publishDay(df, path)
    // tx 2's amount is NULL → predicate is NULL → the row must SURVIVE
    // (a bare not(NULL) is NULL and filter would silently drop it)
    val r = MartDml.delete(spark, path, col("amount") >= 1000L)
    assert(r.rewritten == 1, r)
    val left = AtomicMart.read(spark, path).select("tx_id").as[Long].collect().toSet
    assert(left == Set(1L, 2L), s"NULL-predicate row dropped: $left")
  }

  test("prune domain guard: numeric window vs string partition value degrades, never crashes") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L), ("city", 2L, 200L)), path)
    // rule is a STRING partition column; a numeric comparison coerces it
    // and the unwrapped Cast hands entryMayMatch a numeric-domain window
    // over the value "passport" — must degrade to no-prune, not throw a
    // driver-side NumberFormatException out of readFiltered. Run with
    // ANSI off: there the residual cast legitimately NULLs out and the
    // query SUCCEEDS with 0 rows (never worse than no pruning); under
    // ANSI the residual filter raises Spark's own CAST_INVALID_INPUT at
    // scan time — the user's predicate bug, same as an unpruned scan.
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val (df, kept, _) = AtomicMart.readFiltered(spark, path, col("rule") === 3)
      assert(kept >= 0) // no crash is the contract; residual filter is exact
      assert(df.count() == 0)
      // same guard on the DML path
      import graft.sources.MartDml
      val r = MartDml.delete(spark, path, col("rule") === 3)
      assert(r.rewritten == 0 && AtomicMart.read(spark, path).count() == 2)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }

  test("plain publish() re-publishing a live partition on a Unique table is not a self-duplicate") {
    import graft.etl.Checks
    import graft.sources.MartConstraints
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L), ("passport", 2L, 200L)), path)
    MartConstraints.set(spark, path, Seq(Checks.Unique("c_pk", Seq("tx_id"))))
    // B15 corrected-day rerun through PLAIN publish(): same partition,
    // same keys, corrected amounts — commit() replaces the partition, so
    // the staged keys collide only with rows this commit retracts
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 101L), ("passport", 2L, 201L)), path)
    val got = AtomicMart.read(spark, path)
      .select("tx_id", "amount").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 101L, 2L -> 201L))
    // a genuine cross-partition duplicate still refuses
    intercept[MartConstraints.ConstraintViolationException] {
      AtomicMart.publishDay(mart("2021-03-02", ("passport", 1L, 50L)), path)
    }
  }

  test("Unique budget is ONE budget across in-batch and vs-live surfaces") {
    import graft.etl.Checks
    import graft.sources.MartConstraints
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path)
    MartConstraints.set(spark, path, Seq(Checks.Unique("c_pk", Seq("tx_id"), allowed = 1L)))
    // 1 in-batch surplus (9,9) + 1 vs-live collision (1): each surface
    // alone is within the budget of 1, combined they exceed it → refuse
    val ex = intercept[MartConstraints.ConstraintViolationException] {
      AtomicMart.publishDay(mart("2021-03-02",
        ("passport", 9L, 10L), ("passport", 9L, 20L), ("passport", 1L, 30L)), path)
    }
    assert(ex.getMessage.contains("c_pk") && ex.getMessage.contains("in-batch"), ex.getMessage)
    assert(AtomicMart.read(spark, path).count() == 1)
    // either surface ALONE within budget still lands
    AtomicMart.publishDay(mart("2021-03-03", ("passport", 8L, 10L), ("passport", 8L, 20L)), path)
    assert(AtomicMart.read(spark, path).count() == 3)
  }

  test("B43 RENAME COLUMN: metadata-only, honored on every read path, old versions keep old names") {
    val path = Files.createTempDirectory("graft_amart").toString
    val v0 = AtomicMart.publish(
      mart("2021-03-01", ("passport", 1L, 100L), ("city", 2L, 200L)),
      path, Seq("rule", "batch_date"), statCols = Seq("amount"))
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path, "data")).map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val filesBefore = dataFiles()
    AtomicMart.renameColumn(spark, path, "amount", "amount_cents")
    val vRenamed = AtomicMart.renameColumn(spark, path, "rule", "fraud_rule") // partition col
    // metadata-only: not one data file moved
    assert(dataFiles() == filesBefore)
    // head reads under NEW names; version 0 under its OWN (old) names
    assert(AtomicMart.read(spark, path).columns.toSet ==
      Set("fraud_rule", "tx_id", "amount_cents", "batch_date"))
    assert(AtomicMart.readVersion(spark, path, v0).columns.toSet ==
      Set("rule", "tx_id", "amount", "batch_date"))
    // CDF across the renames is EMPTY (no pointer moved)
    assert(MartCdf.readChanges(spark, path, v0, vRenamed).count() == 0)
    // partition pruning by the NEW logical name
    assert(AtomicMart.readFiltered(spark, path, col("fraud_rule") === "city")._1
      .select("tx_id").as[Long].collect().toSeq == Seq(2L))
    // data skipping on the RENAMED stat column (stats are keyed by the
    // rename-stable physical name)
    val (df, scanned, skipped) = AtomicMart.readFiltered(spark, path,
      col("amount_cents").between(150L, 300L))
    assert(df.select("tx_id").as[Long].collect().toSeq == Seq(2L))
    assert(scanned == 1 && skipped == 1)
    // writes under the new names land in the OLD physical layout
    AtomicMart.publish(Seq(("city", 3L, 300L)).toDF("fraud_rule", "tx_id", "amount_cents")
      .withColumn("batch_date", lit("2021-03-02")), path, Seq("fraud_rule", "batch_date"))
    assert(AtomicMart.read(spark, path).count() == 3)
    // DML under the new names
    MartDml.update(spark, path, col("tx_id") === 3L,
      Map("amount_cents" -> lit(301L)))
    assert(AtomicMart.read(spark, path).filter(col("tx_id") === 3L)
      .select("amount_cents").as[Long].head() == 301L)
    // renaming onto a live name / renaming a missing column refuse
    intercept[IllegalArgumentException] {
      AtomicMart.renameColumn(spark, path, "tx_id", "amount_cents")
    }
    intercept[IllegalArgumentException] {
      AtomicMart.renameColumn(spark, path, "nope", "whatever")
    }
  }

  test("B43 mapped re-add after DROP is resurrection-proof: fresh physical name reads NULL") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publish(mart("2021-03-01", ("passport", 1L, 100L)), path, Seq("rule", "batch_date"))
    // enable mapping via a rename, then drop + re-add the SAME logical name
    AtomicMart.renameColumn(spark, path, "tx_id", "txid")
    AtomicMart.dropColumn(spark, path, "amount")
    AtomicMart.addColumn(spark, path, "amount", "BIGINT") // legal under mapping
    // the old files still physically carry 100L under "amount" — the
    // re-added column must NOT see it (fresh generated physical name)
    val got = AtomicMart.read(spark, path).select("txid", "amount")
      .as[(Long, Option[Long])].collect().toSeq
    assert(got == Seq((1L, None)), s"resurrected: $got")
    // and a new write round-trips through the generated physical name
    AtomicMart.publish(
      Seq(("passport", 2L, 7L)).toDF("rule", "txid", "amount")
        .withColumn("batch_date", lit("2021-03-02")), path, Seq("rule", "batch_date"))
    assert(AtomicMart.read(spark, path).filter(col("txid") === 2L)
      .select("amount").as[Long].head() == 7L)
  }

  test("tombstone survives vacuum: unmapped DROP + vacuum(1) still refuses the burned re-add") {
    val path = Files.createTempDirectory("graft_amart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path)
    AtomicMart.dropColumn(spark, path, "amount")
    // ADVICE r11: vacuum used to erase the only evidence of the drop
    // (the retained-manifest scan); the manifest-carried burned list
    // must keep refusing after the horizon passes
    AtomicMart.vacuum(spark, path, retainLast = 1, graceMs = 0L)
    val ex = intercept[IllegalArgumentException] {
      AtomicMart.addColumn(spark, path, "amount", "BIGINT")
    }
    assert(ex.getMessage.contains("tombstoned"), ex.getMessage)
    // a genuinely fresh name still adds fine
    AtomicMart.addColumn(spark, path, "amount_v2", "BIGINT")
  }

  test("schema TOCTOU: a first-attempt commit refuses when its schema basis went stale") {
    val path = Files.createTempDirectory("graft_amart").toString
    val day1 = mart("2021-03-01", ("passport", 1L, 100L))
    AtomicMart.publishDay(day1, path)
    // the schema the table declared at publish (= the batch's own DDL)
    val staleBasis: Option[String] = Some(day1.schema.toDDL)
    // a concurrent evolution lands between the read and the commit
    AtomicMart.addColumn(spark, path, "region", "STRING")
    // committing a schema derived from the stale basis must refuse on
    // the FIRST attempt (no lost CAS needed) — silently re-declaring
    // would revert the concurrent ADD COLUMN
    intercept[AtomicMart.PartitionConflictException] {
      AtomicMart.commit(spark, path, Nil, Seq("rule", "batch_date"),
        schemaDdl = staleBasis, schemaBasis = Some(staleBasis))
    }
    // the concurrent evolution is intact
    assert(AtomicMart.read(spark, path).columns.contains("region"))
  }

  test("B44 multi-table txn: kill between the two publishes, replay, consumer folds a consistent pair") {
    import graft.sources.MartTxn
    val root = Files.createTempDirectory("graft_txn").toString
    val factPath = s"$root/fact"; val dimPath = s"$root/dim"
    def fact(day: String, rows: (Long, Long)*) =
      rows.toSeq.toDF("k", "amount").withColumn("batch_date", lit(day))
    def dim(day: String, rows: (String, Long)*) =
      rows.toSeq.toDF("status", "n").withColumn("batch_date", lit(day))
    // txn 1 completes normally
    val v1 = MartTxn.publishAll(spark, root, Seq(
      MartTxn.TxnBatch(factPath, fact("d1", (1L, 10L), (2L, 20L)), Seq("batch_date")),
      MartTxn.TxnBatch(dimPath, dim("d1", ("A", 2L)), Seq("batch_date"))))
    assert(v1.values.toSet == Set(0L))
    // txn 2 DIES after committing only the fact leg
    MartTxn.publishAllKilled(spark, root, Seq(
      MartTxn.TxnBatch(factPath, fact("d2", (3L, 30L)), Seq("batch_date")),
      MartTxn.TxnBatch(dimPath, dim("d2", ("B", 1L)), Seq("batch_date"))),
      legsToCommit = 1)
    // raw state is torn: fact has d2, dim does not
    assert(AtomicMart.read(spark, factPath).count() == 3)
    assert(AtomicMart.read(spark, dimPath).count() == 1)
    assert(MartTxn.pending(spark, root).nonEmpty)
    // the consistent-pair consumer rolls the txn FORWARD before pinning
    val (ta, tb) = MartTxn.tailPair(spark, root, factPath, s"$root/bkA", dimPath, s"$root/bkB")
    assert(MartTxn.pending(spark, root).isEmpty) // replayed
    // initial snapshots: BOTH deliver the completed pair
    assert(ta.changes.count() == 3 && tb.changes.count() == 2)
    MartCdf.tailCommit(spark, s"$root/bkA", ta.toVersion)
    MartCdf.tailCommit(spark, s"$root/bkB", tb.toVersion)
    // replaying recover is a no-op; the done record names both legs
    assert(MartTxn.recover(spark, root).isEmpty)
    assert(MartTxn.doneRecords(spark, root).size == 2)
    assert(MartTxn.doneRecords(spark, root).forall(r =>
      r.contains(factPath) && r.contains(dimPath)))
    // txn 3 completes; the next pair tick sees BOTH deltas, not one
    MartTxn.publishAll(spark, root, Seq(
      MartTxn.TxnBatch(factPath, fact("d3", (4L, 40L)), Seq("batch_date")),
      MartTxn.TxnBatch(dimPath, dim("d3", ("C", 1L)), Seq("batch_date"))))
    val (ta3, tb3) = MartTxn.tailPair(spark, root, factPath, s"$root/bkA", dimPath, s"$root/bkB")
    assert(ta3.changes.filter(col(MartCdf.ChangeType) === "insert").count() == 1)
    assert(tb3.changes.filter(col(MartCdf.ChangeType) === "insert").count() == 1)
  }

  test("B44 three-leg txn: kill after two legs; every pair consumer folds the txn on the same side of both windows (VERDICT r12 #6)") {
    import graft.sources.MartTxn
    val root = Files.createTempDirectory("graft_txn3").toString
    val pA = s"$root/a"; val pB = s"$root/b"; val pC = s"$root/c"
    def batch(day: String, rows: (Long, Long)*) =
      rows.toSeq.toDF("k", "v").withColumn("batch_date", lit(day))
    MartTxn.publishAll(spark, root, Seq(
      MartTxn.TxnBatch(pA, batch("d1", (1L, 1L)), Seq("batch_date")),
      MartTxn.TxnBatch(pB, batch("d1", (1L, 1L)), Seq("batch_date")),
      MartTxn.TxnBatch(pC, batch("d1", (1L, 1L)), Seq("batch_date"))))
    MartTxn.publishAllKilled(spark, root, Seq(
      MartTxn.TxnBatch(pA, batch("d2", (2L, 2L)), Seq("batch_date")),
      MartTxn.TxnBatch(pB, batch("d2", (2L, 2L)), Seq("batch_date")),
      MartTxn.TxnBatch(pC, batch("d2", (2L, 2L)), Seq("batch_date"))),
      legsToCommit = 2)
    // torn: a, b carry the killed txn's leg; c does not
    assert(AtomicMart.currentVersion(spark, pC).contains(0L))
    // every pair consumer rolls forward and folds consistently — the
    // widening loop's pair lookups now hit done records naming THREE
    // paths, more than the pair being pinned
    for ((x, y, tag) <- Seq((pA, pB, "ab"), (pB, pC, "bc"), (pA, pC, "ac"))) {
      val (tx, ty) = MartTxn.tailPair(spark, root, x, s"$root/bk_${tag}_x", y, s"$root/bk_${tag}_y")
      assert(tx.toVersion == 1L && ty.toVersion == 1L, tag)
      assert(tx.changes.count() == 2 && ty.changes.count() == 2, tag)
    }
    assert(MartTxn.pending(spark, root).isEmpty)
    val recs = MartTxn.doneRecords(spark, root)
    assert(recs.size == 2 && recs.forall(_.keySet == Set(pA, pB, pC)))
    // same-side property on the records themselves: every recorded
    // per-table version sits inside the windows delivered above
    assert(recs.forall(_.values.forall(_ <= 1L)))
  }

  test("B44 poison isolation: one poisoned intent neither blocks unrelated recovery nor unrelated pair consumers (ADVICE r12)") {
    import graft.sources.MartTxn
    val root = Files.createTempDirectory("graft_txn_poison").toString
    val pA = s"$root/a"; val pB = s"$root/b"; val pC = s"$root/c"; val pD = s"$root/d"
    def batch(day: String, rows: (Long, Long)*) =
      rows.toSeq.toDF("k", "v").withColumn("batch_date", lit(day))
    // base versions on all four tables via two clean transactions
    MartTxn.publishAll(spark, root, Seq(
      MartTxn.TxnBatch(pA, batch("d1", (1L, 1L)), Seq("batch_date")),
      MartTxn.TxnBatch(pB, batch("d1", (1L, 1L)), Seq("batch_date"))))
    MartTxn.publishAll(spark, root, Seq(
      MartTxn.TxnBatch(pC, batch("d1", (1L, 1L)), Seq("batch_date")),
      MartTxn.TxnBatch(pD, batch("d1", (1L, 1L)), Seq("batch_date"))))
    // txn P on (C, D) dies BEFORE any leg commit…
    val pTxn = MartTxn.publishAllKilled(spark, root, Seq(
      MartTxn.TxnBatch(pC, batch("d2", (2L, 2L)), Seq("batch_date")),
      MartTxn.TxnBatch(pD, batch("d2", (2L, 2L)), Seq("batch_date"))),
      legsToCommit = 0)
    // …and a schema evolution lands on C under it: P's staged C-leg
    // basis is now stale — replaying it would revert the evolution
    AtomicMart.addColumn(spark, pC, "region", "STRING")
    // an UNRELATED txn Q on (A, B) dies half-committed
    val qTxn = MartTxn.publishAllKilled(spark, root, Seq(
      MartTxn.TxnBatch(pA, batch("d2", (2L, 2L)), Seq("batch_date")),
      MartTxn.TxnBatch(pB, batch("d2", (2L, 2L)), Seq("batch_date"))),
      legsToCommit = 1)
    // one pass: Q rolls forward, P refuses PER INTENT and stays pending
    val pass = MartTxn.recoverDetailed(spark, root)
    assert(pass.recovered == Seq(qTxn))
    assert(pass.poisoned.map(_._1) == Seq(pTxn))
    assert(MartTxn.pending(spark, root) == Seq(pTxn))
    // the (A, B) consumer is NOT blocked by the poisoned (C, D) intent
    val (ta, tb) = MartTxn.tailPair(spark, root, pA, s"$root/bkA", pB, s"$root/bkB")
    assert(ta.changes.count() == 2 && tb.changes.count() == 2)
    // the (C, D) consumer fails FAST and names the poisoned txn
    val e = intercept[IllegalArgumentException] {
      MartTxn.tailPair(spark, root, pC, s"$root/bkC", pD, s"$root/bkD")
    }
    assert(e.getMessage.contains(pTxn) && e.getMessage.contains("poisoned"))
    // the concurrent evolution P would have reverted is intact
    assert(AtomicMart.read(spark, pC).columns.contains("region"))
    // OPERATOR RESOLUTION: abandon the poisoned txn — already-committed
    // legs stay (none here), remaining legs never commit, the (C, D)
    // consumer unblocks, and the done ledger never lists P
    MartTxn.abandon(spark, root, pTxn)
    assert(MartTxn.pending(spark, root).isEmpty)
    val (tc, td) = MartTxn.tailPair(spark, root, pC, s"$root/bkC", pD, s"$root/bkD")
    assert(tc.changes.count() == 1 && td.changes.count() == 1) // d1 base only
    assert(MartTxn.doneRecords(spark, root).size == 3) // two base txns + Q
    // a recovery pass after the abandon replays nothing
    assert(MartTxn.recoverDetailed(spark, root) == MartTxn.Recovery(Nil, Nil))
    // abandoning a retired txn refuses
    intercept[IllegalArgumentException](MartTxn.abandon(spark, root, pTxn))
  }

  test("B44 pair barrier compares LOCATIONS, not strings: aliased path spellings still block on a poisoned pair intent (ADVICE r13)") {
    import graft.sources.MartTxn
    val root = Files.createTempDirectory("graft_txn_alias").toString
    val pC = s"$root/c"; val pD = s"$root/d"
    def batch(day: String, rows: (Long, Long)*) =
      rows.toSeq.toDF("k", "v").withColumn("batch_date", lit(day))
    MartTxn.publishAll(spark, root, Seq(
      MartTxn.TxnBatch(pC, batch("d1", (1L, 1L)), Seq("batch_date")),
      MartTxn.TxnBatch(pD, batch("d1", (1L, 1L)), Seq("batch_date"))))
    // poison an intent on (C, D): dies pre-commit, then a schema
    // evolution makes its staged basis stale
    val pTxn = MartTxn.publishAllKilled(spark, root, Seq(
      MartTxn.TxnBatch(pC, batch("d2", (2L, 2L)), Seq("batch_date")),
      MartTxn.TxnBatch(pD, batch("d2", (2L, 2L)), Seq("batch_date"))),
      legsToCommit = 0)
    AtomicMart.addColumn(spark, pC, "region", "STRING")
    // the consumer spells the SAME tables differently: trailing slash
    // on one leg, an explicit file: scheme on the other. The intent
    // recorded the bare spellings — before the qualification fix the
    // barrier compared raw strings, silently skipped, and returned a
    // potentially half-committed pair.
    val e = intercept[IllegalArgumentException] {
      MartTxn.tailPair(spark, root, s"$pC/", s"$root/bkC", s"file://$pD", s"$root/bkD")
    }
    assert(e.getMessage.contains(pTxn) && e.getMessage.contains("poisoned"))
    // after operator resolution the aliased consumer proceeds normally
    MartTxn.abandon(spark, root, pTxn)
    val (tc, td) = MartTxn.tailPair(
      spark, root, s"$pC/", s"$root/bkC", s"file://$pD", s"$root/bkD")
    assert(tc.changes.count() == 1 && td.changes.count() == 1)
  }

  test("addColumn refuses logical names in the reserved _gc<id> pattern (ADVICE r12)") {
    val path = Files.createTempDirectory("graft_amart_gc").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path)
    // unmapped branch
    val e1 = intercept[IllegalArgumentException](
      AtomicMart.addColumn(spark, path, "_gc7", "STRING"))
    assert(e1.getMessage.contains("reserved"))
    // mapped branch (first rename auto-enables column mapping)
    AtomicMart.renameColumn(spark, path, "amount", "amt")
    val e2 = intercept[IllegalArgumentException](
      AtomicMart.addColumn(spark, path, "_gc7", "STRING"))
    assert(e2.getMessage.contains("reserved"))
  }

  test("vacuum grace window: an in-flight staged snapshot survives vacuum; its commit lands intact (r13)") {
    val path = Files.createTempDirectory("graft_amart_grace").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path)
    // a concurrent writer has STAGED day 2 but not yet committed...
    val day2 = mart("2021-03-02", ("passport", 2L, 200L))
    val (_, entries) = AtomicMart.stage(day2, path, Seq("rule", "batch_date"))
    // ...and a maintenance vacuum runs in the stage-commit window: the
    // fresh unreferenced snapshot is protected by the default grace
    // (deleting it would land the commit on dead files — the
    // concurrent-writer race Delta's file-retention duration closes)
    val removed = AtomicMart.vacuum(spark, path)
    assert(!removed.exists(_.contains("/data/")), s"removed=$removed")
    // the writer's commit lands on intact files
    AtomicMart.commit(spark, path, entries, Seq("rule", "batch_date"),
      schemaDdl = Some(day2.schema.toDDL),
      schemaBasis = Some(Some(day2.schema.toDDL)))
    assert(AtomicMart.read(spark, path).count() == 2)
    // an orphan the operator KNOWS is dead (no writer live) reclaims
    // with an explicit zero grace — and only that orphan
    AtomicMart.stage(mart("2021-03-03", ("passport", 3L, 300L)), path,
      Seq("rule", "batch_date"))
    assert(AtomicMart.vacuum(spark, path, graceMs = 0L)
      .count(_.contains("/data/")) == 1)
    assert(AtomicMart.read(spark, path).count() == 2)
  }

  test("a table under a snap- parent directory reads and vacuums by its own snapshot roots") {
    // snapshot roots are counted up from each leaf, so `snap-` in the
    // table's own path must not be taken for a snapshot directory
    val path = Files.createTempDirectory("graft_amart").resolve("snap-lake/mart").toString
    AtomicMart.publishDay(mart("2021-03-01", ("passport", 1L, 100L)), path)
    AtomicMart.publishDay(mart("2021-03-02", ("city", 2L, 200L)), path)
    // two live snapshots, each read under its own basePath
    assert(AtomicMart.read(spark, path).select("tx_id").as[Long].collect().toSet
      == Set(1L, 2L))
    // replace every partition: both earlier snapshots die, the new one lives
    AtomicMart.publish(mart("2021-03-01", ("passport", 1L, 111L))
      .unionByName(mart("2021-03-02", ("city", 2L, 222L))),
      path, Seq("rule", "batch_date"))
    val removed = AtomicMart.vacuum(spark, path, graceMs = 0L)
    assert(removed.count(_.contains("/data/")) == 2, s"removed=$removed")
    assert(AtomicMart.read(spark, path).select("tx_id", "amount")
      .as[(Long, Long)].collect().toSet == Set((1L, 111L), (2L, 222L)))
  }
}
