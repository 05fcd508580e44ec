package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Scd2

/** SCD2 merge invariants under randomized snapshot pairs (seeded):
  *   1. currentView(merge(init(s1), s2)) == s2 (modulo row order), also
  *      when attributes are or become null
  *   2. versions partition time: one open row per surviving key, closed
  *      versions end at the batch date
  *   3. deleted keys leave exactly one tombstone carrying old attrs
  *
  * and, over seeded multi-day chains, the one-window merge equals the
  * three-detect merge it replaced, row for row. A snapshot that
  * repeats a key fails the merge.
  */
class Scd2PropertySpec extends SparkSpec {
  import spark.implicits._

  private val attrs = Seq("city")
  private val cities = Seq("Rome", "Oslo", "Lima", "Bern")

  private def randomSnap(rnd: Random): Map[Long, String] =
    (0L to 12L).filter(_ => rnd.nextBoolean())
      .map(k => k -> cities(rnd.nextInt(cities.length))).toMap

  test("merge invariants hold for 12 random snapshot pairs") {
    val rnd = new Random(42)
    for (trial <- 1 to 12) {
      val s1 = randomSnap(rnd)
      val s2 = randomSnap(rnd)
      val d1 = s1.toSeq.toDF("terminal_id", "city")
      val d2 = s2.toSeq.toDF("terminal_id", "city")
      val hist = Scd2.merge(Scd2.init(d1, "d1"), d2, "terminal_id", attrs, "d2")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))

      // (1) current view == incoming snapshot
      val current = hist
        .filter(v => v._5 == 0L && v._4 == Scd2.HighDate)
        .map(v => v._1 -> v._2).toMap
      assert(current == s2, s"trial $trial: current view != snapshot")

      // (2) one open non-deleted row per surviving key; closed rows end at d2
      hist.groupBy(_._1).foreach { case (k, vs) =>
        if (s2.contains(k))
          assert(vs.count(v => v._4 == Scd2.HighDate && v._5 == 0L) == 1,
            s"trial $trial key $k: open-version count")
        assert(vs.filter(_._4 != Scd2.HighDate).forall(_._4 == "d2"),
          s"trial $trial key $k: closed version end date")
      }

      // (3) deleted keys -> exactly one tombstone with the old attrs
      (s1.keySet -- s2.keySet).foreach { k =>
        val tombs = hist.filter(v => v._1 == k && v._5 == 1L)
        assert(tombs.length == 1 && tombs.head._2 == s1(k),
          s"trial $trial key $k: tombstone")
      }
    }
  }

  test("invariant (1) holds when an attribute turns null, stops being null or stays null") {
    // key 1: null -> Rome -> null; key 2: Oslo -> null -> Oslo;
    // key 3: null throughout; key 4: Lima throughout
    val days = Seq(
      Seq(1L -> null, 2L -> "Oslo", 3L -> null, 4L -> "Lima"),
      Seq(1L -> "Rome", 2L -> null, 3L -> null, 4L -> "Lima"),
      Seq(1L -> null, 2L -> "Oslo", 3L -> null, 4L -> "Lima"))
    var hist = Scd2.init(days.head.toDF("terminal_id", "city"), "d1")
    for ((snap, i) <- days.zipWithIndex.tail) {
      hist = Scd2.merge(hist, snap.toDF("terminal_id", "city"), "terminal_id", attrs, s"d${i + 1}")
      val current = Scd2.currentView(hist).select("terminal_id", "city").as[(Long, String)]
        .collect().toMap
      assert(current == snap.toMap, s"day ${i + 1}: current view != snapshot")
    }
    val versions = hist.groupBy("terminal_id").count().as[(Long, Long)].collect().toMap
    // keys 1 and 2 open a version per day; keys 3 and 4 never change
    assert(versions == Map(1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 1L))
  }

  test("a snapshot that repeats a key fails the merge") {
    val hist = Scd2.init(Seq(1L -> "Rome", 2L -> "Oslo").toDF("terminal_id", "city"), "d1")
    for (dup <- Seq(2L, 3L)) { // an existing key, a new key
      val snap = Seq(1L -> "Rome", dup -> "Lima", dup -> "Bern").toDF("terminal_id", "city")
      val e = intercept[Exception] {
        Scd2.merge(hist, snap, "terminal_id", attrs, "d2").collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(s"duplicate terminal_id in the snapshot: $dup")),
        s"key $dup: $e")
    }
  }

  /** The merge as three detect joins: close every row still open for a
    * changed or deleted key, append new and changed snapshot rows, and
    * append a tombstone per deleted key. */
  private def detectMerge(history: DataFrame, snapshot: DataFrame, key: String,
                          attrs: Seq[String], batchDate: String): DataFrame = {
    val current = history
      .filter(col("deleted_flg") === 0L && col("effective_to") === Scd2.HighDate)
      .select((key +: attrs).map(col): _*)
    val newRows = Scd2.detectNew(current, snapshot, key)
    val deletedRows = Scd2.detectDeleted(current, snapshot, key)
    val changedRows = Scd2.detectChanged(current, snapshot, key, attrs)
    val touched = changedRows.select(col(key)).unionByName(deletedRows.select(col(key)))
    val ofTouched = history.join(touched, Seq(key), "left_semi")
    def opened(rows: DataFrame, flag: Long) = rows
      .withColumn("effective_from", lit(batchDate))
      .withColumn("effective_to", lit(Scd2.HighDate))
      .withColumn("deleted_flg", lit(flag))
    history.join(touched, Seq(key), "left_anti")
      .unionByName(ofTouched.filter(col("effective_to") =!= Scd2.HighDate))
      .unionByName(ofTouched.filter(col("effective_to") === Scd2.HighDate)
        .withColumn("effective_to", lit(batchDate)))
      .unionByName(opened(newRows.unionByName(changedRows), 0L))
      .unionByName(opened(deletedRows, 1L))
  }

  test("the one-window merge equals the three-detect merge over 3-4 day chains") {
    val attrs2 = Seq("terminal_type", "terminal_city")
    val rnd = new Random(7)
    def snap(): Seq[(Long, String, String)] = (0L to 7L)
      .filter(_ => rnd.nextDouble() < 0.6)
      .map(k => (k, Seq("ATM", "POS")(rnd.nextInt(2)), Seq("Rome", "Oslo", null)(rnd.nextInt(3))))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    var readded, closedTombstones, nullAttrs = 0
    for (trial <- 1 to 8) {
      val days = Seq.fill(3 + rnd.nextInt(2))(snap().toDF("terminal_id" +: attrs2: _*))
      var hist = Scd2.init(days.head, "d1")
      var ref = hist
      for ((s, d) <- days.zipWithIndex.tail) {
        hist = Scd2.merge(hist, s, "terminal_id", attrs2, s"d${d + 1}")
        val r = detectMerge(ref, s, "terminal_id", attrs2, s"d${d + 1}")
        // re-created from its rows, so the reference plan stays one merge deep
        ref = spark.createDataFrame(r.collect().toSeq.asJava, r.schema)
        assert(hist.columns.toSeq == ref.columns.toSeq, s"trial $trial day ${d + 1}")
        assert(rows(hist) == rows(ref), s"trial $trial day ${d + 1}")
      }
      val fin = ref.collect()
      readded += fin.count(v => v.getLong(5) == 1L &&
        fin.exists(o => o.getLong(0) == v.getLong(0) && o.getLong(5) == 0L &&
          o.getString(3) > v.getString(3)))
      closedTombstones += fin.count(v => v.getLong(5) == 1L && v.getString(4) != Scd2.HighDate)
      nullAttrs += fin.count(_.isNullAt(2))
    }
    // the chains reach the cases the merge treats specially
    assert(readded > 0 && closedTombstones > 0 && nullAttrs > 0,
      s"re-added $readded, closed tombstones $closedTombstones, null attrs $nullAttrs")
  }
}
