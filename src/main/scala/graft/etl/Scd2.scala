package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 (slowly-changing-dimension type 2) maintenance, the Spark-native
  * re-expression of the reference's terminal-history pipeline
  * (data_to_db.py:145-271): detect new / deleted / changed rows between
  * the current dimension view and an incoming snapshot, close the
  * affected versions, and append the replacements (tombstones carry
  * `deleted_flg = 1`).
  *
  * Unlike the reference's in-place sqlite UPDATEs, this is pure
  * DataFrame algebra — rewrite-the-partition semantics, which is what an
  * immutable data lake at 100 TB needs. The detects are key joins; the
  * merge itself is one keyed window over history ∪ snapshot — a single
  * shuffle on the business key, no joins and no pins.
  *
  * Effective-time columns are caller-supplied batch labels (strings),
  * not wall-clock `current_timestamp` — deterministic replays beat the
  * reference's now()-based versioning at scale.
  */
object Scd2 {

  val HighDate = "2999-12-31"

  /** Rows in `snapshot` whose key is absent from `current`
    * (data_to_db.py:171-180 STG_NEW_TERMINALS). */
  def detectNew(current: DataFrame, snapshot: DataFrame, key: String): DataFrame =
    snapshot.join(current, Seq(key), "left_anti")

  /** Rows in `current` whose key is absent from `snapshot`
    * (data_to_db.py:183-192 STG_DELETED_TERMINALS). */
  def detectDeleted(current: DataFrame, snapshot: DataFrame, key: String): DataFrame =
    current.join(snapshot, Seq(key), "left_anti")

  /** Snapshot rows whose key exists in `current` but with any attribute
    * changed (data_to_db.py:195-206 STG_CHANGED_TERMINALS). Null-safe,
    * unlike the reference's `<>`: an attribute that turns null, or
    * stops being null, is a change, so the current view always equals
    * the last snapshot. */
  def detectChanged(current: DataFrame, snapshot: DataFrame,
                    key: String, attrs: Seq[String]): DataFrame = {
    val n = snapshot.alias("n")
    val o = current.alias("o")
    val anyDiff: Column = attrs
      .map(a => !(col(s"n.$a") <=> col(s"o.$a")))
      .reduce(_ || _)
    n.join(o, col(s"n.$key") === col(s"o.$key"))
      .filter(anyDiff)
      .select((key +: attrs).map(c => col(s"n.$c")): _*)
  }

  /** Seed a history table from a first snapshot. */
  def init(snapshot: DataFrame, batchDate: String): DataFrame =
    snapshot
      .withColumn("effective_from", lit(batchDate))
      .withColumn("effective_to", lit(HighDate))
      .withColumn("deleted_flg", lit(0L))

  /** Merge `snapshot` (labeled `batchDate`) into `history`
    * (data_to_db.py:209-271 update_terminals_hist): close open versions
    * of changed/deleted keys, append changed+new rows, append deleted
    * tombstones.
    *
    * One window keyed on `key` over history ∪ snapshot flags each key:
    * open non-deleted version, in the snapshot, an attribute differs
    * (null-safe, as [[detectChanged]]; null keys match nothing). Each
    * row explodes to its versions. A touched key closes every row open
    * at [[HighDate]], tombstones included. A key the snapshot carries
    * twice fails the merge (it would open two current versions).
    */
  def merge(history: DataFrame, snapshot: DataFrame, key: String,
            attrs: Seq[String], batchDate: String): DataFrame = {
    val w = Window.partitionBy(col(key))
    val snap = col("__snap")
    val open = !snap && col("deleted_flg") === 0L && col("effective_to") === HighDate
    val hasOpen = col(key).isNotNull && max(open).over(w)
    val snapRows = count(when(snap, 1)).over(w)
    val inSnap = col(key).isNotNull && snapRows > 0
    val changed = hasOpen && inSnap && attrs.map(a =>
      !(max(when(snap, col(a))).over(w) <=> max(when(open, col(a))).over(w)))
      .reduce(_ || _)
    val closes = (changed || hasOpen && !inSnap) && col("effective_to") === HighDate
    def version(from: Column, to: Column, flag: Column) = struct(
      from.as("effective_from"), to.as("effective_to"), flag.as("deleted_flg"))
    val versions = array(
      when(!snap, version(col("effective_from"),
        when(closes, lit(batchDate)).otherwise(col("effective_to")), col("deleted_flg"))),
      when(open && !inSnap, version(lit(batchDate), lit(HighDate), lit(1L))),
      when(snap && (!hasOpen || changed), version(lit(batchDate), lit(HighDate), lit(0L))))
    val cols = key +: attrs
    history.withColumn("__snap", lit(false))
      .unionByName(snapshot.select(cols.map(col): _*).withColumn("__snap", lit(true)),
        allowMissingColumns = true)
      .select(cols.map(col) :+ when(col(key).isNotNull && snapRows > 1,
        raise_error(concat(lit(s"duplicate $key in the snapshot: "), col(key).cast("string"))))
        .otherwise(versions).as("__v"): _*)
      .withColumn("__v", explode(filter(col("__v"), _.isNotNull)))
      .select(history.columns.toSeq.map(c =>
        if (cols.contains(c)) col(c) else col(s"__v.$c").as(c)): _*)
  }

  /** The reference's STG_V_TERMINALS current view (data_to_db.py:158-168):
    * open, non-deleted versions only. */
  def currentView(history: DataFrame): DataFrame =
    history.filter(col("deleted_flg") === 0L && col("effective_to") === HighDate)

  /** B10 — point-in-time (temporal) fact-to-dimension join: each fact
    * row resolves the dimension version whose effective window covers
    * its date — the historically-correct read the reference's
    * current-view joins approximate. Windows are half-open [from, to)
    * (a closed version's effective_to equals its successor's
    * effective_from, so no date matches two versions); tombstoned
    * spans leave the fact unmatched (left join keeps it, attrs null).
    *
    * Scale: an equi-join on the dimension key — the range predicate
    * rides the join as a filter since versions-per-key is tiny — with
    * the dimension side broadcast (dimension history ≪ facts; drop the
    * hint if a dimension ever outgrows broadcast and the same plan
    * shuffles on the key). Dates are ISO strings, so lexicographic
    * comparison IS date comparison.
    */
  def pointInTimeJoin(facts: DataFrame, factKey: String, factDate: String,
                      history: DataFrame, key: String): DataFrame = {
    val h = history.filter(col("deleted_flg") === 0L)
      .withColumnRenamed(key, "__dim_key")
    facts.join(broadcast(h),
      col(factKey) === col("__dim_key") &&
        col(factDate) >= col("effective_from") &&
        col(factDate) < col("effective_to"),
      "left")
      .drop("__dim_key")
  }

  /** B30 — SCD2 history SQUASH (history hygiene): merge runs of
    * ADJACENT versions that carry identical (attrs, deleted_flg) and
    * abut exactly (prev.effective_to == effective_from) into one
    * span. Real histories accumulate such runs from flip-flopping
    * feeds, replayed loaders and over-eager span splits; they bloat
    * the dimension and slow every point-in-time join without changing
    * any answer — squash is the OPTIMIZE of the SCD2 world. Islands
    * via the D70 idiom: a running count of is-new-island markers per
    * key (one window pass), then one (key, island) aggregation taking
    * min(from)/max(to). Non-abutting identical spans and flag changes
    * never merge (a tombstone between identical spans breaks the run
    * by both tests). Point-in-time semantics are provably unchanged:
    * [[splitSpans]] ∘ squash is the identity on any well-formed
    * history — the q_scd2_squash oracle IS that round trip. */
  def squash(history: DataFrame, key: String, attrs: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col("effective_from"), col("deleted_flg"))
    val sameAsPrev = (attrs.map(a => col(a) <=> lag(col(a), 1).over(w)) :+
      (col("deleted_flg") <=> lag(col("deleted_flg"), 1).over(w)) :+
      (col("effective_from") <=> lag(col("effective_to"), 1).over(w)))
      .reduce(_ && _)
    history
      .withColumn("__new_island", when(sameAsPrev, 0L).otherwise(1L))
      .withColumn("__island", sum(col("__new_island")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy((col(key) +: col("__island") +: attrs.map(col)) :+ col("deleted_flg"): _*)
      .agg(min(col("effective_from")).as("effective_from"),
        max(col("effective_to")).as("effective_to"))
      .select(history.columns.map(col): _*)
  }

  /** The inverse dirtier (test/demo): split every span ≥2 days at its
    * midpoint into two identical abutting versions — the redundant
    * history squash must collapse back byte-identically. */
  def splitSpans(history: DataFrame): DataFrame = {
    val f = to_date(col("effective_from"))
    val t = to_date(col("effective_to"))
    val mid = date_format(
      date_add(f, (datediff(t, f) / 2).cast("int")), "yyyy-MM-dd")
    val two = array(
      struct(col("effective_from").as("ef"), mid.as("et")),
      struct(mid.as("ef"), col("effective_to").as("et")))
    val one = array(struct(col("effective_from").as("ef"),
      col("effective_to").as("et")))
    history
      .withColumn("__p", explode(when(datediff(t, f) >= 2, two).otherwise(one)))
      .withColumn("effective_from", col("__p.ef"))
      .withColumn("effective_to", col("__p.et"))
      .select(history.columns.map(col): _*)
  }

  /** CDC changelog derived from an SCD2 history: one (op, key, attrs)
    * row per change — 'I' for first versions, 'U' for reopened versions
    * of an existing key (new attribute values), 'D' for tombstones. The
    * downstream view a streaming consumer of the dimension would want.
    */
  def changelog(history: DataFrame, key: String, attrs: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col("effective_from"), col("deleted_flg"))
    val outCols = Seq(col("op"), col(key).as("key")) ++ attrs.map(col) :+
      col("effective_from").as("change_dt")
    // Every version row introduced exactly one state change at its
    // effective_from: the first version is the insert, later non-deleted
    // versions are updates, tombstones are deletes.
    history
      .withColumn("version_n", row_number().over(w))
      .withColumn("op",
        when(col("deleted_flg") === 1L, lit("D"))
          .when(col("version_n") === 1, lit("I"))
          .otherwise(lit("U")))
      .select(outCols: _*)
  }
}
