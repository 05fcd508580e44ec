package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** B29 — declarative data-quality check suite compiled into ONE pass
  * (the Deequ idea, public semantics: declare constraints, let the
  * engine fuse their metrics). B9's DQ summary hand-writes its three
  * audits; this is the generalization a platform team actually
  * operates: a constraint list in config, one scan regardless of how
  * many checks ride it.
  *
  * Compilation: every row-local check (null budget, bounds, accepted
  * domain, custom predicate) becomes a conditional count in a SINGLE
  * `agg` — N checks cost one scan, not N. Uniqueness adds one
  * count-distinct to the same agg (one Expand); each referential check
  * is inherently a second frame and contracts BOTH sides to key
  * domains before its anti-join (B20's shape). Verdict rows are
  * uniform: (check, violations, allowed, pass) — a check passes iff
  * violations ≤ its allowed budget, so "at most 0.1% nulls" and
  * "exactly zero orphans" read the same way.
  */
object Checks {

  sealed trait Check { def name: String; def allowed: Long }

  /** ≤ `allowed` NULL rows in `column`. */
  final case class NotNull(name: String, column: String, allowed: Long = 0L) extends Check

  /** ≤ `allowed` rows with `column` outside [lo, hi]. */
  final case class Bounds(name: String, column: Column, lo: Long, hi: Long,
                          allowed: Long = 0L) extends Check

  /** ≤ `allowed` rows with `column` outside the accepted set. */
  final case class Accepted(name: String, column: String, values: Seq[String],
                            allowed: Long = 0L) extends Check

  /** ≤ `allowed` rows failing an arbitrary row-local predicate. */
  final case class Predicate(name: String, holds: Column, allowed: Long = 0L) extends Check

  /** ≤ `allowed` surplus rows beyond one per distinct key tuple. */
  final case class Unique(name: String, columns: Seq[String], allowed: Long = 0L) extends Check

  /** ≤ `allowed` DISTINCT fact keys absent from the reference keys. */
  final case class Referential(name: String, column: String, ref: DataFrame,
                               refColumn: String, allowed: Long = 0L) extends Check

  private def violations(c: Check): Column = c match {
    case NotNull(_, col0, _) => count(when(col(col0).isNull, 1))
    case Bounds(_, e, lo, hi, _) => count(when(e < lo || e > hi, 1))
    case Accepted(_, col0, vs, _) =>
      count(when(!col(col0).isin(vs: _*) || col(col0).isNull, 1))
    case Predicate(_, p, _) => count(when(!coalesce(p, lit(false)), 1))
    case Unique(_, cols0, _) =>
      count(lit(1)) - countDistinct(struct(cols0.map(col): _*))
    case _: Referential =>
      throw new IllegalArgumentException("referential checks are not row-local")
  }

  /** The fused one-row counter frame for all row-local checks — also
    * the STREAMING state shape (F33): every metric is an associative
    * conditional count, so the same aggregation runs unchanged as a
    * complete-mode global aggregate over a stream. */
  private[graft] def rowLocalCounts(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val rowChecks = checks.filterNot(_.isInstanceOf[Referential])
    require(rowChecks.nonEmpty, "no row-local checks")
    val aggs = rowChecks.map(c => violations(c).cast("long").as(c.name))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Unpivot the one-row counter frame to (check, violations). */
  private[graft] def stackCounts(one: DataFrame, checks: Seq[Check]): DataFrame = {
    val rowChecks = checks.filterNot(_.isInstanceOf[Referential])
    val stacked = rowChecks.map(c => s"'${c.name}', `${c.name}`").mkString(", ")
    one.selectExpr(s"stack(${rowChecks.length}, $stacked) as (`check`, violations)")
  }

  /** Budget join + verdict — the shared finisher (batch and F33). */
  private[graft] def verdicts(counts: DataFrame, checks: Seq[Check]): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val budgets = checks.map(c => (c.name, c.allowed)).toDF("check", "allowed")
    counts.join(broadcast(budgets), Seq("check"))
      .select(col("check"), col("violations"), col("allowed"),
        when(col("violations") <= col("allowed"), 1L).otherwise(0L).as("pass"))
      .orderBy(col("check"))
  }

  /** Check names ride into a generated stack() expression; confine them
    * to characters that can never break the quoting. */
  private val SafeName = "[A-Za-z0-9_][A-Za-z0-9_ .:/=<>%-]*".r

  /** Shared eager name gate: [[run]] uses it at execution time, and
    * declaration-time callers (B38 table constraints) use it so an
    * unenforceable name is rejected when DECLARED, not at first
    * publish — a name run() would refuse must never persist. */
  private[graft] def requireSafeNames(checks: Seq[Check]): Unit =
    checks.foreach { c =>
      require(SafeName.pattern.matcher(c.name).matches(),
        s"check name '${c.name}' must match $SafeName (no quotes/backticks)")
    }

  /** Run the suite: one fused scan for all row-local checks + one
    * key-domain anti-join per referential check. Returns one verdict
    * row per check, ordered by name. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "Checks.run needs at least one check")
    require(checks.map(_.name).distinct.length == checks.length,
      "check names must be unique")
    requireSafeNames(checks)
    val (refChecks, rowChecks) =
      checks.partition(_.isInstanceOf[Referential])
    val fusedOpt =
      if (rowChecks.isEmpty) None
      else Some(stackCounts(rowLocalCounts(df, rowChecks), rowChecks))
    val refFrames = refChecks.collect { case Referential(name, c, ref, rc, _) =>
      df.select(col(c).as("k")).filter(col("k").isNotNull).distinct()
        .join(ref.select(col(rc).as("k")).distinct(), Seq("k"), "left_anti")
        .agg(count(lit(1)).cast("long").as("violations"))
        .select(lit(name).as("check"), col("violations"))
    }
    verdicts((fusedOpt.toSeq ++ refFrames).reduce(_.unionByName(_)), checks)
  }
}
