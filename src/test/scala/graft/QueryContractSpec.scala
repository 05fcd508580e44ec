package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Guard for the query-output contract: every `SparkEntry.queries` result
  * must have a flat, atomic schema. Nested output (ARRAY/MAP/STRUCT
  * columns) breaks any external canonicalizer that sorts/hashes rows —
  * exactly how `q_collection_funcs` and `q_inverted` went red in round 4
  * (pandas `sort_values` cannot factorize ndarray cells). Constructing
  * the DataFrame only analyzes the plan, so this covers all queries
  * cheaply; eager builders (checkpointed iteratives) run at sf0.001.
  *
  * Wall-clock shape (r15): construction is no longer free for the
  * checkpoint-bearing queries (their pinned subtrees EXECUTE at
  * construction), and the old two-sweep form built every query twice —
  * 226 s of the suite's 20 min. One shared sweep now builds each query
  * once and feeds both lints, and the independent constructions overlap
  * on a small driver pool (guide §2.6 — the jobs are independent; Spark
  * schedules them concurrently).
  */
class QueryContractSpec extends SparkSpec {

  /** name -> (schema offenders, plan offenders), built once per query:
    * the old two-sweep form constructed every query TWICE, and
    * construction is no longer free for the checkpoint-bearing queries
    * (their pinned subtrees execute at construction) — one shared
    * sweep halves the suite's dominant block (226 s of the 20-min run).
    * Deliberately serial: several constructors carry side effects
    * (mart publishes, learned-cell exports) that are not safe to
    * overlap within one scratch dir. */
  private lazy val sweep: Seq[(String, Seq[String], Seq[String])] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LWindow}
    SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, build) =>
        val df = build(spark, sf)
        val badSchema = df.schema.fields.toSeq.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
        val plan = df.queryExecution.optimizedPlan
        val badJoins = plan.collect {
          case j: Join if j.condition.isEmpty &&
              !Seq(j.left, j.right).exists(_.maxRows.exists(_ <= 100000L)) &&
              !Seq(j.hint.leftHint, j.hint.rightHint)
                .exists(_.exists(_.strategy.contains(
                  org.apache.spark.sql.catalyst.plans.logical.BROADCAST))) =>
            s"$name: unconditioned join with no provably-bounded side"
        }
        val badWindows = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty &&
              w.child.collectFirst { case a: Aggregate => a }.isEmpty &&
              !w.child.maxRows.exists(_ <= 1000000L) =>
            s"$name: global window over an uncontracted input"
        }
        (name, badSchema, badJoins ++ badWindows)
    }
  }

  test("every query output schema is flat and atomic") {
    val offenders = sweep.flatMap(_._2)
    assert(offenders.isEmpty,
      s"non-atomic query output columns (serialize with array_join / " +
        s"to_json before returning): ${offenders.mkString(", ")}")
  }

  /** Engine-wide anti-pattern lint over every query's OPTIMIZED logical
    * plan (no execution — construction only, so all 154 are cheap).
    * The two shapes that silently stop scaling:
    *
    *  - an unconditioned join (cross/cartesian) where NEITHER side is
    *    provably bounded nor explicitly claimed bounded: legitimate
    *    cross joins here attach scalar or workload-sized frames, which
    *    Catalyst proves small via `maxRows` (global Aggregate → 1,
    *    Limit/LocalRelation → n) — or which carry an explicit
    *    broadcast() hint, the engine's bounded-BY-CONSTRUCTION marker
    *    (per the r5 rule, hints are reserved for workload/cell-sized
    *    frames; content-sized frames must stay un-hinted so AQE decides);
    *  - a GLOBAL window (empty partitionSpec) over an input that is not
    *    a contraction: every sanctioned global window in the engine
    *    (distinct-score AUC/KS/PR ranks, dict-encode value domain,
    *    count-of-counts median) sits above a grouped Aggregate, so the
    *    ordered work is cardinality-sized, not corpus-sized.
    *
    * The top-10 PlansSpec audit pins exact strategy counts for the
    * expensive queries; this lint is the broad net for the other ~144.
    */
  test("no query plans an unbounded cross join or an uncontracted global window") {
    val offenders = sweep.flatMap(_._3)
    assert(offenders.isEmpty,
      s"scale anti-patterns in optimized plans:\n${offenders.mkString("\n")}")
  }

  test("every query has an oracle") {
    // Since r6 there are NO allowed holes: q_approx_stats (the last
    // rows-only query) now emits exact+verdict columns both engines
    // agree on, so every query key must have oracle SQL.
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val blank = SparkEntry.registry.filter(d =>
      d.oracle.trim.isEmpty || d.scaledOracle.exists(_.trim.isEmpty)).map(_.name)
    assert(blank.isEmpty, s"queries with blank oracle SQL: ${blank.mkString(", ")}")
    // a shared sql… fragment spliced into a literal that lacks the `s`
    // interpolator survives verbatim; DuckDB would only fail on parse
    val unspliced = SparkEntry.registry.filter(d =>
      (d.oracle +: d.scaledOracle.toSeq).exists(q =>
        q.contains("${") || q.contains("$sql"))).map(_.name)
    assert(unspliced.isEmpty,
      s"oracle SQL with an unspliced fragment: ${unspliced.mkString(", ")}")
  }
}
