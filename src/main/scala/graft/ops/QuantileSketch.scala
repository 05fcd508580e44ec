package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** D72 — log-linear mergeable quantile sketch, the quantile member of
  * the cross-engine-exact sketch family (D51 count-min: frequency,
  * D52/D54 KMV: distinct/set algebra, D55 HLL: register distinct, D58
  * bitset: exact distinct). The same idea DDSketch (Masson, Rim & Lee,
  * VLDB '19) and HdrHistogram (Tene) productionize: bucket values on a
  * log-scaled grid so bucket width is PROPORTIONAL to magnitude, giving
  * a guaranteed RELATIVE error on every reported quantile — the right
  * contract for long-tailed money/latency columns, where a fixed-width
  * histogram (D40) wastes all its resolution on the tail's range.
  *
  * Grid: values below 2^p are their own (exact) bucket; a value with
  * highest set bit e ≥ p lands in sub-bucket c div 2^(e-p) of octave e
  * — 2^p log-linear sub-buckets per octave, so bucket width ≤ 2^(e-p)
  * while the bucket's values are ≥ 2^e: the midpoint estimate is
  * within 2^-(p+1) relative error (0.8% at the default p = 6), and a
  * 64-bit domain costs at most (63-p+1)·2^p + 2^p ≈ 3.8k buckets.
  *
  * Everything is integer: the octave is found WITHOUT log2 (the engine
  * keeps transcendentals out of every oracle-checked path — IEEE libm
  * rounding is not a cross-engine contract) via the classic bit-smear:
  * s = c | c>>1 | c>>2 | c>>4 | ... | c>>32 (cumulative) makes s the
  * all-ones mask up to c's highest bit, so bit_count(s)-1 = e and
  * (s+1) div 2^(p+1) = 2^(e-p) — six shift-ors and a popcount, both
  * engines bit-identical. Quantile selection is a rank walk in exact
  * ppm arithmetic (r·10^6 ≥ n·q_ppm — no float division), so the
  * ESTIMATES, not just the rows, hash-verify in DuckDB.
  *
  * Scale shape: the build is ONE map-side-combinable aggregation whose
  * shuffled state is ≤ groups·buckets rows REGARDLESS of input size —
  * at 100 TB each task emits a few thousand partial rows. Counts merge
  * by addition ([[mergeSketches]]), which is what makes the sketch
  * distributable (partial sketches per executor / per day / per
  * source union into the global sketch losslessly) and maintainable
  * under a complete-mode streaming aggregation (F24 runs
  * [[buildSketch]] itself on the stream). The
  * quantile finisher runs on the bucket frame: a per-group window walk
  * over ≤ buckets rows, never over the data.
  *
  * Domain: 1 ≤ c < 2^62 (c is clamped to ≥ 1; s+1 would overflow at
  * 2^63-1). Rank arithmetic multiplies counts by 10^6, so per-group
  * n < ~9.2e12 — the same published bound as H4/H10.
  */
object QuantileSketch {

  /** Default sub-bucket resolution: 2^6 = 64 sub-buckets per octave →
    * ≤ 1/128 (0.78%) relative error on every quantile estimate. */
  val DefaultP = 6

  /** Stage the cumulative bit-smear as columns (c0, s): s = all-ones
    * up to c0's highest set bit, so bit_count(s)-1 is the octave and
    * (s+1) div 2^(p+1) = 2^(e-p). Staged (not one nested expression)
    * so the term stays linear-sized through codegen. */
  private def smeared(df: DataFrame, grp: String, c: String): DataFrame = {
    val base = df.select(col(grp),
      greatest(expr(c).cast("long"), lit(1L)).as("c0"))
    Seq(1, 2, 4, 8, 16, 32).foldLeft(base.withColumn("s", col("c0"))) {
      (acc, sh) => acc.withColumn("s",
        col("s").bitwiseOR(shiftright(col("s"), sh)))
    }
  }

  /** Integer midpoint estimate for a bucket id (inverse of [[bidExpr]]):
    * bucket [sub·2^(e-p), (sub+1)·2^(e-p)) → sub·w + (w-1) div 2. */
  private def estExpr(bid: String, p: Int): String = {
    val m = 1L << p
    s"""CASE WHEN $bid < $m THEN $bid
       |  ELSE ($bid - ($bid div $m - 1) * $m)
       |       * shiftleft(CAST(1 AS BIGINT), CAST($bid div $m - 1 AS INT))
       |       + (shiftleft(CAST(1 AS BIGINT), CAST($bid div $m - 1 AS INT)) - 1) div 2
       |END""".stripMargin.replaceAll("\n", " ")
  }

  /** The (group, bucket) → count frame — the sketch itself. One
    * map-side-combinable aggregation; ≤ groups·~3.8k rows of state.
    * Split out because counts are exactly mergeable: this frame is the
    * F24 streaming state and the unit [[mergeSketches]] unions. */
  def buildSketch(df: DataFrame, grp: String, c: String,
                  p: Int = DefaultP): DataFrame = {
    val m = 1L << p
    smeared(df, grp, c)
      .select(col(grp), expr(
        s"""CASE WHEN c0 < $m THEN c0
           |ELSE (bit_count(s) - 1 - $p) * $m
           |     + c0 div ((s + 1) div ${2 * m}) END"""
          .stripMargin.replaceAll("\n", " ")).as("bid"))
      .groupBy(col(grp), col("bid"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Lossless sketch merge: bucket-wise count addition. Partial
    * sketches built per partition / day / source union into exactly
    * the sketch of the unioned data (pinned in OpsSpec). */
  def mergeSketches(grp: String, sketches: Seq[DataFrame]): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy(col(grp), col("bid"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Finish a sketch into per-group quantile estimates: for each
    * requested q (ppm), the midpoint of the first bucket whose
    * cumulative count reaches rank ⌈q·n⌉ — compared in exact integer
    * ppm arithmetic. Output: (grp, q_ppm, n, n_buckets, est_cents),
    * one row per (group, quantile). All work is sketch-sized. */
  def quantiles(sketch: DataFrame, grp: String,
                qsPpm: Seq[Long] = Seq(500000L, 900000L, 990000L),
                p: Int = DefaultP): DataFrame = {
    // join-free finisher: cumulative AND total counts as two windows
    // over the same bucket frame (a self-join of the sketch would trip
    // Spark's conflicting-reference dedup when the sketch is a view,
    // e.g. the F24 streaming snapshot), then a literal explode for the
    // quantile grid. Everything stays sketch-sized.
    val wCum = Window.partitionBy(col(grp)).orderBy(col("bid"))
    val wAll = Window.partitionBy(col(grp))
    sketch
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("n_buckets", count(lit(1)).over(wAll))
      .withColumn("q_ppm", explode(array(qsPpm.map(lit): _*)))
      .filter(col("cum") * lit(1000000L) >= col("n") * col("q_ppm"))
      .groupBy(col(grp), col("q_ppm"), col("n"), col("n_buckets"))
      .agg(min(col("bid")).as("bid"))
      .select(col(grp), col("q_ppm"), col("n"), col("n_buckets"),
        expr(estExpr("bid", p)).as("est_cents"))
      .orderBy(col(grp), col("q_ppm"))
  }

  /** Build + finish in one call (the D72 query surface). */
  def groupQuantiles(df: DataFrame, grp: String, c: String,
                     qsPpm: Seq[Long] = Seq(500000L, 900000L, 990000L),
                     p: Int = DefaultP): DataFrame =
    quantiles(buildSketch(df, grp, c, p), grp, qsPpm, p)
}
