package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Cross-engine-deterministic column helpers.
  *
  * The correctness gate compares Spark results against DuckDB running
  * ANSI SQL on the same parquet. Floating-point aggregation order differs
  * between engines, so every money/ratio aggregate here is computed in
  * exact integer space (cents / basis points) and only divided back to
  * doubles at the very end (single IEEE op = deterministic). All helpers
  * are built from `org.apache.spark.sql.functions` only — they stay
  * inside whole-stage codegen.
  */
object GraftFunctions {

  /** Money double → exact integer cents. DuckDB twin: CAST(round(x*100) AS BIGINT). */
  def cents(c: Column): Column = round(c * 100).cast(LongType)

  /** Rate double (0.04) → exact integer basis points out of 100. */
  def pct(c: Column): Column = round(c * 100).cast(LongType)

  /** Timestamp → epoch microseconds (BIGINT); floor semantics match
    * DuckDB's epoch_us(). */
  def tsUs(c: Column): Column = unix_micros(c)

  /** Reference fio concat (rep_fraud.py:15 `last_name || ' ' || ...`):
    * here the client "name" analog. */
  def fio(parts: Column*): Column = concat_ws(" ", parts: _*)

  /** 32-bit hash from the md5 hex prefix — the only hash both Spark and
    * DuckDB compute identically (`('0x'||substr(md5(x),1,8))::BIGINT`
    * on the DuckDB side). Backed by the native codegen'd
    * [[graft.functions.Md5Prefix32]] expression (no hex-string
    * round-trip); `h32Builtin` keeps the functions-only composition for
    * cross-checking. */
  def h32(c: Column): Column = Md5Prefix32(c)

  def h32Builtin(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  /** Embedding float → exact scaled integer (µ-units). Float→double
    * promotion then one multiply and round: bit-identical across
    * engines, and all downstream sums/products stay in exact BIGINT. */
  def scaled(c: Column): Column =
    round(c.cast("double") * 1000000d).cast(LongType)

  /** Distinct-element count of a string array in O(n log n): array_sort
    * then ONE aggregate pass counting boundaries where an element
    * differs from its predecessor. Replaces size(array_distinct(...)),
    * whose per-row pairwise compares are O(n²) in array length — lethal
    * on book-length documents. The sorted array is referenced exactly
    * once (inside aggregate), so it is evaluated once per row even if
    * Catalyst collapses this into the caller's projection — an
    * element_at-indexed formulation would instead re-evaluate the sort
    * per element after CollapseProject inlining (measured 20× slower).
    * Assumes no null elements (split() output never contains them). */
  def nDistinct(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit(0L).as("cnt"), lit(null).cast("string").as("prev")),
      (acc, x) => struct(
        when(acc("prev").isNotNull && acc("prev") === x, acc("cnt"))
          .otherwise(acc("cnt") + lit(1L)).as("cnt"),
        x.as("prev")),
      acc => acc("cnt"))
}
