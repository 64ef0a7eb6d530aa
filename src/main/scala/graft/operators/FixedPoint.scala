package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Order-independent fixed-point aggregation helpers.
  *
  * A `round(sum(double), k)` / `round(avg(double), k)` output is
  * summation-order dependent at the ulp level, and Spark's partial-agg
  * scheduling changes the order with partitioning — the q_dtw and
  * q_embed_cov incidents were both a half-ulp drift amplified through a
  * k-dp rounding into a hash mismatch against the oracle. The cure is the
  * same everywhere: quantize each addend to a fixed grid as a BIGINT, sum
  * exactly (integer addition commutes), and divide/round ONCE — then any
  * engine that mirrors the quantization reproduces the value bit-for-bit
  * regardless of scheduling.
  *
  * Grid choice trades resolution against overflow: the sums are bounded by
  * `n · max|v| · scale < 2^63` (and `n · (max|v| · scale)² < 2^63` for
  * second moments), so wide-range values take a coarser grid. Every call
  * site documents its bound.
  */
object FixedPoint {

  /** Exact integer sum of quantized addends, guarded against silent BIGINT
    * wraparound: non-ANSI Spark wraps `sum(long)` past 2^63 with no error
    * (the r7 advisor: ~2.5e7 unit-norm rows at a 1e-6 quantum), so the
    * bound `max|q| · n < 4.6e18` (half of 2^63 for headroom) is checked
    * from aggregates already in flight and THROWS with a remediation hint.
    * The bound is conservative (max·n ≥ |Σ|), adds no extra pass, and the
    * `when(assert_true(..).isNull, ..)` wrapper is value-transparent —
    * assert_true returns NULL when the predicate holds. The predicate is
    * coalesced to TRUE for groups with zero non-null addends: there
    * `max(abs(q))` is NULL, the comparison is NULL, and assert_true THROWS
    * on NULL — an all-null group must return a NULL sum, not crash (r8
    * ADVICE). */
  private def guardedSum(q: Column): Column = {
    val bound = max(abs(q.cast("double"))) * count(q).cast("double")
    when(assert_true(coalesce(bound < lit(4.6e18), lit(true)),
      lit("FixedPoint overflow: max|addend| * n exceeds the BIGINT grid " +
        "- coarsen the quantum (scale) for this data")).isNull,
      org.apache.spark.sql.functions.sum(q))
  }

  /** Exact integer accumulation of `v` on the `1/scale` grid, emitted as a
    * double rounded to `outScale` places. */
  def sum(v: Column, scale: Double, outScale: Int): Column =
    round(guardedSum(round(v * scale).cast("long")) / scale, outScale)

  /** The quantized addend itself (for sums that need a custom combination,
    * e.g. products of two grids). */
  def q(v: Column, scale: Double): Column = round(v * scale).cast("long")

  /** 6-dp mean on the 1e-6 grid — the bucket-mean workhorse. Bound:
    * `n · |v| ≤ ~9.2e12` per group. Denominator counts NON-NULL addends
    * (`avg()` semantics — the r7 advisor caught that `count(*)` would make
    * a null-bearing column's mean silently wrong); oracles mirror
    * `count(<quantized expr>)`. */
  def mean6(v: Column): Column =
    round(guardedSum(round(v * 1000000.0).cast("long")) /
      (count(round(v * 1000000.0).cast("long")) * 1000000.0), 6)

  /** Mean on an arbitrary grid, rounded to `outScale` (non-null count, as
    * [[mean6]]). */
  def mean(v: Column, scale: Double, outScale: Int): Column =
    round(guardedSum(round(v * scale).cast("long")) /
      (count(round(v * scale).cast("long")) * scale), outScale)

  // --------------------------------------------------------------------
  // Signed-zero emission contract.
  //
  // IEEE-754 `x + 0.0` is the identity for every x EXCEPT -0.0, which it
  // canonicalizes to +0.0 (and NaN stays NaN). Engines disagree on the
  // sign of a zero produced by rounding a negative quantity — DuckDB's
  // round(-1e-9, 6) keeps the sign (-0.0), Spark's drops it (0.0) — and a
  // value-hashing comparator sees those as different numbers (the
  // q_embed_cov r7 incident: ONE covariance cell rounding to zero from
  // below). The contract: every float the engine EMITS is canonicalized
  // with `+ 0.0`, and every oracle expression that can produce a negative
  // zero mirrors `+ 0.0` in SQL. QuerySurfaceSpec's sweep enforces the engine side
  // across the whole query surface.
  // --------------------------------------------------------------------

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.types._

  private def hasFloaty(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloaty(et)
    case MapType(kt, vt, _) => hasFloaty(kt) || hasFloaty(vt)
    case StructType(fs) => fs.exists(f => hasFloaty(f.dataType))
    case _ => false
  }

  /** `c` with every reachable -0.0/-0.0f replaced by +0.0 (value-identity
    * for everything else, including NaN). Recurses through arrays, maps
    * and structs; returns `c` untouched when the type holds no floats. */
  def noNegZero(c: Column, dt: DataType): Column = dt match {
    case DoubleType => c + lit(0.0)
    case FloatType => (c + lit(0.0f)).cast(FloatType)
    case ArrayType(et, _) if hasFloaty(et) =>
      transform(c, x => noNegZero(x, et))
    case MapType(kt, vt, _) if hasFloaty(vt) && !hasFloaty(kt) =>
      transform_values(c, (_, v) => noNegZero(v, vt))
    case MapType(kt, vt, _) if hasFloaty(kt) =>
      map_from_arrays(
        transform(map_keys(c), k => noNegZero(k, kt)),
        transform(map_values(c), v => noNegZero(v, vt)))
    case st: StructType if hasFloaty(st) =>
      // rebuild field-wise, preserving struct-level nulls
      when(c.isNull, lit(null).cast(st)).otherwise(struct(
        st.fields.toSeq.map(f => noNegZero(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** The emission gate: `df` with all float-bearing columns canonicalized.
    * A pure per-row Project on top of the plan — ordering, partitioning
    * and every operator below are untouched (sort-then-project preserves
    * row order). No-op (same object) when the schema holds no floats. */
  def canonEmit(df: DataFrame): DataFrame =
    if (!df.schema.exists(f => hasFloaty(f.dataType))) df
    else df.select(df.schema.fields.toSeq.map(f =>
      noNegZero(col(s"`${f.name}`"), f.dataType).as(f.name)): _*)
}
