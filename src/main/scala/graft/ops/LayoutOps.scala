package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators: the write-side choices that decide how
  * much of a 100-TB table a query must READ. q67 covers the
  * one-dimensional case (range-partition + sort → row-group min/max
  * stats prune a date band). This module adds the multi-dimensional
  * one: Z-ORDER (Morton) clustering, where bit-interleaving two key
  * columns gives a single sort key under which row groups stay narrow
  * in BOTH dimensions — so a scan filtered on either key (or both)
  * skips most files on parquet footer stats alone. The same trick
  * Delta/Iceberg OPTIMIZE ZORDER applies, done with plain Spark
  * writes and integer arithmetic.
  *
  * Reference analog: none — the reference's MySQL marts lean on B-tree
  * PKs (kicc_to_tb_sales.py:61-66); columnar layouts move that
  * locality decision to write time.
  */
object LayoutOps {

  /** Skew-bounded partitioned overwrite (r22, guide §6 + VERDICT r21
    * finding 4) — the shared write path of q41, entry()'s mart and
    * the nightly's staging commit (NightlyRun.commitSlice):
    *
    * A plain `repartition(partCol)` gives ONE task per distinct
    * partition value, so a hot value lands entirely in one task
    * (skew/OOM at 100 TB) and distinct values can collide into one
    * hash bucket. A bare REBALANCE hint fixes the hot side but AQE's
    * partition COALESCING then packs a small table's whole shuffle
    * into ~one advisory-sized task, serializing every file/dir commit
    * (measured 1.26 → 3.86 s min on q41 at sf0.1). So: REBALANCE for
    * its stats-driven SKEW SPLIT (a value larger than the advisory
    * partition size splits into bounded tasks, several files in that
    * dir), with coalescing disabled scoped to the write — small
    * values keep one task and exactly one file per dir, at every
    * scale, exactly the r21 layout.
    *
    * The scoped conf set/restore is safe under the sequential
    * bench/Verify drivers; like q100's state-partition scope it is
    * NOT safe under concurrent query construction on one session
    * (documented watch item, VERDICT r21 finding 6).
    */
  def partitionedOverwrite(df: DataFrame, partCol: String, sink: String): Unit = {
    val s = df.sparkSession
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = s.conf.get(key, "true")
    try {
      s.conf.set(key, "false")
      df.hint("rebalance", col(partCol))
        .write.partitionBy(partCol).mode("overwrite").parquet(sink)
    } finally s.conf.set(key, prev)
  }

  /** Morton (Z-order) code: interleave the low `bits` bits of x and y
    * (x in even positions, y in odd). Pure codegen'd integer
    * arithmetic — 2·bits shift/mask terms OR-folded; no UDF, no
    * lookup tables, portable to any engine.
    *
    * CONTRACT: both inputs must already lie in [0, 2^bits). The r12
    * review retired the old pmod fold here — a modular fold ALIASES
    * keys 2^bits apart into the same Z-cell, so every row group's
    * min/max stats span the whole key domain and the layout prunes
    * nothing, silently, precisely on the big tables the operator
    * exists for. Out-of-range input now raises at execution instead;
    * real key domains go through [[zorderKey]], whose range scaling
    * is monotonic (rank-preserving), not modular.
    */
  def mortonCode(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    def checked(c: Column, name: String): Column =
      when(c.isNull || (c >= 0 && c < lit(1L << bits)), c.cast("long"))
        .otherwise(raise_error(concat(
          lit(s"mortonCode: $name out of [0, 2^$bits): "), c.cast("string"))))
    val xs = checked(x, "x")
    val ys = checked(y, "y")
    (0 until bits).map { i =>
      shiftleft(shiftright(xs, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(ys, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-order key over two ARBITRARY-domain long columns: one bounded
    * aggregation computes each key's [min, max], each value is scaled
    * MONOTONICALLY into [0, 2^bits) — (v − lo) · 2^bits / span, a
    * rank-preserving map, so nearby keys stay in nearby Z-cells and
    * footer-stat pruning actually works at any domain size — and the
    * two scaled values interleave via [[mortonCode]]. The stats pass
    * is four scalars collected to the driver (the bounded-collect
    * class kmeans' centroids already establish); at write time its
    * cost is noise next to the rewrite itself. bits ≤ 16 is plenty:
    * the curve only has to order ROW GROUPS (~10^5 per table), not
    * distinguish every row.
    */
  def zorderKey(df: DataFrame, xCol: Column, yCol: Column,
                bits: Int): Column = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    val r = df.agg(min(xCol).cast("long"), max(xCol).cast("long"),
      min(yCol).cast("long"), max(yCol).cast("long")).collect().head
    def scaled(c: Column, lo: Long, hi: Long): Column = {
      // exact span arithmetic (r14 review): hi - lo + 1 in plain longs
      // overflows for domains wider than Long.MaxValue (a MinValue
      // sentinel plus any positive max), and the WRAPPED negative span
      // sailed through the width require below — surfacing later as
      // mortonCode's confusing out-of-range raise, or worse
      val span =
        try Math.addExact(Math.subtractExact(hi, lo), 1L)
        catch {
          case _: ArithmeticException => throw new IllegalArgumentException(
            s"key span [$lo, $hi] too wide to scale without overflow")
        }
      require(span > 0 && span < (1L << (62 - bits)),
        s"key span $span too wide to scale without overflow at $bits bits")
        // (v-lo)*2^bits div span ∈ [0, 2^bits) exactly (v ≤ hi ⇒
        // numerator ≤ (span-1)·2^bits < span·2^bits). The division must
        // be INTEGRAL (Catalyst IntegralDivide via the registered `div`
        // function): Column./ is double division, and for spans past
        // ~2^(53-bits) the numerator exceeds 2^53, where the rounded
        // double quotient can differ by 1 from the exact one — adjacent
        // keys land in swapped Z-cells (r12 advice). `div` keeps the
        // whole computation in 64-bit integers, so the bound above is
        // the only precision constraint.
        call_function("div",
          (c.cast("long") - lit(lo)) * lit(1L << bits), lit(span))
      }
      val xStats = !r.isNullAt(0)
      val yStats = !r.isNullAt(2)
      // degenerate-column fallbacks (r14 review): the old single check
      // returned a CONSTANT key whenever either column had no stats —
      // right for an empty input, but an all-null x over a populated y
      // silently destroyed y's clustering too (row groups spanning y's
      // whole domain, zero pruning — the exact failure this operator
      // exists to prevent). One populated dimension now falls back to
      // its monotonic 1-D scaled key.
      (xStats, yStats) match {
        case (false, false) => lit(0L) // empty or all-null input: any key
        case (true, false) => scaled(xCol, r.getLong(0), r.getLong(1))
        case (false, true) => scaled(yCol, r.getLong(2), r.getLong(3))
        case (true, true) =>
          mortonCode(scaled(xCol, r.getLong(0), r.getLong(1)),
            scaled(yCol, r.getLong(2), r.getLong(3)), bits)
      }
  }
}
