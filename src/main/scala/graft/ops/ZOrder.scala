package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve: the interleave and the versioned lake's
  * Z-ordered compaction layout.
  *
  * A linear `clusterBy(c1, c2)` compact sorts lexicographically: files
  * get narrow `c1` intervals but each spans nearly the full `c2`
  * range, so the manifest's min/max skipping bites on `c1` probes
  * only. Interleaving the bits of both columns into one sort key
  * ([[zValue2]] — the same codegen'd shift/or expression the
  * standalone `q_zorder` curve uses) places rows close in EITHER
  * dimension into nearby files, so a range probe on any single
  * clustered dimension prunes to ~sqrt of the files instead of all of
  * them — the Delta `OPTIMIZE ZORDER BY` shape for multi-predicate
  * workloads.
  *
  * The layout adds the normalization: arbitrary-ranged numeric
  * columns are min/max-scaled to 16-bit ranks (one column-pruned
  * aggregate over the snapshot supplies the extrema) so the interleave
  * treats both dimensions at equal granularity. Ties within a 2^-16
  * cell only blur file boundaries, never correctness — per-file stats
  * stay exact whatever the order.
  */
object ZOrder {

  /** Two-dimensional Z-order (Morton) value: interleave the low `bits`
    * bits of `x` (even positions) and `y` (odd positions). Sorting a
    * table by z clusters BOTH dimensions at once, so a box predicate
    * (x-range AND y-range) touches O(perimeter) files instead of all
    * of them. Pure shift/and/or built-ins — codegen'd, row-local, no
    * UDF; inputs must already be quantized to [0, 2^bits) (callers
    * bucket or rank first). `Z_VALUE2` is the DuckDB twin generated
    * from the same loop. */
  def zValue2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    val xl = x.cast("long"); val yl = y.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(xl, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(
          shiftrightunsigned(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** DuckDB twin of [[zValue2]]. */
  def Z_VALUE2(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((((($x) >> $i) & 1) << ${2 * i}) | " +
        s"(((($y) >> $i) & 1) << ${2 * i + 1}))"
    }.mkString("(", " | ", ")")

  /** Normalized 16-bit rank of `c` for extrema [mn, mx] → [0, 65535];
    * constant-span and NULL values rank 0 (NULLs sort first — they
    * carry no stats and never match a range probe anyway). */
  private def rank16(c: Column, mn: Double, mx: Double): Column = {
    val span = mx - mn
    if (span <= 0d || span.isNaN) lit(0L)
    else coalesce(
      least(lit(65535L),
        floor((c.cast("double") - lit(mn)) / lit(span) * lit(65536d))
          .cast("long")),
      lit(0L))
  }

  /** `df` laid out for an `n`-file Z-ordered write: range-partitioned
    * and sorted on the Morton key of the two `cols`, key dropped
    * before the write. */
  def layout(df: DataFrame, n: Int, cols: Seq[String]): DataFrame = {
    require(cols.size == 2,
      s"zOrder layout interleaves exactly 2 dimensions, got ${cols.size}")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"mn_$c"),
        max(col(c).cast("double")).as(s"mx_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      if (r.isNullAt(2 * i) || r.isNullAt(2 * i + 1)) lit(0L)
      else rank16(col(c), r.getDouble(2 * i), r.getDouble(2 * i + 1)) }
    val zc = "__graft_zorder"
    df.withColumn(zc, zValue2(ranks(0), ranks(1), 16))
      .repartitionByRange(n, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
  }
}
