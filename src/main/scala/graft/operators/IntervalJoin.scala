package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval-overlap join: all (a, b) pairs with the same key whose
  * [start, end] spans intersect (a.start ≤ b.end AND b.start ≤ a.end)
  * — the interval-interval sibling of RangeJoin's point-in-interval.
  *
  * A naive formulation is a per-key cross product with an inequality
  * predicate — Catalyst plans it as a nested loop, O(n_k²) per key,
  * the non-equi-join scale-killer. This operator BLOCKS on fixed-width
  * buckets instead (graft.plans.BandJoinRewrite): each interval
  * explodes into every bucket index its span covers, the join runs as
  * a pure EQUI join on (key, bucket) — shuffle-hashable,
  * AQE-skew-splittable — and the exact predicate verifies candidates
  * afterwards. A pair meets only in the bucket holding max(a.start,
  * b.start), so it is emitted once without a dedup. Bucket width trades
  * fan-out (span/width rows per interval) against bucket population;
  * pick it near the typical span so the fan-out is O(1) per interval.
  * Degenerate-key hot buckets are the same skew surface as every
  * blocked join here (salting / AQE handles them).
  */
object IntervalJoin {

  /** `a`/`b`: (key, id, start, end) with integral start/end (micros,
    * days — any unit). Returns one row per overlapping (a, b) pair
    * with both ids, both spans, and the exact overlap length. */
  def overlapPairs(a: DataFrame, b: DataFrame, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def side(df: DataFrame, pfx: String) = df.select(
      col("key").as(s"${pfx}_key"), col("id").as(s"${pfx}_id"),
      col("start").as(s"${pfx}_start"), col("end").as(s"${pfx}_end"))
    graft.plans.BandJoinRewrite.bucketed(side(a, "a").join(side(b, "b"),
        col("a_key") === col("b_key") &&
          col("a_start") <= col("b_end") && col("b_start") <= col("a_end")),
        bucketWidth.toDouble)
      .select(col("a_key").as("key"), col("a_id"), col("b_id"),
        col("a_start"), col("a_end"), col("b_start"), col("b_end"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("overlap"))
  }
}
