package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Interval (range) join: match points to [lo, hi] intervals without
  * the O(points x ranges) cross product a naive BETWEEN predicate
  * degenerates to (Spark plans a non-equi join as BroadcastNestedLoop
  * — every point tested against every range).
  *
  * Scale shape: quantize the domain into fixed-width buckets. Each
  * interval is exploded to the buckets it covers, each point hashes to
  * exactly one bucket, and the join becomes an EQUI join on bucket id
  * (shuffle- or broadcast-hash, AQE-eligible) followed by the exact
  * residual BETWEEN filter. Cost is O(points + ranges x spans) where
  * spans = avg interval width / bucketWidth — pick bucketWidth near
  * the median interval width so spans stays a small constant. The
  * plan is graft.plans.BandJoinRewrite's, including its nested-loop
  * branch for inverted or oversized intervals.
  */
object RangeJoin {

  /** Join `points` to `ranges` where pointCol ∈ [loCol, hiCol]
    * (inclusive both ends). Keeps all columns of both sides. */
  def bucketed(points: DataFrame, pointCol: Column,
               ranges: DataFrame, loCol: Column, hiCol: Column,
               bucketWidth: Double): DataFrame =
    graft.plans.BandJoinRewrite.bucketed(
      points.join(ranges, pointCol >= loCol && pointCol <= hiCol), bucketWidth)
}
