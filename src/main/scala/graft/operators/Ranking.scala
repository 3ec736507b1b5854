package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Distributed global ranking. A bare `row_number() OVER (ORDER BY …)`
  * has no PARTITION BY, so Spark plans a single-partition WindowExec —
  * every row funnels through one task, the classic scale-killer for
  * "assign contiguous ids by rank" (vocabulary induction, leaderboard
  * materialization). This is the two-phase form:
  *
  *   1. range-repartition on the sort key (a sampled RangePartitioner
  *      gives contiguous, ordered key ranges per partition id),
  *   2. row_number WITHIN each partition (parallel),
  *   3. add each partition's start offset = sum of earlier partition
  *      counts (one tiny P-row aggregate, P = shuffle partitions).
  *
  * Output is bit-identical to the single-partition window as long as
  * the sort is total (pass a tiebreak column); no task ever sees more
  * than ~n/P rows. Same decomposition Spark's own `zipWithIndex` uses,
  * expressed in DataFrame ops so Catalyst keeps optimizing around it.
  */
object Ranking {

  /** `df` + `outCol` = INCLUSIVE global running sum of `valueCol` in
    * `sortCols` order (total order required) — same two-phase
    * decomposition as globalRowNumber: local cumsum within range
    * partitions + per-partition prefix offsets. The scale-safe form
    * of `sum().over(Window.orderBy(...))`, which plans a
    * single-partition WindowExec.
    *
    * INTEGER-ONLY contract: the running sum accumulates as long (the
    * only type whose partial sums are partition-order-invariant — a
    * double cumsum would drift by summation order). Non-integral
    * inputs are rejected rather than silently truncated; scale a
    * decimal into integral units (cents, micros) first. */
  def globalCumSum(df: DataFrame, valueCol: Column, outCol: String,
                   sortCols: Column*): DataFrame = {
    val vt = df.select(valueCol).schema.head.dataType
    require(Seq("byte", "short", "integer", "long").contains(vt.typeName),
      s"globalCumSum accumulates exact longs; got $vt — cast to an " +
        "integral unit (e.g. cents) explicitly at the call site")
    withOffsets(df.withColumn("__v", valueCol.cast("long")), sortCols,
        sum(col("__v")).over(_), sum(col("__v")))
      .withColumn(outCol, col("__off") + col("__local"))
      .drop("__v", "__local", "__off")
  }

  /** `df` + `outCol` = 0-based dense global row number by `sortCols`
    * (must define a total order for a deterministic result). */
  def globalRowNumber(df: DataFrame, outCol: String, sortCols: Column*): DataFrame =
    withOffsets(df, sortCols, row_number().over(_).cast("long"), count(lit(1)))
      .withColumn(outCol, col("__off") + col("__local") - 1)
      .drop("__local", "__off")

  /** The shared two-phase body: `df` range-partitioned on `sortCols`,
    * plus `__local` = `local` over the window of its partition in sort
    * order, plus `__off` = the sum of `measure` over every earlier
    * partition. */
  private def withOffsets(df: DataFrame, sortCols: Seq[Column],
                          local: WindowSpec => Column, measure: Column): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = df.repartitionByRange(parts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
    // pin the partitioning: the plan forks below (offsets + join), and
    // an unpersisted repartitionByRange RESAMPLES its boundaries per
    // branch — the branches can then disagree on __pid and corrupt
    // the offsets (observed: a 4000-row spec diff at a boundary)
    val persisted = graft.util.CacheScope.persist(parted.withColumn("__local",
      local(Window.partitionBy("__pid").orderBy(sortCols: _*))))
    // Prefix sums over the P per-partition measures via a P×P self-join
    // (P = shuffle partitions, so ~32² rows) — NOT an unpartitioned
    // window, which would plan the very single-partition WindowExec
    // this operator exists to avoid.
    val sizes = persisted.groupBy("__pid").agg(measure.as("__size"))
    val offsets = sizes.as("x")
      .join(sizes.as("y"), col("y.__pid") < col("x.__pid"), "left")
      .groupBy(col("x.__pid").as("__pid"))
      .agg(coalesce(sum(col("y.__size")), lit(0L)).as("__off"))
    persisted.join(broadcast(offsets), "__pid").drop("__pid")
  }
}
