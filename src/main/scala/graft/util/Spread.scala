package graft.util

import org.apache.spark.sql.DataFrame

/** Guard against FILE-BOUND parallelism starvation ahead of
  * compute-heavy stages: a scan's partition count is set by input
  * splits, and a table that arrives as one small file (or a cache
  * persisted from one) funnels every downstream per-row computation
  * through a single task — 1 core busy, 31 idle. Measured on the
  * sf10 scale fixture: the minhash signature stage (per-char rolling
  * hashes, interpreted HOFs) ran ONE core for 30+ minutes because
  * documents.parquet yielded 3 input splits on a 32-core session.
  *
  * `Spread(df)` repartitions to `defaultParallelism` ONLY when the
  * scan's ESTIMATED split count is below it, so on real multi-file
  * inputs (where scans already carry hundreds of splits) it is a
  * no-op and no gratuitous full-data shuffle ever happens at 100 TB.
  * Apply it where per-row compute dominates scan cost (signature/
  * encode/train stages), not on plain scans — for cheap aggregations
  * the exchange costs more than the parallelism wins (measured:
  * repartition-before-persist regressed the sf0.1 bench ~35%, see
  * sources.Tables.warm).
  *
  * The split estimate is `optimizedPlan.stats.sizeInBytes /
  * files.maxPartitionBytes` — pure logical-plan statistics, the same
  * inputs Spark's own FilePartition packer uses, so probing never
  * instantiates an RDD lineage or (under AQE) eagerly materializes an
  * upstream exchange the way `df.rdd.getNumPartitions` would. The
  * estimate ignores per-file open cost, so it can
  * UNDERcount splits on many-tiny-file inputs and repartition a frame
  * that already had enough splits — the safe direction here, since
  * Spread only wraps compute-dominant stages where the input is small
  * enough for the extra exchange to be noise.
  */
object Spread {

  /** Estimated partition count WITHOUT building an RDD: the max of
    * (a) the pre-AQE physical plan's declared output partitioning —
    * exact for plans that end in an exchange (repartition/shuffle),
    * `UnknownPartitioning(0)` for plain file scans — and (b) a
    * logical-stats split estimate `sizeInBytes / maxPartitionBytes`,
    * which covers the scan case. Planning `sparkPlan` is pure query
    * planning — no job, no RDD lineage, no eager AQE stage
    * materialization.
    *
    * Stats can miss in BOTH directions: a leaf that falls back to
    * `spark.sql.defaultSizeInBytes` (= Long.MaxValue
    * unless CBO overrides it) or a join whose size estimate is the
    * PRODUCT of its inputs reports absurdly large bytes, which would
    * read as "plenty of splits" and silently suppress the repartition
    * Spread exists to add. Any estimate at or beyond
    * defaultSizeInBytes is therefore treated as UNKNOWN — the stats
    * term drops out and only the declared output partitioning counts,
    * so a post-join single-partition plan still gets spread (the
    * starvation-safe direction: Spread only wraps compute-dominant
    * stages where one extra exchange is noise). */
  def estimatedPartitions(df: DataFrame): Long = {
    val conf = df.sparkSession.sessionState.conf
    val declared = df.queryExecution.sparkPlan.outputPartitioning.numPartitions.toLong
    val rawBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val bytes = if (rawBytes >= conf.defaultSizeInBytes) BigInt(0) else rawBytes
    val maxSplit = BigInt(conf.filesMaxPartitionBytes)
    val est = (bytes + maxSplit - 1) / maxSplit
    math.max(declared, est.max(1).min(Int.MaxValue).toLong)
  }

  def apply(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (estimatedPartitions(df) < p) df.repartition(p) else df
  }
}
