package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.Spread

/** util.Spread — the file-bound parallelism guard. Pins: widening a
  * starved input to defaultParallelism, the no-op on already-parallel
  * inputs (no gratuitous exchange at scale), and value preservation.
  */
class SpreadSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("widens a single-partition input to defaultParallelism") {
    val p = spark.sparkContext.defaultParallelism
    val df = (1 to 1000).toDF("x").coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    val out = Spread(df)
    assert(out.rdd.getNumPartitions == p)
    assert(out.agg(org.apache.spark.sql.functions.sum("x")).head.getLong(0) == 500500L)
  }

  test("no-op when the input already has enough partitions") {
    val p = spark.sparkContext.defaultParallelism
    val df = (1 to 100).toDF("x").repartition(p + 3)
    val out = Spread(df)
    // same plan object — no exchange inserted
    assert(out eq df)
  }

  test("unknown stats (defaultSizeInBytes leaf) do not suppress the spread") {
    // round-6 advice item: a leaf whose stats fall back to
    // spark.sql.defaultSizeInBytes (Long.MaxValue) used to read as
    // "plenty of splits", silently no-op'ing Spread and reintroducing
    // the single-partition starvation it exists to prevent. Treated
    // as UNKNOWN now: only the declared partitioning counts, and a
    // 1-partition plan still gets spread.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val p = spark.sparkContext.defaultParallelism
    val rdd = spark.sparkContext.parallelize((1 to 100).map(Row(_)), 1)
    val df = spark.createDataFrame(rdd,
      StructType(Seq(StructField("x", IntegerType))))
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(Long.MaxValue), "fixture must actually be stats-unknown")
    val out = Spread(df)
    assert(out.rdd.getNumPartitions == p,
      "stats-unknown single-partition input must still be spread")
    assert(out.agg(org.apache.spark.sql.functions.sum("x")).head.getLong(0) == 5050L)
  }

  test("reads maxPartitionBytes in any Spark byte unit") {
    // `1t` is a valid size for spark.sql.files.maxPartitionBytes; the
    // estimate reads the session's parsed value, not the raw string
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "1t")
    try {
      val df = (1 to 100).toDF("x").coalesce(1)
      assert(Spread.estimatedPartitions(df) == 1L)
    } finally spark.conf.set(key, saved)
  }
}
