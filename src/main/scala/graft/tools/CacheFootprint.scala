package graft.tools

import org.apache.spark.sql.SparkSession

/** Measures the parquet-scan → in-memory-columnar expansion per table:
  * the constant behind Tables.CachedExpansion (the warm() size gate
  * converts scan-stat bytes into an estimated cached footprint with
  * it). Run on any fixture dir:
  *
  *   sbt "runMain graft.tools.CacheFootprint /root/testdata/sf0.1"
  *
  * Prints one line per table — scan-stat bytes (what the gate sees
  * BEFORE caching), actual cached bytes (RDD storage info after a full
  * materialization), and the ratio. The gate wants an upper bound:
  * read the MAX ratio across tables, not the mean.
  */
object CacheFootprint {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.util.BenchConfs(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var maxRatio = 0.0
    graft.sources.Tables.all.foreach { n =>
      val df = graft.sources.Tables.load(spark, dir, n)
      val scanBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      val cached = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      val ratio = cached.toDouble / scanBytes.toDouble
      maxRatio = math.max(maxRatio, ratio)
      println(f"$n%-12s scan=$scanBytes%12s cached=$cached%12d ratio=$ratio%.2f")
      df.unpersist(blocking = true)
    }
    println(f"max ratio = $maxRatio%.2f (Tables.CachedExpansion should bound this)")
    spark.stop()
  }
}
