package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._
import graft.expressions.BloomFilter._

class BloomSpec extends AnyFunSuite {

  import spark.implicits._

  private val keys = (0L until 10000L).map(_ * 7 + 3)

  private lazy val bloom: Array[Byte] = keys.toDF("k")
    .repartition(8) // force partial buffers + OR-merges
    .agg(bloomAgg(spark, col("k"), numBits = 1 << 20, numHashes = 5).as("bf"))
    .first().getAs[Array[Byte]](0)

  test("bloom filter has NO false negatives across partition merges") {
    val misses = keys.toDF("k")
      .where(!mightContain(spark, lit(bloom), col("k"), numHashes = 5))
      .count()
    assert(misses == 0)
  }

  test("bloom false-positive rate is within sizing expectations") {
    // 10k keys in 1M bits with 5 hashes -> theoretical fpp ~ 3e-6;
    // allow a generous 1% envelope
    val absent = (1L to 20000L).map(_ * 7 + 4) // none inserted
    val fp = absent.toDF("k")
      .where(mightContain(spark, lit(bloom), col("k"), numHashes = 5))
      .count()
    assert(fp.toDouble / absent.size < 0.01, s"$fp false positives")
  }

  test("count-min never undercounts and stays inside the eps envelope") {
    // Spark's built-in count-min sketch, as q_cms_words uses it
    val rnd = new scala.util.Random(3)
    val items = Seq.fill(20000)(s"item${rnd.nextInt(300)}")
    val exact = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // deliberately TIGHT width (128 << 300 distinct) to force collisions;
    // partial sketches merge across the 8 partitions
    val sketch = items.toDF("i").repartition(8)
      .stat.countMinSketch(col("i"), 4, 128, 42)
    val est = exact.keys.map(k => k -> sketch.estimateCount(k)).toMap
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"undercount for $k")                    // hard guarantee
      assert(est(k) <= c + 2L * items.size / 128, s"overcount blown for $k")
    }
  }

  test("bloom prefilter + exact residual equals the direct semi join") {
    val orders = graft.sources.Tables.orders(spark, sfTiny)
    val li = graft.sources.Tables.lineitem(spark, sfTiny)
    val urgent = orders.where(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val bf = urgent.agg(bloomAgg(spark, col("o_orderkey"), 1 << 16, 5).as("b"))
      .first().getAs[Array[Byte]](0)
    val viaBloom = li
      .where(mightContain(spark, lit(bf), col("l_orderkey"), 5))
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .count()
    val direct = li
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .count()
    assert(viaBloom == direct && direct > 0)
  }
}
