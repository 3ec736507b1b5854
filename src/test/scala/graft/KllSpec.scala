package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._
import graft.expressions.KllSketch._

/** KLL quantile sketch guarantees under compaction (the q_kll_quantiles
  * binding runs in exact mode; these specs exercise the tight-capacity
  * regime the binding never enters). */
class KllSpec extends AnyFunSuite {

  import spark.implicits._

  private val n = 50000
  private lazy val values: Seq[Double] = {
    val rnd = new scala.util.Random(3)
    Seq.fill(n)(rnd.nextDouble() * 1000.0)
  }
  private lazy val sortedVals = values.sorted
  private def exactRank(v: Double): Int = {
    // rank of v in the sorted sample (count of values <= v)
    var lo = 0; var hi = sortedVals.length
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (sortedVals(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  test("exact mode (capacity >= n): quantiles are the true order statistics") {
    val df = values.toDF("v")
    val sk = df.agg(kllAgg(spark, col("v"), 1 << 17)).first().getAs[Array[Byte]](0)
    Seq(0.1, 0.5, 0.9, 0.99).foreach { q =>
      val got = graft.expressions.KllFns.quantile(
        graft.expressions.KllFns.fromBytes(sk), q)
      val want = sortedVals(math.max(1, math.ceil(q * n).toInt) - 1)
      assert(got == want, s"q=$q")
    }
  }

  test("tight capacity: rank error stays inside the envelope, any partitioning") {
    Seq(1, 13).foreach { parts =>
      val df = values.toDF("v").repartition(parts)
      val sk = df.agg(kllAgg(spark, col("v"), 256)).first().getAs[Array[Byte]](0)
      val sketch = graft.expressions.KllFns.fromBytes(sk)
      // simplified fixed-k KLL: eps ~ c*log2(n/k)/k; with k=256,
      // n=50k, log2 ~ 7.6 -> ~3% at c=1. Assert 5% with slack.
      Seq(0.1, 0.25, 0.5, 0.75, 0.9).foreach { q =>
        val got = graft.expressions.KllFns.quantile(sketch, q)
        val rankErr = math.abs(exactRank(got) - q * n) / n.toDouble
        assert(rankErr <= 0.05, s"parts=$parts q=$q rankErr=$rankErr")
      }
      // the sketch really is compact: far fewer retained items than n
      val retained = sketch.levels.map(_.length).sum
      assert(retained < n / 20, s"retained $retained of $n")
    }
  }

  test("total weight tracks the row count (odd compactions drift by at most 2^level each)") {
    val df = values.toDF("v").repartition(7)
    val sk = df.agg(kllAgg(spark, col("v"), 128)).first().getAs[Array[Byte]](0)
    val w = graft.expressions.KllFns.fromBytes(sk).totalWeight
    assert(math.abs(w - n.toLong) <= n / 100, s"weight $w vs $n rows")
  }

  test("kll functions register for SQL") {
    graft.expressions.GraftExtensions.registerAll(spark)
    val r = spark.sql(
      "SELECT kll_quantile(kll_agg(CAST(id AS DOUBLE), 1024), CAST(0.5 AS DOUBLE)) FROM range(1, 101)")
      .first().getDouble(0)
    assert(r == 50.0, s"median of 1..100 was $r")
  }
}
