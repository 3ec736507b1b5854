package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._
import graft.functions.TextFunctions.tokens

/** Spark's built-in `approx_top_k` frequent-items sketch, as
  * q_heavy_hitters uses it. */
class TopKSketchSpec extends AnyFunSuite {

  private def entries(top: org.apache.spark.sql.DataFrame) =
    top.select(explode(col("t")).as("e")).select(col("e.item"), col("e.count"))

  test("sketch with ample capacity equals the exact top-k") {
    val words = graft.sources.Tables.documents(spark, sfTiny)
      .select(explode(tokens(col("text"))).as("word"))
    // the sketch orders count ties its own way: take every word, then
    // cut the top 10 in the exact query's order
    val sketch = entries(words.agg(expr("approx_top_k(word, 64, 4096)").as("t")))
      .orderBy(desc("count"), col("item")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("word")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // 4096 tracked items >> distinct words (~34): the sketch never
    // purges, so it must be exactly the true top-10
    assert(sketch == exact)
  }

  test("tight-capacity sketch still surfaces guaranteed heavy hitters") {
    import spark.implicits._
    // skewed stream: 'hot' appears 500 times among 100 distinct cold items
    val data = (Seq.fill(500)("hot") ++ (1 to 100).flatMap(i => Seq.fill(3)(s"cold$i")))
    val df = spark.sparkContext.parallelize(data, 8).toDF("w")
    val top = entries(df.agg(expr("approx_top_k(w, 3, 16)").as("t")))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // n=800 with 16 tracked items: 'hot' is far above the purge error
    assert(top.head._1 == "hot")
    // the estimate never falls below the true frequency
    assert(top.head._2 >= 500L)
  }

  test("sketch survives SQL registration") {
    val r = spark.sql(
      "SELECT approx_top_k(w, 2, 8) FROM VALUES ('a'),('a'),('b'),('c') AS t(w)")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(r.head.getString(0) == "a" && r.head.getLong(1) == 2L)
  }
}
