package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._

class PlansSpec extends AnyFunSuite {

  private def points = graft.sources.Tables.orders(spark, sfTiny)
    .select("o_orderkey", "o_totalprice")
  private def bands = spark.range(0, 30).select(
    col("id").as("band_id"),
    (col("id") * 15000.0).as("lo"),
    (col("id") * 15000.0 + 40000.0).as("hi"))
  private def betweenCond =
    col("o_totalprice") >= col("lo") && col("o_totalprice") <= col("hi")

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("o_orderkey"), col("band_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  // graft.plans.BandJoinRewrite is one rule for both join shapes; the
  // cases below are named after its point-in-interval shape
  // (RangeJoinRewrite) and its interval-overlap shape
  // (IntervalJoinRewrite)
  private def withRule[A](body: => A): A = {
    val old = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = old :+ graft.plans.BandJoinRewrite
    try body finally spark.experimental.extraOptimizations = old
  }

  private def withWidth[A](width: Double)(body: => A): A = {
    spark.conf.set("spark.graft.bandJoin.bucketWidth", width.toString)
    try body finally spark.conf.unset("spark.graft.bandJoin.bucketWidth")
  }

  private def hashJoined(df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("HashJoin") || plan.contains("SortMergeJoin")
  }

  test("RangeJoinRewrite: BETWEEN join becomes a hash join, identical results") {
    val naive = points.join(bands, betweenCond)
    assert(naive.queryExecution.executedPlan.toString.contains("NestedLoop"))
    val expected = pairs(naive)
    withRule {
      val rewritten = points.join(bands, betweenCond)
      val plan = rewritten.queryExecution.executedPlan.toString
      // the bucketed equi branch carries the data; the NestedLoop that
      // remains is the (empty here) oversized-span fallback branch
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
      assert(pairs(rewritten) == expected && expected.nonEmpty)
    }
  }

  test("RangeJoinRewrite handles the ranges-on-the-left orientation") {
    val expected = pairs(bands.join(points, betweenCond))
    withRule {
      val rewritten = bands.join(points, betweenCond)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
      assert(pairs(rewritten) == expected)
    }
  }

  test("RangeJoinRewrite: oversized-span rows fall back losslessly instead of exploding") {
    // one band spans 1e9 price units = 1e5 buckets at width 10000 —
    // above MaxBucketsPerRow (10000), so it must take the fallback
    // branch; without the guard this row alone would sequence() 100k
    // elements per row (and OOM/abort at wider spans).
    val wild = bands.union(
      spark.range(1).select(lit(999L).as("band_id"),
        lit(0.0).as("lo"), lit(1.0e9).as("hi")))
    val expected = pairs(points.join(wild, betweenCond))
    withRule {
      val rewritten = points.join(wild, betweenCond)
      assert(pairs(rewritten) == expected)
      // every point falls inside the wild band
      assert(pairs(rewritten).count(_._2 == 999L) == points.count())
    }
  }

  test("RangeJoinRewrite at a width too fine for every band falls back, still correct") {
    // each band spans 40000 price units: 40000 buckets at width 1.0,
    // above MaxBucketsPerRow, so the bucketed branch is empty
    val expected = pairs(points.join(bands, betweenCond))
    withRule {
      withWidth(1.0) {
        assert(pairs(points.join(bands, betweenCond)) == expected)
      }
    }
  }

  test("BandJoinRewrite: a point-in-interval condition with a third conjunct becomes a hash join") {
    // the third conjunct reads both sides, so it stays in the join condition
    def cond = betweenCond && (col("o_orderkey") + col("band_id")) % 2 === 0
    val naive = points.join(bands, cond)
    assert(naive.queryExecution.executedPlan.toString.contains("NestedLoop"))
    val expected = pairs(naive)
    assert(expected.nonEmpty && expected.forall { case (o, b) => (o + b) % 2 == 0 })
    withRule {
      val rewritten = points.join(bands, cond)
      assert(hashJoined(rewritten), rewritten.queryExecution.executedPlan.toString)
      assert(pairs(rewritten) == expected)
    }
  }

  test("RangeJoinRewrite leaves equi joins and non-interval conditions alone") {
    withRule {
      val equi = points.join(bands, col("o_orderkey") === col("band_id"))
      assert(equi.queryExecution.executedPlan.toString.contains("HashJoin"))
      // one-sided inequality: not an interval, stays a nested loop
      val half = points.join(bands, col("o_totalprice") >= col("lo"))
      assert(half.queryExecution.executedPlan.toString.contains("NestedLoop"))
    }
  }

  // the rule's on/off switch is Spark's own
  // spark.sql.optimizer.excludedRules: excluded, a join stays the
  // nested loop with the same answer; unset, the rewrite is back
  private def checkExcluded[K](q: => org.apache.spark.sql.DataFrame,
                               answer: org.apache.spark.sql.DataFrame => K): Unit = {
    val expected = answer(q)
    withRule {
      spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.BandJoinRewrite")
      try {
        val off = q
        val plan = off.queryExecution.executedPlan.toString
        assert(plan.contains("NestedLoop") && !hashJoined(off), plan)
        assert(answer(off) == expected)
      } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
      assert(hashJoined(q))
    }
  }

  test("RangeJoinRewrite respects the enabled flag") {
    checkExcluded(points.join(bands, betweenCond), pairs)
  }

  // -------------------------------------------------------------
  // IntervalJoinRewrite (interval × interval overlap)
  // -------------------------------------------------------------

  private def ivA = spark.range(0, 400).select(
    col("id").as("a_id"),
    (col("id") * 700.0).as("a_s"),
    (col("id") * 700.0 + 2500.0).as("a_e"))
  // deliberately includes duplicate rows (same interval twice) so the
  // multiplicity-preservation claim is actually exercised
  private def ivB = spark.range(0, 300).select(
    (col("id") % 150).as("b_id"),
    ((col("id") % 150) * 1300.0 + 101.0).as("b_s"),
    ((col("id") % 150) * 1300.0 + 3600.0).as("b_e"))
  private def overlapCond =
    col("a_s") <= col("b_e") && col("b_s") <= col("a_e")

  private def ivPairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  test("IntervalJoinRewrite: overlap join becomes a hash join, identical MULTISET") {
    val naive = ivA.join(ivB, overlapCond)
    assert(naive.queryExecution.executedPlan.toString.contains("NestedLoop"))
    val expected = ivPairs(naive)
    assert(expected.nonEmpty && expected.values.exists(_ > 1),
      "fixture must contain duplicate pairs to test multiplicity")
    withRule {
      withWidth(1000.0) {
        val rewritten = ivA.join(ivB, overlapCond)
        assert(hashJoined(rewritten), rewritten.queryExecution.executedPlan.toString)
        assert(ivPairs(rewritten) == expected)
      }
    }
  }

  test("IntervalJoinRewrite: oversized spans fall back losslessly") {
    // 2e9 / 1000 = 2e6 buckets, above MaxBucketsPerRow
    val huge = ivB.union(spark.range(0, 1).select(
      lit(999L).as("b_id"), lit(-1.0e9).as("b_s"), lit(1.0e9).as("b_e")))
    val expected = ivPairs(ivA.join(huge, overlapCond))
    withRule {
      withWidth(1000.0) {
        assert(ivPairs(ivA.join(huge, overlapCond)) == expected)
      }
    }
  }

  test("BandJoinRewrite: every overlap fallback join filters one side to its outliers") {
    // a fallback join that read both sides whole would be the very
    // nested loop over all pairs the rewrite exists to avoid
    // no nullable column, so the only filters are the rule's guards
    val b = spark.range(0, 150).select(col("id").as("b_id"),
      (col("id") * 1300.0 + 101.0).as("b_s"), (col("id") * 1300.0 + 3600.0).as("b_e"))
    withRule {
      val plan = ivA.join(b, overlapCond).queryExecution.optimizedPlan
      val joins = plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      assert(joins.size == 3, plan)
      joins.foreach(j => assert(j.children.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter])), j))
    }
  }

  test("BandJoinRewrite leaves the joins it built alone") {
    // RangeJoin.bucketed hands the optimizer a rewritten plan; the rule
    // must not rewrite its fallback join (the band condition itself) again
    withRule {
      val plan = graft.operators.RangeJoin.bucketed(points, col("o_totalprice"),
        bands, col("lo"), col("hi"), bucketWidth = 10000.0).queryExecution.optimizedPlan
      assert(plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
        .size == 2, plan)
    }
  }

  test("IntervalJoinRewrite: reversed spans (s > e) route to the fallback, not dropped") {
    // a reversed "interval" can still satisfy a_s <= b_e AND b_s <= a_e
    // (e.g. [5000, 1000] vs [0, 10000]); the bucketed branch cannot
    // represent it (empty bucket sequence), so it must reach the
    // fallback branch instead of silently vanishing
    // [3500+i, 150] matches ivB's k=0 band [101, 3600]; buckets 3 vs 0
    // → span -3, unrepresentable in the bucketed branch
    val revA = ivA.union(spark.range(0, 3).select(
      (col("id") + 900L).as("a_id"),
      (lit(3500.0) + col("id")).as("a_s"), lit(150.0).as("a_e")))
    // [2400, 40] (span -2) matches ivA's id=0 row [0, 2500]
    val revB = ivB.union(spark.range(0, 1).select(
      lit(800L).as("b_id"), lit(2400.0).as("b_s"), lit(40.0).as("b_e")))
    val expected = ivPairs(revA.join(revB, overlapCond))
    assert(expected.keys.exists(_._1 >= 900L),
      "fixture must produce matches involving reversed left rows")
    assert(expected.keys.exists(_._2 == 800L),
      "fixture must produce matches involving reversed right rows")
    withRule {
      withWidth(1000.0) {
        assert(ivPairs(revA.join(revB, overlapCond)) == expected)
      }
    }
  }

  test("IntervalJoinRewrite: mixed numeric bound types still rewrite and agree") {
    // left bounds long, right bounds double — the canonical-bucket
    // Greatest must not be built over mismatched child types
    val la = spark.range(0, 200).select(col("id").as("a_id"),
      (col("id") * 700L).as("a_s"), (col("id") * 700L + 2500L).as("a_e"))
    val expected = ivPairs(la.join(ivB, overlapCond))
    withRule {
      withWidth(1000.0) {
        val rewritten = la.join(ivB, overlapCond)
        assert(hashJoined(rewritten), rewritten.queryExecution.executedPlan.toString)
        assert(ivPairs(rewritten) == expected)
      }
    }
  }

  test("IntervalJoinRewrite respects the enabled flag") {
    checkExcluded(ivA.join(ivB, overlapCond), ivPairs)
  }

  test("IntervalJoinRewrite composes with the operator twin on real data") {
    // the declarative rewrite and operators.IntervalJoin agree on the
    // session-overlap pairs the bound q_interval_join computes
    val expected = graft.queries.Registry.queries("q_interval_join")(
      spark, sfTiny).count()
    withRule {
      def spans(t: String) = graft.sources.Tables.events(spark, sfTiny)
        .where(col("event_type") === t)
        .groupBy(col("user_id"), expr("unix_date(CAST(ts AS DATE))").as("dd"))
        .agg(min(unix_micros(col("ts"))).as("s"),
          max(unix_micros(col("ts"))).as("e"))
      withWidth(21600000000.0) {
        val a = spans("click").select(col("user_id").as("u1"),
          col("s").as("a_s"), col("e").as("a_e"))
        val b = spans("error").select(col("user_id").as("u2"),
          col("s").as("b_s"), col("e").as("b_e"))
        val joined = a.join(b, col("u1") === col("u2") &&
          col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
        assert(joined.count() == expected)
      }
    }
  }
}
