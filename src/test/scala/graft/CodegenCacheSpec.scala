package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Pagination, Search}
import graft.sources.Tables
import graft.util.{BenchConfs, CacheScope}

/** The served request set must stay compiled: Spark's JVM-wide cache of
  * generated classes is sized by `BenchConfs.CodegenCacheMaxEntries`, and
  * a second round of the same requests in a warm session must compile
  * nothing. At Spark's default cap of 100 entries the round's working set
  * does not fit, and every round recompiles. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark._

  /** The serve workload's request types: the SURVEY §2.1 endpoint
    * queries, q_geo_distance, and one seeded-style `Pagination.page` and
    * `Search.search` call. */
  private val ServeQueries = Seq(
    "q_years", "q_count_by_group", "q_filter_by_token", "q_monthly_posted",
    "q_yearly_posted", "q_monthly_shipped", "q_yearly_shipped", "q_month_in_year",
    "q_hourly_posted", "q_hourly_by_type", "q_avg_value_by_year",
    "q_avg_items_by_year", "q_status_distribution", "q_avg_time_to_ship",
    "q_first_order_cohort", "q_value_stats", "q_priority_stats",
    "q_size_distribution", "q_top_words", "q_user_count", "q_owner_leaderboard",
    "q_top50_owners", "q_top_brands_models", "q_top_brands_per_year",
    "q_geo_distance")

  private def requests: Seq[() => DataFrame] =
    ServeQueries.map(n => () => queries.Registry.queries(n)(spark, sfTiny)) ++ Seq(
      () => Pagination.page(
        Tables.customer(spark, sfTiny).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
        Seq(col("c_custkey")), 2, 20),
      () => Search.search(Tables.part(spark, sfTiny),
        keyword = Some("widget"), keywordFields = Seq(col("p_name"), col("p_type")),
        range = Some((col("p_retailprice"), lit(900.0), lit(925.0))),
        tokenCol = Some(col("p_brand")), tokens = Seq("Brand#13", "Brand#5"),
        dedupKey = Seq("p_partkey")))

  /** Classes compiled while running every request once. */
  private def round(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    requests.foreach(r => CacheScope.withScope(r().collect()))
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second round of the served requests compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      BenchConfs.CodegenCacheMaxEntries.toString)
    val first = round()
    val second = round()
    info(s"round 1 compiled $first classes, round 2 compiled $second")
    assert(second == 0L)
  }
}
