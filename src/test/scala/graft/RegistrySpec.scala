package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry
import graft.util.CacheScope
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Smoke + invariants for every bound query at sf0.001. */
class RegistrySpec extends AnyFunSuite {
  import TestSpark._

  test("all queries run and produce sane schemas") {
    // four at a time on a fixed pool, each in its own scope, as Verify
    // runs them: a query's caches and checkpoints are released when it
    // finishes, and a query that reads a released one fails here
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val failures = try {
      val runs = Registry.allQueries.map { q =>
        Future {
          try CacheScope.withScope {
            val df = q.run(spark, sfTiny)
            if (df.schema.fields.isEmpty) Some(s"${q.name}: empty schema")
            else if (df.count() < 0) Some(s"${q.name}: count failed")
            else None
          } catch { case e: Throwable => Some(s"${q.name}: $e") }
        }
      }
      Await.result(Future.sequence(runs), Duration.Inf).flatten
    } finally pool.shutdown()
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("query names are unique and every oracle key has a query") {
    val names = Registry.allQueries.map(_.name)
    assert(names.distinct.size == names.size)
    assert(Registry.oracles.keySet.subsetOf(Registry.queries.keySet))
  }

  test("SURVEY §2 inventory and the Registry agree (no doc drift)") {
    val survey = scala.io.Source.fromFile("SURVEY.md", "UTF-8").getLines().mkString("\n")
    val documented = "\\| (q_?[a-z0-9_]+) \\|".r
      .findAllMatchIn(survey).map(_.group(1)).toSet
      .filter(n => n.startsWith("q_") || n.matches("q\\d.*"))
    val bound = Registry.queries.keySet
    // every documented query row must be runnable...
    val missing = documented -- bound
    assert(missing.isEmpty, s"SURVEY rows with no bound query: $missing")
    // ...and every bound query must be documented
    val undocumented = bound -- documented
    assert(undocumented.isEmpty, s"bound queries missing from SURVEY: $undocumented")
  }

  test("q1 aggregates match a hand check at sf0.001") {
    val row = Registry.queries("q1_pricing_summary")(spark, sfTiny)
      .where("l_returnflag = 'A' and l_linestatus = 'F'")
      .collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("count_order") > 0)
  }

  test("leaderboard rank is dense from 1 and urls are formatted") {
    val rows = Registry.queries("q_owner_leaderboard")(spark, sfTiny).collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length))
    assert(rows.forall(_.getAs[String]("best_order_url")
      .startsWith("https://orders.example.com/")))
  }

  test("top-k per group respects k and ranks within group") {
    val rows = Registry.queries("q_top_brands_models")(spark, sfTiny).collect()
    val byBrand = rows.groupBy(_.getAs[String]("brand"))
    assert(byBrand.size <= 5)
    byBrand.values.foreach { g =>
      assert(g.length <= 5)
      assert(g.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to g.length))
    }
  }

  test("bench30 is a frozen, resolvable, oracle-backed 30-query set") {
    val b30 = Registry.bench30
    assert(b30.length == 30)
    assert(b30.map(_.name).distinct.length == 30)
    // regression visibility needs a DuckDB twin for every member
    val noOracle = b30.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"bench30 members without oracle: $noOracle")
    // none of the 12 cross-round headliners may be double-counted here
    val overlap = b30.map(_.name).toSet intersect Registry.headlines.map(_.name).toSet
    assert(overlap.isEmpty, s"bench30 overlaps headliners: $overlap")
  }
}
