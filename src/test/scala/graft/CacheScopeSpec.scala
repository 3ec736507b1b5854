package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, ProjectExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.operators.{ConnectedComponents, Graph}
import graft.util.CacheScope
import scala.jdk.CollectionConverters._

/** CacheScope refcounting invariants (round-5 fix): two concurrent
  * scopes persisting LOGICALLY IDENTICAL plans share one cache entry,
  * and the entry survives until the LAST holder's scope closes —
  * the unpersist race that emptied q_cooks_distance whenever its
  * Verify dump overlapped q_breusch_pagan's (both persist the same
  * daily-revenue series; Spark's CacheManager plan-matches them onto
  * one entry, so the old per-thread unconditional unpersist dropped
  * it under a sibling mid-flight query). The same entries hold the
  * standing layouts and lineage cuts of `CacheScope.checkpoint`.
  */
class CacheScopeSpec extends AnyFunSuite {
  import TestSpark._

  private def plan() = {
    import spark.implicits._
    Seq(1, 2, 3, 4, 5).toDF("v").groupBy($"v" % 2 as "k")
      .count().filter($"k" >= 0)
  }

  test("plan-equal persists share one refcounted entry; last scope out unpersists") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val aHeld = new java.util.concurrent.CountDownLatch(1)
    @volatile var cachedWhileBHolds = false
    @volatile var bDf: org.apache.spark.sql.DataFrame = null

    val b = new Thread(() => {
      CacheScope.withScope {
        aHeld.await()
        bDf = CacheScope.persist(plan()) // adopts A's entry
        bDf.count()
        gate.countDown() // let A's scope close while B still holds
        Thread.sleep(200)
        cachedWhileBHolds = bDf.storageLevel != StorageLevel.NONE
      }
    })
    b.start()
    CacheScope.withScope {
      val a = CacheScope.persist(plan())
      a.count()
      aHeld.countDown()
      gate.await() // close A's scope only after B registered
    }
    b.join()
    assert(cachedWhileBHolds,
      "A's scope close must NOT unpersist the shared entry while B holds it")
    assert(bDf.storageLevel == StorageLevel.NONE,
      "the last scope out must unpersist the shared entry")
  }

  test("persist outside any scope registers nothing (caller-managed lifetime)") {
    // round-5 advice item: a scopeless persist used to create a global
    // refcounted record nothing ever drained — pinning the cache for
    // session life AND letting a later scope's close drop a cache the
    // direct caller still relied on.
    val df = CacheScope.persist(plan())
    df.count()
    assert(df.storageLevel != StorageLevel.NONE, "scopeless persist must still cache")
    try {
      // a subsequent scope persisting the SAME plan must not adopt-and-
      // own the scopeless cache: its close must leave the cache alive
      CacheScope.withScope { CacheScope.persist(plan()).count() }
      assert(df.storageLevel != StorageLevel.NONE,
        "a scope closing over a plan-equal frame must not drop the scopeless cache")
    } finally df.unpersist(true)
  }

  test("externally cached inputs pass through unregistered") {
    val ext = plan()
    ext.persist(StorageLevel.MEMORY_AND_DISK)
    ext.count()
    try {
      CacheScope.withScope {
        CacheScope.persist(ext).count()
      }
      assert(ext.storageLevel != StorageLevel.NONE,
        "a caller-managed cache must survive scope close")
    } finally ext.unpersist(true)
  }

  test("scopeless persist AFTER a live scoped entry survives that scope's close") {
    // round-6 advice item: the reverse order of the test above —
    // df.storageLevel is PLAN-keyed, so with a live scoped entry a
    // scopeless persist used to read "already cached", register
    // nothing, and silently lose its cache when the scope closed.
    // Now it takes a permanent (session-lifetime) reference on the
    // entry, the semantics scopeless persist has always promised.
    import spark.implicits._
    def p() = Seq(10, 20, 30, 40).toDF("v")
      .groupBy($"v" % 3 as "k").count().filter($"k" >= 0)
    @volatile var outside: org.apache.spark.sql.DataFrame = null
    CacheScope.withScope {
      val scoped = CacheScope.persist(p())
      scoped.count()
      // scopeless call must run with depth==0 → separate thread
      val t = new Thread(() => {
        outside = CacheScope.persist(p())
        outside.count()
      })
      t.start(); t.join()
    }
    try assert(outside.storageLevel != StorageLevel.NONE,
      "the scoped entry's close must not drop a cache a scopeless caller adopted")
    finally outside.unpersist(true)
  }

  /** Shuffles whose input is a stored relation (a cache or a
    * checkpoint) read as is: the re-exchanges of a standing layout. */
  private def layoutExchanges(df: DataFrame): Int = {
    def stored(p: SparkPlan): Boolean = p match {
      case _: InMemoryTableScanExec | _: RDDScanExec => true
      case t: TableCacheQueryStageExec => stored(t.plan)
      case _: ProjectExec | _: FilterExec | _: WholeStageCodegenExec |
           _: InputAdapter | _: ColumnarToRowExec => stored(p.children.head)
      case _ => false
    }
    df.collect() // settles the final adaptive plan
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec if stored(s.child) => s
    }.size
  }

  private def rddIdOf(df: DataFrame): Int =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }.get

  test("the exchanges of a PageRank layout do not grow with the round count") {
    import spark.implicits._
    val edges = (0 until 40).flatMap(i => Seq((i, (i + 1) % 40), (i, (i * 7) % 40)))
      .toDF("s", "d").where($"s" =!= $"d")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val counts = Seq(2, 8).map(n =>
        CacheScope.withScope(layoutExchanges(Graph.pageRank(edges, "s", "d", n))))
      info(s"layout exchanges at 2 and 8 rounds: ${counts.mkString(", ")}")
      assert(counts(0) == counts(1),
        s"layout re-exchanged per round: ${counts(0)} at 2 rounds, ${counts(1)} at 8")
    } finally spark.conf.set(key, saved)
  }

  test("a scope releases the checkpoints of connected components") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L)).toDF("a", "b")
    val rows = CacheScope.withScope {
      ConnectedComponents.labelPropagation(edges, "a", "b").collect()
    }
    assert(rows.length == 7)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs still persisted after the scope closed: $left")
  }

  test("a plan-equal layout built twice in one scope is built once") {
    val sc = spark.sparkContext
    val id = CacheScope.withScope {
      val a = CacheScope.checkpoint(plan(), col("k"))
      val b = CacheScope.checkpoint(plan(), col("k"))
      assert(rddIdOf(a) == rddIdOf(b))
      assert(b.collect().length == 2)
      rddIdOf(a)
    }
    assert(!sc.getPersistentRDDs.contains(id), "the last scope out must release the layout")
  }

  test("a cut is never shared, so a rebuilt loop in one scope runs again") {
    val sc = spark.sparkContext
    val ids = CacheScope.withScope {
      val a = CacheScope.checkpoint(plan())
      val b = CacheScope.checkpoint(plan())
      assert(b.collect().length == 2)
      Seq(rddIdOf(a), rddIdOf(b))
    }
    assert(ids.distinct.size == 2, s"plan-equal cuts share RDD ${ids.head}")
    assert(ids.forall(id => !sc.getPersistentRDDs.contains(id)), "the scope must release both cuts")
  }

  test("a probed loop holds only its latest cut while its scope is open") {
    import spark.implicits._
    val sc = spark.sparkContext
    // RDDs persisted by `run` and still persisted when it returns
    def held(run: => Long): Int = CacheScope.withScope {
      val before = sc.getPersistentRDDs.keySet
      assert(run > 0)
      (sc.getPersistentRDDs.keySet -- before).size
    }
    val chain = (0L until 24L).map(i => (i, i + 1)).toDF("a", "b")
    val ring = (0 until 12).map(i => (i, (i + 1) % 12)).toDF("s", "d")
      .union((0 until 12).map(i => (i, (i * 5) % 12)).toDF("s", "d").where($"s" =!= $"d"))
    // the edge persist and the last round's cut
    assert(held(Graph.bfsHops(chain, "a", "b", Seq(0L).toDF("n"), "n", 30).count()) == 2)
    // the adjacency layout and the last segment's labels
    assert(held(ConnectedComponents.labelPropagation(chain, "a", "b").count()) == 2)
    // the edge persist, the two PageRank layouts and the last round's cut
    assert(held(Graph.pageRankUntil(ring, "s", "d", residualPpm = 0L, maxIters = 6,
      checkEvery = 1)._1.count()) == 4)
  }

  test("localCheckpoint and the layout width live only in CacheScope") {
    // the single-primitive rule, pinned the way SessionConfSpec pins the
    // single conf source
    val root = java.nio.file.Paths.get("src/main/scala")
    val owner = root.resolve("graft/util/CacheScope.scala")
    val stream = java.nio.file.Files.walk(root)
    val offenders = try {
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != owner)
        .filter { p =>
          val text = java.nio.file.Files.readString(p)
          text.contains("localCheckpoint(") || text.contains("layoutPartitions")
        }.map(root.relativize(_).toString).toList
    } finally stream.close()
    assert(offenders.isEmpty, s"use CacheScope.checkpoint instead in: $offenders")
  }
}
