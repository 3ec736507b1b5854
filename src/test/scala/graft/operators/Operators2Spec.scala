package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._

class Operators2Spec extends AnyFunSuite {

  import spark.implicits._

  test("ConnectedComponents matches union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 200
    val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference: driver-side union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(id => id -> {
        // canonical = min node id in component
        val root = find(id.toInt)
        edges.flatMap { case (x, y) => Seq(x, y) }
          .filter(m => find(m.toInt) == root).min
      }).toMap
    val got = ConnectedComponents
      .labelPropagation(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("ConnectedComponents resolves a 200-node path in O(log diameter) rounds") {
    // plain neighbor-min would need 199 rounds; pointer doubling must
    // finish well inside the default maxIter=25 (~log2 diameter).
    val chain = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = ConnectedComponents.labelPropagation(chain.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("GeoJoin matches the naive join on polar latitudes and large radii") {
    import graft.functions.GeoFunctions
    // the k-band probe trap: a pair whose poleward point probes an
    // equator-ward band needs that band's cells sized for the PAIR's
    // lon spread, not the band's own — these two points are 479.8 km
    // apart (bands 85 and 83) and were dropped by own-edge cell sizing
    val seedPts = Seq((1L, 85.68, 44.9), (2L, 83.9999, 90.9))
    val rnd = new scala.util.Random(7)
    val polar = (0 until 150).map { i =>
      val lat = 75.0 + rnd.nextDouble() * 14.9
      (10L + i, if (rnd.nextBoolean()) lat else -lat,
        rnd.nextDouble() * 360.0 - 180.0)
    }
    val midLat = (0 until 50).map { i =>
      (300L + i, rnd.nextDouble() * 120.0 - 60.0,
        rnd.nextDouble() * 360.0 - 180.0)
    }
    val pts = seedPts ++ polar ++ midLat
    def pairsOf(ps: Seq[(Long, Double, Double)]): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val df = ps.toDF("id", "lat", "lon")
      val got = GeoJoin.latBandRadiusPairs(df, col("id"), col("lat"), col("lon"),
          radiusKm = 500.0)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = df.as("a").join(df.as("b"), col("a.id") < col("b.id"))
        .where(round(GeoFunctions.haversineKm(
          col("a.lat"), col("a.lon"), col("b.lat"), col("b.lon")) * 1000, 0)
          .cast("long") <= 500000L)
        .select(col("a.id"), col("b.id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got, naive)
    }
    val (got, naive) = pairsOf(pts)
    assert(naive.contains((1L, 2L)))
    assert(got == naive,
      s"missing: ${naive -- got}; extra: ${got -- naive} (naive ${naive.size})")
    // both id orderings: flip which endpoint is the probe side
    val (gotF, naiveF) = pairsOf(pts.map { case (i, la, lo) => (1000L - i, la, lo) })
    assert(gotF == naiveF,
      s"flipped missing: ${naiveF -- gotF}; extra: ${gotF -- naiveF}")
  }

  test("RangeJoin.bucketed equals the naive BETWEEN join") {
    val points = Tables.orders.limit(500)
    def naive = points.crossJoin(bandsDf)
      .where(col("o_totalprice") >= col("lo") && col("o_totalprice") <= col("hi"))
      .select("o_orderkey", "band_id")
    def bucketed = RangeJoin.bucketed(points, col("o_totalprice"),
        bandsDf, col("lo"), col("hi"), bucketWidth = 7000.0)
      .select("o_orderkey", "band_id")
    val a = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = bucketed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  private object Tables {
    def orders = graft.sources.Tables.orders(spark, sfTiny)
  }
  private lazy val bandsDf = spark.range(0, 30).select(
    col("id").as("band_id"),
    (col("id") * 15000.0).as("lo"),
    (col("id") * 15000.0 + 40000.0).as("hi"))

  test("RangeJoin.bucketed plans a hash join where raw BETWEEN plans a nested loop") {
    val points = Tables.orders
    val naive = points.join(bandsDf,
      col("o_totalprice") >= col("lo") && col("o_totalprice") <= col("hi"))
    val bucketed = RangeJoin.bucketed(points, col("o_totalprice"),
      bandsDf, col("lo"), col("hi"), bucketWidth = 10000.0)
    assert(naive.queryExecution.executedPlan.toString.contains("NestedLoop"))
    // the plan keeps a nested-loop branch for oversized or inverted
    // bands; none is here, so AQE drops it once its build side runs
    // empty, and the final plan holds only the hash join
    bucketed.collect()
    val fin = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .stripAQEPlan(bucketed.queryExecution.executedPlan).toString
    assert(fin.contains("HashJoin") && !fin.contains("NestedLoop"), fin)
  }

  test("Upsert.applyChanges: latest change wins, inserts and keeps flagged") {
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("key", "v_c")
    val changes = Seq(
      (2L, 99L, 5L, 1L), (2L, 77L, 9L, 1L), // key 2: version 9 wins
      (9L, 55L, 1L, 1L)                      // key 9: new
    ).toDF("key", "v_c", "ver", "tb")
    val got = Upsert.applyChanges(base, changes, "key", col("ver"), col("tb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 10L, "K"), (2L, 77L, "U"), (3L, 30L, "K"), (9L, 55L, "I")))
  }

  test("Upsert.applyChanges: a change row with an explicit NULL payload nulls the field out") {
    val base = Seq((1L, Some(10L)), (2L, Some(20L))).toDF("key", "v_c")
    val changes = Seq((2L, Option.empty[Long], 5L, 1L)).toDF("key", "v_c", "ver", "tb")
    val got = Upsert.applyChanges(base, changes, "key", col("ver"), col("tb"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2)))
      .toSet
    assert(got == Set((1L, Some(10L), "K"), (2L, None, "U")))
  }

  test("EditDistance.editDistancePairs equals the naive quadratic join") {
    val rnd = new scala.util.Random(11)
    val alpha = "abcdef"
    def word(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    // mix: random strings, planted near-dups (1-3 edits), exact dups,
    // and short strings that exercise the degenerate-segment path
    val strs = scala.collection.mutable.ArrayBuffer[String]()
    (0 until 150).foreach { _ => strs += word(8 + rnd.nextInt(20)) }
    (0 until 40).foreach { _ =>
      val s = strs(rnd.nextInt(150))
      val mutations = 1 + rnd.nextInt(3)
      var t = s
      (0 until mutations).foreach { _ =>
        val p = rnd.nextInt(t.length)
        t = rnd.nextInt(3) match {
          case 0 => t.updated(p, alpha(rnd.nextInt(alpha.length)))  // sub
          case 1 => t.take(p) + alpha(rnd.nextInt(alpha.length)) + t.drop(p) // ins
          case 2 if t.length > 1 => t.take(p) + t.drop(p + 1)       // del
          case _ => t
        }
      }
      strs += t
    }
    (0 until 10).foreach(_ => strs += strs(rnd.nextInt(150)))       // exact dups
    (0 until 20).foreach(_ => strs += word(1 + rnd.nextInt(6)))     // shorts
    val df = strs.toSeq.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "str")
    val naive = df.as("a").join(df.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        levenshtein(col("a.str"), col("b.str")).cast("long").as("dist"))
      .where(col("dist") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = EditDistance.editDistancePairs(df, col("id"), col("str"), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == naive,
      s"missing: ${naive -- got}; extra: ${got -- naive} (naive ${naive.size})")
    assert(naive.nonEmpty)
  }

  test("EditDistance respects the block column") {
    val df = Seq((1L, "g1", "abcdefghij"), (2L, "g1", "abcdefghix"),
      (3L, "g2", "abcdefghij")).toDF("id", "g", "str")
    val got = EditDistance.editDistancePairs(df, col("id"), col("str"), 3,
        blockCol = Some(col("g")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cross-block pair (1,3) is excluded even though dist 0
    assert(got == Set((1L, 2L)))
  }

  test("Ranking.globalRowNumber equals the single-partition window rank") {
    val rnd = new scala.util.Random(7)
    // duplicate freqs force the tiebreak column to matter
    val df = (0 until 5000).map(i => (s"tok_$i", rnd.nextInt(40).toLong))
      .toDF("token", "freq").repartition(8)
    val twoPhase = Ranking.globalRowNumber(df, "rid", col("freq").desc, col("token").asc)
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("rid"))).toMap
    val oneTask = df.withColumn("rid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("token").asc)).cast("long") - 1)
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("rid"))).toMap
    assert(twoPhase == oneTask)
  }

  test("Ranking.globalCumSum equals the single-partition running sum") {
    val rnd = new scala.util.Random(5)
    val df = (0 until 4000).map(i => (i.toLong, rnd.nextInt(50).toLong))
      .toDF("id", "v").repartition(7)
    val twoPhase = Ranking.globalCumSum(df, col("v"), "cs", col("id").asc)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cs"))).toMap
    val oneTask = df.withColumn("cs",
        sum(col("v")).over(org.apache.spark.sql.expressions.Window.orderBy(col("id").asc)))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cs"))).toMap
    assert(twoPhase == oneTask)
  }

  test("Ranking.globalRowNumber on empty input is empty") {
    val df = Seq.empty[(String, Long)].toDF("token", "freq")
    assert(Ranking.globalRowNumber(df, "rid", col("freq").desc).count() == 0)
  }

  test("Diff.byKey classifies added/removed/changed/same correctly") {
    val a = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val b = Seq((2L, 20L), (3L, 99L), (4L, 40L)).toDF("k", "v")
    val got = Diff.byKey(a, b, "k", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "same", 3L -> "changed", 4L -> "added"))
  }

  test("Profiling.profile counts nulls/distincts and renders min/max") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None), (None, Some("c")), (Some(2L), Some("a"))
    ).toDF("x", "s")
    val rows = Profiling.profile(df, Seq("x", "s")).collect()
      .map(r => r.getString(0) -> r).toMap
    val x = rows("x"); val s = rows("s")
    assert(x.getAs[Long]("n_rows") == 4 && x.getAs[Long]("n_null") == 1 &&
      x.getAs[Long]("n_distinct") == 2 &&
      x.getAs[String]("min_val") == "1" && x.getAs[String]("max_val") == "2")
    assert(s.getAs[Long]("n_null") == 1 && s.getAs[Long]("n_distinct") == 2 &&
      s.getAs[String]("min_val") == "a" && s.getAs[String]("max_val") == "c")
  }

  test("retractable min/max: histogram state survives deletes that plain partials cannot") {
    // three delta batches over (user, value): inserts then a delete of
    // the current minimum — the case where a bare min() partial lies
    val b1 = Seq((1L, 10L, 1L), (1L, 5L, 1L), (2L, 7L, 1L)).toDF("u", "v", "cnt")
    val b2 = Seq((1L, 8L, 1L), (2L, 3L, 1L)).toDF("u", "v", "cnt")
    val del = Seq((1L, 5L, -1L), (2L, 3L, -1L)).toDF("u", "v", "cnt") // delete both minima
    val s1 = Incremental.mergeHistogram(b1, b2, Seq("u"), "v")
    val s2 = Incremental.mergeHistogram(s1, del, Seq("u"), "v")
    val ext = Incremental.extremesOf(s2, Seq("u"), "v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // surviving rows: u1 {10, 8}, u2 {7}
    assert(ext == Map(1L -> (8L, 10L), 2L -> (7L, 7L)))
    // duplicate values retract one multiplicity at a time
    val dup = Seq((3L, 4L, 1L), (3L, 4L, 1L)).toDF("u", "v", "cnt")
    val s3 = Incremental.mergeHistogram(dup,
      Seq((3L, 4L, -1L)).toDF("u", "v", "cnt"), Seq("u"), "v")
    val e3 = Incremental.extremesOf(s3, Seq("u"), "v").collect()
    assert(e3.length == 1 && e3(0).getLong(1) == 4L) // one copy still live
    // state is value-bounded: the histogram never stores more rows than
    // distinct surviving values
    assert(s2.count() == 3)
  }

  test("approx quantiles stay inside the error envelope of the exact answer") {
    val o = Tables.orders
    val r = o.agg(
      percentile_approx(col("o_totalprice"), array(lit(0.5), lit(0.9)), lit(10000)).as("ap"),
      expr("percentile(o_totalprice, array(0.5D, 0.9D))").as("ex")).head()
    val ap = r.getSeq[Double](0); val ex = r.getSeq[Double](1)
    ap.zip(ex).foreach { case (a, e) =>
      assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e") }
  }
}
