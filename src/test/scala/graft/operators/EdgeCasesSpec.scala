package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._

/** Degenerate-input behavior: empty inputs, no-match joins, single
  * rows. At 100 TB some partition, some day, WILL be empty — operators
  * must degrade to empty results, not exceptions. */
class EdgeCasesSpec extends AnyFunSuite {

  import spark.implicits._

  private val emptyEdges = Seq.empty[(Long, Long)].toDF("a", "b")
  private val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("ConnectedComponents on an empty edge list is empty") {
    assert(ConnectedComponents.labelPropagation(emptyEdges, "a", "b").count() == 0)
  }

  test("ConnectedComponents fails on all-null node ids instead of converging") {
    // every label null: the label sum is null over a non-empty node set,
    // which must not read as the empty set's ZERO ("converged" at once)
    val nulls = Seq[(Option[Long], Option[Long])]((None, None), (None, None)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](
      ConnectedComponents.labelPropagation(nulls, "a", "b").collect())
    assert(e.getMessage.contains("label sum is null over 1 nodes"))
  }

  test("ConnectedComponents on a single self-loop resolves to itself") {
    val got = ConnectedComponents
      .labelPropagation(Seq((7L, 7L)).toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((7L, 7L)))
  }

  test("Dedup joins on empty corpora are empty, not exceptions") {
    assert(Dedup.ngramJaccardPairs(emptyDocs, col("doc_id"), col("text"),
      shingleSize = 3, minJaccard = 0.5).count() == 0)
  }

  test("Dedup ignores docs shorter than the shingle size") {
    val docs = Seq((1L, "too short"), (2L, "too short")).toDF("doc_id", "text")
    // 5-gram shingles of 2-token docs: no signal, no pairs, no crash
    assert(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      shingleSize = 5, minJaccard = 0.1).count() == 0)
  }

  test("EditDistance on an empty corpus is empty, not an exception") {
    assert(EditDistance.editDistancePairs(emptyDocs, col("doc_id"), col("text"), 3)
      .count() == 0)
  }

  test("auto-sized LSH on an empty collection is empty") {
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    assert(Similarity.lshCosinePairsAutoIH(emptyVecs, col("vec_id"), col("embedding"),
      tau = 0.5, dim = 2).count() == 0)
    assert(Similarity.arithLshCosinePairs(emptyVecs, col("vec_id"), col("embedding"),
      tau = 0.5, dim = 2).count() == 0)
  }

  test("Irwin-Hall LSH and kNN graph on empty / singleton collections") {
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    assert(Similarity.lshCosinePairsAutoIH(emptyVecs, col("vec_id"), col("embedding"),
      tau = 0.5, dim = 2).count() == 0)
    assert(Similarity.knnGraphLshIH(emptyVecs, col("vec_id"), col("embedding"),
      k = 3, tau = 0.2, dim = 2).count() == 0)
    val one = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    assert(Similarity.lshCosinePairsAutoIH(one, col("vec_id"), col("embedding"),
      tau = 0.5, dim = 2).count() == 0) // no self-pairs
  }

  test("Irwin-Hall sizing helpers match their contracts at the boundaries") {
    assert(Similarity.planesFor(0L, 100) == 1)
    assert(Similarity.planesFor(100L, 100) == 1)
    assert(Similarity.planesFor(101L, 100) == 1)   // 100*2^0 < 101 -> 1
    assert(Similarity.planesFor(201L, 100) == 2)
    assert(Similarity.planesFor(6400L, 100) == 6)
    assert(Similarity.planesFor(Long.MaxValue, 100) == 24)
    for (pl <- 1 to 24)
      assert(Similarity.tablesFor(pl, 0.4, 0.8, 64) >= 1 &&
        Similarity.tablesFor(pl, 0.4, 0.8, 64) <= 64)
  }

  test("KLL of an empty input yields NaN quantiles, not a crash") {
    import graft.expressions.{KllFns, KllSketch}
    val empty = Seq.empty[Double].toDF("v")
    val sk = empty.agg(KllSketch.kllAgg(spark, col("v"), 64)).first().getAs[Array[Byte]](0)
    assert(KllFns.quantile(KllFns.fromBytes(sk), 0.5).isNaN)
  }

  test("RangeJoin with no overlapping intervals is empty") {
    val points = Seq(1.0, 2.0, 3.0).toDF("p")
    val ranges = Seq((100.0, 200.0)).toDF("lo", "hi")
    assert(RangeJoin.bucketed(points, col("p"), ranges, col("lo"), col("hi"),
      bucketWidth = 10.0).count() == 0)
  }

  test("RangeJoin survives inverted (lo > hi) intervals like the naive join") {
    val points = Seq(1.0, 150.0).toDF("p")
    val ranges = Seq((100.0, 200.0), (300.0, 50.0)).toDF("lo", "hi") // 2nd inverted
    val got = RangeJoin.bucketed(points, col("p"), ranges, col("lo"), col("hi"),
      bucketWidth = 20.0).select("p", "lo").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.toSeq == Seq((150.0, 100.0)))
  }

  test("RangeJoinRewrite survives inverted intervals too") {
    val old = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = old :+ graft.plans.BandJoinRewrite
    try {
      val points = Seq(1.0, 150.0).toDF("p")
      val ranges = Seq((100.0, 200.0), (300.0, 50.0)).toDF("lo", "hi")
      val got = points.join(ranges, col("p") >= col("lo") && col("p") <= col("hi"))
        .select("p").collect().map(_.getDouble(0)).toSeq
      assert(got == Seq(150.0))
    } finally spark.experimental.extraOptimizations = old
  }

  test("Upsert with an empty change set keeps the base verbatim") {
    val base = Seq((1L, 10L), (2L, 20L)).toDF("key", "v")
    val changes = Seq.empty[(Long, Long, Long)].toDF("key", "v", "ver")
    val got = Upsert.applyChanges(base, changes, "key", col("ver"), col("ver"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 10L, "K"), (2L, 20L, "K")))
  }

  test("Upsert onto an empty base inserts everything") {
    val base = Seq.empty[(Long, Long)].toDF("key", "v")
    val changes = Seq((5L, 50L, 1L)).toDF("key", "v", "ver")
    val got = Upsert.applyChanges(base, changes, "key", col("ver"), col("ver"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((5L, 50L, "I")))
  }

  test("Sessionize-style single-event keys form one session (via registry)") {
    val one = Seq((1L, 1000L)).toDF("user_id", "ts_ns")
    val got = Sessionize.sessionStats(one, col("user_id"), col("ts_ns"), 100L)
      .collect()
    assert(got.length == 1 && got(0).getAs[Long]("n_sessions") == 1)
  }

  test("Profiling an all-null column reports full nulls and no distincts") {
    val df = Seq[(Option[Long], Long)]((None, 1L), (None, 2L)).toDF("x", "y")
    val p = Profiling.profile(df, Seq("x")).collect()(0)
    assert(p.getAs[Long]("n_null") == 2 && p.getAs[Long]("n_distinct") == 0)
    assert(p.getAs[String]("min_val") == null)
  }

  test("GeoJoin with a single point yields no pairs") {
    val df = Seq((1L, 10.0, 20.0)).toDF("id", "lat", "lon")
    assert(GeoJoin.latBandRadiusPairs(df, col("id"), col("lat"), col("lon"),
      radiusKm = 100.0).count() == 0)
  }

  test("arith dedup variants degrade to empty on empty/short corpora") {
    assert(Dedup.minhashCandidatesArith(emptyDocs, col("doc_id"), col("text")).count() == 0)
    assert(Dedup.simhashPairsArith(emptyDocs, col("doc_id"), col("text")).count() == 0)
    val short = Seq((1L, "ab"), (2L, "ab")).toDF("doc_id", "text")
    // 3-gram minhash of 1-token docs: no shingles, no signatures, no crash
    assert(Dedup.minhashCandidatesArith(short, col("doc_id"), col("text")).count() == 0)
    // simhash of identical 1-token docs still pairs them (hamming 0)
    assert(Dedup.simhashPairsArith(short, col("doc_id"), col("text")).count() == 1)
  }

  test("retractable histogram state on an over-delete stays consistent") {
    import graft.operators.Incremental
    val ins = Seq((1L, 5L, 1L)).toDF("u", "v", "cnt")
    val overDel = Seq((1L, 5L, -1L), (1L, 5L, -1L)).toDF("u", "v", "cnt")
    val s = Incremental.mergeHistogram(ins, overDel, Seq("u"), "v")
    // net multiplicity -1 is retained (an in-flight over-delete), but
    // extremes treat non-positive rows as absent
    assert(s.count() == 1)
    assert(Incremental.extremesOf(s, Seq("u"), "v").count() == 0)
  }
}
