package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._
import graft.operators.Similarity
import graft.ml.KMeansLite

class VectorSpec extends AnyFunSuite {

  private lazy val emb = graft.sources.Tables.embeddings(spark, sfTiny)

  private lazy val bruteTop: Map[Long, Seq[Long]] =
    Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
        emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), 10)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("id")).toSeq }

  test("SignSig63 equals the HOF quantize-round-compare recurrence bit for bit") {
    import spark.implicits._
    // edge values around the round(x*1e6) > 0 boundary: exactly 5e-7
    // rounds HALF_UP to 1 (bit set), just below rounds to 0; negatives
    // never set a bit; element 64 (index 63) must be ignored
    val edge = Seq(
      (0L, Array.fill(64)(1.0f)),
      (1L, Array.fill(64)(-1.0f)),
      (2L, Array(5e-7f, 4.9e-7f, -5e-7f, 0.0f) ++ Array.fill(60)(2.0f)),
      (3L, Array.fill(63)(0.0f) :+ 9.0f)
    ).toDF("vec_id", "embedding")
    val rnd = new scala.util.Random(7)
    val rand = (10L until 60L).map(i =>
      (i, Array.fill(64)((rnd.nextFloat() - 0.5f) * 2f))).toDF("vec_id", "embedding")
    for (df <- Seq(edge, rand)) {
      val both = df.select(col("vec_id"),
        graft.expressions.SignSig63.signSig63(spark, col("embedding")).as("native"),
        expr("""aggregate(sequence(1, 63), 0L, (acc, i) ->
            acc + shiftleft(BIGINT(IF(
              CAST(round(CAST(element_at(embedding, i) AS DOUBLE) * 1e6, 0)
                AS BIGINT) > 0, 1, 0)), i - 1))""").as("hof"))
        .collect()
      both.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"vec ${r.getLong(0)}: native ${r.getLong(1)} != hof ${r.getLong(2)}"))
    }
    // the 64th element must not influence the signature (bit 63 clear)
    val sigs = edge.where(col("vec_id") === 3L)
      .select(graft.expressions.SignSig63.signSig63(spark, col("embedding")))
      .collect()
    assert(sigs.head.getLong(0) == 0L, "element 64 leaked into the signature")
  }

  test("SqDist equals the HOF zip_with fold bit for bit, double and long") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val dd = (0L until 40L).map(i =>
      (i, Array.fill(64)(rnd.nextDouble() * 10 - 5),
        Array.fill(64)(rnd.nextDouble() * 10 - 5))).toDF("id", "a", "b")
    val gotD = dd.select(
      graft.expressions.SqDist.sqDist(spark, org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0.0D, (acc, z) -> acc + z)")
        .as("hof")).collect()
    gotD.foreach(r => assert(
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
      s"double fold diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
    val dl = (0L until 40L).map(i =>
      (i, Array.fill(64)(rnd.nextLong() % 2000000L),
        Array.fill(64)(rnd.nextLong() % 2000000L))).toDF("id", "a", "b")
    val gotL = dl.select(
      graft.expressions.SqDist.sqDist(spark, org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, z) -> acc + z)")
        .as("hof")).collect()
    gotL.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // unequal lengths: the HOF null-pads and poisons the fold -> null;
    // the native expression must agree
    val uneq = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val r = uneq.select(graft.expressions.SqDist.sqDist(spark,
      org.apache.spark.sql.functions.col("a"),
      org.apache.spark.sql.functions.col("b"))).collect().head
    assert(r.isNullAt(0), "unequal lengths must yield null like the HOF")
  }

  test("DotProduct equals the HOF fold bit for bit, double and long") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val dd = (0 until 30).map(i =>
      (i, Array.fill(64)(rnd.nextDouble() * 4 - 2),
        Array.fill(64)(rnd.nextDouble() * 4 - 2))).toDF("id", "a", "b")
    dd.select(
      graft.expressions.DotProduct.dotProduct(spark, col("a"), col("b")).as("n"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, z) -> acc + z)").as("h"))
      .collect().foreach(r => assert(
        java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
    val dl = (0 until 30).map(i =>
      (i, Array.fill(64)(rnd.nextLong() % 3000000L),
        Array.fill(64)(rnd.nextLong() % 3L - 1L))).toDF("id", "a", "b")
    dl.select(
      graft.expressions.DotProduct.dotProduct(spark, col("a"), col("b")).as("n"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, z) -> acc + z)").as("h"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1),
        "long dot product must match the HOF's wrapping arithmetic"))
    // unequal lengths null-poison the HOF via zip_with padding; the
    // native expression must agree (review fix)
    val uneq = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(uneq.select(graft.expressions.DotProduct.dotProduct(spark,
      col("a"), col("b"))).collect().head.isNullAt(0),
      "unequal lengths must yield null like the HOF")
  }

  test("AgreeCount equals the HOF size-filter-zip_with count, all length cases") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 50).map { i =>
      val n = 16 + rnd.nextInt(4) // include unequal lengths
      val m = 16 + rnd.nextInt(4)
      (i.toLong, Array.fill(n)(rnd.nextLong() % 5), Array.fill(m)(rnd.nextLong() % 5))
    }.toDF("id", "a", "b")
    val got = rows.select(
      graft.expressions.AgreeCount.agreeCount(spark, col("a"), col("b")).as("native"),
      expr("size(filter(zip_with(a, b, (x, y) -> CAST(x = y AS INT)), v -> v = 1))")
        .as("hof")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"agreement count diverged: ${r.getInt(0)} vs ${r.getInt(1)}"))
  }

  test("brute-force top-k: k rows per query, descending scores") {
    val rows = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
        emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), 10)
      .collect()
    assert(rows.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 10))
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("cosine"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF ANN recalls a usable fraction of brute-force top-10") {
    val ivf = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
        emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), 10)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("id")).toSet }
    val recalls = bruteTop.map { case (q, brute) =>
      ivf.get(q).map(c => brute.count(c.contains).toDouble / brute.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // Random 64-dim vectors have near-uniform cells; with 4/16 probes
    // expect >= ~25% of exact neighbors. This pins the plumbing, not
    // state-of-the-art recall.
    assert(mean >= 0.2, s"mean IVF recall $mean")
  }

  test("trained-centroid IVF recalls at least as usably as lowest-id IVF") {
    val ivfT = Similarity.ivfTopKTrained(emb, col("vec_id"), col("embedding"),
        emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), 10)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("id")).toSet }
    val recalls = bruteTop.map { case (q, brute) =>
      ivfT.get(q).map(c => brute.count(c.contains).toDouble / brute.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.2, s"mean trained-IVF recall $mean")
    // determinism: same model, same result
    val again = Similarity.ivfTopKTrained(emb, col("vec_id"), col("embedding"),
        emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"), r.getAs[Long]("id"))).toSet
    val first = Similarity.ivfTopKTrained(emb, col("vec_id"), col("embedding"),
        emb.where(col("vec_id") < 5), col("vec_id"), col("embedding"), 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"), r.getAs[Long]("id"))).toSet
    assert(again == first)
  }

  test("LSH cosine pairs are a subset of exact pairs at the same tau") {
    val exact = Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.35)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val lsh = Similarity.lshCosinePairsIH(emb, col("vec_id"), col("embedding"), 0.35,
        dim = 64, planes = 8, tables = 1)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(lsh.subsetOf(exact))
    assert(exact.isEmpty || lsh.nonEmpty)
  }

  test("banded LSH at the q_lsh_cosine_pairs parameters: subset, exact scores, recall floor") {
    val exact = Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.4)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cosine"))
      .toMap
    val lsh = Similarity.lshCosinePairsIH(emb, col("vec_id"), col("embedding"),
        tau = 0.4, dim = 64, planes = 5, tables = 16)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cosine"))
      .toMap
    // precision is exact: every emitted pair is a true pair with the true score
    assert(lsh.keySet.subsetOf(exact.keySet))
    lsh.foreach { case (k, c) => assert(c == exact(k)) }
    // theory: per-plane collision p = 1-acos(0.4)/pi ≈ 0.631 at the
    // threshold (higher above it), recall ≥ 1-(1-p^5)^16 ≈ 0.81.
    // 0.55 floors it with slack for the finite Irwin–Hall plane draw.
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.55, s"banded LSH recall $recall (${lsh.size}/${exact.size})")
  }

  test("arithmetic Rademacher LSH: subset, exact scores, recall floor") {
    val exact = Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.4)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cosine"))
      .toMap
    val arith = Similarity.arithLshCosinePairs(emb, col("vec_id"), col("embedding"),
        tau = 0.4, dim = 64, planes = 4, tables = 8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cosine"))
      .toMap
    assert(arith.keySet.subsetOf(exact.keySet))
    arith.foreach { case (k, c) => assert(c == exact(k)) }
    // theory at the q_lsh_cosine_arith parameters: p = 1-acos(0.4)/pi
    // ≈ 0.631, recall ≥ 1-(1-p^4)^8 ≈ 0.76 (measured 0.81 at sf0.01);
    // 0.5 floors it for the finite ±1-family draw.
    val recall = arith.size.toDouble / exact.size
    assert(recall >= 0.5, s"arith LSH recall $recall (${arith.size}/${exact.size})")
  }

  test("Irwin-Hall auto-sized LSH (the q_lsh_cosine_pairs binding): subset + recall") {
    val exact = Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val ih = Similarity.lshCosinePairsAutoIH(emb, col("vec_id"), col("embedding"),
        tau = 0.4, dim = 64)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(ih.subsetOf(exact))
    val recall = ih.size.toDouble / exact.size
    assert(recall >= 0.55, s"IH LSH recall $recall (${ih.size}/${exact.size})")
    // integer sizing agrees with the float formula it replaces
    val n = emb.count()
    val planesFloat = math.min(24, math.max(1,
      math.ceil(math.log(math.max(1.0, n.toDouble / 100)) / math.log(2.0)).toInt))
    assert(Similarity.planesFor(n, 100) == planesFloat)
  }

  test("Irwin-Hall kNN graph (the q_knn_graph_lsh binding): k cap + recall") {
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
        emb, col("vec_id"), col("embedding"), k)
      .where(col("cosine") > 0.3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"))).toSet
    val ih = Similarity.knnGraphLshIH(emb, col("vec_id"), col("embedding"),
        k = k, tau = 0.2, dim = 64).collect()
    // at most k neighbors per node, ranked contiguously from 1
    ih.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      assert(g.length <= k)
      assert(g.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to g.length))
    }
    // every emitted edge carries the exact rescored cosine >= tau (rounded)
    assert(ih.forall(_.getAs[Double]("cosine") >= 0.2 - 1e-6))
    val ihSet = ih.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"))).toSet
    val hit = exact.count(ihSet)
    assert(hit.toDouble / exact.size >= 0.7,
      s"IH kNN-graph recall ${hit.toDouble / exact.size} ($hit/${exact.size})")
  }

  test("PQ ADC top-k recalls most of the exact L2 top-k") {
    import graft.ml.ProductQuantizer
    val cb = ProductQuantizer.train(emb, col("vec_id"), col("embedding"),
      m = 8, k = 16, iters = 3)
    val enc = ProductQuantizer.encode(emb, col("vec_id"), col("embedding"), cb)
    val vecs = emb.select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val queries = vecs.filter(_._1 < 5).toSeq.sortBy(_._1)
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val pq = ProductQuantizer.adcTopK(enc, queries, cb, kTop = 10)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("id")).toSet }
    val recalls = queries.map { case (qid, qv) =>
      val exact = (vecs - qid).toSeq.sortBy { case (id, v) => (l2(qv, v), id) }
        .take(10).map(_._1).toSet
      pq(qid).intersect(exact).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    // Near-random 64-dim vectors are PQ's worst case (quantization
    // error ~ inter-point distance); ~0.25 observed here vs 0.002
    // for chance (10/500). The spec pins the plumbing and that the
    // ADC ranking carries real signal, not SOTA recall.
    assert(mean >= 0.15, s"mean PQ recall@10 too low: $mean ($recalls)")
    // codes really are compressed: m small ints per vector
    val c = enc.select(size(col("codes"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(c == Seq(8))
  }

  test("PCA covariance spectrum has valid spectral structure") {
    val (top, total) = graft.ml.Pca.covarianceSpectrum(emb, col("embedding"), 5)
    assert(top.length == 5 && total > 0)
    assert(top.forall(_ > 0))
    assert(top.zip(top.tail).forall { case (a, b) => a >= b })
    assert(top.sum <= total * (1 + 1e-9))
    // near-isotropic synthetic embeddings: no single direction dominates
    assert(top.head / total < 0.5)
  }

  test("ScatterPower integer spectrum tracks breeze eigSym") {
    val (top, total) = graft.ml.Pca.covarianceSpectrum(emb, col("embedding"), 5)
    val n = emb.count().toDouble
    val rows = graft.ml.ScatterPower.spectrum(emb, col("vec_id"),
        col("embedding"), dim = 64, k = 5, iters = 40)
      .orderBy("rank").collect()
    assert(rows.length == 5)
    val lam = rows.map(_.getAs[Long]("lambda_u").toDouble / (n * n * 1e6))
    // at 40 power steps each deflated level converges to ITS breeze
    // eigenvalue on this data (measured: ≤0.7% per rank), descending
    assert(lam.forall(_ > 0))
    lam.zip(top).zipWithIndex.foreach { case ((got, want), i) =>
      assert(math.abs(got - want) / want < 0.05,
        s"rank ${i + 1}: $got vs breeze $want") }
    assert(lam.zip(lam.tail).forall { case (a, b) => a >= b },
      s"spectrum not descending: ${lam.toSeq}")
    // ratios are consistent with the integer trace
    val ratios = rows.map(_.getAs[Long]("ratio_ppm"))
    assert(ratios.forall(r => r > 0 && r < 1000000))
    assert(ratios.sum < 1000000)
  }

  test("KMeansLite is deterministic and assigns every vector") {
    val m1 = KMeansLite.fit(emb, col("vec_id"), col("embedding"), k = 4, iters = 3)
    val m2 = KMeansLite.fit(emb, col("vec_id"), col("embedding"), k = 4, iters = 3)
    val s1 = m1.assignments.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val s2 = m2.assignments.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(s1 == s2)
    assert(s1.values.sum == emb.count())
    assert(m1.centroids.length == 4 && m1.centroids.forall(_.length == 64))
  }

  test("k-means rejects a malformed vector by id; a NULL vector still joins cluster 0") {
    import spark.implicits._
    import graft.ml.ProductQuantizer
    // seeds [9,9] and [0,0]; id 7 is the vector under test
    def frame(v7: Option[Seq[Option[Double]]]) = Seq(
      1L -> Some(Seq(Some(9.0), Some(9.0))), 2L -> Some(Seq(Some(0.0), Some(0.0))),
      3L -> Some(Seq(Some(8.0), Some(9.0))), 7L -> v7).toDF("vec_id", "embedding")
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    for (bad <- Seq(Seq(Some(9.0), Some(9.0), Some(1.0)), Seq(Some(9.0), None))) {
      val df = frame(Some(bad))
      val e1 = intercept[Exception](
        KMeansLite.fit(df, col("vec_id"), col("embedding"), k = 2, iters = 2).assignments.collect())
      assert(messages(e1).contains("id 7 "), messages(e1))
      val e2 = intercept[Exception](
        ProductQuantizer.train(df, col("vec_id"), col("embedding"), m = 2, k = 2, iters = 1))
      assert(messages(e2).contains("id 7 "), messages(e2))
    }
    val got = KMeansLite.fit(frame(None), col("vec_id"), col("embedding"), k = 2, iters = 2)
      .assignments.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 0, 7L -> 0), got)
  }

  test("PQ codebook j equals KMeansLite.fit on slice j") {
    import graft.ml.ProductQuantizer
    val cb = ProductQuantizer.train(emb, col("vec_id"), col("embedding"), m = 4, k = 4, iters = 2)
    for (j <- 0 until 4) {
      val sub = emb.select(col("vec_id"),
        slice(graft.functions.VectorFunctions.toDouble(col("embedding")), j * 16 + 1, 16).as("s"))
      val fit = KMeansLite.fit(sub, col("vec_id"), col("s"), k = 4, iters = 2)
      assert(cb.cents(j).map(_.toSeq).toSeq == fit.centroids.map(_.toSeq).toSeq, s"subspace $j")
    }
  }

  test("the coarse group of the joint IVF-PQ fit equals KMeansLite.fit") {
    import graft.ml.ProductQuantizer
    val (cb, coarse) = ProductQuantizer.trainGroups(emb, col("vec_id"), col("embedding"),
      m = 4, k = 4, iters = 2, Some(6))
    val fit = KMeansLite.fit(emb, col("vec_id"), col("embedding"), k = 6, iters = 2)
    assert(coarse.get.map(_.toSeq).toSeq == fit.centroids.map(_.toSeq).toSeq)
    val alone = ProductQuantizer.train(emb, col("vec_id"), col("embedding"), m = 4, k = 4, iters = 2)
    assert(cb.cents.map(_.map(_.toSeq).toSeq).toSeq == alone.cents.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("IVF+PQ composed ANN recalls real signal and caps work per query") {
    val ivfpq = Similarity.ivfPqTopK(emb, col("vec_id"), col("embedding"),
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10,
        nCells = 16, nProbe = 6, m = 8, kCodes = 16, iters = 3)
      .collect()
    val byQ = ivfpq.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("id")).toSet }
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // every query returns at most k candidates with ascending adist
    ivfpq.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      assert(g.length <= 10)
      val byRank = g.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("adist"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
    // composed recall: both stages are lossy, so the floor is below
    // either alone — but must beat chance (10/500 = 0.02) decisively
    val recalls = bruteTop.map { case (q, brute) =>
      byQ.get(q).map(c => brute.count(c.contains).toDouble / brute.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.08, s"mean IVF+PQ recall $mean")
  }
}
