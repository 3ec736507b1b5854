package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.CacheScope
import graft.functions.VectorFunctions._
import graft.expressions.DotProduct.dotProduct

/** Embedding similarity search (SURVEY §2.4).
  *
  * Shapes: `bruteForceTopK` is the exact baseline — broadcast the
  * (small) query set against the full collection, one normalized dot
  * per (query, vector). `cosinePairs` is the exact all-pairs
  * near-dup scan. `lshCosinePairsIH` (auto-sized by
  * `lshCosinePairsAutoIH`) is the scale path: random-hyperplane sign
  * buckets (Charikar SimHash for vectors) block the join to
  * same-bucket candidates, verified exactly — O(n x bucket) instead
  * of O(n^2), with banding (multiple independent tables) buying
  * recall back. Planes are integer coefficient families, so the
  * signatures are deterministic across runs and partitionings and
  * replayable by a SQL engine.
  */
object Similarity {

  /** id + L2-normalized double vector. The norm is materialized as
    * its own column first: a `transform(v, x => x / norm(v))` lambda
    * would re-evaluate the norm fold per element (no CSE across
    * lambda bodies — same trap as ShingleHash64 documents). */
  private def normed(df: DataFrame, idCol: Column, vecCol: Column): DataFrame =
    df.select(idCol.as("id"), toDouble(vecCol).as("vd"))
      .withColumn("nrm", sqrt(dotProduct(df.sparkSession, col("vd"), col("vd"))))
      .select(col("id"), transform(col("vd"), x => x / col("nrm")).as("vn"))

  /** Spread the probe side of a broadcast/nested-loop product across
    * all cores — the cached tables can arrive as ONE partition
    * (single row-group files), which would serialize the whole
    * O(n*m) compare through one task. Now the shared conditional
    * util (graft.util.Spread): a no-op when the input already
    * carries enough splits. */
  private def spread(df: DataFrame): DataFrame = graft.util.Spread(df)

  /** Exact top-k nearest (cosine) rows for each query row.
    * Cosine is rounded to 6 decimals BEFORE ranking, with the id as
    * tiebreak — ranks are then invariant to last-ulp float noise. */
  def bruteForceTopK(collection: DataFrame, colId: Column, colVec: Column,
                     queries: DataFrame, qId: Column, qVec: Column,
                     k: Int): DataFrame = {
    val c = spread(normed(collection, colId, colVec))
    val q = normed(queries, qId, qVec)
      .select(col("id").as("query_id"), col("vn").as("qn"))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        round(dotProduct(collection.sparkSession, col("vn"), col("qn")), 6).as("cosine"))
    TopKPerGroup.topK(scored, Seq(col("query_id")),
      Seq(desc("cosine"), col("id")), k, rankCol = "rnk")
      .select("query_id", "id", "cosine", "rnk")
  }

  /** Hard-negative mining for contrastive/retrieval training: for
    * each anchor, the k most-similar vectors carrying a DIFFERENT
    * label — the negatives that sit closest to the decision boundary
    * and therefore carry the training signal (random negatives are
    * trivially separable). Same exact-cosine + rounded-rank contract
    * as bruteForceTopK; the label inequality prunes INSIDE the scored
    * join, before ranking, so the top-k is over true negatives only.
    * Scale path: swap the scored join for the LSH-bucketed candidate
    * generation (knnGraphLshIH) and apply the same label filter in the
    * bucket join — the blocking is label-oblivious so recall carries
    * over unchanged. */
  def hardNegatives(df: DataFrame, idCol: Column, vecCol: Column,
                    labelCol: Column, k: Int): DataFrame = {
    // labels compare on their NATIVE type — a numeric cast would turn
    // string labels into null and make `lab =!= qlab` null-eliminate
    // every row silently
    val lab = df.select(idCol.as("lid"), labelCol.as("lab"))
    val c = spread(normed(df, idCol, vecCol))
      .join(lab, col("id") === col("lid")).drop("lid")
    val q = normed(df, idCol, vecCol)
      .join(lab, col("id") === col("lid"))
      .select(col("id").as("query_id"), col("vn").as("qn"),
        col("lab").as("qlab"))
    val scored = c.join(broadcast(q), col("lab") =!= col("qlab"))
      .select(col("query_id"), col("id"), col("lab"),
        round(dotProduct(df.sparkSession, col("vn"), col("qn")), 6).as("cosine"))
    TopKPerGroup.topK(scored, Seq(col("query_id")),
      Seq(desc("cosine"), col("id")), k, rankCol = "rnk")
      .select("query_id", "id", "lab", "cosine", "rnk")
  }

  /** Exact cosine near-duplicate pairs (id_a < id_b, cosine >= tau).
    * Quadratic — correctness baseline and small-collection tool. */
  def cosinePairs(df: DataFrame, idCol: Column, vecCol: Column, tau: Double): DataFrame = {
    val n = CacheScope.persist(spread(normed(df, idCol, vecCol)))
    spread(n).as("a").join(broadcast(n).as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(dotProduct(df.sparkSession, col("a.vn"), col("b.vn")), 6).as("cosine"))
      .where(col("cosine") >= tau)
  }

  /** Banded random-hyperplane LSH near-dup pairs (Charikar '02) — the
    * one body behind both coefficient families below. `tables`
    * independent hash tables of `planes` hyperplanes each; two vectors
    * are candidates when they share the full sign signature of ANY
    * table, and candidates are verified with the exact rounded cosine,
    * so precision is exact and only recall is approximate. Per-plane
    * collision probability for angle θ is 1-θ/π, so recall at
    * threshold τ is ≥ 1-(1-(1-acos(τ)/π)^planes)^tables: planes sets
    * bucket selectivity (~n/2^planes vectors per bucket on isotropic
    * data), tables buys recall back. O(n·tables) bucket rows, never the
    * O(n²) compare.
    *
    * Plane p's sign bit is Σ coef(p, i)·round(v_i·10⁶) > 0 over the
    * dimensions i (1-based): all-long arithmetic, so bucket membership
    * is bit-identical across engines and partitionings and a SQL
    * engine can replay every step. Each plane is one codegen'd long
    * DotProduct against a literal coefficient array (a
    * transform-over-coefficients HOF ran every inner fold interpreted,
    * with a zip_with allocation per plane per row).
    *
    * `maxBucket` drops degenerate buckets (all-near-identical corpora)
    * with one count window over the bucket shuffle the join needs
    * anyway; a groupBy + anti-join variant regressed 2.5×, because it
    * forks the plan above the signature stage. Candidates only ever
    * shrink, so the exact-verify subset property holds. The bucket rows
    * are persisted so the self-join does not compute the signature
    * stage once per side. */
  private def bandedCosinePairs(df: DataFrame, idCol: Column, vecCol: Column,
                                tau: Double, dim: Int, planes: Int, tables: Int,
                                maxBucket: Option[Int])
                               (coef: (Int, Int) => Long): DataFrame = {
    val spark = df.sparkSession
    val n = CacheScope.persist(
      df.select(idCol.as("id"), toDouble(vecCol).as("vd"))
        .withColumn("nrm", sqrt(dotProduct(spark, col("vd"), col("vd"))))
        .withColumn("vn", transform(col("vd"), x => x / col("nrm")))
        .withColumn("vu", transform(col("vd"), x => round(x * 1e6, 0).cast("long")))
        .select(col("id"), col("vn"), col("vu")))
    val coefs: Seq[Seq[Long]] =
      (0 until tables * planes).map(p => (1 to dim).map(i => coef(p, i)))
    val bits = array(coefs.map(cp =>
      (dotProduct(spark, col("vu"), typedLit(cp)) > 0).cast("int")): _*)
    val sigCols = (0 until tables).map { t =>
      val sig = (0 until planes).map { p =>
        element_at(col("__bits"), t * planes + p + 1) * lit(1 << p)
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), sig.as("sig"))
    }
    val buckets = n
      .withColumn("__bits", bits)
      .select(col("id"), col("vn"), explode(array(sigCols: _*)).as("bk"))
      .select(col("id"), col("vn"), col("bk.tbl").as("tbl"), col("bk.sig").as("sig"))
    val capped = maxBucket.fold(buckets) { cap =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("tbl", "sig")
      buckets.withColumn("__bn", count(lit(1)).over(w))
        .where(col("__bn") <= cap).drop("__bn")
    }
    BandedLsh.selfJoin(CacheScope.persist(capped), "cosine")(
      (a, b) => round(dotProduct(spark, a, b), 6), _ >= tau)
  }

  /** Banded LSH with ARITHMETIC Rademacher (±1) hyperplanes. Plane p's
    * coefficient over dimension i (1-based) is
    * `((a_p·i + b_p) mod M) mod 2 == 0 ? +1 : -1` with
    * M = 2^31−1, a_p = (p+1)·2654435761 mod M, b_p = (p+1)·40503
    * mod M — a published affine family in the same spirit as the
    * arithmetic minhash permutations (Dedup.scala). Rademacher
    * projections have the same sign-concentration guarantees as
    * Gaussian ones (Achlioptas 2003). |terms| ≤ dim·2e6, far inside
    * long. No maxBucket cap, so the oracle SQL need not replay the
    * window. */
  def arithLshCosinePairs(df: DataFrame, idCol: Column, vecCol: Column, tau: Double,
                          dim: Int, planes: Int = 4, tables: Int = 8): DataFrame = {
    val M = 2147483647L
    bandedCosinePairs(df, idCol, vecCol, tau, dim, planes, tables, maxBucket = None) {
      (p, i) =>
        val a = ((p + 1).toLong * 2654435761L) % M
        val b = ((p + 1).toLong * 40503L) % M
        if (((a * i + b) % M) % 2 == 0) 1L else -1L
    }
  }

  // ---------------------------------------------------------------
  // Irwin–Hall integer-plane family: the production LSH
  // ---------------------------------------------------------------

  /** Integer-exact plane count: the smallest q with 2^q ≥ n/target
    * (≡ ceil(log2(n/target)) but decided by the integer comparison
    * 100·2^q ≥ n, so no float log can ulp-flip it across engines),
    * clamped to [1, 24]. */
  def planesFor(n: Long, targetBucket: Int): Int = {
    val cnt = (0 until 24).count(q => targetBucket.toLong * (1L << q) < n)
    math.min(24, math.max(1, cnt))
  }

  /** Band count from the recall inversion, computed ONCE in Scala:
    * smallest t with (1−p^planes)^t ≤ 1−recall, p = 1−acos(tau)/π.
    * The oracle embeds this mapping as a planes→tables CASE generated
    * from THIS function, so transcendental libm differences can never
    * flip the sizing cross-engine. */
  def tablesFor(planes: Int, tau: Double, targetRecall: Double, maxTables: Int): Int = {
    val p = 1.0 - math.acos(tau) / math.Pi
    val pSig = math.pow(p, planes)
    math.min(maxTables, math.max(1,
      math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pSig)).toInt))
  }

  /** Irwin–Hall integer coefficient for plane `p`, dimension `i`
    * (1-based): the sum of four affine-hash uniforms on [0, 999]
    * minus the mean 1998 — CLT-approximately Gaussian, spherically
    * symmetric enough for hyperplane LSH (Achlioptas 2003 shows even
    * ±1 suffices), and EXACT integer arithmetic, so signatures are
    * replayable by any engine. */
  def ihCoef(p: Int, i: Int, dim: Int): Long = {
    val M = 2147483647L
    var s = 0L
    var k = 1
    while (k <= 4) {
      val idx = (p.toLong * dim + (i - 1)) * 4 + k
      s += ((2654435761L * idx + 40503L * (p + 1)) % M) % 1000L
      k += 1
    }
    s - 1998L
  }

  /** Banded LSH with the Irwin–Hall integer planes (ihCoef) and the
    * maxBucket degenerate guard. |terms| ≤ 64·2000·2·10⁶ ≈ 2.6·10¹¹,
    * inside long. This family binds q_lsh_cosine_pairs and
    * q_knn_graph_lsh, each with a full DuckDB oracle. */
  def lshCosinePairsIH(df: DataFrame, idCol: Column, vecCol: Column, tau: Double,
                       dim: Int, planes: Int, tables: Int,
                       maxBucket: Int = 100000): DataFrame =
    bandedCosinePairs(df, idCol, vecCol, tau, dim, planes, tables,
      Some(maxBucket))(ihCoef(_, _, dim))

  /** Auto-sized Irwin–Hall LSH: planesFor's integer sizing +
    * tablesFor's precomputed inversion — both replayed verbatim by
    * the oracle generator (DuckVectorSql.ihLshPairsSql). */
  def lshCosinePairsAutoIH(df: DataFrame, idCol: Column, vecCol: Column, tau: Double,
                           dim: Int, targetRecall: Double = 0.8,
                           targetBucket: Int = 100, maxTables: Int = 64): DataFrame = {
    val n = df.count()
    val planes = planesFor(n, targetBucket)
    val tables = tablesFor(planes, tau, targetRecall, maxTables)
    lshCosinePairsIH(df, idCol, vecCol, tau, dim, planes, tables)
  }

  /** Approximate k-nearest-neighbor GRAPH (every node's top-k
    * neighbors at cosine ≥ `tau`) from the auto-sized Irwin–Hall LSH
    * candidates — the scale path for kNN-graph construction (semantic
    * dedup clusters, quality propagation, kNN classification). The
    * exact formulation is an O(n²) all-pairs compare; here candidate
    * pairs come from banded sign-signature buckets (O(n·tables) bucket
    * rows), are symmetrized, and each node keeps its k best by exact
    * rescored cosine. A node's list may be shorter than k in sparse
    * neighborhoods. */
  def knnGraphLshIH(df: DataFrame, idCol: Column, vecCol: Column,
                    k: Int, tau: Double, dim: Int,
                    targetRecall: Double = 0.9): DataFrame = {
    val pairs = lshCosinePairsAutoIH(df, idCol, vecCol, tau, dim,
      targetRecall = targetRecall)
    val sym = pairs.select(col("id_a").as("query_id"), col("id_b").as("id"), col("cosine"))
      .union(pairs.select(col("id_b").as("query_id"), col("id_a").as("id"), col("cosine")))
    TopKPerGroup.topK(sym, Seq(col("query_id")),
      Seq(desc("cosine"), col("id")), k, rankCol = "rnk")
      .select("query_id", "id", "cosine", "rnk")
  }

  /** IVF with a TRAINED coarse quantizer: spherical k-means
    * (KMeansLite over the normalized vectors) replaces ivfTopK's
    * lowest-id centroids, giving balanced cells that track the data
    * distribution — the production IVF shape (FAISS-style) — while
    * staying deterministic (lowest-id init, rounded means). Same
    * probe/verify plan as ivfTopK; only the centroid table differs,
    * and cell assignment comes straight from the k-means model's
    * assignments (no second argmax pass over the collection). */
  def ivfTopKTrained(collection: DataFrame, colId: Column, colVec: Column,
                     queries: DataFrame, qId: Column, qVec: Column,
                     k: Int, nCells: Int = 16, nProbe: Int = 4,
                     iters: Int = 3): DataFrame = {
    val c = CacheScope.persist(spread(normed(collection, colId, colVec)))
    val model = graft.ml.KMeansLite.fit(c, col("id"), col("vn"), nCells, iters)
    val assigned = spread(c.join(
      model.assignments.withColumnRenamed("cluster", "cell"), "id"))
    // nearest-centroid ranking by exact L2 (the training metric):
    // d² = |q|² + |cent|² − 2·q·cent with |q|² = 1 on normalized input
    val cents = model.centroids.zipWithIndex
    def cellScores(qn: Column): Column = array(cents.map { case (v, i) =>
      val c2 = v.map(x => x * x).sum
      struct(round(lit(1.0 + c2) - lit(2.0) * dot(qn, array(v.map(lit): _*)), 9).as("d"),
        lit(i).as("cell"))
    }: _*)
    val q = normed(queries, qId, qVec)
      .select(col("id").as("query_id"), col("vn").as("qn"))
      .withColumn("probe", slice(sort_array(cellScores(col("qn"))), 1, nProbe))
      .select(col("query_id"), col("qn"), explode(col("probe")("cell")).as("qcell"))
    val scored = assigned.join(broadcast(q),
        col("cell") === col("qcell") && col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        round(dotProduct(collection.sparkSession, col("vn"), col("qn")), 6).as("cosine"))
    TopKPerGroup.topK(scored, Seq(col("query_id")),
      Seq(desc("cosine"), col("id")), k, rankCol = "rnk")
      .select("query_id", "id", "cosine", "rnk")
  }

  /** IVF-style ANN: assign every vector to its nearest of `nCells`
    * deterministic coarse centroids (the lowest-id vectors), probe the
    * `nProbe` best cells per query, brute-force inside. The scale
    * shape for ANN top-k: per-query work is collection/nCells*nProbe. */
  def ivfTopK(collection: DataFrame, colId: Column, colVec: Column,
              queries: DataFrame, qId: Column, qVec: Column,
              k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val c = CacheScope.persist(spread(normed(collection, colId, colVec)))
    val cents: Array[(Int, Seq[Double])] = c.orderBy("id").limit(nCells)
      .collect().zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }
    def cellScores(vn: Column): Column = array(cents.map { case (i, v) =>
      struct(round(dot(vn, array(v.map(lit): _*)), 9).as("s"), lit(i).as("cell"))
    }: _*)
    val assigned = spread(c.withColumn("cell",
      sort_array(cellScores(col("vn")), asc = false)(0)("cell")))
    val q = normed(queries, qId, qVec)
      .select(col("id").as("query_id"), col("vn").as("qn"))
      .withColumn("probe", slice(sort_array(cellScores(col("qn")), asc = false), 1, nProbe))
      .select(col("query_id"), col("qn"), explode(col("probe")("cell")).as("qcell"))
    val scored = assigned.join(broadcast(q),
        col("cell") === col("qcell") && col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        round(dotProduct(collection.sparkSession, col("vn"), col("qn")), 6).as("cosine"))
    TopKPerGroup.topK(scored, Seq(col("query_id")),
      Seq(desc("cosine"), col("id")), k, rankCol = "rnk")
      .select("query_id", "id", "cosine", "rnk")
  }

  /** IVF + PQ composed ANN — the full memory-bounded scale path
    * (FAISS IVFPQ shape): a KMeansLite-trained coarse quantizer
    * restricts each query to its `nProbe` nearest cells, and within
    * those cells candidates are ranked by PQ asymmetric distance over
    * 4-byte codes — the collection's raw vectors are read ONCE (at
    * assignment/encode time) and never again at query time. Per-query
    * work is (n/nCells)·nProbe code lookups; per-candidate state is m
    * bytes instead of d floats. Probe selection happens driver-side
    * over the tiny centroid table (nCells × d doubles) — the same
    * "serving-side handful" contract as adcTopK's query list. */
  def ivfPqTopK(collection: DataFrame, colId: Column, colVec: Column,
                queryIds: Seq[Long], k: Int,
                nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, kCodes: Int = 16, iters: Int = 3): DataFrame = {
    import graft.ml.{KMeansLite, ProductQuantizer}
    val c = CacheScope.persist(spread(normed(collection, colId, colVec)))
    // coarse quantizer + all m PQ codebooks learn on ONE exploded
    // frame (group j = m is the whole vector), numerically identical to
    // KMeansLite.fit + ProductQuantizer.train, so the unrolled DuckDB
    // oracle replay of the composition is unchanged
    val (cb, coarse) = ProductQuantizer.trainGroups(
      c, col("id"), col("vn"), m, kCodes, iters, Some(nCells))
    val model = KMeansLite.Model(coarse.get, c.select(col("id"),
      KMeansLite.nearest(col("vn"), KMeansLite.indexed(coarse.get))("cluster").as("cluster")))
    val encoded = ProductQuantizer.encode(c, col("id"), col("vn"), cb)
      .join(model.assignments.withColumnRenamed("cluster", "cell"), "id")
    // serving-side handful: query vectors + their probe cells, all
    // computed over collected arrays (queries × centroids, tiny)
    val qvecs = c.where(col("id").isin(queryIds.map(java.lang.Long.valueOf): _*))
      .select(col("id"), col("vn")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val probes: Map[Long, Seq[Int]] = qvecs.map { case (qid, qv) =>
      val byDist = model.centroids.zipWithIndex.map { case (cent, i) =>
        val d2 = cent.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
        (math.rint(d2 * 1e9) / 1e9, i)
      }.sortBy(identity).take(nProbe).map(_._2).toSeq
      qid -> byDist
    }.toMap
    val scored = qvecs.map { case (qid, qv) =>
      struct(lit(qid).as("query_id"), ProductQuantizer.adcDistance(cb, qv).as("adist"),
        array(probes(qid).map(lit): _*).as("cells"))
    }
    val exploded = spread(encoded)
      .select(col("id"), col("cell"), explode(array(scored: _*)).as("q"))
      .where(array_contains(col("q.cells"), col("cell")) &&
        col("q.query_id") =!= col("id"))
      .select(col("q.query_id").as("query_id"), col("id"),
        col("q.adist").as("adist"))
    TopKPerGroup.topK(exploded, Seq(col("query_id")),
      Seq(asc("adist"), col("id")), k, rankCol = "rnk")
      .select("query_id", "id", "adist", "rnk")
  }
}
