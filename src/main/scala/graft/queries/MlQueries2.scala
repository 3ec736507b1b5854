package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions.tokens
import graft.ml.KMeansLite
import graft.operators.DbscanGrid

/** SURVEY §2.6 ML wave 2: density clustering and language-model
  * evaluation — the two remaining canonical model-side tools beside
  * the centroid/regression/classification family.
  */
object MlQueries2 {

  /** DBSCAN over the first two embedding dimensions (ε = 0.015 in
    * embedding units = 15000 micro-units, minPts = 5): dense regions
    * of the embedding projection become arbitrary-shape clusters,
    * sparse points become an explicit NOISE set — the curation signal
    * k-means can't give (it assigns every outlier to SOME centroid).
    *
    * Exactness: coordinates are micro-int quantized ONCE (float →
    * double widening is exact, round once), offset +1e6 so they are
    * non-negative (floor == truncate, both engines agree), then every
    * distance comparison is integer. Cluster id = min core id;
    * borders take the min cluster among in-range cores — fully
    * deterministic, so the DuckDB oracle replays the whole algorithm
    * from brute-force pairs + a recursive-CTE closure (the
    * q_dedup_clusters convention) while Spark runs the grid-blocked
    * linear-scaling shape (operators.DbscanGrid). */
  private val qDbscan = BoundQuery("q_dbscan", (s, d) => {
    val pts = Tables.embeddings(s, d).select(col("vec_id"),
      (round(element_at(col("embedding"), 1).cast("double") * 1e6, 0).cast("long")
        + 1000000L).as("x"),
      (round(element_at(col("embedding"), 2).cast("double") * 1e6, 0).cast("long")
        + 1000000L).as("y"))
    DbscanGrid.cluster(pts, col("vec_id"), col("x"), col("y"),
        epsU = 15000L, minPts = 5)
      .select(col("id").as("vec_id"), col("role"), col("cluster_id"))
      .orderBy("vec_id")
  }, Some("""
    WITH RECURSIVE pts AS (
      SELECT vec_id,
        CAST(round(CAST(embedding[1] AS DOUBLE)*1e6, 0) AS BIGINT) + 1000000 AS x,
        CAST(round(CAST(embedding[2] AS DOUBLE)*1e6, 0) AS BIGINT) + 1000000 AS y
      FROM embeddings),
    cand AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM pts a JOIN pts b ON a.vec_id < b.vec_id
      WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 15000*15000),
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM (
              SELECT ia AS v FROM cand UNION ALL SELECT ib AS v FROM cand) t
            GROUP BY 1),
    core AS (SELECT v FROM deg WHERE c + 1 >= 5),
    ce AS (SELECT ia AS a, ib AS b FROM cand
           WHERE ia IN (SELECT v FROM core) AND ib IN (SELECT v FROM core)),
    edges AS (SELECT a, b FROM ce UNION ALL SELECT b AS a, a AS b FROM ce),
    reach(id, rr) AS (
      SELECT v, v FROM core
      UNION
      SELECT e.b, least(r.rr, e.a) FROM reach r JOIN edges e ON r.id = e.a),
    comp AS (SELECT id, min(rr) AS cl FROM reach GROUP BY id),
    borders AS (
      SELECT j.nc AS id, min(comp.cl) AS cl FROM (
        SELECT ia AS c, ib AS nc FROM cand
          WHERE ia IN (SELECT v FROM core) AND ib NOT IN (SELECT v FROM core)
        UNION ALL
        SELECT ib AS c, ia AS nc FROM cand
          WHERE ib IN (SELECT v FROM core) AND ia NOT IN (SELECT v FROM core)) j
      JOIN comp ON j.c = comp.id GROUP BY 1)
    SELECT p.vec_id,
      CASE WHEN comp.id IS NOT NULL THEN 'core'
           WHEN borders.id IS NOT NULL THEN 'border'
           ELSE 'noise' END AS role,
      coalesce(comp.cl, borders.cl) AS cluster_id
    FROM pts p
    LEFT JOIN comp ON p.vec_id = comp.id
    LEFT JOIN borders ON p.vec_id = borders.id
    ORDER BY p.vec_id
  """))

  /** Held-out perplexity of the corpus bigram LM, per source — the
    * evaluation companion of q_bigram_lm (which scores with counts
    * from the SAME corpus, i.e. training loss). Docs hash-split
    * ~7/8 train : 1/8 test on md5(doc_id) (the engine-replayable
    * q_hash_sample gate); add-one-smoothed bigram probabilities
    * p(w2|w1) = (c12+1)/(c1+V) use TRAIN counts only (absent w1/w2 →
    * 0, the smoothing handles them), V = train bigram-target vocab
    * (the q_bigram_lm convention).
    *
    * Each distinct test bigram TYPE contributes one micro-nat-rounded
    * log term (ratio of exact ints → identical IEEE double → one
    * rounded ln, the q_js_divergence float contract) multiplied by
    * its exact occurrence count; avg NLL is a final integral division
    * to micro-nats. Lower = the LM generalizes to that source.
    *
    * Scale shape: counts are token-type-grain aggregates (partial agg
    * everywhere); the scoring join is bigram-type keyed — types grow
    * sublinearly in corpus size (Heaps' law) and the V scalar is a
    * broadcast. No window, no driver loop. */
  private val qPerplexity = BoundQuery("q_perplexity", (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"),
        (substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) < "2")
          .as("is_test"))
      .where(size(col("toks")) >= 2)
    val bigrams = docs.select(col("doc_id"), col("source"), col("is_test"),
        explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
      .select(col("source"), col("is_test"),
        col("bg.0").as("w1"), col("bg.1").as("w2"))
    val train = bigrams.where(!col("is_test"))
    val c12 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = train.agg(countDistinct(col("w2")).as("v"))
    val testTypes = bigrams.where(col("is_test"))
      .groupBy("source", "w1", "w2").agg(count(lit(1)).as("cnt"))
    testTypes
      .join(c12, Seq("w1", "w2"), "left").na.fill(0L, Seq("c12"))
      .join(c1, Seq("w1"), "left").na.fill(0L, Seq("c1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nats_u",
        round(log((col("c12") + 1).cast("double") / (col("c1") + col("v")).cast("double")) * 1e6, 0)
          .cast("long"))
      .groupBy("source")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(-col("cnt") * col("nats_u")).as("nll_u"))
      .select(col("source"), col("n_bigrams"),
        expr("nll_u div n_bigrams").as("avg_nll_micro"))
      .orderBy("source")
  }, Some("""
    WITH docs AS (
      SELECT doc_id, source,
        list_filter(string_split(text,' '), x -> x <> '') AS toks,
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' AS is_test
      FROM documents),
    bigrams AS (
      SELECT source, is_test, toks[i] AS w1, toks[i+1] AS w2
      FROM (SELECT source, is_test, toks, unnest(range(1, len(toks))) AS i
            FROM docs WHERE len(toks) >= 2)),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM bigrams WHERE NOT is_test GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
           FROM bigrams WHERE NOT is_test GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v
          FROM bigrams WHERE NOT is_test),
    tt AS (SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS cnt
           FROM bigrams WHERE is_test GROUP BY 1, 2, 3),
    terms AS (
      SELECT source, cnt,
        CAST(round(ln(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)
                      / CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE)) * 1e6, 0) AS BIGINT)
          AS nats_u
      FROM tt
      LEFT JOIN c12 USING (w1, w2)
      LEFT JOIN c1 USING (w1)
      CROSS JOIN v)
    SELECT source, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      CAST(CAST(sum(-cnt * nats_u) AS BIGINT) // CAST(sum(cnt) AS BIGINT) AS BIGINT)
        AS avg_nll_micro
    FROM terms GROUP BY source ORDER BY source
  """))

  /** Micro-unit quantized embeddings + per-label centroids (mean by
    * integral division — exact, partition-invariant: KMeansLite's
    * means pass with the stored label as the cluster). Shared by the
    * two clustering-quality audits below; the collect is k·d longs
    * (10×64 — the q_kmeans_arith justified-driver-handful contract). */
  private def labelCentroids(s: org.apache.spark.sql.SparkSession, d: String)
    : (org.apache.spark.sql.DataFrame, Seq[(Long, Array[Long])]) = {
    val data = graft.util.CacheScope.persist(
      Tables.embeddings(s, d).select(col("vec_id"),
        col("label").cast("long").as("label"),
        transform(graft.functions.VectorFunctions.toDouble(col("embedding")),
          x => round(x * 1e6, 0).cast("long")).as("vu")))
    val cents = KMeansLite.means[Long, Long](data.select(lit(0).as("j"),
        col("label").as("cluster"), col("vu").as("v")), MlQueries.integralMean)
      .toSeq.map { case ((_, l), c) => (l, c) }.sortBy(_._1)
    (data, cents)
  }

  /** Shared DuckDB prelude: quantized vectors + per-label centroids
    * (the exact mirrors of labelCentroids). */
  private val duckCentroids = """
    v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
            list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS vu
          FROM embeddings),
    c AS (SELECT label, list(m ORDER BY i) AS cv FROM (
            SELECT label, i, sum(vu[i]) // count(*) AS m
            FROM v, unnest(range(1, 65)) AS t(i)
            GROUP BY label, i)
          GROUP BY label),
    dd AS (SELECT v.vec_id, v.label AS plabel, c.label AS clabel,
             list_reduce(list_transform(range(1, 65),
               i -> (v.vu[i] - c.cv[i]) * (v.vu[i] - c.cv[i])),
               (x, y) -> x + y) AS d2
           FROM v CROSS JOIN c)"""

  /** Simplified (centroid-based) silhouette of the STORED label
    * clustering in embedding space — "how separable are the classes
    * the curation pipeline trusts": per point a = squared micro-dist
    * to its own label centroid, b = min over other centroids,
    * s = (b−a)/max(a,b) in ppm (the squared-distance variant keeps
    * the whole statistic sqrt-free — the q_wilcoxon convention — at
    * the cost of stretching s toward ±1; ranking between clusterings
    * is preserved since the map x→x² is monotone on distances).
    * Negative per-cluster mean ⇒ that label's points sit closer to a
    * foreign centroid than their own — a mislabeled or entangled
    * class.
    *
    * Exactness: d2 ≤ 64·(2e6)² ≈ 2.6e14 per point (long-safe); the
    * per-label s_ppm mean and d2 means divide decimal(38,0) sums —
    * at 1e9 points per label the d2 sum reaches 2.6e23, past int64.
    *
    * Scale shape: centroids = one posexplode partial agg (64k rows
    * per label before combine); the per-point pass is ONE linear scan
    * of codegen'd array math with a k·d literal — no join, no
    * shuffle; final agg is label-keyed. */
  private val qSilhouette = BoundQuery("q_silhouette", (s, d) => {
    val (data, cents) = labelCentroids(s, d)
    val dec = "decimal(38,0)"
    data.withColumn("ds", KMeansLite.distances(col("vu"), cents))
      .select(col("label"),
        element_at(filter(col("ds"), st => st("cluster") === col("label")), 1)("d")
          .as("a"),
        sort_array(filter(col("ds"), st => st("cluster") =!= col("label")))(0)("d")
          .as("b"))
      .select(col("label"),
        // 10⁶·(b−a) reaches ~2.6e20 at the d2 ceiling — through decimal
        expr("CASE WHEN greatest(a, b) > 0 THEN (CAST(1000000 AS DECIMAL(38,0)) * (b - a)) div greatest(a, b) ELSE CAST(0 AS BIGINT) END")
          .as("sp"),
        col("a"), col("b"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(col("sp").cast(dec)).as("ssp"),
        sum(col("a").cast(dec)).as("sa"),
        sum(col("b").cast(dec)).as("sb"))
      .select(col("label"), col("n"),
        expr("CAST(ssp div n AS BIGINT)").as("silhouette_ppm"),
        expr("CAST(sa div n AS BIGINT)").as("mean_own_d2"),
        expr("CAST(sb div n AS BIGINT)").as("mean_next_d2"))
      .orderBy("label")
  }, Some(s"""
    WITH $duckCentroids,
    ab AS (SELECT vec_id, plabel,
             max(CASE WHEN clabel = plabel THEN d2 END) AS a,
             min(CASE WHEN clabel <> plabel THEN d2 END) AS b
           FROM dd GROUP BY vec_id, plabel),
    sp AS (SELECT plabel AS label,
             CASE WHEN greatest(a, b) > 0
               THEN CAST((CAST(1000000 AS HUGEINT) * (b - a)) // greatest(a, b) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS sp,
             a, b
           FROM ab)
    SELECT label, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(sp AS HUGEINT)) // count(*) AS BIGINT) AS silhouette_ppm,
      CAST(sum(CAST(a AS HUGEINT)) // count(*) AS BIGINT) AS mean_own_d2,
      CAST(sum(CAST(b AS HUGEINT)) // count(*) AS BIGINT) AS mean_next_d2
    FROM sp GROUP BY label ORDER BY label
  """))

  /** Davies–Bouldin audit of the stored labels (squared-distance
    * variant, sqrt-free like q_silhouette): per label i the scatter
    * S_i = mean squared micro-dist to its centroid, and
    * R_i = max_{j≠i} 10⁶·(S_i + S_j) / M_ij with M_ij the squared
    * centroid separation — higher = worse-separated cluster, and the
    * arg-max partner names WHICH class it collides with. The partner
    * with the smallest label wins ties (unique ORDER BY contract).
    *
    * Exactness: S divides a decimal(38,0) sum by the member count;
    * M_ij is computed driver-side from the k·d collected centroids in
    * exact Long arithmetic (k² = 100 values); R is one truncating
    * division per (i,j) over longs (numerator ≤ 10⁶·2·2.6e14 ≈ 5e20 —
    * decimal, then the quotient ≤ ~1e9 back to long).
    *
    * Scale shape: the only data-sized work is the same one-scan
    * assignment pass as q_silhouette reduced per label; everything
    * after runs on k-row tables. */
  private val qDaviesBouldin = BoundQuery("q_davies_bouldin", (s, d) => {
    val (data, cents) = labelCentroids(s, d)
    val dec = "decimal(38,0)"
    val scatter = data.withColumn("ds", KMeansLite.distances(col("vu"), cents))
      .select(col("label"),
        element_at(filter(col("ds"), st => st("cluster") === col("label")), 1)("d")
          .as("a"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("a").cast(dec)).as("sa"))
      .select(col("label"), col("n"),
        expr("CAST(sa div n AS BIGINT)").as("s_d2"))
    val mRows = for {
      (li, ci) <- cents; (lj, cj) <- cents if li != lj
    } yield (li, lj,
      ci.zip(cj).map { case (x, y) => val t = x - y; t * t }.sum)
    val m = s.createDataFrame(mRows.toSeq).toDF("i", "j", "m_d2")
    val r = scatter.as("si")
      .join(broadcast(m), col("si.label") === col("i"))
      .join(scatter.select(col("label").as("j"), col("s_d2").as("sj_d2")), "j")
      .select(col("i").as("label"), col("n"), col("s_d2"), col("j"),
        expr("CASE WHEN m_d2 > 0 THEN CAST((CAST(1000000 AS DECIMAL(38,0)) * (s_d2 + sj_d2)) div m_d2 AS BIGINT) END")
          .as("r_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("r_ppm").desc, col("j").asc)
    r.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("label"), col("n"), col("s_d2"),
        col("r_ppm").as("db_ppm"), col("j").as("partner"))
      .orderBy("label")
  }, Some(s"""
    WITH $duckCentroids,
    sc AS (SELECT plabel AS label, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(d2 AS HUGEINT)) // count(*) AS BIGINT) AS s_d2
           FROM dd WHERE clabel = plabel GROUP BY plabel),
    mm AS (SELECT ci.label AS i, cj.label AS j,
             list_reduce(list_transform(range(1, 65),
               k -> (ci.cv[k] - cj.cv[k]) * (ci.cv[k] - cj.cv[k])),
               (x, y) -> x + y) AS m_d2
           FROM c ci JOIN c cj ON ci.label <> cj.label),
    r0 AS (SELECT si.label, si.n, si.s_d2, mm.j,
             CASE WHEN mm.m_d2 > 0
               THEN CAST((CAST(1000000 AS HUGEINT) * (si.s_d2 + sj.s_d2))
                         // mm.m_d2 AS BIGINT) END AS r_ppm
           FROM sc si JOIN mm ON si.label = mm.i JOIN sc sj ON mm.j = sj.label),
    r AS (SELECT label, n, s_d2, j, r_ppm,
            row_number() OVER (PARTITION BY label
                               ORDER BY r_ppm DESC, j ASC) AS rn
          FROM r0)
    SELECT label, n, s_d2, r_ppm AS db_ppm, j AS partner
    FROM r WHERE rn = 1 ORDER BY label
  """))

  /** k-means++ style seeding by deterministic farthest-first
    * traversal (Gonzalez 1985 — the derandomized k-means++ whose
    * 2-approximation for k-center is provable, where the sampled
    * variant is only provable in expectation): seed 1 is the min-id
    * vector; each next seed is the point FARTHEST from the chosen
    * set (exact squared micro-int distance, ties to min vec_id).
    * sel_dist traces the k-center radius curve — its decay tells you
    * the intrinsic cluster count before you ever run Lloyd
    * iterations (the q_kmeans_arith fitter consumes these seeds at
    * 100 TB: spread seeds dodge the empty-cluster collapse min-id
    * seeding risks).
    *
    * Scale shape: each of the k−1 rounds is one full scan with a
    * 1-row broadcast seed + a TakeOrdered(1) argmax, and the running
    * min-distance column carries forward — O(k·scan), the textbook
    * distributed farthest-first; no pairwise matrix ever forms. */
  private val qKmeanspp = BoundQuery("q_kmeanspp", (s, d) => {
    val v = Tables.embeddings(s, d).select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1e6, 0) AS BIGINT))")
      .as("vu"))
    def sq = graft.expressions.SqDist.sqDist(s, col("vu"), col("c"))
    val c1 = v.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("cid"), col("vu").as("c"))
    var dmin = v.crossJoin(broadcast(c1)).select(col("vec_id"), col("vu"),
      sq.as("dmin"))
    var out = Seq.empty[org.apache.spark.sql.DataFrame]
    out :+= c1.select(lit(1L).as("seed_rank"), col("cid").as("vec_id"),
      lit(0L).as("sel_dist"))
    for (k <- 2 to 4) {
      val next = dmin.orderBy(desc("dmin"), col("vec_id")).limit(1)
        .select(col("vec_id").as("cid"), col("vu").as("c"),
          col("dmin").as("seld"))
      out :+= next.select(lit(k.toLong).as("seed_rank"),
        col("cid").as("vec_id"), col("seld").as("sel_dist"))
      dmin = dmin.crossJoin(broadcast(next.select(col("c"))))
        .select(col("vec_id"), col("vu"),
          least(col("dmin"), sq).as("dmin"))
    }
    out.reduce(_ unionByName _).orderBy("seed_rank")
  }, Some {
    val sqd = (vp: String, cp: String) =>
      s"""list_reduce(list_transform(range(1, 65),
            i -> ($vp.vu[i] - $cp.c[i]) * ($vp.vu[i] - $cp.c[i])),
            (x, y) -> x + y)"""
    s"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding,
        x -> CAST(round(CAST(x AS DOUBLE)*1e6, 0) AS BIGINT)) AS vu
      FROM embeddings),
    s1 AS (SELECT vec_id AS cid, vu AS c FROM v ORDER BY vec_id LIMIT 1),
    d1 AS (SELECT v.vec_id, v.vu, ${sqd("v", "s1")} AS dmin
           FROM v CROSS JOIN s1),
    s2 AS (SELECT vec_id AS cid, vu AS c, dmin AS seld FROM d1
           ORDER BY dmin DESC, vec_id LIMIT 1),
    d2 AS (SELECT d1.vec_id, d1.vu, least(d1.dmin, ${sqd("d1", "s2")}) AS dmin
           FROM d1 CROSS JOIN s2),
    s3 AS (SELECT vec_id AS cid, vu AS c, dmin AS seld FROM d2
           ORDER BY dmin DESC, vec_id LIMIT 1),
    d3 AS (SELECT d2.vec_id, d2.vu, least(d2.dmin, ${sqd("d2", "s3")}) AS dmin
           FROM d2 CROSS JOIN s3),
    s4 AS (SELECT vec_id AS cid, vu AS c, dmin AS seld FROM d3
           ORDER BY dmin DESC, vec_id LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS seed_rank, cid AS vec_id,
      CAST(0 AS BIGINT) AS sel_dist FROM s1
    UNION ALL SELECT 2, cid, CAST(seld AS BIGINT) FROM s2
    UNION ALL SELECT 3, cid, CAST(seld AS BIGINT) FROM s3
    UNION ALL SELECT 4, cid, CAST(seld AS BIGINT) FROM s4
    ORDER BY seed_rank
  """})

  val all: Seq[BoundQuery] = Seq(qDbscan, qPerplexity, qSilhouette,
    qDaviesBouldin, qKmeanspp)
}
