package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Similarity, TopKPerGroup}
import graft.ml.{AssociationRules, KMeansLite}
import graft.functions.TextFunctions.tokens
import graft.functions.VectorFunctions.toDouble

/** SURVEY §2.2 (reference ML) + §2.4 vector ops bindings.
  *
  * Cosine parity note: both engines fold the dot product sequentially
  * over per-element double products of float inputs (exact), so raw
  * cosines agree to the last ulp in practice; outputs still round to
  * 6 decimals and rank with id tiebreaks so a one-ulp divergence
  * cannot flip a row.
  */
object VectorQueries {

  // list_reduce (not list_sum) mirrors Spark's sequential aggregate
  // fold bit-for-bit: ((p1+p2)+p3)... == ((0.0+p1)+p2)+p3...
  private[queries] def duckCosine(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, 65), i -> CAST($a.embedding[i] AS DOUBLE)/$a.nrm * (CAST($b.embedding[i] AS DOUBLE)/$b.nrm)), (x, y) -> x + y)"""

  private[queries] val duckNorm =
    "sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (x, y) -> x + y))"

  /** Embedding cosine near-dup pairs — the EXACT all-pairs baseline.
    * Oracle-support + recall reference only; the bench headline is
    * q_lsh_cosine_pairs below, whose banded blocking is the shape that
    * survives 100× data (this one broadcasts the collection into an
    * O(n²) compare by construction). */
  private val qEmbeddingNeardup = BoundQuery("q_embedding_neardup", (s, d) => {
    Similarity.cosinePairs(Tables.embeddings(s, d), col("vec_id"), col("embedding"), 0.4)
      .orderBy("id_a", "id_b")
  }, Some(s"""
    WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(${duckCosine("a", "b")}, 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(${duckCosine("a", "b")}, 6) >= 0.4
    ORDER BY id_a, id_b
  """))

  /** Banded hyperplane-LSH cosine near-dup pairs — the near-dup
    * HEADLINE and the 100 TB path: O(n·tables) bucket rows + in-bucket
    * joins instead of the exact baseline's O(n²) broadcast compare,
    * with planes/tables AUTO-SIZED from the collection size and an
    * 0.8 recall target so per-bucket work stays pinned as data grows
    * — the sf1 smoke showed fixed planes re-growing quadratic buckets
    * at 10×. Exact verification means every emitted pair is a true
    * pair at tau.
    *
    * Full oracle: the planes are the Irwin–Hall INTEGER family
    * (Similarity.lshCosinePairsAutoIH — CLT-Gaussian sums of four
    * affine-hash uniforms, exact long arithmetic), the sizing replays
    * integrally (integer plane comparison + a Scala-generated
    * planes→tables CASE), and the maxBucket window, banding and
    * rounded-cosine verify replay term-for-term. VectorSpec pins
    * subset precision and a recall floor. */
  private val qLshCosinePairs = BoundQuery("q_lsh_cosine_pairs", (s, d) => {
    Similarity.lshCosinePairsAutoIH(Tables.embeddings(s, d), col("vec_id"), col("embedding"),
      tau = 0.4, dim = 64)
      .orderBy("id_a", "id_b")
  }, Some(DuckVectorSql.ihLshPairsSql(tau = 0.4, dim = 64)), headline = true)

  /** Banded cosine LSH with fixed planes/tables and Rademacher ±1
    * planes from a published affine family over exact micro-int
    * vectors (Similarity.arithLshCosinePairs), so DuckDB replays the
    * ENTIRE pipeline — signatures, banding, bucket join, cosine
    * verify — term for term. The headline is q_lsh_cosine_pairs
    * (Irwin–Hall planes), whose auto-sizing and maxBucket guard are
    * the 100 TB knobs; this query pins the same banded algorithm with
    * a second coefficient family and no cap. */
  private val qLshCosineArith = BoundQuery("q_lsh_cosine_arith", (s, d) => {
    Similarity.arithLshCosinePairs(Tables.embeddings(s, d), col("vec_id"), col("embedding"),
      tau = 0.4, dim = 64, planes = 4, tables = 8)
      .orderBy("id_a", "id_b")
  }, Some(s"""
    WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS vu
               FROM embeddings),
    sigs AS (
      SELECT vec_id, p // 4 AS tbl,
        CAST(sum(CASE WHEN bitsum > 0 THEN 1 ELSE 0 END * (1 << (p % 4))) AS BIGINT) AS sig
      FROM (
        SELECT e.vec_id, p.p,
          list_sum(list_transform(range(1, 65), i ->
            (CASE WHEN ((((p.p+1)*2654435761 % 2147483647) * i
                         + (p.p+1)*40503 % 2147483647) % 2147483647) % 2 = 0
                  THEN 1 ELSE -1 END) * vu[i])) AS bitsum
        FROM e CROSS JOIN (SELECT unnest(range(0, 32)) AS p) p)
      GROUP BY vec_id, tbl),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sigs a JOIN sigs b
        ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, round(${duckCosine("a", "b")}, 6) AS cosine
    FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b
    WHERE round(${duckCosine("a", "b")}, 6) >= 0.4
    ORDER BY id_a, id_b
  """))

  /** Brute-force cosine top-k per query vector (queries = vec_id<5). */
  private val qAnnTopk = BoundQuery("q_ann_topk", (s, d) => {
    val e = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(
      e, col("vec_id"), col("embedding"),
      e.where(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 10)
      .orderBy("query_id", "rnk")
  }, Some(s"""
    WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS id,
             round(${duckCosine("a", "q")}, 6) AS cosine
      FROM e a JOIN e q ON q.vec_id < 5 AND a.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id, id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, id) AS BIGINT) AS rnk
      FROM scored)
    SELECT query_id, id, cosine, rnk FROM ranked WHERE rnk <= 10
    ORDER BY query_id, rnk
  """), headline = true)

  /** Exact k-nearest-neighbor graph (k=5, positive cosine only) —
    * the ORACLE BASELINE for kNN-graph construction: every node's
    * 5 best neighbors by exact cosine. All-pairs by construction, so
    * like q_embedding_neardup it exists to pin correctness and
    * measure recall; the 100 TB path is q_knn_graph_lsh below. */
  private val qKnnGraph = BoundQuery("q_knn_graph", (s, d) => {
    val e = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(
      e, col("vec_id"), col("embedding"),
      e, col("vec_id"), col("embedding"),
      k = 5)
      .where(col("cosine") > 0)
      .orderBy("query_id", "rnk")
  }, Some(s"""
    WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS id,
             round(${duckCosine("a", "q")}, 6) AS cosine
      FROM e a JOIN e q ON a.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id, id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, id) AS BIGINT) AS rnk
      FROM scored)
    SELECT query_id, id, cosine, rnk FROM ranked WHERE rnk <= 5 AND cosine > 0
    ORDER BY query_id, rnk
  """))

  /** LSH-bucketed kNN graph — the SCALE path: banded sign-signature
    * candidate buckets + exact rescoring, never an all-pairs compare.
    * Full oracle via the Irwin–Hall integer planes
    * (Similarity.knnGraphLshIH — see q_lsh_cosine_pairs); VectorSpec
    * pins per-edge recall vs the exact graph above. */
  private val qKnnGraphLsh = BoundQuery("q_knn_graph_lsh", (s, d) => {
    Similarity.knnGraphLshIH(Tables.embeddings(s, d), col("vec_id"), col("embedding"),
      k = 5, tau = 0.2, dim = 64)
      .orderBy("query_id", "rnk")
  }, Some(DuckVectorSql.ihKnnGraphSql(k = 5, tau = 0.2, dim = 64)))

  /** IVF-bucketed ANN — the approximate scale path. Full oracle: the
    * coarse quantizer is deterministic (centroids = the 16 lowest-id
    * vectors, cell scores rounded to 9 decimals before the argmax /
    * probe ranking, cell-desc tiebreak matching sort_array's
    * descending struct order), so DuckDB replays assignment, probing
    * and in-cell ranking exactly; VectorSpec separately measures
    * recall vs brute force. */
  private val qAnnIvf = BoundQuery("q_ann_ivf", (s, d) => {
    val e = Tables.embeddings(s, d)
    Similarity.ivfTopK(
      e, col("vec_id"), col("embedding"),
      e.where(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 10)
      .orderBy("query_id", "rnk")
  }, Some(s"""
    WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings),
    n AS (SELECT vec_id,
            list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)/nrm) AS vn
          FROM e),
    cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cell,
                     vn AS cv
              FROM (SELECT * FROM n ORDER BY vec_id LIMIT 16)),
    scores AS (SELECT n.vec_id, c.cell,
                 round(list_reduce(list_transform(range(1, 65),
                   i -> n.vn[i]*c.cv[i]), (x, y) -> x + y), 9) AS s
               FROM n CROSS JOIN cents c),
    assigned AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
        FROM scores) WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cell AS qcell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
        FROM scores WHERE vec_id < 5) WHERE rn <= 4),
    scored AS (
      SELECT p.query_id, a.vec_id AS id,
             round(list_reduce(list_transform(range(1, 65),
               i -> na.vn[i]*nq.vn[i]), (x, y) -> x + y), 6) AS cosine
      FROM assigned a
      JOIN probes p ON a.cell = p.qcell AND a.vec_id <> p.query_id
      JOIN n na ON na.vec_id = a.vec_id
      JOIN n nq ON nq.vec_id = p.query_id),
    ranked AS (SELECT query_id, id, cosine,
        CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, id) AS BIGINT) AS rnk
      FROM scored)
    SELECT query_id, id, cosine, rnk FROM ranked WHERE rnk <= 10
    ORDER BY query_id, rnk
  """))

  /** ANN SELF-AUDIT: per-query recall@10 of the IVF path against the
    * brute-force truth — the acceptance gate a serving pipeline runs
    * before switching from exact to approximate search. Both
    * pipelines are oracle-replicable (q_ann_topk and q_ann_ivf carry
    * full oracles), so the recall numbers themselves are
    * engine-proven — the audit can't silently flatter the ANN path. */
  private val qAnnEval = BoundQuery("q_ann_eval", (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.where(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 10)
      .select(col("query_id"), col("id"))
    val pred = Similarity.ivfTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 10)
      .select(col("query_id"), col("id"))
    val hits = pred.join(truth, Seq("query_id", "id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    truth.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_truth").cast("double"), 6).as("recall_at_k"))
      .orderBy("query_id")
  }, Some(s"""
    WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings),
    n AS (SELECT vec_id,
            list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)/nrm) AS vn
          FROM e),
    bf_scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS id,
             round(${duckCosine("a", "q")}, 6) AS cosine
      FROM e a JOIN e q ON q.vec_id < 5 AND a.vec_id <> q.vec_id),
    truth AS (
      SELECT query_id, id FROM (
        SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, id) AS rnk
        FROM bf_scored) WHERE rnk <= 10),
    cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cell,
                     vn AS cv
              FROM (SELECT * FROM n ORDER BY vec_id LIMIT 16)),
    scores AS (SELECT n.vec_id, c.cell,
                 round(list_reduce(list_transform(range(1, 65),
                   i -> n.vn[i]*c.cv[i]), (x, y) -> x + y), 9) AS s
               FROM n CROSS JOIN cents c),
    assigned AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
        FROM scores) WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cell AS qcell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
        FROM scores WHERE vec_id < 5) WHERE rn <= 4),
    ivf_scored AS (
      SELECT p.query_id, a.vec_id AS id,
             round(list_reduce(list_transform(range(1, 65),
               i -> na.vn[i]*nq.vn[i]), (x, y) -> x + y), 6) AS cosine
      FROM assigned a
      JOIN probes p ON a.cell = p.qcell AND a.vec_id <> p.query_id
      JOIN n na ON na.vec_id = a.vec_id
      JOIN n nq ON nq.vec_id = p.query_id),
    pred AS (
      SELECT query_id, id FROM (
        SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, id) AS rnk
        FROM ivf_scored) WHERE rnk <= 10),
    hits AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM pred JOIN truth USING (query_id, id) GROUP BY 1),
    base AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
      FROM truth GROUP BY 1)
    SELECT base.query_id, n_truth,
      CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
      round(CAST(coalesce(n_hit, 0) AS DOUBLE)/CAST(n_truth AS DOUBLE), 6) AS recall_at_k
    FROM base LEFT JOIN hits USING (query_id)
    ORDER BY query_id
  """))

  /** IVF with a spherical-k-means-trained coarse quantizer
    * (Similarity.ivfTopKTrained) — the production FAISS-style ANN
    * shape. FULL ORACLE: KMeansLite's training is deterministic
    * (lowest-id init, round-9 means, lowest-cluster ties), so DuckDB
    * replays train → assign → probe → rank term-for-term
    * (DuckVectorSql.annIvfTrainedSql); VectorSpec separately pins
    * recall vs brute force. */
  private val qAnnIvfTrained = BoundQuery("q_ann_ivf_trained", (s, d) => {
    val e = Tables.embeddings(s, d)
    Similarity.ivfTopKTrained(
      e, col("vec_id"), col("embedding"),
      e.where(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 10)
      .orderBy("query_id", "rnk")
  }, Some(DuckVectorSql.annIvfTrainedSql(
    dim = 64, nCells = 16, nProbe = 4, iters = 3, k = 10)))

  /** Product-quantization ANN (ml.ProductQuantizer): 64-dim floats
    * compressed to 8 codebook codes, ranked by ADC lookup distance.
    * The 64x-compressed path is what still fits in memory at 100 TB
    * of embeddings. FULL ORACLE: all 8 per-subspace codebooks are
    * deterministic KMeansLite runs, so DuckDB replays
    * train → encode → ADC → rank (DuckVectorSql.pqTopkSql);
    * VectorSpec separately pins recall vs exact L2 top-k. */
  private val qPqTopk = BoundQuery("q_pq_topk", (s, d) => {
    import graft.ml.ProductQuantizer
    val e = Tables.embeddings(s, d)
    val cb = ProductQuantizer.train(e, col("vec_id"), col("embedding"),
      m = 8, k = 16, iters = 3)
    val enc = ProductQuantizer.encode(e, col("vec_id"), col("embedding"), cb)
    // queries are a serving-side handful, collected by design
    val qs = e.where(col("vec_id") < 5)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    ProductQuantizer.adcTopK(enc, qs, cb, kTop = 10)
      .orderBy("query_id", "rnk")
  }, Some(DuckVectorSql.pqTopkSql(dim = 64, m = 8, kCodes = 16, iters = 3, k = 10)))

  /** IVF+PQ composed ANN (Similarity.ivfPqTopK, the FAISS-IVFPQ
    * shape): trained coarse cells bound the candidate set, PQ codes
    * bound per-candidate memory — the configuration that serves ANN
    * when neither the collection nor its raw vectors fit. FULL
    * ORACLE: both stages are deterministic KMeansLite pipelines and
    * the driver-side probe ranking uses rounded distances with cell
    * tie-breaks, so DuckDB replays the whole composition
    * (DuckVectorSql.ivfPqSql); VectorSpec separately pins recall
    * against the exact brute-force top-k. */
  private val qIvfPq = BoundQuery("q_ivf_pq", (s, d) => {
    Similarity.ivfPqTopK(Tables.embeddings(s, d),
      col("vec_id"), col("embedding"),
      queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10,
      nCells = 16, nProbe = 6, m = 8, kCodes = 16, iters = 3)
      .orderBy("query_id", "rnk")
  }, Some(DuckVectorSql.ivfPqSql(dim = 64, nCells = 16, nProbe = 6,
    m = 8, kCodes = 16, iters = 3, k = 10)))

  /** PCA energy spectrum — top-5 scatter eigenvalues + variance-
    * explained shares via ml.ScatterPower's integer deflated power
    * iteration. FULL ORACLE: the recurrence is exact integer
    * arithmetic end-to-end (milli-quantized scatter, integer-div
    * normalized power steps, Rayleigh readouts against the original
    * scatter, integer projector deflation), so DuckDB replays all
    * five levels term-for-term; PcaSpec separately checks the
    * spectrum tracks breeze's exact eigSym (the float twin,
    * ml.Pca.covarianceSpectrum, stays the library API for callers
    * who want raw covariance units). */
  private val qPca = BoundQuery("q_pca", (s, d) => {
    graft.ml.ScatterPower.spectrum(Tables.embeddings(s, d),
      col("vec_id"), col("embedding"), dim = 64, k = 5, iters = 40)
  }, Some(graft.ml.ScatterPower.oracleSql(dim = 64, k = 5, iters = 40)))

  /** Deterministic Lloyd's k-means (reference mlqueries.py:14) —
    * cluster sizes after 5 iterations from lowest-id init. Full
    * oracle: init is the 8 lowest-id vectors, per-iteration means
    * round to 9 decimals (the cross-engine parity anchor — see
    * KMeansLite), distances fold sequentially on both engines, ties
    * break to the lowest cluster id; the SQL below unrolls the 5
    * assign/update iterations as generated CTEs. */
  private val qKmeans = BoundQuery("q_kmeans", (s, d) => {
    KMeansLite.fit(Tables.embeddings(s, d), col("vec_id"), col("embedding"),
        k = 8, iters = 5)
      .assignments
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .orderBy("cluster")
  }, Some {
    def assign(t: Int): String = s"""
      a$t AS (SELECT vec_id, v, cluster FROM (
        SELECT v0.vec_id, v0.v, c.cluster,
               row_number() OVER (PARTITION BY v0.vec_id ORDER BY
                 list_reduce(list_transform(range(1, 65),
                   i -> (v0.v[i]-c.cv[i])*(v0.v[i]-c.cv[i])), (x, y) -> x + y) ASC,
                 c.cluster ASC) AS rn
        FROM v v0 CROSS JOIN c$t c) WHERE rn = 1)"""
    def update(t: Int): String = s"""
      c${t + 1} AS (SELECT cluster, list(m ORDER BY pos) AS cv FROM (
        SELECT cluster, i AS pos, round(avg(v[i]), 9) AS m
        FROM a$t, range(1, 65) r$t(i) GROUP BY cluster, i) GROUP BY cluster)"""
    val iterations = (0 until 5).map(t => assign(t) + "," + update(t)).mkString(",")
    s"""
    WITH v AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cluster,
                  v AS cv
           FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
    $iterations,
    ${assign(5)}
    SELECT cluster, CAST(count(*) AS BIGINT) AS n
    FROM a5 GROUP BY cluster ORDER BY cluster
  """})

  /** Association rules via FPGrowth (reference mlqueries.py:148).
    * FULL ORACLE: FPGrowth's OUTPUT is purely determined by the
    * frequent-itemset definition — itemsets with count ≥
    * ceil(minSupport·N), rules X\{y} → y filtered on exact-ratio
    * confidence — so DuckDB replays it with a recursive-CTE Apriori:
    * transactions restricted to frequent single items (downward
    * closure makes the pruning lossless), subsets enumerated in
    * ascending item order, counted, floored, and expanded to
    * single-consequent rules. Only the enumeration STRATEGY differs
    * (FP-tree vs subset recursion); the result set is identical,
    * confidences/supports are the same long-ratio divisions rounded
    * at 6 on both engines. */
  private val qAssociationRules = BoundQuery("q_association_rules", (s, d) => {
    AssociationRules.fpGrowthRules(
      Tables.documents(s, d).select(slice(tokens(col("text")), 1, 8).as("items")),
      col("items"), minSupport = 0.03, minConfidence = 0.2)
      .select(
        array_join(array_sort(col("antecedent")), ",").as("antecedent"),
        array_join(array_sort(col("consequent")), ",").as("consequent"),
        round(col("confidence"), 6).as("confidence"),
        round(col("support"), 6).as("support"))
      .orderBy("antecedent", "consequent")
  }, Some("""
    WITH RECURSIVE txn AS (
      SELECT doc_id,
        list_distinct((list_filter(string_split(text,' '), x -> x <> ''))[1:8]) AS items
      FROM documents),
    tx AS (SELECT doc_id, items FROM txn WHERE len(items) > 0),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tx),
    mc AS (SELECT CAST(ceil(0.03 * n) AS BIGINT) AS mc FROM n),
    ex AS (SELECT doc_id, unnest(items) AS item FROM tx),
    f1 AS (SELECT item FROM ex GROUP BY item
           HAVING count(*) >= (SELECT mc FROM mc)),
    exf AS (SELECT e.doc_id, e.item FROM ex e JOIN f1 USING (item)),
    sub AS (
      SELECT doc_id, [item] AS iset, item AS mx FROM exf
      UNION ALL
      SELECT s.doc_id, list_append(s.iset, e.item), e.item
      FROM sub s JOIN exf e ON e.doc_id = s.doc_id AND e.item > s.mx),
    freq AS (
      SELECT iset, CAST(count(*) AS BIGINT) AS f FROM sub GROUP BY iset
      HAVING count(*) >= (SELECT mc FROM mc)),
    cand AS (
      SELECT f.iset, f.f, unnest(f.iset) AS cons FROM freq f
      WHERE len(f.iset) >= 2),
    withante AS (
      SELECT c.f, c.cons, list_filter(c.iset, x -> x <> c.cons) AS ante
      FROM cand c),
    joined AS (
      SELECT w.ante, w.cons, w.f AS fu, fa.f AS fa
      FROM withante w JOIN freq fa ON fa.iset = w.ante)
    SELECT array_to_string(ante, ',') AS antecedent, cons AS consequent,
      round(CAST(fu AS DOUBLE)/CAST(fa AS DOUBLE), 6) AS confidence,
      round(CAST(fu AS DOUBLE)/CAST(n.n AS DOUBLE), 6) AS support
    FROM joined, n
    WHERE CAST(fu AS DOUBLE)/CAST(fa AS DOUBLE) >= 0.2
    ORDER BY antecedent, consequent
  """))

  /** Size-2 association rules with exact-count support/confidence —
    * the oracle-checked relational core of rule mining. */
  private val qFrequentPairs = BoundQuery("q_frequent_pairs", (s, d) => {
    AssociationRules.frequentPairs(
      Tables.documents(s, d), col("doc_id"), slice(tokens(col("text")), 1, 8),
      minSupport = 0.03, minConfidence = 0.2)
      .orderBy("antecedent", "consequent")
  }, Some("""
    WITH tx AS (
      SELECT doc_id,
        list_distinct((list_filter(string_split(text,' '), x -> x <> ''))[1:8]) AS items
      FROM documents),
    ex AS (SELECT doc_id, unnest(items) AS item FROM tx WHERE len(items) > 0),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tx WHERE len(items) > 0),
    singles AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
    pairs AS (
      SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS BIGINT) AS nab
      FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND a.item < b.item
      GROUP BY 1, 2),
    joined AS (
      SELECT ia, ib, nab, sa.n AS na, sb.n AS nb, t
      FROM pairs JOIN singles sa ON ia = sa.item
                 JOIN singles sb ON ib = sb.item
                 CROSS JOIN tot),
    rules AS (
      SELECT ia AS antecedent, ib AS consequent,
             CAST(nab AS DOUBLE)/CAST(t AS DOUBLE) AS support,
             CAST(nab AS DOUBLE)/CAST(na AS DOUBLE) AS confidence
      FROM joined
      UNION ALL
      SELECT ib, ia,
             CAST(nab AS DOUBLE)/CAST(t AS DOUBLE),
             CAST(nab AS DOUBLE)/CAST(nb AS DOUBLE)
      FROM joined)
    SELECT * FROM rules WHERE support >= 0.03 AND confidence >= 0.2
    ORDER BY antecedent, consequent
  """))

  /** Embedding-space label quality: per-label centroid margins.
    * Each vector's cosine to its OWN label centroid minus its best
    * cosine to any OTHER centroid — negative margin = the vector sits
    * closer to a foreign class (the nearest-centroid confusion
    * signal; cheap silhouette stand-in that needs centroids, never
    * pairs). Exactness: centroids come from per-dim micro-unit long
    * sums (order-invariant), cosines from the sequential DotProduct
    * fold both engines replay, margins micro-rounded before the final
    * exact-long aggregation. Scale shape: one posexplode groupBy for
    * centroids (rows = labels×dims), one broadcast of the tiny
    * centroid table, max-per-vector partial agg — never pairwise. */
  private val qLabelMargins = BoundQuery("q_label_margins", (s, d) => {
    import graft.expressions.DotProduct.dotProduct
    import graft.functions.VectorFunctions.toDouble
    val e = Tables.embeddings(s, d)
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xu", round(col("x").cast("double") * 1e6, 0).cast("long"))
      .groupBy("label", "dim")
      .agg(sum(col("xu")).as("su"), count(lit(1)).as("n"))
      .select(col("label"),  col("dim"),
        (col("su").cast("double") / col("n").cast("double") / 1e6).as("c"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(col("label").as("clabel"),
        transform(col("dc"), x => x("c")).as("cv"))
    val scored = e
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("vd"))
      .crossJoin(broadcast(cent))
      .withColumn("cos",
        dotProduct(s, col("vd"), col("cv")) /
          (sqrt(dotProduct(s, col("vd"), col("vd"))) *
           sqrt(dotProduct(s, col("cv"), col("cv")))))
    val own = scored.where(col("label") === col("clabel"))
      .select(col("vec_id"), col("label"), col("cos").as("own"))
    val oth = scored.where(col("label") =!= col("clabel"))
      .groupBy("vec_id").agg(max(col("cos")).as("best_other"))
    own.join(oth, "vec_id")
      .withColumn("margin_u",
        round((col("own") - col("best_other")) * 1e6, 0).cast("long"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("margin_u") <= 0, 1L).otherwise(0L)).as("n_confused"),
        sum(col("margin_u")).as("mu"))
      .select(col("label"), col("n_vecs"), col("n_confused"),
        round(col("mu").cast("double") / col("n_vecs").cast("double") / 1e6, 6)
          .as("avg_margin"))
      .orderBy("label")
  }, Some("""
    WITH exu AS (
      SELECT label, unnest(range(1, 65)) AS dim, embedding
      FROM embeddings),
    cent AS (
      SELECT label, dim,
        CAST(sum(CAST(round(CAST(embedding[dim] AS DOUBLE)*1e6, 0) AS BIGINT)) AS DOUBLE)
          / CAST(count(*) AS DOUBLE) / 1e6 AS c
      FROM exu GROUP BY 1, 2),
    centarr AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv FROM cent GROUP BY 1),
    v AS (SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
          FROM embeddings),
    scored AS (
      SELECT vec_id, label, clabel,
        list_reduce(list_transform(range(1, 65), i -> vd[i]*cv[i]), (x, y) -> x + y)
        / (sqrt(list_reduce(list_transform(range(1, 65), i -> vd[i]*vd[i]), (x, y) -> x + y))
           * sqrt(list_reduce(list_transform(range(1, 65), i -> cv[i]*cv[i]), (x, y) -> x + y))) AS cos
      FROM v CROSS JOIN centarr),
    own AS (SELECT vec_id, label, cos AS own FROM scored WHERE label = clabel),
    oth AS (SELECT vec_id, max(cos) AS best_other FROM scored WHERE label <> clabel GROUP BY 1),
    m AS (SELECT label, CAST(round((own - best_other)*1e6, 0) AS BIGINT) AS margin_u
          FROM own JOIN oth USING (vec_id))
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      CAST(sum(CASE WHEN margin_u <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_confused,
      round(CAST(sum(margin_u) AS DOUBLE)/CAST(count(*) AS DOUBLE)/1e6, 6) AS avg_margin
    FROM m GROUP BY label ORDER BY label
  """))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then prune
    * near-duplicates WITHIN each cluster only — the clustering turns
    * the O(n²) all-pairs compare into K independent in-cluster
    * compares of size ~n/K.
    *
    * Deterministic variant so the DuckDB oracle can replay every
    * step: centroids are the first K=8 vectors by id (a fixed,
    * engine-independent choice standing in for the paper's k-means —
    * q_kmeans covers the trained-centroid path), assignment is argmax
    * cosine with (rounded-cosine desc, centroid id) tie-break, and a
    * vector is pruned when SOME lower-id vector in its cluster has
    * cosine ≥ τ with it (a one-pass EXISTS rule; the connected-
    * component keep-best variant of the same decision is
    * q_dedup_clusters/q_dedup_keep_best on the minhash side).
    *
    * Shape at 100 TB: assignment is a broadcast of K centroids
    * against one scan (O(nK) dots, no shuffle); the prune stage
    * shuffles once on cluster id and compares within clusters only.
    * Cluster sizes are the knob: K grows with n (paper uses √n) so
    * per-cluster work stays pinned; a skew guard would cap degenerate
    * clusters the way lshCosinePairsIH's maxBucket does. */
  private val qSemDedup = BoundQuery("q_semdedup", (s, d) => {
    val K = 8
    val tau = 0.4
    val e = Tables.embeddings(s, d)
    val n = graft.util.CacheScope.persist(
      e.select(col("vec_id"), toDouble(col("embedding")).as("vd"))
        .withColumn("nrm", sqrt(graft.expressions.DotProduct.dotProduct(s, col("vd"), col("vd"))))
        .select(col("vec_id"), transform(col("vd"), x => x / col("nrm")).as("vn")))
    val cents = n.where(col("vec_id") < K)
      .select(col("vec_id").as("cid"), col("vn").as("cn"))
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        round(graft.expressions.DotProduct.dotProduct(s, col("vn"), col("cn")), 6).as("cs"))
    val asg = TopKPerGroup.topK(scored, Seq(col("vec_id")),
        Seq(desc("cs"), col("cid")), 1)
      .select(col("vec_id"), col("cid").as("cluster"))
    val members = asg.join(n, "vec_id")
    val pruned = members.as("a").join(members.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .where(round(graft.expressions.DotProduct.dotProduct(
        s, col("a.vn"), col("b.vn")), 6) >= tau)
      .select(col("a.cluster").as("cluster"), col("b.vec_id").as("dup"))
      .distinct()
    asg.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
      .join(pruned.groupBy("cluster").agg(count(lit(1)).as("n_pruned")),
        Seq("cluster"), "left")
      .select(col("cluster"), col("n_vecs"),
        coalesce(col("n_pruned"), lit(0L)).as("n_pruned"),
        (col("n_vecs") - coalesce(col("n_pruned"), lit(0L))).as("n_kept"))
      .orderBy("cluster")
  }, Some(s"""
    WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm
               FROM embeddings),
    c AS (SELECT vec_id AS cid, embedding, nrm FROM e WHERE vec_id < 8),
    scored AS (
      SELECT a.vec_id, c.cid, round(${duckCosine("a", "c")}, 6) AS cs
      FROM e a CROSS JOIN c),
    asg AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    m AS (SELECT asg.vec_id, asg.cluster, e.embedding, e.nrm
          FROM asg JOIN e USING (vec_id)),
    pruned AS (
      SELECT DISTINCT a.cluster, b.vec_id AS dup
      FROM m a JOIN m b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE round(${duckCosine("a", "b")}, 6) >= 0.4),
    sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs
              FROM asg GROUP BY 1),
    prunes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_pruned
               FROM pruned GROUP BY 1)
    SELECT sizes.cluster, n_vecs,
           COALESCE(n_pruned, 0) AS n_pruned,
           n_vecs - COALESCE(n_pruned, 0) AS n_kept
    FROM sizes LEFT JOIN prunes USING (cluster)
    ORDER BY cluster
  """))

  /** Matryoshka-style truncation eval (Kusupati et al. 2022): how much
    * retrieval quality survives keeping only the first 8/16/32 of the
    * 64 embedding dims? For each prefix width, the exact top-10 by
    * prefix-normalized cosine is compared against the full-dim top-10
    * truth, per query — the audit behind every "shrink the index,
    * probe cheap, rerank exact" deployment. Both rankings and the
    * truth are engine-replicable (same round-to-6 + id-tiebreak
    * contract as q_ann_topk, which carries a full oracle), so the
    * recall numbers are engine-proven, not self-graded.
    *
    * Scale shape: three prefix-width passes of the broadcast-queries ×
    * collection linear scan (the q_ann_topk shape — the handful of
    * query rows broadcast, never the collection), group-limited top-k,
    * then a keyed join against truth. Cost is 3 linear scans of
    * PREFIX dims (8+16+32 < 64 — cheaper than one full-dim pass). */
  private val qMrlEval = BoundQuery("q_mrl_eval", (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.where(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 10)
      .select(col("query_id"), col("id"), lit(1L).as("hit"))
    val preds = Seq(8, 16, 32).map { m =>
      Similarity.bruteForceTopK(
        e.select(col("vec_id"), slice(col("embedding"), 1, m).as("emb")),
        col("vec_id"), col("emb"),
        q.select(col("vec_id"), slice(col("embedding"), 1, m).as("emb")),
        col("vec_id"), col("emb"), k = 10)
        .select(lit(m.toLong).as("m"), col("query_id"), col("id"))
    }.reduce(_ unionByName _)
    preds.join(truth, Seq("query_id", "id"), "left")
      .groupBy("m", "query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .withColumn("recall_ppm", col("hits") * 100000L)
      .orderBy("m", "query_id")
  }, Some {
    def top(m: Int, tag: String) = s"""
    e$tag AS (SELECT vec_id, embedding,
      sqrt(list_reduce(list_transform(embedding[1:$m],
        x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (x, y) -> x + y)) AS nrm
      FROM embeddings),
    s$tag AS (
      SELECT q.vec_id AS query_id, a.vec_id AS id,
        round(list_reduce(list_transform(range(1, ${m + 1}),
          i -> CAST(a.embedding[i] AS DOUBLE)/a.nrm
               * (CAST(q.embedding[i] AS DOUBLE)/q.nrm)), (x, y) -> x + y),
          6) AS cosine
      FROM e$tag a JOIN e$tag q ON q.vec_id < 5 AND a.vec_id <> q.vec_id),
    r$tag AS (
      SELECT query_id, id FROM (
        SELECT query_id, id, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, id) AS rnk FROM s$tag)
      WHERE rnk <= 10)"""
    s"""
    WITH ${top(64, "t")}, ${top(8, "a8")}, ${top(16, "a16")}, ${top(32, "a32")},
    pred AS (
      SELECT 8 AS m, query_id, id FROM ra8
      UNION ALL SELECT 16, query_id, id FROM ra16
      UNION ALL SELECT 32, query_id, id FROM ra32)
    SELECT CAST(m AS BIGINT) AS m, pred.query_id AS query_id,
      CAST(sum(CASE WHEN t.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      CAST(sum(CASE WHEN t.id IS NOT NULL THEN 1 ELSE 0 END) * 100000
        AS BIGINT) AS recall_ppm
    FROM pred LEFT JOIN rt t ON t.query_id = pred.query_id AND t.id = pred.id
    GROUP BY m, pred.query_id ORDER BY m, query_id
  """
  })

  /** Hubness of the exact k=5 cosine kNN graph (q_knn_graph's edges):
    * the in-degree histogram — how many vectors are pointed AT by n
    * others. In high dimensions in-degree skews: a few "hub" vectors
    * appear in everyone's top-k while antihubs appear in nobody's
    * (Radovanović et al. '10), which silently biases kNN classifiers,
    * dedup verdicts and retrieval — this query is the audit that says
    * whether that failure mode is present BEFORE an index ships.
    * Zero-in-degree antihubs are included via a left anti count, not
    * dropped.
    *
    * Scale shape: in-degree = one partial-agg shuffle over the kNN
    * edge list (n·k rows); the histogram is a second ≤max-degree-row
    * agg. The edge list itself comes from the brute-force builder at
    * oracle scale and from knnGraphLshIH at 100 TB (same schema — the
    * audit is index-agnostic). */
  private val qHubness = BoundQuery("q_hubness", (s, d) => {
    val e = Tables.embeddings(s, d)
    val edges = Similarity.bruteForceTopK(
      e, col("vec_id"), col("embedding"),
      e, col("vec_id"), col("embedding"), k = 5)
      .where(col("cosine") > 0)
    val indeg = edges.groupBy(col("id")).agg(count(lit(1)).as("in_deg"))
    val zero = e.join(indeg, e("vec_id") === indeg("id"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(0L).as("in_deg"), col("n_nodes"))
    indeg.groupBy("in_deg").agg(count(lit(1)).as("n_nodes"))
      .unionByName(zero)
      .where(col("n_nodes") > 0)
      .orderBy("in_deg")
  }, Some(s"""
    WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS id,
             round(${duckCosine("a", "q")}, 6) AS cosine
      FROM e a JOIN e q ON a.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id, id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, id) AS rnk
      FROM scored),
    edges AS (SELECT query_id, id FROM ranked WHERE rnk <= 5 AND cosine > 0),
    indeg AS (SELECT id, CAST(count(*) AS BIGINT) AS in_deg
              FROM edges GROUP BY id),
    hist AS (
      SELECT in_deg, CAST(count(*) AS BIGINT) AS n_nodes
      FROM indeg GROUP BY in_deg
      UNION ALL
      SELECT CAST(0 AS BIGINT) AS in_deg, CAST(count(*) AS BIGINT) AS n_nodes
      FROM e WHERE vec_id NOT IN (SELECT id FROM indeg))
    SELECT in_deg, n_nodes FROM hist WHERE n_nodes > 0 ORDER BY in_deg
  """))

  val all: Seq[BoundQuery] = Seq(
    qEmbeddingNeardup, qLshCosinePairs, qLshCosineArith, qAnnTopk, qKnnGraph, qKnnGraphLsh,
    qAnnIvf, qAnnIvfTrained,
    qPqTopk, qIvfPq, qPca, qKmeans, qAssociationRules, qFrequentPairs,
    qLabelMargins, qAnnEval, qSemDedup, qMrlEval, qHubness)
}
