package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Similarity

/** SURVEY §2.6 evaluation-metric wave: the three classic "how good is
  * the model/ranking?" primitives a training-data pipeline runs beside
  * its curation jobs — graded ranking quality (NDCG), probability
  * calibration (per-group Brier), and the one-rule decision stump that
  * every real classifier must beat to justify its cost.
  *
  * All three are engine-proven end-to-end: the only transcendental
  * (log2 in the NDCG discount) is frozen into shared integer literals
  * generated once and inlined in BOTH the Spark plan and the DuckDB
  * oracle, so no runtime float crosses an engine boundary.
  */
object EvalQueries {

  /** 10⁶/log2(1+r) for r = 1..10, HALF_UP — the NDCG@10 discount
    * table as exact micro-unit literals. Computed offline (python
    * Decimal) and pasted as constants; the oracle interpolates the
    * SAME array, so both engines share one frozen rounding. */
  private val disc: Seq[Long] = Seq(
    1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)
  private val discSqlList = disc.mkString("[", ", ", "]")
  private val discSparkArr = s"array(${disc.mkString("L, ")}L)"

  /** NDCG@10 of the exact-cosine neighbor ranking, graded against
    * label agreement (a neighbor is relevant iff it shares the query
    * vector's class label) — the retrieval-quality audit for the ANN
    * surface: q_ann_eval measures recall of the approximate index
    * against the exact ranking; this measures whether the exact
    * ranking itself surfaces the RIGHT items, position-weighted.
    *
    * DCG sums the discount literal at each relevant rank; IDCG slices
    * the same literal array to min(10, n_rel); the quotient is one
    * final integral division to ppm. Scale shape: the ranking is
    * Similarity.bruteForceTopK (5-query broadcast + WindowGroupLimit
    * top-k — the q_ann_topk plan); labels arrive by one keyed join;
    * everything after the top-k is 50 rows. */
  private val qNdcg = BoundQuery("q_ndcg", (s, d) => {
    val e = Tables.embeddings(s, d)
    val top = Similarity.bruteForceTopK(
      e, col("vec_id"), col("embedding"),
      e.where(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 10)
    val labels = e.select(col("vec_id").as("id"), col("label"))
    val qlab = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    val dcg = top
      .join(labels, "id").join(broadcast(qlab), "query_id")
      .groupBy("query_id")
      .agg(sum(when(col("label") === col("qlabel"),
        element_at(expr(discSparkArr), col("rnk").cast("int")))
        .otherwise(0L)).as("dcg_u"))
    val nrel = broadcast(qlab).join(labels,
        col("label") === col("qlabel") && col("id") =!= col("query_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    dcg.join(nrel, "query_id")
      .select(col("query_id"), col("n_rel"), col("dcg_u"),
        expr(s"aggregate(slice($discSparkArr, 1, " +
          "cast(least(10L, n_rel) as int)), 0L, (a, x) -> a + x)")
          .as("idcg_u"))
      .withColumn("ndcg_ppm", expr("(1000000 * dcg_u) div idcg_u"))
      .orderBy("query_id")
  }, Some(s"""
    WITH e AS (SELECT vec_id, label, embedding, ${VectorQueries.duckNorm} AS nrm
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS qlabel,
             a.vec_id AS id, a.label AS alabel,
             round(${VectorQueries.duckCosine("a", "q")}, 6) AS cosine
      FROM e a JOIN e q ON q.vec_id < 5 AND a.vec_id <> q.vec_id),
    ranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, id) AS BIGINT) AS rnk
      FROM scored),
    d AS (SELECT $discSqlList AS disc),
    dcg AS (
      SELECT query_id,
        CAST(sum(CASE WHEN alabel = qlabel THEN disc[CAST(rnk AS INT)]
                      ELSE 0 END) AS BIGINT) AS dcg_u
      FROM ranked, d WHERE rnk <= 10 GROUP BY query_id),
    nr AS (
      SELECT q.vec_id AS query_id, CAST(count(*) AS BIGINT) AS n_rel
      FROM e q JOIN e a
        ON q.vec_id < 5 AND a.vec_id <> q.vec_id AND a.label = q.label
      GROUP BY 1),
    i AS (
      SELECT query_id, n_rel,
        CAST(list_sum(disc[1:CAST(least(10, n_rel) AS INT)]) AS BIGINT)
          AS idcg_u
      FROM nr, d)
    SELECT query_id, n_rel, dcg_u, idcg_u,
      (1000000 * dcg_u) // idcg_u AS ndcg_ppm
    FROM dcg JOIN i USING (query_id) ORDER BY query_id
  """))

  /** Calibration audit (reliability-diagram rows + per-group Brier):
    * train a per-priority completion rate on the md5-hash train half
    * (the q_train_split determinism rule — no RNG, partition-invariant)
    * and grade it on the held-out half. Σ(p−y)² expands to
    * n·p² − 2·10⁶·p·f + f·10¹² over exact longs (y ∈ {0,10⁶} and
    * y² = y·10⁶·… — the binary-outcome identity), so the Brier score
    * needs no per-row float: one scan, one groupBy, k=5 output rows.
    *
    * p and o are ppm by truncating division — both engines' `div`
    * truncates toward zero, verified including negative operands. */
  private val qCalibration = BoundQuery("q_calibration", (s, d) => {
    val h = substring(md5(col("o_orderkey").cast("string")), 1, 2)
    val g = Tables.orders(s, d)
      .withColumn("is_train", (h < "80").cast("long"))
      .withColumn("is_f", (col("o_orderstatus") === "F").cast("long"))
      .groupBy("o_orderpriority")
      .agg(sum(col("is_train")).as("n_train"),
        sum(col("is_train") * col("is_f")).as("f_train"),
        sum(lit(1L) - col("is_train")).as("n_test"),
        sum((lit(1L) - col("is_train")) * col("is_f")).as("f_test"))
    g.select(col("o_orderpriority"), col("n_train"), col("n_test"),
        col("f_test"),
        expr("(1000000 * f_train) div n_train").as("p_f_ppm"),
        expr("(1000000 * f_test) div n_test").as("o_f_ppm"))
      .withColumn("brier_ppm", expr(
        """(n_test * p_f_ppm * p_f_ppm
            - 2000000 * p_f_ppm * f_test
            + f_test * 1000000000000)
           div (n_test * 1000000)"""))
      .select("o_orderpriority", "n_train", "n_test", "p_f_ppm",
        "o_f_ppm", "brier_ppm")
      .orderBy("o_orderpriority")
  }, Some("""
    WITH g AS (
      SELECT o_orderpriority,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
                  AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_train,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '80'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '80'
                  AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_test
      FROM orders GROUP BY 1),
    p AS (
      SELECT o_orderpriority, n_train, n_test,
        (1000000 * f_train) // n_train AS p_f_ppm,
        (1000000 * f_test) // n_test AS o_f_ppm,
        f_test
      FROM g)
    SELECT o_orderpriority, n_train, n_test, p_f_ppm, o_f_ppm,
      (n_test * p_f_ppm * p_f_ppm - 2000000 * p_f_ppm * f_test
        + f_test * 1000000000000) // (n_test * 1000000) AS brier_ppm
    FROM p ORDER BY o_orderpriority
  """))

  /** EXACT ROC AUC of the q_calibration model via the Mann–Whitney
    * identity AUC = (R⁺ − n₁(n₁+1)/2) / (n₁n₀): train per-priority
    * completion rates on the md5 train half, score the held-out half,
    * and rank-sum the scores — ties handled by the doubled-rank trick
    * (2·avgrank integer, the q_spearman convention), so the whole
    * statistic is exact longs and ONE final integral division to ppm.
    * No trapezoid, no float: rank-sum AUC IS the full ROC integral.
    *
    * Scale shape: one scan aggregates to the priority grain (k=5);
    * scoring joins the broadcast 5-row model; the rank accumulation
    * runs over DISTINCT SCORES (≤ k rows) under the bounded-domain
    * window contract. Row volume never reaches a window. */
  private val qAuc = BoundQuery("q_auc", (s, d) => {
    val h = substring(md5(col("o_orderkey").cast("string")), 1, 2)
    val g = Tables.orders(s, d)
      .withColumn("is_train", (h < "80").cast("long"))
      .withColumn("is_f", (col("o_orderstatus") === "F").cast("long"))
      .groupBy("o_orderpriority")
      .agg(sum(col("is_train")).as("n_train"),
        sum(col("is_train") * col("is_f")).as("f_train"),
        sum(lit(1L) - col("is_train")).as("n_test"),
        sum((lit(1L) - col("is_train")) * col("is_f")).as("f_test"))
      .withColumn("score", expr("(1000000 * f_train) div n_train"))
    val byScore = g.groupBy("score")
      .agg(sum(col("n_test")).as("m"), sum(col("f_test")).as("f"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byScore
      .withColumn("cum", sum(col("m")).over(w))
      .withColumn("r2", lit(2L) * (col("cum") - col("m")) + col("m") + 1L)
    ranked.agg(sum(col("f")).as("n_pos"),
        sum(col("m") - col("f")).as("n_neg"),
        sum(col("f") * col("r2")).as("rsum2"))
      .select(col("n_pos"), col("n_neg"),
        expr("""(1000000 * (rsum2 - n_pos * (n_pos + 1)))
                div (2 * n_pos * n_neg)""").as("auc_ppm"))
  }, Some("""
    WITH g AS (
      SELECT o_orderpriority,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
                  AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_train,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '80'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '80'
                  AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_test
      FROM orders GROUP BY 1),
    sc AS (
      SELECT (1000000 * f_train) // n_train AS score,
        CAST(sum(n_test) AS BIGINT) AS m, CAST(sum(f_test) AS BIGINT) AS f
      FROM g GROUP BY 1),
    r AS (
      SELECT score, m, f,
        CAST(sum(m) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS BIGINT) AS cum
      FROM sc),
    a AS (
      SELECT CAST(sum(f) AS BIGINT) AS n_pos,
        CAST(sum(m - f) AS BIGINT) AS n_neg,
        CAST(sum(f * (2 * (cum - m) + m + 1)) AS BIGINT) AS rsum2
      FROM r)
    SELECT n_pos, n_neg,
      (1000000 * (rsum2 - n_pos * (n_pos + 1))) // (2 * n_pos * n_neg) AS auc_ppm
    FROM a
  """))

  /** One-rule decision stump: the best single threshold on l_quantity
    * for predicting a returned line (l_returnflag = 'R'), by exact
    * misclassification count over both orientations — the canonical
    * "is your classifier better than one if-statement?" baseline
    * (Holte '93) for the in-engine NB/CV family.
    *
    * Scale shape: one map-side-combined groupBy collapses any number
    * of rows to the FEATURE DOMAIN (50 distinct quantities); the
    * cumulative scan runs over those 50 rows under a documented
    * bounded-domain contract (the q_decile quarantine rule), and the
    * argmin collapses to a TakeOrdered(1). Row volume never reaches
    * the window. */
  private val qDecisionStump = BoundQuery("q_decision_stump", (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_quantity").cast("long").as("qty"),
        (col("l_returnflag") === "R").cast("long").as("pos"))
    val dist = li.groupBy("qty")
      .agg(count(lit(1)).as("n_t"), sum(col("pos")).as("pos_t"))
    val tot = dist.agg(sum(col("n_t")).as("n"), sum(col("pos_t")).as("p"))
    val w = Window.orderBy("qty")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dist
      .withColumn("cn", sum(col("n_t")).over(w))
      .withColumn("cp", sum(col("pos_t")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("err_le", col("cn") - col("cp") + col("p") - col("cp"))
      .withColumn("err_gt",
        col("cp") + col("n") - col("cn") - (col("p") - col("cp")))
      .withColumn("orientation",
        when(col("err_le") <= col("err_gt"), "pred_R_below").otherwise("pred_R_above"))
      .withColumn("err", least(col("err_le"), col("err_gt")))
      .orderBy(col("err"), col("qty"))
      .limit(1)
      .select(col("qty").as("split_qty"), col("orientation"),
        col("err").as("n_misclass"), col("n").as("n_rows"),
        expr("(1000000 * (n - err)) div n").as("acc_ppm"))
  }, Some("""
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem),
    dist AS (
      SELECT qty, CAST(count(*) AS BIGINT) AS n_t,
        CAST(sum(pos) AS BIGINT) AS pos_t
      FROM li GROUP BY 1),
    tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n,
                   CAST(sum(pos_t) AS BIGINT) AS p FROM dist),
    cum AS (
      SELECT qty,
        CAST(sum(n_t) OVER (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS BIGINT) AS cn,
        CAST(sum(pos_t) OVER (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS BIGINT) AS cp
      FROM dist),
    e AS (
      SELECT qty, n, p,
        cn - cp + p - cp AS err_le,
        cp + n - cn - (p - cp) AS err_gt
      FROM cum, tot)
    SELECT qty AS split_qty,
      CASE WHEN err_le <= err_gt THEN 'pred_R_below'
           ELSE 'pred_R_above' END AS orientation,
      least(err_le, err_gt) AS n_misclass, n AS n_rows,
      (1000000 * (n - least(err_le, err_gt))) // n AS acc_ppm
    FROM e ORDER BY least(err_le, err_gt), qty LIMIT 1
  """))

  /** Mean Reciprocal Rank companion to q_ndcg: the rank of the FIRST
    * label-matching neighbor in the exact-cosine ranking, per query,
    * with rr = 10⁶ div rank. NDCG grades the whole top-10; MRR asks
    * the navigational question — how deep until the first hit?
    *
    * First-relevant rank without ranking everything: count the
    * non-relevant items that sort strictly before the BEST relevant
    * item under the (cosine DESC, id) total order — a max + a
    * conditional count, no global window. Scoring reuses the
    * q_ann_topk broadcast shape (5 query vectors × linear scan). */
  private val qMrr = BoundQuery("q_mrr", (s, d) => {
    val e = Tables.embeddings(s, d)
    val full = Similarity.bruteForceTopK(
      e, col("vec_id"), col("embedding"),
      e.where(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = Int.MaxValue)
    val labels = e.select(col("vec_id").as("id"), col("label"))
    val qlab = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    full.join(labels, "id").join(broadcast(qlab), "query_id")
      .groupBy("query_id")
      .agg(min(when(col("label") === col("qlabel"), col("rnk").cast("long")))
        .as("first_rel_rank"))
      .select(col("query_id"), col("first_rel_rank"),
        expr("1000000 div first_rel_rank").as("rr_u"))
      .orderBy("query_id")
  }, Some(s"""
    WITH e AS (SELECT vec_id, label, embedding, ${VectorQueries.duckNorm} AS nrm
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS qlabel,
             a.vec_id AS id, a.label,
             round(${VectorQueries.duckCosine("a", "q")}, 6) AS cosine
      FROM e a JOIN e q ON q.vec_id < 5 AND a.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id, qlabel, label,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, id) AS BIGINT) AS rnk
      FROM scored)
    SELECT query_id,
      CAST(min(CASE WHEN label = qlabel THEN rnk END) AS BIGINT)
        AS first_rel_rank,
      1000000 // CAST(min(CASE WHEN label = qlabel THEN rnk END) AS BIGINT)
        AS rr_u
    FROM ranked GROUP BY query_id ORDER BY query_id
  """))

  /** kNN classifier evaluation: hold out the first 50 vectors,
    * predict each one's label by the majority among its 10 nearest
    * (exact cosine) neighbors in the remaining collection, and emit
    * the confusion matrix — the non-parametric baseline beside
    * q_naive_bayes' parametric one, sharing its confusion-matrix
    * output contract.
    *
    * Majority vote resolves ties deterministically by (count DESC,
    * label ASC) via one struct-max per query — no window over the
    * vote table. Ranking is the q_ann_topk broadcast + top-k plan
    * (50 query rows broadcast, one linear scan). */
  private val qKnnClassify = BoundQuery("q_knn_classify", (s, d) => {
    val e = Tables.embeddings(s, d)
    val top = Similarity.bruteForceTopK(
      e.where(col("vec_id") >= 50), col("vec_id"), col("embedding"),
      e.where(col("vec_id") < 50), col("vec_id"), col("embedding"), k = 10)
    val labels = e.select(col("vec_id").as("id"), col("label"))
    val votes = top.join(labels, "id")
      .groupBy(col("query_id"), col("label")).agg(count(lit(1)).as("v"))
    val pred = votes.groupBy("query_id")
      .agg(max(struct(col("v"), (-col("label")).cast("long").as("nl"))).as("b"))
      .select(col("query_id"), (-col("b.nl")).cast("long").as("pred"))
    val truth = e.where(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("label").cast("long").as("truth"))
    pred.join(truth, "query_id")
      .groupBy("truth", "pred").agg(count(lit(1)).as("n"))
      .orderBy("truth", "pred")
  }, Some(s"""
    WITH e AS (SELECT vec_id, label, embedding, ${VectorQueries.duckNorm} AS nrm
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS id, a.label,
             round(${VectorQueries.duckCosine("a", "q")}, 6) AS cosine
      FROM e a JOIN e q ON q.vec_id < 50 AND a.vec_id >= 50),
    ranked AS (
      SELECT query_id, id, label,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, id) AS rnk
      FROM scored),
    votes AS (
      SELECT query_id, label, CAST(count(*) AS BIGINT) AS v
      FROM ranked WHERE rnk <= 10 GROUP BY 1, 2),
    pred AS (
      SELECT query_id,
        -CAST((max(struct_pack(v := v, nl := -CAST(label AS BIGINT)))).nl
              AS BIGINT) AS pred
      FROM votes GROUP BY 1)
    SELECT CAST(q.label AS BIGINT) AS truth, p.pred,
      CAST(count(*) AS BIGINT) AS n
    FROM pred p JOIN e q ON q.vec_id = p.query_id
    GROUP BY 1, 2 ORDER BY 1, 2
  """))

  /** Split-conformal prediction interval (Vovk/Papadopoulos; the
    * distribution-free uncertainty wrapper production ML actually
    * ships): three md5 thirds — train fits a per-priority mean,
    * calibration takes the ceil(0.9·(n+1))-th smallest absolute
    * residual as the interval half-width q̂ (the finite-sample-valid
    * conformal rank, NOT the plain 90% quantile), test measures
    * empirical coverage of pred ± q̂.
    *
    * The conformal order statistic is PICKED by the two-phase
    * globalRowNumber rank (the q_global_median discipline — no
    * single-partition window over residuals); residuals and the
    * coverage compare stay in exact micro-USD longs; coverage is one
    * integral division to ppm and should sit at ≈ 900000. */
  private val qConformal = BoundQuery("q_conformal", (s, d) => {
    val h = substring(md5(col("o_orderkey").cast("string")), 1, 2)
    val base = Tables.orders(s, d)
      .withColumn("fold",
        when(h < "55", "train").when(h < "aa", "cal").otherwise("test"))
      .withColumn("usd_u", round(col("o_totalprice"), 0).cast("long") * 1000000L)
    val model = base.where(col("fold") === "train")
      .groupBy("o_orderpriority")
      .agg(expr("sum(usd_u div 1000000)").as("su"), count(lit(1)).as("nt"))
      .select(col("o_orderpriority"), expr("(su * 1000000) div nt").as("pred_u"))
    val scored = base.join(broadcast(model), "o_orderpriority")
      .withColumn("r", abs(col("usd_u") - col("pred_u")))
    val cal = scored.where(col("fold") === "cal").select(col("r"), col("o_orderkey"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val qhat = graft.operators.Ranking
      .globalRowNumber(cal, "rn0", col("r"), col("o_orderkey"))
      .crossJoin(broadcast(nCal))
      .where(col("rn0") + 1 === expr("(9 * (n_cal + 1) + 9) div 10"))
      .select(col("r").as("qhat_u"), col("n_cal"))
    scored.where(col("fold") === "test")
      .crossJoin(broadcast(qhat))
      .agg(max(col("n_cal")).as("n_cal"), max(col("qhat_u")).as("qhat_u"),
        count(lit(1)).as("n_test"),
        sum((col("r") <= col("qhat_u")).cast("long")).as("covered"))
      .select(col("n_cal"), col("n_test"), col("qhat_u"),
        expr("(1000000 * covered) div n_test").as("cov_ppm"))
  }, Some("""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
        CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '55' THEN 'train'
             WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < 'aa' THEN 'cal'
             ELSE 'test' END AS fold,
        CAST(round(o_totalprice, 0) AS BIGINT) * 1000000 AS usd_u
      FROM orders),
    model AS (
      SELECT o_orderpriority,
        (CAST(sum(usd_u // 1000000) AS BIGINT) * 1000000)
          // CAST(count(*) AS BIGINT) AS pred_u
      FROM base WHERE fold = 'train' GROUP BY 1),
    scored AS (
      SELECT b.o_orderkey, b.fold, abs(b.usd_u - m.pred_u) AS r
      FROM base b JOIN model m USING (o_orderpriority)),
    cal AS (
      SELECT r, CAST(row_number() OVER (ORDER BY r, o_orderkey) AS BIGINT) AS rn
      FROM scored WHERE fold = 'cal'),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
    qhat AS (
      SELECT r AS qhat_u, n_cal FROM cal, nc
      WHERE rn = (9 * (n_cal + 1) + 9) // 10)
    SELECT max(q.n_cal) AS n_cal, CAST(count(*) AS BIGINT) AS n_test,
      max(q.qhat_u) AS qhat_u,
      (1000000 * CAST(sum(CASE WHEN s.r <= q.qhat_u THEN 1 ELSE 0 END) AS BIGINT))
        // CAST(count(*) AS BIGINT) AS cov_ppm
    FROM scored s CROSS JOIN qhat q WHERE s.fold = 'test'
  """))

  /** Per-class precision/recall/F1 + macro-F1 over the Naive Bayes
    * confusion matrix — the metrics readout that closes the
    * classifier-evaluation loop (q_naive_bayes and q_knn_classify
    * emit confusions; this turns one into decision numbers).
    *
    * All three ratios are single truncating divisions on exact
    * counts; F1's harmonic mean uses the integer identity
    * 2pr/(p+r) = (2·tp·10⁶) div (2·tp + fp + fn) — computed straight
    * from counts, so no compounding of two already-rounded ppm
    * values. The macro row averages per-class F1 by one more integral
    * division. Input is the confusion matrix (≤ k² rows), so every
    * step after the NB scoring is constant-size. */
  private val qPrf1 = BoundQuery("q_prf1", (s, d) => {
    val conf = MlQueries.naiveBayesConfusion(s, d)
    val perClass = conf.groupBy(col("actual").as("label"))
      .agg(sum(when(col("predicted") === col("actual"), col("n_docs"))
        .otherwise(0L)).as("tp"),
        sum(col("n_docs")).as("support"))
    val predTot = conf.groupBy(col("predicted").as("label"))
      .agg(sum(col("n_docs")).as("pred_n"))
    val rows = perClass.join(predTot, Seq("label"), "left")
      .na.fill(0L, Seq("pred_n"))
      .select(col("label"), col("support"), col("tp"),
        expr("(1000000 * tp) div greatest(pred_n, 1)").as("precision_ppm"),
        expr("(1000000 * tp) div support").as("recall_ppm"),
        // F1 = 2tp/(2tp+fp+fn) = 2tp/(pred_n + support): straight from
        // counts, no compounding of two already-rounded ppm ratios
        expr("(2000000 * tp) div greatest(pred_n + support, 1)").as("f1_ppm"))
    val macroRow = rows.agg(
      sum(col("support")).as("support"), sum(col("tp")).as("tp"),
      expr("sum(precision_ppm) div count(1)").as("precision_ppm"),
      expr("sum(recall_ppm) div count(1)").as("recall_ppm"),
      expr("sum(f1_ppm) div count(1)").as("f1_ppm"))
      .withColumn("label", lit("MACRO"))
      .select("label", "support", "tp", "precision_ppm", "recall_ppm", "f1_ppm")
    rows.unionByName(macroRow).orderBy("label")
  }, Some(s"""
    WITH conf AS (${MlQueries.naiveBayesConfusionSql}),
    per AS (
      SELECT actual AS label,
        CAST(sum(CASE WHEN predicted = actual THEN n_docs ELSE 0 END)
          AS BIGINT) AS tp,
        CAST(sum(n_docs) AS BIGINT) AS support
      FROM conf GROUP BY 1),
    pt AS (SELECT predicted AS label, CAST(sum(n_docs) AS BIGINT) AS pred_n
           FROM conf GROUP BY 1),
    rows_ AS (
      SELECT per.label, per.support, per.tp,
        (1000000 * per.tp) // greatest(coalesce(pt.pred_n, 0), 1) AS precision_ppm,
        (1000000 * per.tp) // per.support AS recall_ppm,
        (2000000 * per.tp)
          // greatest(coalesce(pt.pred_n, 0) + per.support, 1) AS f1_ppm
      FROM per LEFT JOIN pt ON per.label = pt.label)
    SELECT label, support, tp, precision_ppm, recall_ppm, f1_ppm FROM rows_
    UNION ALL
    SELECT 'MACRO', CAST(sum(support) AS BIGINT), CAST(sum(tp) AS BIGINT),
      CAST(sum(precision_ppm) AS BIGINT) // count(*),
      CAST(sum(recall_ppm) AS BIGINT) // count(*),
      CAST(sum(f1_ppm) AS BIGINT) // count(*)
    FROM rows_
    ORDER BY label
  """))

  /** Rank-biased overlap (Webber et al. 2010) between two customer
    * rankings — top-20 by order COUNT vs top-20 by total SPEND. The
    * top-weighted list-similarity metric beside q_ndcg (graded gains)
    * and q_mrr (single relevant item): RBO compares two rankings with
    * no relevance labels at all, discounting agreement geometrically
    * by depth, so it answers "do the two rankings front-load the same
    * items?" — the exact question when validating a cheap ranking
    * proxy against an expensive one at 100 TB.
    *
    * Truncated RBO@k with p = 9/10, EXACT in integer arithmetic: the
    * term (1−p)·p^(d−1)·ov_d/d equals 9^(d−1)·ov_d/(d·10^d), so each
    * depth's contribution is ONE truncating integral division to ppm
    * with numerator 10⁶·9^(d−1)·ov_d ≤ 2.7e25 in decimal(38,0) /
    * HUGEINT (k = 20 keeps 9^(d−1) inside int64; the weights are
    * inlined as exact literals on the Spark side and rebuilt by an
    * exact HUGEINT recursive CTE in the oracle). No float, no pow() —
    * both engines replay every term bit-exact.
    *
    * Scale shape: one partial-agg shuffle to the customer grain, two
    * TakeOrdered top-20s (never a global sort), and everything after
    * is ≤ 20-row bounded work (the quarantined bounded-window
    * contract). ov_d = |{items in both lists: max(ra,rb) ≤ d}| makes
    * the prefix-overlap a single ≤ 20×20 theta join. */
  private val qRbo = BoundQuery("q_rbo", (s, d) => {
    val k = 20
    val byCust = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("spend_c"))
    val topA = byCust.orderBy(col("n_orders").desc, col("o_custkey")).limit(k)
      .withColumn("ra", row_number().over(
        Window.orderBy(col("n_orders").desc, col("o_custkey"))))
    val topB = byCust.orderBy(col("spend_c").desc, col("o_custkey")).limit(k)
      .withColumn("rb", row_number().over(
        Window.orderBy(col("spend_c").desc, col("o_custkey"))))
    val m = topA.select(col("o_custkey"), col("ra"))
      .join(topB.select(col("o_custkey"), col("rb")), "o_custkey")
      .select(greatest(col("ra"), col("rb")).cast("long").as("m"))
    val depths = (1 to k).map { dd =>
      (dd.toLong, BigInt(9).pow(dd - 1).toString,
        (BigInt(dd) * BigInt(10).pow(dd)).toString)
    }.toSeq
    val depthDf = s.createDataFrame(depths).toDF("d", "n9s", "dens")
      .select(col("d"), col("n9s").cast("decimal(38,0)").as("n9"),
        col("dens").cast("decimal(38,0)").as("den"))
    depthDf.join(broadcast(m), col("m") <= col("d"), "left")
      .groupBy("d", "n9", "den")
      .agg(sum(when(col("m").isNotNull, 1L).otherwise(0L)).as("ov"))
      .select(col("d"), col("ov"),
        expr("(1000000 * n9 * ov) div den").as("term_u"))
      .withColumn("rbo_u", sum(col("term_u")).over(
        Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("d")
  }, Some("""
    WITH RECURSIVE wts AS (
      SELECT 1 AS d, CAST(1 AS HUGEINT) AS n9, CAST(10 AS HUGEINT) AS p10
      UNION ALL SELECT d + 1, n9 * 9, p10 * 10 FROM wts WHERE d < 20),
    bycust AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
          AS spend_c
      FROM orders GROUP BY 1),
    ta AS (
      SELECT o_custkey,
        CAST(row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT)
          AS ra
      FROM bycust ORDER BY n_orders DESC, o_custkey LIMIT 20),
    tb AS (
      SELECT o_custkey,
        CAST(row_number() OVER (ORDER BY spend_c DESC, o_custkey) AS BIGINT)
          AS rb
      FROM bycust ORDER BY spend_c DESC, o_custkey LIMIT 20),
    mm AS (SELECT greatest(ra, rb) AS m FROM ta JOIN tb USING (o_custkey)),
    ov AS (
      SELECT wts.d, wts.n9, wts.p10,
        CAST(count(mm.m) AS BIGINT) AS ov
      FROM wts LEFT JOIN mm ON mm.m <= wts.d
      GROUP BY 1, 2, 3)
    SELECT CAST(d AS BIGINT) AS d, ov,
      CAST((1000000 * n9 * ov) // (d * p10) AS BIGINT) AS term_u,
      CAST(sum(CAST((1000000 * n9 * ov) // (d * p10) AS BIGINT))
             OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS rbo_u
    FROM ov ORDER BY d
  """))

  /** Precision/recall operating curve for q_auc's train-split scorer:
    * one row per distinct score threshold (descending — "predict F
    * when score ≥ t"), with cumulative TP/FP on the TEST split and
    * exact precision/recall/F1 in ppm. The curve q_auc summarizes
    * into one number, exposed point-by-point — the readout a
    * threshold-picking pipeline actually consumes.
    *
    * Same exact-integer shape as q_auc: the per-priority score is one
    * integral division of train counts, the cumulative counts come
    * from ONE descending window over the ≤5 distinct scores, and each
    * output rate is a final ppm division. F1's single rounding:
    * f1 = 2·prec·rec/(prec+rec) computed from the already-truncated
    * ppm precision/recall (both engines see identical operands). */
  private val qPrCurve = BoundQuery("q_pr_curve", (s, d) => {
    val h = substring(md5(col("o_orderkey").cast("string")), 1, 2)
    val g = Tables.orders(s, d)
      .withColumn("is_train", (h < "80").cast("long"))
      .withColumn("is_f", (col("o_orderstatus") === "F").cast("long"))
      .groupBy("o_orderpriority")
      .agg(sum(col("is_train")).as("n_train"),
        sum(col("is_train") * col("is_f")).as("f_train"),
        sum(lit(1L) - col("is_train")).as("n_test"),
        sum((lit(1L) - col("is_train")) * col("is_f")).as("f_test"))
      .withColumn("score", expr("(1000000 * f_train) div n_train"))
    val byScore = g.groupBy("score")
      .agg(sum(col("n_test")).as("m"), sum(col("f_test")).as("f"))
    val w = Window.orderBy(desc("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("tp", sum(col("f")).over(w))
      .withColumn("pred_pos", sum(col("m")).over(w))
      .crossJoin(broadcast(byScore.agg(sum(col("f")).as("n_pos"))))
      .select(col("score"), col("tp"), (col("pred_pos") - col("tp")).as("fp"),
        col("n_pos"),
        expr("(1000000 * tp) div pred_pos").as("prec_ppm"),
        expr("(1000000 * tp) div n_pos").as("rec_ppm"))
      .withColumn("f1_ppm",
        expr("""CASE WHEN prec_ppm + rec_ppm > 0 THEN
                  (2 * prec_ppm * rec_ppm) div (prec_ppm + rec_ppm)
                ELSE 0 END"""))
      .orderBy(desc("score"))
  }, Some("""
    WITH g AS (
      SELECT o_orderpriority,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
                  AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_train,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '80'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '80'
                  AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_test
      FROM orders GROUP BY 1),
    sc AS (
      SELECT (1000000 * f_train) // n_train AS score,
        CAST(sum(n_test) AS BIGINT) AS m, CAST(sum(f_test) AS BIGINT) AS f
      FROM g GROUP BY 1),
    r AS (
      SELECT score, m, f,
        CAST(sum(f) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS BIGINT) AS tp,
        CAST(sum(m) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS BIGINT) AS pred_pos
      FROM sc),
    np AS (SELECT CAST(sum(f) AS BIGINT) AS n_pos FROM sc)
    SELECT score, tp, pred_pos - tp AS fp, n_pos,
      CAST((1000000 * tp) // pred_pos AS BIGINT) AS prec_ppm,
      CAST((1000000 * tp) // n_pos AS BIGINT) AS rec_ppm,
      CASE WHEN (1000000 * tp) // pred_pos + (1000000 * tp) // n_pos > 0 THEN
        CAST((2 * ((1000000 * tp) // pred_pos) * ((1000000 * tp) // n_pos))
             // ((1000000 * tp) // pred_pos + (1000000 * tp) // n_pos) AS BIGINT)
      ELSE 0 END AS f1_ppm
    FROM r CROSS JOIN np
    ORDER BY score DESC
  """))

  /** Label-noise audit (Confident-Learning-style, reduced to the kNN
    * vote): for EVERY vector, does the majority label of its 5
    * nearest neighbors (cosine, self excluded) disagree with its own
    * label? Per-label disagreement rates localize WHICH classes are
    * mislabeled or entangled — q_knn_classify grades a held-out
    * slice; this grades the labels themselves. Majority ties break
    * to the smaller label (the q_knn_classify max-struct convention).
    *
    * Scale shape: the exact graph is the oracle baseline; at scale
    * the same votes run over knnGraphLshIH's edges (schema-compatible).
    * Votes = one edge-keyed join + (query, label) partial agg; the
    * verdict join is query-keyed. */
  private val qLabelNoise = BoundQuery("q_label_noise", (s, d) => {
    val e = Tables.embeddings(s, d)
    val top = Similarity.bruteForceTopK(
      e, col("vec_id"), col("embedding"),
      e, col("vec_id"), col("embedding"), k = 5)
    val labels = e.select(col("vec_id").as("id"),
      col("label").cast("long").as("label"))
    val votes = top.join(labels, "id")
      .groupBy(col("query_id"), col("label")).agg(count(lit(1)).as("v"))
    val pred = votes.groupBy("query_id")
      .agg(max(struct(col("v"), (-col("label")).cast("long").as("nl"))).as("b"))
      .select(col("query_id"), (-col("b.nl")).cast("long").as("pred"))
    val own = e.select(col("vec_id").as("query_id"),
      col("label").cast("long").as("truth"))
    pred.join(own, "query_id")
      .groupBy(col("truth").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") =!= col("truth"), 1L).otherwise(0L)).as("noisy"))
      .select(col("label"), col("n"), col("noisy"),
        expr("CAST((1000000 * noisy) div n AS BIGINT)").as("noise_ppm"))
      .orderBy("label")
  }, Some(s"""
    WITH e AS (SELECT vec_id, label, embedding, ${VectorQueries.duckNorm} AS nrm
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS id, a.label AS nl,
             round(${VectorQueries.duckCosine("a", "q")}, 6) AS cosine
      FROM e a JOIN e q ON a.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id, nl,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, id) AS rnk
      FROM scored),
    votes AS (SELECT query_id, CAST(nl AS BIGINT) AS label,
                CAST(count(*) AS BIGINT) AS v
              FROM ranked WHERE rnk <= 5 GROUP BY query_id, nl),
    pred AS (SELECT query_id, label AS pred FROM (
               SELECT query_id, label,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY v DESC, label ASC) AS rn
               FROM votes) WHERE rn = 1)
    SELECT CAST(e.label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CASE WHEN p.pred <> e.label THEN 1 ELSE 0 END) AS BIGINT)
        AS noisy,
      CAST((1000000 * sum(CASE WHEN p.pred <> e.label THEN 1 ELSE 0 END))
           // count(*) AS BIGINT) AS noise_ppm
    FROM e JOIN pred p ON e.vec_id = p.query_id
    GROUP BY e.label ORDER BY label
  """))

  /** Expected Reciprocal Rank @10 (Chapelle 2009) of the exact-cosine
    * ranking — the cascade-model complement to q_ndcg's positional
    * one: ERR = Σ_r (1/r)·R_r·Π_{i<r}(1−R_i). With binary relevance
    * R ∈ {0, ½} (label agreement, the q_ndcg grading) every term is
    * the RATIONAL 1/(r·2^{k_r+1}) with k_r = relevant ranks before r,
    * so each is ONE truncating integer division to micro units —
    * fully exact end-to-end, no float. The stop-probability window
    * partitions per query over ≤10 rows. */
  private val qErr = BoundQuery("q_err", (s, d) => {
    val e = Tables.embeddings(s, d)
    val top = Similarity.bruteForceTopK(
      e, col("vec_id"), col("embedding"),
      e.where(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 10)
    val labels = e.select(col("vec_id").as("id"), col("label"))
    val qlab = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    val w = Window.partitionBy("query_id").orderBy("rnk")
      .rowsBetween(Window.unboundedPreceding, -1)
    top.join(labels, "id").join(broadcast(qlab), "query_id")
      .withColumn("rel", (col("label") === col("qlabel")).cast("long"))
      .withColumn("kb", coalesce(sum(col("rel")).over(w), lit(0L)))
      .select(col("query_id"), col("rel"),
        expr("""CASE WHEN rel = 1 THEN
            1000000 div (rnk * shiftleft(1L, cast(kb + 1 as int)))
          ELSE 0L END""").as("term"))
      .groupBy("query_id")
      .agg(sum(col("term")).as("err_uppm"), sum(col("rel")).as("n_rel_at_10"))
      .orderBy("query_id")
  }, Some(s"""
    WITH e AS (SELECT vec_id, label, embedding, ${VectorQueries.duckNorm} AS nrm
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS qlabel,
             a.vec_id AS id, a.label AS alabel,
             round(${VectorQueries.duckCosine("a", "q")}, 6) AS cosine
      FROM e a JOIN e q ON q.vec_id < 5 AND a.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id,
        CASE WHEN alabel = qlabel THEN 1 ELSE 0 END AS rel,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, id) AS BIGINT) AS rnk
      FROM scored),
    walk AS (
      SELECT query_id, rel, rnk,
        COALESCE(CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rnk
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
          AS kb
      FROM ranked WHERE rnk <= 10)
    SELECT query_id,
      CAST(sum(CASE WHEN rel = 1 THEN
          1000000 // (rnk * (CAST(1 AS BIGINT) << CAST(kb + 1 AS INT)))
        ELSE 0 END) AS BIGINT) AS err_uppm,
      CAST(sum(rel) AS BIGINT) AS n_rel_at_10
    FROM walk GROUP BY query_id ORDER BY query_id
  """))

  val all: Seq[BoundQuery] = Seq(qNdcg, qCalibration, qAuc, qDecisionStump,
    qMrr, qKnnClassify, qConformal, qPrf1, qRbo, qPrCurve, qLabelNoise, qErr)
}
