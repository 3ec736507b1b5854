package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions.tokens
import graft.operators.Similarity
import graft.queries.VectorQueries.{duckCosine, duckNorm}

/** SURVEY §2.4 round-4 retrieval-serving surface: the scoring half of
  * a RAG stack, expressed relationally so it runs AS a query over the
  * same corpus the curation pipeline produced — BM25 lexical ranking
  * (the q_inverted_index build step's consumer) and hybrid
  * lexical+semantic fusion via reciprocal-rank fusion (Cormack et al.
  * 2009), the standard way production search blends a keyword index
  * with an embedding index.
  *
  * Numeric rules are the house rules (graft.functions.Num /
  * DriftQueries): every log/division term is rounded to integer
  * micro-units per row BEFORE any aggregation, so the sums are exact
  * long arithmetic — partition-invariant on Spark, bit-identical in
  * the DuckDB oracle.
  */
object RetrievalQueries {

  /** The fixed benchmark query — four mid-df corpus terms. A serving
    * system would parameterize this; a bound query needs it pinned so
    * the oracle replays it. */
  private val qTerms = Seq("spark", "join", "window", "stream")
  private val qTermsSqlList = qTerms.map(t => s"'$t'").mkString(", ")

  /** BM25 (k1=1.2, b=0.75, Lucene idf = ln(1 + (N-df+0.5)/(df+0.5)))
    * top-50 over the corpus for the fixed query.
    *
    * Shape at 100 TB: one scan builds (doc, dl) and the exploded
    * postings; the filter to query terms happens BEFORE the tf
    * aggregation, so the shuffle carries only matching (doc, term)
    * rows — O(matches), not O(tokens). df and the (N, total_tokens)
    * scalars are broadcast. Per-(doc,term) scores are rounded to
    * micro-units and summed as longs, so the final ranking is exact
    * and partition-invariant; top-50 goes through TakeOrdered, never
    * a global sort. */
  private val qBm25 = BoundQuery("q_bm25", (s, d) => {
    // ONE corpus pass, ZERO corpus-sized shuffles (round-8: the
    // earlier shape exploded every token into a doc_id-keyed groupBy —
    // a full token-grain exchange — to compute what the array HOFs
    // produce per ROW inside the scan stage: dl = size(toks) and one
    // tf_t = size(filter(toks, = t)) per query term, k terms, k tiny.
    // This is exactly how the DuckDB twin stays fast — len(toks) with
    // no unnest — and at 100 TB it deletes the pipeline's only
    // corpus-sized exchange; everything downstream of perDoc is
    // O(matching docs)). Empty-token docs yield size([]) = 0, exactly
    // the oracle's len(toks); a NULL text row is pinned to toks = []
    // so dl reads 0, not size(NULL) = -1, and the corpus scalars
    // (n_docs, tot_tokens, avgdl) stay honest if the fixture ever
    // carries nulls (round-9 advice item).
    val perDoc = graft.util.CacheScope.persist(
      Tables.documents(s, d)
        .select(col("doc_id") +:
          coalesce(tokens(col("text")), array().cast("array<string>")).as("toks") +: Nil: _*)
        .select(col("doc_id") ::
          size(col("toks")).cast("long").as("dl") ::
          qTerms.map(t =>
            size(expr(s"filter(toks, x -> x = '$t')")).cast("long")
              .as(s"tf_$t")).toList: _*))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tokens"))
    val tf = perDoc
      .select(col("doc_id"), col("dl"), explode(map_from_arrays(
        array(qTerms.map(lit): _*),
        array(qTerms.map(t => col(s"tf_$t")): _*))).as(Seq("token", "tf")))
      .where(col("tf") > 0)
    val dfc = tf.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf.join(broadcast(dfc), "token").crossJoin(broadcast(stats))
      .withColumn("s_u", round(
        log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)))
          * (col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("dl").cast("double")
              / (col("tot_tokens").cast("double") / col("n_docs").cast("double"))))
          * 1e6, 0).cast("long"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("s_u")).as("score_su"))
      .select(col("doc_id"), col("n_terms"),
        round(col("score_su").cast("double") / 1e6, 6).as("bm25"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(50)
  }, Some(s"""
    WITH d2 AS (
      SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
      FROM documents),
    d3 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d2),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS tot_tokens FROM d3),
    tf AS (
      SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS token FROM d3)
      WHERE token IN ($qTermsSqlList)
      GROUP BY 1, 2, 3),
    dfc AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM tf GROUP BY 1),
    scored AS (
      SELECT doc_id,
        CAST(round(
          ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
            / (CAST(df AS DOUBLE) + 0.5))
          * (CAST(tf AS DOUBLE) * 2.2)
          / (CAST(tf AS DOUBLE) + 1.2 * (0.25
            + 0.75 * CAST(dl AS DOUBLE)
              / (CAST(tot_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))
          * 1e6, 0) AS BIGINT) AS s_u
      FROM tf JOIN dfc USING (token) CROSS JOIN stats)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           round(CAST(sum(s_u) AS DOUBLE) / 1e6, 6) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 50
  """))

  /** Hybrid retrieval: reciprocal-rank fusion (k=60) of the lexical
    * ranking (summed tf of the query terms, desc) and the semantic
    * ranking (exact cosine against the doc-0 embedding — doc ids and
    * vec ids share the 0..N-1 key space). RRF contributions are
    * rounded to integer nano-units per list, so the fused score is an
    * exact long sum and the final order is engine-invariant.
    *
    * Shape at 100 TB: each ranking is a (filtered) aggregation ending
    * in a rank; the semantic side here is the brute-force baseline
    * (one broadcast query vector × linear scan — the same plan as
    * q_ann_topk); swapping in the IVF/LSH scale path changes recall,
    * not this fusion shape. The fusion itself is a join on doc_id of
    * two slim (id, rank) relations. */
  private val qRrfFusion = BoundQuery("q_rrf_fusion", (s, d) => {
    val kwScores = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(col("token").isin(qTerms: _*))
      .groupBy("doc_id").agg(count(lit(1)).cast("long").as("kw_score"))
    // global lexical rank via the two-phase operator — no
    // single-partition WindowExec even when every doc matches
    val kw = graft.operators.Ranking
      .globalRowNumber(kwScores, "kw_rnk0", desc("kw_score"), col("doc_id"))
      .withColumn("kw_rnk", col("kw_rnk0") + 1)
      .drop("kw_rnk0", "kw_score")
    val e = Tables.embeddings(s, d)
    val sem = Similarity.bruteForceTopK(
        e, col("vec_id"), col("embedding"),
        e.where(col("vec_id") === 0), col("vec_id"), col("embedding"),
        k = 1000000)
      .select(col("id").as("doc_id"), col("rnk").as("sem_rnk"))
    kw.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_u",
        coalesce(round(lit(1e9) / (lit(60.0) + col("kw_rnk").cast("double")), 0)
          .cast("long"), lit(0L))
        + coalesce(round(lit(1e9) / (lit(60.0) + col("sem_rnk").cast("double")), 0)
          .cast("long"), lit(0L)))
      .select(col("doc_id"), col("kw_rnk"), col("sem_rnk"),
        round(col("rrf_u").cast("double") / 1e9, 9).as("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))
      .limit(50)
  }, Some(s"""
    WITH kw AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kw_score
      FROM (SELECT doc_id,
              unnest(list_filter(string_split(text,' '), x -> x <> '')) AS token
            FROM documents)
      WHERE token IN ($qTermsSqlList)
      GROUP BY 1),
    kwr AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY kw_score DESC, doc_id) AS BIGINT)
               AS kw_rnk
      FROM kw),
    e AS (SELECT vec_id,
            sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (x, y) -> x + y)) AS nrm,
            embedding
          FROM embeddings),
    sem AS (
      SELECT a.vec_id AS doc_id,
             round(list_reduce(list_transform(range(1, 65),
               i -> (CAST(a.embedding[i] AS DOUBLE)/a.nrm)
                  * (CAST(q.embedding[i] AS DOUBLE)/q.nrm)), (x, y) -> x + y), 6)
               AS cosine
      FROM e a JOIN e q ON q.vec_id = 0 AND a.vec_id <> 0),
    semr AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
               AS sem_rnk
      FROM sem),
    fused AS (
      SELECT COALESCE(kwr.doc_id, semr.doc_id) AS doc_id, kw_rnk, sem_rnk,
        COALESCE(CAST(round(1e9 / (60.0 + CAST(kw_rnk AS DOUBLE)), 0) AS BIGINT), 0)
        + COALESCE(CAST(round(1e9 / (60.0 + CAST(sem_rnk AS DOUBLE)), 0) AS BIGINT), 0)
          AS rrf_u
      FROM kwr FULL OUTER JOIN semr ON kwr.doc_id = semr.doc_id)
    SELECT doc_id, kw_rnk, sem_rnk,
           round(CAST(rrf_u AS DOUBLE) / 1e9, 9) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 50
  """))

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998) — the diversified-retrieval step between "top-k by score"
    * and "what a RAG prompt actually wants": greedily pick 5 of the
    * query's top-20 candidates maximizing λ·relevance −
    * (1−λ)·max-similarity-to-already-picked (λ=0.7). The greedy
    * recurrence is data-dependent, so it is unrolled as FIVE lazy
    * DataFrame stages (argmax → anti-join → re-score), never a
    * driver-side loop over collected rows — and the oracle unrolls
    * the identical five steps as CTEs, making the whole greedy
    * trajectory engine-proven. Scores stay exact: cosines under the
    * q_ann_topk round-6+id-tiebreak contract, scaled once to micro
    * longs, objective 7·rel_u − 3·sim_u compared in integers.
    *
    * Scale shape: candidate generation is the serving-path top-k
    * (here the exact baseline; IVF/LSH swap in transparently); the
    * MMR stage touches only k=20 rows and a k×k sim matrix regardless
    * of corpus size — re-ranking cost is constant by construction. */
  private val qMmr = BoundQuery("q_mmr", (s, d) => {
    import graft.util.CacheScope
    val e = Tables.embeddings(s, d)
    val q0 = e.where(col("vec_id") === 0)
    val cand = CacheScope.persist(
      Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
        q0, col("vec_id"), col("embedding"), k = 20)
        .select(col("id"), round(col("cosine") * 1e6, 0).cast("long").as("rel_u")))
    val candVecs = e.join(cand.select(col("id").as("vec_id")), Seq("vec_id"))
    val sim = CacheScope.persist(
      Similarity.bruteForceTopK(candVecs, col("vec_id"), col("embedding"),
        candVecs, col("vec_id"), col("embedding"), k = 19)
        .select(col("query_id").as("id_a"), col("id").as("id_b"),
          round(col("cosine") * 1e6, 0).cast("long").as("sim_u")))
    // Each stage references the previous `sel` THREE times (max-sim
    // join, anti-join, union), so a lazy unroll compounds the logical
    // plan 3^stages — and the cost is NOT execution (persisting the
    // stages leaves it at ~7 s) but the DRIVER re-walking the ~3^5-
    // copy analyzed tree on every action: caches substitute after
    // analysis, so each count() still paid seconds of Catalyst time
    // (PlanTime split: build 5.0 s / exec-on-warm-cache 6.4 s, all
    // driver). A checkpoint per stage cuts the lineage, so plan size is
    // constant in the stage count, and the cuts (≤5 rows each)
    // materialize inside the one final job instead of 5 blocking
    // driver jobs. Stages remain distributed DataFrames; the oracle's
    // CTE unroll is untouched.
    var sel = CacheScope.checkpoint(cand.orderBy(desc("rel_u"), col("id")).limit(1)
      .select(col("id"), lit(1L).as("pick")))
    for (t <- 2 to 5) {
      val msim = sim.join(sel.select(col("id").as("id_b")), Seq("id_b"))
        .groupBy(col("id_a").as("id")).agg(max(col("sim_u")).as("msim"))
      val pick = cand.join(sel.select("id"), Seq("id"), "left_anti")
        .join(msim, Seq("id"))
        .withColumn("mmr_u", lit(7L) * col("rel_u") - lit(3L) * col("msim"))
        .orderBy(desc("mmr_u"), col("id")).limit(1)
        .select(col("id"), lit(t.toLong).as("pick"))
      sel = CacheScope.checkpoint(sel.union(pick))
    }
    sel.join(cand, Seq("id"))
      .select(col("pick"), col("id"), col("rel_u"))
      .orderBy("pick")
  }, Some {
    val step = (k: Int) => s"""
    ms$k AS (
      SELECT s.id_a AS id, max(s.sim_u) AS msim
      FROM sim s JOIN sel${k - 1} p ON s.id_b = p.id GROUP BY 1),
    pick$k AS (
      SELECT c.id, CAST($k AS BIGINT) AS pick
      FROM cand c JOIN ms$k USING (id)
      WHERE c.id NOT IN (SELECT id FROM sel${k - 1})
      ORDER BY 7*c.rel_u - 3*msim DESC, c.id LIMIT 1),
    sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM pick$k)"""
    s"""
    WITH e AS (SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id = 0),
    cand AS (
      SELECT a.vec_id AS id,
             CAST(round(round(${duckCosine("a", "q")}, 6)*1000000, 0) AS BIGINT) AS rel_u
      FROM e a, q WHERE a.vec_id <> q.vec_id
      ORDER BY round(${duckCosine("a", "q")}, 6) DESC, a.vec_id LIMIT 20),
    ce AS (SELECT e.* FROM e JOIN cand ON e.vec_id = cand.id),
    sim AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(round(round(${duckCosine("a", "b")}, 6)*1000000, 0) AS BIGINT) AS sim_u
      FROM ce a JOIN ce b ON a.vec_id <> b.vec_id),
    sel1 AS (
      SELECT id, CAST(1 AS BIGINT) AS pick FROM cand
      ORDER BY rel_u DESC, id LIMIT 1),
    ${(2 to 5).map(step).mkString(",")}
    SELECT pick, id, rel_u FROM sel5 JOIN cand USING (id) ORDER BY pick
  """
  })

  /** Query likelihood with Dirichlet smoothing (Zhai & Lafferty 2001,
    * μ=1000) — the probabilistic ranker beside BM25's heuristic one;
    * where the two disagree, the disagreement IS the relevance
    * signal q_rrf_fusion blends. Scored in the standard decomposition
    *   score(d) = Σ_{t∈q∩d} ln(1 + tf/(μ·P(t|C))) + |q|·ln(μ/(dl+μ)),
    * P(t|C) = ctf_t/T, so the per-(doc,term) matched part and the
    * per-doc length normalizer are EACH micro-nat-rounded once and
    * summed as exact longs (the house log-space rule). Docs matching
    * no query term rank by background alone and are excluded, as in
    * any posting-driven evaluator.
    *
    * Scale shape: identical to q_bm25 — postings filter to the query
    * terms BEFORE the tf agg, ctf/T broadcast, TakeOrdered top-50. */
  private val qQlDirichlet = BoundQuery("q_ql_dirichlet", (s, d) => {
    val mu = 1000.0
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val tot = docs.agg(sum(col("dl")).as("tt"))
    val ctf = docs.select(explode(col("toks")).as("token"))
      .where(col("token").isin(qTerms: _*))
      .groupBy("token").agg(count(lit(1)).as("ctf"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .where(col("token").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val matched = tf.join(broadcast(ctf), "token").crossJoin(broadcast(tot))
      .withColumn("m_u", round(
        log(lit(1.0) + col("tf").cast("double") * col("tt").cast("double")
          / (lit(mu) * col("ctf").cast("double"))) * 1e6, 0).cast("long"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_terms"), sum(col("m_u")).as("m_su"))
    matched
      .withColumn("len_u", round(
        log(lit(mu) / (col("dl").cast("double") + lit(mu)))
          * lit(qTerms.size.toDouble) * 1e6, 0).cast("long"))
      .select(col("doc_id"), col("n_terms"),
        round((col("m_su") + col("len_u")).cast("double") / 1e6, 6).as("ql"))
      .orderBy(desc("ql"), col("doc_id"))
      .limit(50)
  }, Some(s"""
    WITH d2 AS (
      SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
      FROM documents),
    d3 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d2),
    tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tt FROM d3),
    ctf AS (
      SELECT token, CAST(count(*) AS BIGINT) AS ctf
      FROM (SELECT unnest(toks) AS token FROM d3)
      WHERE token IN ($qTermsSqlList) GROUP BY 1),
    tf AS (
      SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS token FROM d3)
      WHERE token IN ($qTermsSqlList)
      GROUP BY 1, 2, 3),
    matched AS (
      SELECT doc_id, dl, CAST(count(*) AS BIGINT) AS n_terms,
        CAST(sum(CAST(round(
          ln(1.0 + CAST(tf AS DOUBLE) * CAST(tt AS DOUBLE)
            / (1000.0 * CAST(ctf AS DOUBLE))) * 1e6, 0) AS BIGINT))
          AS BIGINT) AS m_su
      FROM tf JOIN ctf USING (token) CROSS JOIN tot
      GROUP BY 1, 2)
    SELECT doc_id, n_terms,
      round(CAST(m_su + CAST(round(
        ln(1000.0 / (CAST(dl AS DOUBLE) + 1000.0))
          * ${qTerms.size}.0 * 1e6, 0) AS BIGINT) AS DOUBLE) / 1e6, 6) AS ql
    FROM matched
    ORDER BY ql DESC, doc_id LIMIT 50
  """))

  /** Pseudo-relevance feedback (RM1-style) expansion terms: assume
    * BM25's top-10 docs are relevant, weight every term they contain
    * by Σ_d relweight(d)·tf_{t,d}/dl_d with relweight = the doc's
    * exact micro-unit BM25 score, and emit the top-20 NEW terms (the
    * originals and sub-3-char tokens excluded) — the classic query-
    * expansion loop of a lexical engine, run entirely relationally.
    * Per-(doc,term) contributions are single truncating integral
    * divisions of exact longs; the top-10 doc set broadcasts to the
    * postings scan. */
  private val qPrfExpansion = BoundQuery("q_prf_expansion", (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tokens"))
    val tfq = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .where(col("token").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val dfc = tfq.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
    val top10 = tfq.join(broadcast(dfc), "token").crossJoin(broadcast(stats))
      .withColumn("s_u", round(
        log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)))
          * (col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("dl").cast("double")
              / (col("tot_tokens").cast("double") / col("n_docs").cast("double"))))
          * 1e6, 0).cast("long"))
      .groupBy("doc_id").agg(sum(col("s_u")).as("score_su"))
      .orderBy(desc("score_su"), col("doc_id")).limit(10)
    docs.join(broadcast(top10), "doc_id")
      .select(col("doc_id"), col("dl"), col("score_su"),
        explode(col("toks")).as("token"))
      .where(!col("token").isin(qTerms: _*) && length(col("token")) >= 3)
      .groupBy(col("doc_id"), col("dl"), col("score_su"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("w_u", expr("(tf * score_su) div dl"))
      .groupBy("token")
      .agg(countDistinct(col("doc_id")).as("n_docs"), sum(col("w_u")).as("w"))
      .orderBy(desc("w"), col("token")).limit(20)
  }, Some(s"""
    WITH d2 AS (
      SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
      FROM documents),
    d3 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d2),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS tot_tokens FROM d3),
    tfq AS (
      SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS token FROM d3)
      WHERE token IN ($qTermsSqlList)
      GROUP BY 1, 2, 3),
    dfc AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM tfq GROUP BY 1),
    top10 AS (
      SELECT doc_id, CAST(sum(CAST(round(
          ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
            / (CAST(df AS DOUBLE) + 0.5))
          * (CAST(tf AS DOUBLE) * 2.2)
          / (CAST(tf AS DOUBLE) + 1.2 * (0.25
            + 0.75 * CAST(dl AS DOUBLE)
              / (CAST(tot_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))
          * 1e6, 0) AS BIGINT)) AS BIGINT) AS score_su
      FROM tfq JOIN dfc USING (token) CROSS JOIN stats
      GROUP BY doc_id ORDER BY score_su DESC, doc_id LIMIT 10),
    exp_tf AS (
      SELECT d3.doc_id, d3.dl, t.score_su, token,
        CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS token FROM d3) d3
      JOIN top10 t ON d3.doc_id = t.doc_id
      WHERE token NOT IN ($qTermsSqlList) AND length(token) >= 3
      GROUP BY 1, 2, 3, 4)
    SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(sum((tf * score_su) // dl) AS BIGINT) AS w
    FROM exp_tf GROUP BY token
    ORDER BY w DESC, token LIMIT 20
  """))

  val all: Seq[BoundQuery] = Seq(qBm25, qRrfFusion, qMmr, qQlDirichlet,
    qPrfExpansion)
}
