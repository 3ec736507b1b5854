package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Dedup, Similarity}
import graft.functions.TextFunctions._

/** SURVEY §2.4/§2.6 evaluation wave 2: the training-data-curation
  * evals that sit between the classifier metrics (q_auc / q_prf1 /
  * q_calibration) and the dedup/retrieval operators — hard-negative
  * mining for contrastive training, ROUGE overlap grading of near-dup
  * pairs, and the two remaining forecast-quality readouts (cumulative
  * gains/lift, Murphy's Brier decomposition).
  *
  * Numeric rule: identical to EvalQueries — exact counts, every
  * emitted rate ONE truncating integral division to ppm; cosine ranks
  * round to 6 decimals with id tie-breaks (the VectorQueries
  * contract).
  */
object EvalQueries2 {

  /** The md5-split train-rate scorer shared with q_calibration/q_auc:
    * per-priority P(F) ppm fit on the 80% split, applied to the 20%. */
  private val scorerSql = """
    SELECT o_orderpriority,
      CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
               THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
                AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_train,
      CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '80'
               THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
      CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '80'
                AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_test
    FROM orders GROUP BY 1"""

  private def scorer(s: org.apache.spark.sql.SparkSession, d: String) = {
    val h = substring(md5(col("o_orderkey").cast("string")), 1, 2)
    Tables.orders(s, d)
      .withColumn("is_train", (h < "80").cast("long"))
      .withColumn("is_f", (col("o_orderstatus") === "F").cast("long"))
      .groupBy("o_orderpriority")
      .agg(sum(col("is_train")).as("n_train"),
        sum(col("is_train") * col("is_f")).as("f_train"),
        sum(lit(1L) - col("is_train")).as("n_test"),
        sum((lit(1L) - col("is_train")) * col("is_f")).as("f_test"))
  }

  /** Hard-negative mining (Similarity.hardNegatives): for every
    * embedding, the 3 nearest CROSS-LABEL vectors by exact cosine —
    * the negatives a contrastive trainer should sample because they
    * sit on the decision boundary (random negatives are trivially
    * separable and teach nothing). The label filter applies inside
    * the scored join, BEFORE ranking, so rank k is the k-th true
    * negative. Exact baseline; at 100 TB the same label filter drops
    * into knnGraphLshIH's bucket join (blocking is label-oblivious, so
    * recall is unchanged). */
  private val qHardNegatives = BoundQuery("q_hard_negatives", (s, d) => {
    Similarity.hardNegatives(Tables.embeddings(s, d), col("vec_id"),
      col("embedding"), col("label"), k = 3)
      .withColumn("lab", col("lab").cast("long"))
      .orderBy("query_id", "rnk")
  }, Some(s"""
    WITH e AS (SELECT vec_id, label, embedding, ${VectorQueries.duckNorm} AS nrm
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS id,
             CAST(a.label AS BIGINT) AS lab,
             round(${VectorQueries.duckCosine("a", "q")}, 6) AS cosine
      FROM e a JOIN e q ON a.label <> q.label),
    ranked AS (
      SELECT query_id, id, lab, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, id) AS BIGINT) AS rnk
      FROM scored)
    SELECT query_id, id, lab, cosine, rnk FROM ranked WHERE rnk <= 3
    ORDER BY query_id, rnk
  """))

  /** ROUGE-1/2 grading of the exact 5-gram-Jaccard near-dup pairs:
    * where q_ngram_jaccard DECIDES (set Jaccard over distinct
    * shingles), this GRADES each surviving pair with the multiset
    * n-gram overlap summary a human would read — ROUGE-N precision /
    * recall / F1 (reference = id_a, candidate = id_b), every rate one
    * integral division over exact clipped counts
    * ov = Σ_g min(count_a g, count_b g). F1 comes straight from
    * counts (2·ov/(n_a+n_b)), never from the rounded P/R (the q_prf1
    * rule). Scale shape: the pair list is near-dup-sparse; gram
    * count tables key by (doc, gram) and join pair→grams on composite
    * keys — no gram-keyed all-docs self-join ever forms. */
  private val qRougePairs = BoundQuery("q_rouge_pairs", (s, d) => {
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, d), col("doc_id"),
        col("text"), shingleSize = 5, minJaccard = 0.3,
        maxShingleDf = Some(1000))
      .select("id_a", "id_b")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("w"))
    def grams(n: Int) =
      (if (n == 1) docs.select(col("doc_id"), explode(col("w")).as("g"))
       else docs.select(col("doc_id"), explode(
         when(size(col("w")) >= n,
           transform(sequence(lit(1), size(col("w")) - (n - 1)),
             i => concat_ws(" ", element_at(col("w"), i),
               element_at(col("w"), i + 1))))
           .otherwise(array().cast("array<string>"))).as("g")))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    def overlap(n: Int, sfx: String) = {
      val gr = grams(n)
      val sz = gr.groupBy(col("doc_id").as(s"did$sfx"))
        .agg(sum(col("c")).as(s"n$sfx"))
      val ov = pairs
        .join(gr.as("ga"), col("id_a") === col("ga.doc_id"))
        .join(gr.as("gb"),
          col("id_b") === col("gb.doc_id") && col("ga.g") === col("gb.g"))
        .groupBy("id_a", "id_b")
        .agg(sum(least(col("ga.c"), col("gb.c"))).as(s"ov$sfx"))
      pairs.join(ov, Seq("id_a", "id_b"), "left")
        .na.fill(0L, Seq(s"ov$sfx"))
        .join(sz, col("id_a") === col(s"did$sfx")).drop(s"did$sfx")
        .withColumnRenamed(s"n$sfx", s"na$sfx")
        .join(sz.withColumnRenamed(s"n$sfx", s"nb$sfx"),
          col("id_b") === col(s"did$sfx")).drop(s"did$sfx")
    }
    val u = overlap(1, "1")
    val b = overlap(2, "2")
    u.join(b, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("ov1"), col("ov2"),
        expr("(1000000 * ov1) div greatest(nb1, 1)").as("r1_p_ppm"),
        expr("(1000000 * ov1) div greatest(na1, 1)").as("r1_r_ppm"),
        expr("(2000000 * ov1) div greatest(na1 + nb1, 1)").as("r1_f_ppm"),
        expr("(2000000 * ov2) div greatest(na2 + nb2, 1)").as("r2_f_ppm"))
      .orderBy("id_a", "id_b")
  }, Some("""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
      FROM documents),
    docs AS (
      SELECT doc_id,
        list_distinct(list_transform(range(1, greatest(len(w)-3, 1)),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS sh
      FROM toks WHERE len(w) >= 5),
    sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(shared AS DOUBLE)/CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.3),
    uni AS (
      SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(w) AS g FROM toks) GROUP BY 1, 2),
    bi AS (
      SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id,
              unnest(list_transform(range(1, len(w)),
                i -> w[i] || ' ' || w[i+1])) AS g
            FROM toks) GROUP BY 1, 2),
    usz AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM uni GROUP BY 1),
    bsz AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM bi GROUP BY 1),
    ov1 AS (
      SELECT id_a, id_b, CAST(sum(least(ga.c, gb.c)) AS BIGINT) AS ov1
      FROM pairs JOIN uni ga ON id_a = ga.doc_id
      JOIN uni gb ON id_b = gb.doc_id AND ga.g = gb.g
      GROUP BY 1, 2),
    ov2 AS (
      SELECT id_a, id_b, CAST(sum(least(ga.c, gb.c)) AS BIGINT) AS ov2
      FROM pairs JOIN bi ga ON id_a = ga.doc_id
      JOIN bi gb ON id_b = gb.doc_id AND ga.g = gb.g
      GROUP BY 1, 2)
    SELECT p.id_a, p.id_b,
      coalesce(ov1.ov1, 0) AS ov1, coalesce(ov2.ov2, 0) AS ov2,
      (1000000 * coalesce(ov1.ov1, 0)) // greatest(ub.n, 1) AS r1_p_ppm,
      (1000000 * coalesce(ov1.ov1, 0)) // greatest(ua.n, 1) AS r1_r_ppm,
      (2000000 * coalesce(ov1.ov1, 0)) // greatest(ua.n + ub.n, 1) AS r1_f_ppm,
      (2000000 * coalesce(ov2.ov2, 0))
        // greatest(coalesce(ba.n,0) + coalesce(bb.n,0), 1) AS r2_f_ppm
    FROM pairs p
    LEFT JOIN ov1 ON p.id_a = ov1.id_a AND p.id_b = ov1.id_b
    LEFT JOIN ov2 ON p.id_a = ov2.id_a AND p.id_b = ov2.id_b
    JOIN usz ua ON p.id_a = ua.doc_id
    JOIN usz ub ON p.id_b = ub.doc_id
    LEFT JOIN bsz ba ON p.id_a = ba.doc_id
    LEFT JOIN bsz bb ON p.id_b = bb.doc_id
    ORDER BY p.id_a, p.id_b
  """))

  /** Cumulative gains / lift curve of the q_auc scorer: sweep the
    * score threshold from the top bin down and read, at each depth,
    * the share of all positives captured (gain) and the capture rate
    * relative to random targeting (lift) — the marketing-facing view
    * of the same ranking q_auc grades. Score domain is ≤5 rows, so
    * the descending cumulative window is constant-size; everything
    * upstream is the one priority-grained partial agg. */
  private val qLiftCurve = BoundQuery("q_lift_curve", (s, d) => {
    val byScore = scorer(s, d)
      .withColumn("score", expr("(1000000 * f_train) div n_train"))
      .groupBy("score")
      .agg(sum(col("n_test")).as("m"), sum(col("f_test")).as("f"))
    val w = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byScore.agg(sum(col("m")).as("nn"), sum(col("f")).as("pp"))
    byScore
      .withColumn("cum_n", sum(col("m")).over(w))
      .withColumn("cum_pos", sum(col("f")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("score"), col("m"), col("f"), col("cum_n"), col("cum_pos"),
        expr("(1000000 * cum_n) div nn").as("depth_ppm"),
        expr("(1000000 * cum_pos) div pp").as("gain_ppm"),
        expr("(1000000 * cum_pos * nn) div (cum_n * pp)").as("lift_ppm"))
      .orderBy(col("score").desc)
  }, Some(s"""
    WITH g AS ($scorerSql),
    sc AS (
      SELECT (1000000 * f_train) // n_train AS score,
        CAST(sum(n_test) AS BIGINT) AS m, CAST(sum(f_test) AS BIGINT) AS f
      FROM g GROUP BY 1),
    tot AS (SELECT CAST(sum(m) AS BIGINT) AS nn, CAST(sum(f) AS BIGINT) AS pp
            FROM sc),
    c AS (
      SELECT score, m, f,
        CAST(sum(m) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS BIGINT) AS cum_n,
        CAST(sum(f) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS BIGINT) AS cum_pos
      FROM sc)
    SELECT score, m, f, cum_n, cum_pos,
      (1000000 * cum_n) // nn AS depth_ppm,
      (1000000 * cum_pos) // pp AS gain_ppm,
      (1000000 * cum_pos * nn) // (cum_n * pp) AS lift_ppm
    FROM c CROSS JOIN tot ORDER BY score DESC
  """))

  /** Murphy decomposition of the scorer's Brier score: B = REL − RES
    * + UNC — is the forecast bad because it is MISCALIBRATED (REL:
    * bin forecast vs bin outcome) or because it cannot DISCRIMINATE
    * (RES: bin outcome vs base rate)? Bins are the score domain
    * itself (≤5), so every term clears to exact integers:
    *   rel_ppm = Σ_k[(s_k·n_k − 10⁶p_k)² div n_k] div (10⁶·N),
    *   res_ppm = 10⁶·Σ_k[(p_k·N − P·n_k)² div n_k] div N³,
    *   unc_ppm = 10⁶·P·(N−P) div N²,
    * each inner quotient one truncating division (error < 1 per bin —
    * the q_kruskal_wallis normalization). decomp_gap_ppm records the
    * truncation residue of the identity (0 in exact rationals). */
  private val qBrierDecomp = BoundQuery("q_brier_decomp", (s, d) => {
    val terms = scorer(s, d)
      .withColumn("sp", expr("(1000000 * f_train) div n_train"))
      .select(col("sp"), col("n_test").as("nk"), col("f_test").as("pk"))
    val tot = terms.agg(sum(col("nk")).as("n"), sum(col("pk")).as("p"))
    terms.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_test"), max(col("p")).as("n_pos"),
        sum(expr("""((CAST(sp AS DECIMAL(38,0))*nk - 1000000*pk)
                     * (CAST(sp AS DECIMAL(38,0))*nk - 1000000*pk)) div nk"""))
          .as("relsum"),
        sum(expr("""((CAST(pk AS DECIMAL(38,0))*n - CAST(p AS DECIMAL(38,0))*nk)
                     * (CAST(pk AS DECIMAL(38,0))*n - CAST(p AS DECIMAL(38,0))*nk)) div nk"""))
          .as("ressum"),
        sum(expr("""CAST(nk AS DECIMAL(38,0))*sp*sp - 2000000*CAST(sp AS DECIMAL(38,0))*pk
                    + CAST(pk AS DECIMAL(38,0))*1000000000000""")).as("bsum"))
      .select(col("n_test"), col("n_pos"),
        expr("CAST(bsum div (1000000 * n_test) AS BIGINT)").as("brier_ppm"),
        expr("CAST(relsum div (1000000 * n_test) AS BIGINT)").as("rel_ppm"),
        expr("""CAST((1000000 * ressum)
                div (CAST(n_test AS DECIMAL(38,0))*n_test*n_test) AS BIGINT)""")
          .as("res_ppm"),
        expr("""CAST((1000000 * CAST(n_pos AS DECIMAL(38,0)) * (n_test - n_pos))
                div (CAST(n_test AS DECIMAL(38,0)) * n_test) AS BIGINT)""")
          .as("unc_ppm"))
      .withColumn("decomp_gap_ppm",
        col("brier_ppm") - (col("rel_ppm") - col("res_ppm") + col("unc_ppm")))
  }, Some(s"""
    WITH g AS ($scorerSql),
    terms AS (
      SELECT (1000000 * f_train) // n_train AS sp, n_test AS nk, f_test AS pk
      FROM g),
    tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n, CAST(sum(pk) AS BIGINT) AS p
            FROM terms),
    a AS (
      SELECT max(n) AS n_test, max(p) AS n_pos,
        sum(((CAST(sp AS HUGEINT)*nk - 1000000*pk)
             * (CAST(sp AS HUGEINT)*nk - 1000000*pk)) // nk) AS relsum,
        sum(((CAST(pk AS HUGEINT)*n - CAST(p AS HUGEINT)*nk)
             * (CAST(pk AS HUGEINT)*n - CAST(p AS HUGEINT)*nk)) // nk) AS ressum,
        sum(CAST(nk AS HUGEINT)*sp*sp - 2000000*CAST(sp AS HUGEINT)*pk
            + CAST(pk AS HUGEINT)*1000000000000) AS bsum
      FROM terms CROSS JOIN tot),
    b AS (
      SELECT n_test, n_pos,
        CAST(bsum // (1000000 * n_test) AS BIGINT) AS brier_ppm,
        CAST(relsum // (1000000 * n_test) AS BIGINT) AS rel_ppm,
        CAST((1000000 * ressum)
          // (CAST(n_test AS HUGEINT)*n_test*n_test) AS BIGINT) AS res_ppm,
        CAST((1000000 * CAST(n_pos AS HUGEINT) * (n_test - n_pos))
          // (CAST(n_test AS HUGEINT) * n_test) AS BIGINT) AS unc_ppm
      FROM a)
    SELECT n_test, n_pos, brier_ppm, rel_ppm, res_ppm, unc_ppm,
      brier_ppm - (rel_ppm - res_ppm + unc_ppm) AS decomp_gap_ppm
    FROM b
  """))

  /** Isotonic calibration of the scorer by pool-adjacent-violators
    * (PAVA) — the nonparametric recalibration that fixes what
    * q_brier_decomp's REL term diagnoses. Bins are the score domain
    * (≤5, ordered by score); a violator pair (observed rate DROPS as
    * the score rises) pools. The fixpoint is reached by k−1 unrolled
    * adjacent-merge rounds (each round with a violation strictly
    * reduces the group count, so 4 rounds suffice for 5 bins — the
    * same bounded-unroll argument as q_kcore). All comparisons are
    * EXACT cross-multiplications (posᵢ·nⱼ vs posⱼ·nᵢ — no rate is
    * ever divided until the final ppm emit), so both engines pool
    * identically. Output: per original bin, the raw and the
    * calibrated (pooled) rate — calibrated is non-decreasing by
    * construction, which the spec asserts. */
  private val qIsotonic = BoundQuery("q_isotonic_calibration", (s, d) => {
    var bins = scorer(s, d)
      .withColumn("score", expr("(1000000 * f_train) div n_train"))
      .groupBy("score")
      .agg(sum(col("n_test")).as("n"), sum(col("f_test")).as("pos"))
      .withColumn("ord",
        row_number().over(Window.orderBy("score")).cast("long"))
      .withColumn("gid", col("ord"))
      .select("ord", "score", "n", "pos", "gid")
    for (_ <- 1 to 4) {
      val g = bins.groupBy("gid")
        .agg(sum(col("n")).as("gn"), sum(col("pos")).as("gpos"),
          min(col("ord")).as("gord"))
        .withColumn("rk", row_number().over(Window.orderBy("gord")).cast("long"))
      val remap = g.as("a").join(g.as("b"), col("b.rk") === col("a.rk") + 1)
        .where(expr("a.gpos * b.gn > b.gpos * a.gn"))
        .select(col("b.gid").as("from_gid"), col("a.gid").as("to_gid"))
      bins = bins.join(broadcast(remap),
          col("gid") === col("from_gid"), "left")
        .withColumn("gid", coalesce(col("to_gid"), col("gid")))
        .select("ord", "score", "n", "pos", "gid")
    }
    val pooled = bins.groupBy("gid")
      .agg(sum(col("n")).as("gn"), sum(col("pos")).as("gpos"))
    bins.join(pooled, "gid")
      .select(col("score"), col("n"), col("pos"),
        expr("(1000000 * pos) div n").as("raw_ppm"),
        expr("(1000000 * gpos) div gn").as("calibrated_ppm"))
      .orderBy("score")
  }, Some {
    val round = (k: Int) => s"""
    g$k AS (
      SELECT gid, CAST(sum(n) AS BIGINT) AS gn,
        CAST(sum(pos) AS BIGINT) AS gpos, min(ord) AS gord,
        row_number() OVER (ORDER BY min(ord)) AS rk
      FROM b${k - 1} GROUP BY gid),
    r$k AS (
      SELECT b.gid AS from_gid, a.gid AS to_gid
      FROM g$k a JOIN g$k b ON b.rk = a.rk + 1
      WHERE a.gpos * b.gn > b.gpos * a.gn),
    b$k AS (
      SELECT ord, score, n, pos, coalesce(to_gid, gid) AS gid
      FROM b${k - 1} LEFT JOIN r$k ON gid = from_gid)"""
    s"""
    WITH g AS ($scorerSql),
    sc AS (
      SELECT (1000000 * f_train) // n_train AS score,
        CAST(sum(n_test) AS BIGINT) AS n, CAST(sum(f_test) AS BIGINT) AS pos
      FROM g GROUP BY 1),
    b0 AS (
      SELECT CAST(row_number() OVER (ORDER BY score) AS BIGINT) AS ord,
        score, n, pos,
        CAST(row_number() OVER (ORDER BY score) AS BIGINT) AS gid
      FROM sc),
    ${(1 to 4).map(round).mkString(",")},
    pooled AS (
      SELECT gid, CAST(sum(n) AS BIGINT) AS gn,
        CAST(sum(pos) AS BIGINT) AS gpos
      FROM b4 GROUP BY gid)
    SELECT score, b4.n, b4.pos,
      (1000000 * b4.pos) // b4.n AS raw_ppm,
      (1000000 * gpos) // gn AS calibrated_ppm
    FROM b4 JOIN pooled ON b4.gid = pooled.gid
    ORDER BY score
  """})

  /** Expected calibration error of the scorer — the single number
    * dashboards track where q_calibration shows the full reliability
    * table: ECE = Σ_k (n_k/N)·|pred_k − obs_k|, plus the max-gap MCE.
    * Bins are the score domain; every term is exact — the gap is a
    * difference of ppm integers, the weighting one cleared division:
    * ece_ppm = Σ_k (n_k·|s_k − o_k|) div N. */
  private val qEce = BoundQuery("q_ece", (s, d) => {
    val bins = scorer(s, d)
      .withColumn("sp", expr("(1000000 * f_train) div n_train"))
      .groupBy("sp")
      .agg(sum(col("n_test")).as("nk"), sum(col("f_test")).as("pk"))
      .withColumn("ok", expr("(1000000 * pk) div nk"))
      .withColumn("gap", abs(col("sp") - col("ok")))
    bins.agg(sum(col("nk")).as("n_test"),
        sum(col("nk") * col("gap")).as("wsum"),
        max(col("gap")).as("mce_ppm"),
        count(lit(1)).as("n_bins"))
      .select(col("n_test"), col("n_bins"),
        expr("wsum div n_test").as("ece_ppm"), col("mce_ppm"))
  }, Some(s"""
    WITH g AS ($scorerSql),
    bins AS (
      SELECT (1000000 * f_train) // n_train AS sp,
        CAST(sum(n_test) AS BIGINT) AS nk, CAST(sum(f_test) AS BIGINT) AS pk
      FROM g GROUP BY 1),
    gaps AS (
      SELECT nk, abs(sp - (1000000 * pk) // nk) AS gap FROM bins)
    SELECT CAST(sum(nk) AS BIGINT) AS n_test,
      CAST(count(*) AS BIGINT) AS n_bins,
      CAST(sum(nk * gap) AS BIGINT) // CAST(sum(nk) AS BIGINT) AS ece_ppm,
      CAST(max(gap) AS BIGINT) AS mce_ppm
    FROM gaps
  """))

  /** Spiegelhalter's calibration z-test (Spiegelhalter 1986) of the
    * q_calibration model: z = Σ(y−p)(1−2p) / √Σ(1−2p)²p(1−p) over the
    * held-out half — the sharper companion to ECE binning: a single
    * standardized statistic whose sign says over- vs under-confident.
    * Train/test split and per-priority rates reuse q_calibration's
    * md5-hash halves, so p is constant within a priority and the
    * per-row sums collapse to 5 group terms: Σ(y−p) = f − n·p exactly.
    *
    * Exact to the last step: numerator in ppm² longs, denominator²
    * in ppm⁴ decimals; the single float finish (one sqrt + one
    * division + one rounding to µ-units) is the identical expression
    * on both engines. |z| < 1.96 surfaces as a boolean verdict. */
  private val qSpiegelhalter = BoundQuery("q_spiegelhalter_z", (s, d) => {
    val h = substring(md5(col("o_orderkey").cast("string")), 1, 2)
    val g = Tables.orders(s, d)
      .withColumn("is_train", (h < "80").cast("long"))
      .withColumn("is_f", (col("o_orderstatus") === "F").cast("long"))
      .groupBy("o_orderpriority")
      .agg(sum(col("is_train")).as("n_train"),
        sum(col("is_train") * col("is_f")).as("f_train"),
        sum(lit(1L) - col("is_train")).as("n_test"),
        sum((lit(1L) - col("is_train")) * col("is_f")).as("f_test"))
      .withColumn("p", expr("(1000000 * f_train) div n_train"))
    g.agg(
        sum(col("n_test")).as("n_test"),
        sum(expr("(1000000 - 2 * p) * (1000000 * f_test - n_test * p)"))
          .as("num_pp2"),
        sum(expr("""CAST(n_test AS DECIMAL(38,0)) * (1000000 - 2 * p)
          * (1000000 - 2 * p) * p * (1000000 - p)""")).as("den_pp4"))
      .select(col("n_test"), col("num_pp2"),
        expr("""CAST(round(1000000.0 * CAST(num_pp2 AS DOUBLE)
          / sqrt(CAST(den_pp4 AS DOUBLE)), 0) AS BIGINT)""").as("z_micro"))
      .withColumn("well_calibrated", abs(col("z_micro")) < 1959964L)
  }, Some("""
    WITH g AS (
      SELECT o_orderpriority,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
                  AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
          AS f_train,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '80'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) >= '80'
                  AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
          AS f_test
      FROM orders GROUP BY 1),
    p AS (SELECT *, (1000000 * f_train) // n_train AS p FROM g),
    agg AS (
      SELECT CAST(sum(n_test) AS BIGINT) AS n_test,
        CAST(sum((1000000 - 2 * p) * (1000000 * f_test - n_test * p))
          AS BIGINT) AS num_pp2,
        sum(CAST(n_test AS HUGEINT) * (1000000 - 2 * p)
            * (1000000 - 2 * p) * p * (1000000 - p)) AS den_pp4
      FROM p)
    SELECT n_test, num_pp2,
      CAST(round(1000000.0 * CAST(num_pp2 AS DOUBLE)
        / sqrt(CAST(den_pp4 AS DOUBLE)), 0) AS BIGINT) AS z_micro,
      abs(CAST(round(1000000.0 * CAST(num_pp2 AS DOUBLE)
        / sqrt(CAST(den_pp4 AS DOUBLE)), 0) AS BIGINT)) < 1959964
        AS well_calibrated
    FROM agg
  """))

  val all: Seq[BoundQuery] =
    Seq(qHardNegatives, qRougePairs, qLiftCurve, qBrierDecomp, qIsotonic,
      qEce, qSpiegelhalter)
}
