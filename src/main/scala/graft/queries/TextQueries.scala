package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions._
import graft.operators.{Cleaning, Dedup}

/** SURVEY §2.3 (ETL/cleaning) + §2.4 (text/dedup) bindings. */
object TextQueries {

  /** Exact dedup keep-first — reference data_cleaner.py:84, scaled via
    * md5-digest shuffle keys (Dedup.exactKeepFirst). */
  private val qDedupExact = BoundQuery("q_dedup_exact", (s, d) => {
    Dedup.exactKeepFirst(Tables.documents(s, d), col("text"), col("doc_id"))
      .select("doc_id", "source").orderBy("doc_id")
  }, Some("""
    SELECT doc_id, source FROM (
      SELECT doc_id, source, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1 ORDER BY doc_id
  """), headline = true)

  /** Document fingerprinting: md5 digest + polynomial rolling hash
    * (TextFunctions.rollingFingerprint), both codegen-composable. */
  private val qFingerprint = BoundQuery("q_fingerprint", (s, d) => {
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(col("text")).as("fp_md5"),
      rollingFingerprint(col("text")).as("fp_roll"))
      .orderBy("doc_id")
  }, Some("""
    SELECT doc_id, md5(text) AS fp_md5,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length(text)+1),
          i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
        (a, b) -> (a*31 + b) % 1000000007) AS fp_roll
    FROM documents ORDER BY doc_id
  """))

  /** Exact 5-gram Jaccard near-dup pairs (Dedup.ngramJaccardPairs),
    * shingle-blocked — never O(n^2). 5-gram (not 3-gram) shingles keep
    * blocking selective on this corpus's tiny vocabulary: 34^5 possible
    * shingles vs 34^3 means shingle document-frequency ~1, so the
    * blocking join only pairs genuine near-dups. The maxShingleDf
    * skew cap is BOUND here — on a web corpus it is what stops one
    * boilerplate shingle from exploding into m² candidate rows;
    * capped candidates re-verify against full shingle sets, so
    * emitted jaccards are the true values either way. Cap sizing:
    * comfortably above the corpus's real shingle-df tail (3-4 here,
    * ~40 on the replicated sf1 smoke data — a cap of 20 measurably
    * dropped true pairs there), far below the 10⁵⁺ boilerplate dfs
    * the guard exists for. */
  private val qNgramJaccard = BoundQuery("q_ngram_jaccard", (s, d) => {
    Dedup.ngramJaccardPairs(Tables.documents(s, d), col("doc_id"), col("text"),
      shingleSize = 5, minJaccard = 0.3, maxShingleDf = Some(1000))
      .orderBy("id_a", "id_b")
  }, Some("""
    WITH docs AS (
      SELECT doc_id,
        list_distinct(list_transform(range(1, greatest(len(w)-3, 1)),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS sh
      FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
            FROM documents)
      WHERE len(w) >= 5),
    sizes AS (SELECT doc_id, len(sh) AS n FROM docs),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
      CAST(shared AS DOUBLE)/CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
    FROM shared JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(shared AS DOUBLE)/CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.3
    ORDER BY id_a, id_b
  """), headline = true)

  /** MinHash+LSH candidate pairs — the sub-quadratic scale path for
    * the same near-dup problem. Bound to the ARITHMETIC hash family
    * (Dedup.minhashCandidatesArith) so the whole LSH pipeline —
    * shingle hash, 32 affine permutations, band keys, estimates — is
    * replayed term-for-term by the DuckDB oracle below: a FULL
    * hash-checked gate on an approximate operator, not rows-only.
    * TextSpec separately checks recall vs exact jaccard pairs. */
  private val qMinhashPairs = BoundQuery("q_minhash_pairs", (s, d) => {
    Dedup.minhashCandidatesArith(Tables.documents(s, d), col("doc_id"), col("text"))
      .where(col("jaccard_est") >= 0.5)
      .orderBy("id_a", "id_b")
  }, Some(minhashPairsSubquery))

  /** The DuckDB twin of minhashCandidatesArith as a standalone
    * SELECT (id_a, id_b, jaccard_est), reusable as a subquery —
    * constants inlined from the same Dedup.minhashPermConsts the
    * Spark plan uses. */
  private[queries] def minhashPairsSubquery: String = {
    val P = Dedup.MinhashPrime
    val sigExprs = Dedup.minhashPermConsts(32).map { case (a, b) =>
      s"list_min(list_transform(hs, x -> (${a}*x + ${b}) % ${P}))"
    }.mkString(",\n        ")
    val bandVals = (0 until 8).map(b => s"($b)").mkString(",")
    s"""
    WITH sh AS (
      SELECT doc_id,
        list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
            FROM documents)
      WHERE len(w) >= 3),
    xs AS (
      SELECT doc_id,
        list_transform(shingles, s ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(s)+1),
              i -> CAST(ascii(substring(s, i, 1)) AS BIGINT))),
            (a, b) -> (a*31 + b) % ${P})) AS hs
      FROM sh WHERE len(shingles) > 0),
    sigl AS (
      SELECT doc_id, [
        ${sigExprs}
      ] AS sig FROM xs),
    bands AS (
      SELECT doc_id, b.band AS band,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_slice(sig, b.band*4+1, b.band*4+4)),
          (acc, v) -> (acc*1048573 + v) % ${P}) AS bkey
      FROM sigl CROSS JOIN (VALUES ${bandVals}) b(band)),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
      CAST(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
        / 32.0 AS jaccard_est
    FROM cand JOIN sigl sa ON id_a = sa.doc_id JOIN sigl sb ON id_b = sb.doc_id
    WHERE CAST(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
        / 32.0 >= 0.5
    ORDER BY id_a, id_b
  """
  }

  /** SimHash near-dup pairs over the polynomial signature
    * (Dedup.simhashPairsArith / expressions.SimHashPoly62) so the
    * whole pipeline — per-token dual code-point folds, 62-bit ±1
    * vote, pigeonhole band blocking (COMPLETE for hamming ≤ 3),
    * hamming verify — is replayed by the DuckDB oracle: a full
    * hash-checked gate. */
  private val qSimhashPairs = BoundQuery("q_simhash_pairs", (s, d) => {
    Dedup.simhashPairsArith(Tables.documents(s, d), col("doc_id"), col("text"), maxHamming = 3)
      .orderBy("id_a", "id_b")
  }, Some(simhashOracleSql))

  /** DuckDB twin of simhashPairsArith: 62 generated vote terms (two
    * 31-bit polynomial folds, bases 31/37) and the same pigeonhole
    * band join (maxHamming+1 = 4 bands over 62 bits → complete
    * hamming ≤ 3 candidates). */
  private def simhashOracleSql: String = {
    val maxHamming = 3
    val bands = maxHamming + 1
    val w = 62 / bands
    def fold(base: Int, fin: Long) =
      s"""list_transform(w, t ->
          (list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(t)+1),
              i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
            (a, c) -> (a*$base + c) % 2147483648) * $fin) % 2147483648)"""
    val terms1 = (0 until 31).map { b =>
      s"(CASE WHEN list_sum(list_transform(h1, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n        + ")
    val terms2 = (0 until 31).map { b =>
      s"(CASE WHEN list_sum(list_transform(h2, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << (31 + b)} ELSE 0 END)"
    }.mkString("\n        + ")
    val shiftCase = (0 until bands).map(b => s"WHEN ${b} THEN ${b * w}")
      .mkString("CASE band ", " ", " END")
    val maskCase = (0 until bands).map { b =>
      val width = if (b == bands - 1) 62 - b * w else w
      s"WHEN ${b} THEN ${(1L << width) - 1L}"
    }.mkString("CASE band ", " ", " END")
    val bandVals = (0 until bands).map(b => s"($b)").mkString(",")
    s"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents),
    hs AS (
      SELECT doc_id,
        ${fold(31, 2654435761L)} AS h1,
        ${fold(37, 2246822519L)} AS h2
      FROM toks),
    sigs AS (
      SELECT doc_id, CAST(${terms1}
        + ${terms2} AS BIGINT) AS sig
      FROM hs),
    bk AS (
      SELECT doc_id, b.band AS band,
        (sig >> ($shiftCase)) & ($maskCase) AS bval
      FROM sigs CROSS JOIN (VALUES $bandVals) b(band)),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
      CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
    FROM cand JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id
    WHERE bit_count(xor(sa.sig, sb.sig)) <= $maxHamming
    ORDER BY id_a, id_b
  """
  }

  /** Token counting: whitespace + BPE-ish pre-tokenizer split. */
  private val qTokenCount = BoundQuery("q_token_count", (s, d) => {
    Tables.documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }, Some("""
    SELECT doc_id,
      CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
      CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
    FROM documents ORDER BY doc_id
  """))

  /** Quality scoring: token/punct/stopword ratios folded into one
    * deterministic score (all ratios are int/int divisions). */
  private val qTextStats = BoundQuery("q_text_stats", (s, d) => {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val nPunct = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")
    val nStop = stopwordCount(toks, "en").cast("long")
    val sumLen = aggregate(toks, lit(0L), (a, t) => a + length(t))
    Tables.documents(s, d)
      .where(size(tokens(col("text"))) > 0)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        nPunct.as("n_punct"),
        nStop.as("n_stop"),
        (sumLen.cast("double") / nTok.cast("double")).as("avg_token_len"),
        qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  }, Some("""
    WITH t AS (
      SELECT doc_id, text, list_filter(string_split(text,' '), x -> x <> '') AS toks
      FROM documents)
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
      CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
      CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)/CAST(len(toks) AS DOUBLE) AS avg_token_len,
      0.5 * least(CAST(len(toks) AS BIGINT)::DOUBLE / 100.0, 1.0)
        + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT)::DOUBLE
                        / CAST(length(text) AS DOUBLE))
        + 0.2 * least(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS BIGINT)::DOUBLE
                        / CAST(len(toks) AS DOUBLE) * 5.0, 1.0) AS quality
    FROM t WHERE len(toks) > 0 ORDER BY doc_id
  """))

  /** Language-ID heuristic over stopword marker profiles
    * (TextFunctions.langId) with per-profile hit counts. */
  private val qLangid = BoundQuery("q_langid", (s, d) => {
    val toks = tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      langId(toks).as("lang_pred"),
      stopwordCount(toks, "en").cast("long").as("c_en"),
      stopwordCount(toks, "es").cast("long").as("c_es"),
      stopwordCount(toks, "de").cast("long").as("c_de"),
      stopwordCount(toks, "fr").cast("long").as("c_fr"))
      .orderBy("doc_id")
  }, Some("""
    WITH t AS (
      SELECT doc_id,
        CAST(len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS c_en,
        CAST(len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), w -> w IN ('el','la','de','los','y'))) AS BIGINT) AS c_es,
        CAST(len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), w -> w IN ('der','die','das','und','ist'))) AS BIGINT) AS c_de,
        CAST(len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), w -> w IN ('le','les','des','et','une'))) AS BIGINT) AS c_fr
      FROM documents)
    SELECT doc_id,
      CASE WHEN c_en > 0 AND c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
           WHEN c_es > 0 AND c_es >= c_de AND c_es >= c_fr THEN 'es'
           WHEN c_de > 0 AND c_de >= c_fr THEN 'de'
           WHEN c_fr > 0 THEN 'fr'
           ELSE 'und' END AS lang_pred,
      c_en, c_es, c_de, c_fr
    FROM t ORDER BY doc_id
  """))

  /** Reference data_cleaner.py:82-97 end-to-end: dedup -> sentinel
    * nullification -> regex filter -> default imputation. */
  private val qCleanPipeline = BoundQuery("q_clean_pipeline", (s, d) => {
    val deduped = Dedup.exactKeepFirst(Tables.documents(s, d), col("text"), col("doc_id"))
    val nulled = Cleaning.nullifySentinels(deduped, "lang", Seq("zh"))
    val filtered = Cleaning.filterByPattern(nulled, col("text"), "^[a-z]")
    Cleaning.imputeDefault(filtered, "lang", lit("und"))
      .select(col("doc_id"), col("lang").as("lang_clean"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }, Some("""
    WITH dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1)
    SELECT doc_id,
      coalesce(CASE WHEN lang IN ('zh') THEN NULL ELSE lang END, 'und') AS lang_clean,
      source, n_chars
    FROM dedup WHERE regexp_matches(text, '^[a-z]') ORDER BY doc_id
  """))

  /** Reference adjust_camera_info.py:17 / adjust_comments.py:16:
    * treat out-of-domain values as missing, impute defaults. */
  private val qImputeDefaults = BoundQuery("q_impute_defaults", (s, d) => {
    val sup = Tables.supplier(s, d)
      .withColumn("s_acctbal",
        when(col("s_acctbal") < 0, lit(null)).otherwise(col("s_acctbal")))
    Cleaning.imputeDefault(sup, "s_acctbal", lit(0.0))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal").as("acctbal_clean"))
      .orderBy("s_suppkey")
  }, Some("""
    SELECT s_suppkey, s_name,
      coalesce(CASE WHEN s_acctbal < 0 THEN NULL ELSE s_acctbal END, 0.0) AS acctbal_clean
    FROM supplier ORDER BY s_suppkey
  """))

  /** End-to-end filter DECISION table — the composed keep/reject
    * verdict a training-data pipeline materializes per document:
    * exact-dup demotion (keep-first), language gate, length gate,
    * quality-score gate, first failing rule as the reject reason.
    * Every rule is an already-oracle-checked component (q_dedup_exact,
    * q_langid, q_token_count, q_text_stats) composed in ONE pass: one
    * dedup window + codegen'd per-row predicates, no extra shuffles
    * beyond the dedup's digest partition. */
  private val qQualityFilter = BoundQuery("q_quality_filter", (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("lang_pred", langId(toks))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("quality", qualityScore(col("text")))
      .select(
        col("doc_id"), col("lang_pred"), col("n_tokens"),
        round(col("quality"), 6).as("quality"),
        when(col("rn") > 1, "duplicate")
          .when(col("lang_pred") === "und", "language")
          .when(col("n_tokens") < 5, "too_short")
          .when(col("quality") < 0.55, "low_quality")
          .otherwise("keep").as("decision"))
      .orderBy("doc_id")
  }, Some("""
    WITH t AS (
      SELECT doc_id, text,
        list_filter(string_split(text,' '), x -> x <> '') AS toks,
        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents),
    scored AS (
      SELECT doc_id, rn,
        CASE WHEN len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) > 0
              AND len(list_filter(toks, x -> x IN ('the','a','of','and','to')))
                  >= len(list_filter(toks, x -> x IN ('el','la','de','los','y')))
              AND len(list_filter(toks, x -> x IN ('the','a','of','and','to')))
                  >= len(list_filter(toks, x -> x IN ('der','die','das','und','ist')))
              AND len(list_filter(toks, x -> x IN ('the','a','of','and','to')))
                  >= len(list_filter(toks, x -> x IN ('le','les','des','et','une'))) THEN 'en'
             WHEN len(list_filter(toks, x -> x IN ('el','la','de','los','y'))) > 0
              AND len(list_filter(toks, x -> x IN ('el','la','de','los','y')))
                  >= len(list_filter(toks, x -> x IN ('der','die','das','und','ist')))
              AND len(list_filter(toks, x -> x IN ('el','la','de','los','y')))
                  >= len(list_filter(toks, x -> x IN ('le','les','des','et','une'))) THEN 'es'
             WHEN len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) > 0
              AND len(list_filter(toks, x -> x IN ('der','die','das','und','ist')))
                  >= len(list_filter(toks, x -> x IN ('le','les','des','et','une'))) THEN 'de'
             WHEN len(list_filter(toks, x -> x IN ('le','les','des','et','une'))) > 0 THEN 'fr'
             ELSE 'und' END AS lang_pred,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        0.5 * least(CAST(len(toks) AS BIGINT)::DOUBLE / 100.0, 1.0)
          + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT)::DOUBLE
                          / CAST(length(text) AS DOUBLE))
          + 0.2 * least(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS BIGINT)::DOUBLE
                          / CAST(len(toks) AS DOUBLE) * 5.0, 1.0) AS quality
      FROM t)
    SELECT doc_id, lang_pred, n_tokens, round(quality, 6) AS quality,
      CASE WHEN rn > 1 THEN 'duplicate'
           WHEN lang_pred = 'und' THEN 'language'
           WHEN n_tokens < 5 THEN 'too_short'
           WHEN quality < 0.55 THEN 'low_quality'
           ELSE 'keep' END AS decision
    FROM scored ORDER BY doc_id
  """))

  /** Heavy-hitter words via Spark's `approx_top_k` (a mergeable
    * frequent-items sketch): one bounded pass, no full word groupBy.
    * With far more tracked items than distinct words the sketch never
    * purges, so its counts are exact and oracle-checkable here;
    * TopKSketchSpec proves the tight-capacity guarantees. The sketch
    * orders count ties its own way, so it returns 64 items and the top
    * 20 are cut in the oracle's (cnt desc, word) order. */
  private val qHeavyHitters = BoundQuery("q_heavy_hitters", (s, d) => {
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .agg(expr("approx_top_k(word, 64, 4096)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("word"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20)
  }, Some("""
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS word
          FROM documents)
    GROUP BY word ORDER BY cnt DESC, word LIMIT 20
  """))

  /** Dedup pipeline SELF-AUDIT: precision/recall of the LSH minhash
    * candidate set against the exact 3-gram-jaccard ground truth at
    * the same τ=0.5 — the evaluation a production dedup pipeline runs
    * on a sampled slice before trusting the approximate path at full
    * scale. Because BOTH pipelines here are oracle-replicable (the
    * arithmetic minhash family and the exact jaccard join), the
    * evaluation itself carries a full DuckDB oracle: the measured
    * precision/recall numbers are engine-proven, not self-reported. */
  private val qDedupEval = BoundQuery("q_dedup_eval", (s, d) => {
    val docs = Tables.documents(s, d)
    val pred = Dedup.minhashCandidatesArith(docs, col("doc_id"), col("text"))
      .where(col("jaccard_est") >= 0.5).select("id_a", "id_b")
    val truth = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      shingleSize = 3, minJaccard = 0.5,
      maxShingleDf = Some(1000)).select("id_a", "id_b")
    val tp = pred.join(truth, Seq("id_a", "id_b")).agg(count(lit(1)).as("tp"))
    pred.agg(count(lit(1)).as("n_pred"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(tp)
      .select(col("n_pred"), col("n_truth"), col("tp"),
        round(col("tp").cast("double") / col("n_pred").cast("double"), 6).as("precision"),
        round(col("tp").cast("double") / col("n_truth").cast("double"), 6).as("recall"))
  }, Some(s"""
    WITH tdocs AS (
      SELECT doc_id,
        list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh3
      FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS w
            FROM documents)
      WHERE len(w) >= 3),
    tsizes AS (SELECT doc_id, len(sh3) AS n FROM tdocs),
    tex AS (SELECT doc_id, unnest(sh3) AS s3 FROM tdocs),
    tshared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS sh
      FROM tex a JOIN tex b ON a.s3 = b.s3 AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT id_a, id_b FROM tshared
      JOIN tsizes sa ON id_a = sa.doc_id JOIN tsizes sb ON id_b = sb.doc_id
      WHERE CAST(sh AS DOUBLE)/CAST(sa.n + sb.n - sh AS DOUBLE) >= 0.5),
    pred AS (SELECT id_a, id_b FROM (${minhashPairsSubquery}) mp),
    counts AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM pred) AS n_pred,
             (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT)
              FROM pred JOIN truth USING (id_a, id_b)) AS tp)
    SELECT n_pred, n_truth, tp,
      round(CAST(tp AS DOUBLE)/CAST(n_pred AS DOUBLE), 6) AS precision,
      round(CAST(tp AS DOUBLE)/CAST(n_truth AS DOUBLE), 6) AS recall
    FROM counts
  """))

  /** Incremental batch-vs-corpus dedup (operators.Dedup.
    * incrementalDedup): an md5-prefix split stands in for the
    * existing corpus (~75%) vs today's ingest (~25%); each new doc is
    * graded exact_dup (digest match), near_dup (5-gram jaccard ≥ 0.3
    * with ANY existing doc, shingle-blocked asymmetric join) or kept.
    * Per-batch cost is O(batch × collisions) — re-deduping the whole
    * corpus per ingest never happens. */
  private val qDedupIncremental = BoundQuery("q_dedup_incremental", (s, d) => {
    val base = Tables.documents(s, d)
      .withColumn("h", substring(md5(col("text")), 1, 2))
    val old = base.where(col("h") < "c0")
    val nw = base.where(col("h") >= "c0")
    graft.operators.Dedup.incrementalDedup(nw, old, col("doc_id"), col("text"),
        shingleSize = 5, minJaccard = 0.3)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }, Some("""
    WITH base AS (
      SELECT doc_id, md5(text) AS dg, substr(md5(text), 1, 2) AS h,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents),
    old AS (SELECT * FROM base WHERE h < 'c0'),
    nw AS (SELECT * FROM base WHERE h >= 'c0'),
    ex AS (SELECT DISTINCT nw.doc_id FROM nw
           JOIN (SELECT DISTINCT dg FROM old) o USING (dg)),
    osh AS (SELECT doc_id,
              list_distinct(list_transform(range(1, greatest(len(w)-3, 1)),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS sh
            FROM old WHERE len(w) >= 5),
    nsh AS (SELECT doc_id,
              list_distinct(list_transform(range(1, greatest(len(w)-3, 1)),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS sh
            FROM nw WHERE len(w) >= 5),
    shared AS (
      SELECT a.doc_id AS nid, b.doc_id AS oid, CAST(count(*) AS BIGINT) AS shared
      FROM (SELECT doc_id, unnest(sh) AS s FROM nsh) a
      JOIN (SELECT doc_id, unnest(sh) AS s FROM osh) b USING (s)
      GROUP BY 1, 2),
    near AS (
      SELECT DISTINCT nid AS doc_id
      FROM shared
      JOIN (SELECT doc_id AS nid, len(sh) AS na FROM nsh) sa USING (nid)
      JOIN (SELECT doc_id AS oid, len(sh) AS nb FROM osh) sb USING (oid)
      WHERE CAST(shared AS DOUBLE) / CAST(na + nb - shared AS DOUBLE) >= 0.3)
    SELECT nw.doc_id,
      CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
           WHEN near.doc_id IS NOT NULL THEN 'near_dup'
           ELSE 'kept' END AS status
    FROM nw LEFT JOIN ex ON nw.doc_id = ex.doc_id
            LEFT JOIN near ON nw.doc_id = near.doc_id
    ORDER BY nw.doc_id
  """))

  /** Confusion matrix of q_langid's stopword heuristic against the
    * STORED language label — the self-audit every classifier in the
    * curation path gets (the q_dedup_eval/q_ann_eval convention:
    * grade the heuristic with engine-proven numbers). One row per
    * (truth, prediction) cell with the cell count and the
    * recall share of its truth row in exact ppm. 'zh' has no stopword
    * profile, so its row IS the heuristic's blind spot, measured.
    *
    * Scale shape: the per-doc predictor is codegen'd array math (no
    * explode), then one (truth,pred)-grain partial agg + a broadcast
    * join against the ≤|langs| truth totals. */
  private val qLangidEval = BoundQuery("q_langid_eval", (s, d) => {
    val preds = Tables.documents(s, d)
      .select(col("lang"), langId(tokens(col("text"))).as("pred"))
    val cells = preds.groupBy("lang", "pred").agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("lang").agg(sum(col("n")).as("n_truth"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("pred"), col("n"), col("n_truth"),
        expr("(1000000 * n) div n_truth").as("share_ppm"))
      .orderBy("lang", "pred")
  }, Some("""
    WITH t AS (
      SELECT lang,
        CAST(len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS c_en,
        CAST(len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), w -> w IN ('el','la','de','los','y'))) AS BIGINT) AS c_es,
        CAST(len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), w -> w IN ('der','die','das','und','ist'))) AS BIGINT) AS c_de,
        CAST(len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), w -> w IN ('le','les','des','et','une'))) AS BIGINT) AS c_fr
      FROM documents),
    p AS (
      SELECT lang,
        CASE WHEN c_en > 0 AND c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
             WHEN c_es > 0 AND c_es >= c_de AND c_es >= c_fr THEN 'es'
             WHEN c_de > 0 AND c_de >= c_fr THEN 'de'
             WHEN c_fr > 0 THEN 'fr'
             ELSE 'und' END AS pred
      FROM t),
    cells AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
              FROM p GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_truth FROM cells GROUP BY 1)
    SELECT lang, pred, n, n_truth,
      CAST((1000000 * n) // n_truth AS BIGINT) AS share_ppm
    FROM cells JOIN tot USING (lang)
    ORDER BY lang, pred
  """))

  val all: Seq[BoundQuery] = Seq(
    qDedupExact, qFingerprint, qNgramJaccard, qMinhashPairs, qSimhashPairs,
    qTokenCount, qTextStats, qLangid, qCleanPipeline, qImputeDefaults,
    qQualityFilter, qHeavyHitters, qDedupEval, qDedupIncremental, qLangidEval)
}
