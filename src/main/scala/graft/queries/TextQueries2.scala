package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions._
import graft.operators.{ConnectedComponents, Dedup}

/** Second text/dedup wave: TF-IDF term scoring, edit-distance blocked
  * pairs, and near-dup CLUSTERS (the transitive closure the pair
  * queries stop short of). */
object TextQueries2 {

  /** TF-IDF top-5 terms per document. Ranking deliberately orders by
    * the exact integers (tf desc, df asc, term) — never by the float
    * score — so row selection is engine-exact; the score itself is
    * emitted rounded. N-docs is a 1-row broadcast, not a collect. */
  private val qTfidf = BoundQuery("q_tfidf", (s, d) => {
    val toks = Tables.documents(s, d).where(col("doc_id") < 200)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(df_, "term").crossJoin(broadcast(nd))
      .withColumn("score",
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "term")
  }, Some("""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS term
      FROM documents WHERE doc_id < 200),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    scored AS (
      SELECT doc_id, term, tf, df,
        round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE)/CAST(df AS DOUBLE)), 6) AS score,
        row_number() OVER (PARTITION BY doc_id
                           ORDER BY tf DESC, df ASC, term ASC) AS rn
      FROM tf JOIN dfq USING (term) CROSS JOIN nd)
    SELECT doc_id, term, tf, df, score FROM scored WHERE rn <= 5
    ORDER BY doc_id, term
  """))

  /** Edit-distance near-dup pairs within brand, dist <= 3, via
    * operators.EditDistance (PassJoin segment blocking + banded
    * levenshtein verify). The brand key stays as query SEMANTICS, not
    * as the scale mechanism: a constant-cardinality block makes block
    * size grow linearly with data and the within-block self-join
    * quadratic — the sf1 smoke measured the old brand-blocked form at
    * ~800M levenshtein calls; segment blocking keeps candidates at
    * aligned-substring-match density. */
  private val qLevenshteinPairs = BoundQuery("q_levenshtein_pairs", (s, d) => {
    graft.operators.EditDistance.editDistancePairs(
      Tables.part(s, d), col("p_partkey"), col("p_name"), maxDist = 3,
      blockCol = Some(col("p_brand")))
      .orderBy("id_a", "id_b")
  }, Some("""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY id_a, id_b
  """))

  /** Near-dup CLUSTERS: exact-jaccard pairs (same config as
    * q_ngram_jaccard) closed under transitivity by
    * ConnectedComponents.labelPropagation; cluster id = min doc id,
    * which is also the kept canonical. Oracle: DuckDB recursive CTE
    * reachability over the identical pair set. */
  private val qDedupClusters = BoundQuery("q_dedup_clusters", (s, d) => {
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, d),
      col("doc_id"), col("text"), shingleSize = 5, minJaccard = 0.3,
      maxShingleDf = Some(1000))
    ConnectedComponents.labelPropagation(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("is_canonical"))
      .orderBy("doc_id")
  }, Some("""
    WITH RECURSIVE pairs AS (
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
      SELECT id_a, id_b
      FROM shared JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(shared AS DOUBLE)/CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.3),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b)
    SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id,
           (id = min(r)) AS is_canonical
    FROM reach GROUP BY id ORDER BY doc_id
  """))

  /** Per-source document cap: keep at most 15 docs per source,
    * selected by hash order (md5 of content + id tiebreak) — the
    * standard "no domain dominates the corpus" rebalancing op. Hash
    * order makes the KEPT SET deterministic and engine-portable,
    * unlike any sample()-based cap. */
  private val qCapPerSource = BoundQuery("q_cap_per_source", (s, d) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("text")), col("doc_id"))
    Tables.documents(s, d).withColumn("rn", row_number().over(w))
      .where(col("rn") <= 15)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }, Some("""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
      FROM documents) WHERE rn <= 15 ORDER BY doc_id
  """))

  /** The dedup pipeline end-to-end: near-dup pairs → clusters → keep
    * the highest-quality doc per cluster (rounded quality + doc-id
    * tiebreak, so rank order is float-noise-proof). This is the
    * operation a training-data pipeline actually runs; the pair/
    * cluster queries are its observable stages. */
  private val qDedupKeepBest = BoundQuery("q_dedup_keep_best", (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      shingleSize = 5, minJaccard = 0.3, maxShingleDf = Some(1000))
    val cc = ConnectedComponents.labelPropagation(pairs, "id_a", "id_b")
    val scored = docs.join(cc, docs("doc_id") === cc("id"))
      .select(col("doc_id"), col("component").as("cluster_id"),
        round(graft.functions.TextFunctions.qualityScore(col("text")), 9).as("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(w))
      .select(col("cluster_id"), col("doc_id"), col("quality"),
        (col("rn") === 1).as("keep"))
      .orderBy("cluster_id", "doc_id")
  }, Some("""
    WITH RECURSIVE pairs AS (
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
      SELECT id_a, id_b
      FROM shared JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(shared AS DOUBLE)/CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.3),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
    cc AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
           FROM reach GROUP BY id),
    q AS (
      SELECT doc_id,
        round(0.5 * least(CAST(len(toks) AS BIGINT)::DOUBLE / 100.0, 1.0)
          + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT)::DOUBLE
                          / CAST(length(text) AS DOUBLE))
          + 0.2 * least(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS BIGINT)::DOUBLE
                          / CAST(len(toks) AS DOUBLE) * 5.0, 1.0), 9) AS quality
      FROM (SELECT doc_id, text,
              list_filter(string_split(text,' '), x -> x <> '') AS toks
            FROM documents)),
    scored AS (SELECT cc.doc_id AS doc_id, cluster_id, quality
               FROM cc JOIN q ON cc.doc_id = q.doc_id),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                            ORDER BY quality DESC, doc_id) AS rn
               FROM scored)
    SELECT cluster_id, doc_id, quality, (rn = 1) AS keep
    FROM ranked ORDER BY cluster_id, doc_id
  """))

  /** Unicode canonicalization (expressions.NormalizeString): a
    * decomposed-form prefix ("Cafe" + combining acute, "o" + combining
    * diaeresis) is prepended to each doc, NFC-normalized and
    * accent-stripped. Composed-vs-decomposed is invisible to the eye
    * but breaks md5 dedup — canonicalize-first is the fix; the oracle
    * is DuckDB's native nfc_normalize / strip_accents. */
  private val qNormalize = BoundQuery("q_normalize", (s, d) => {
    import graft.expressions.NormalizeString.normalizeString
    // "Cafe" U+0301 " " U+00C5 "ngstro" U+0308 "m " — decomposed é/ö, composed Å
    val raw = concat(lit("Cafe\u0301 \u00C5ngstro\u0308m "), substring(col("text"), 1, 20))
    val nfc = normalizeString(s, raw, "NFC")
    val stripped = regexp_replace(normalizeString(s, raw, "NFD"), "\\p{Mn}", "")
    Tables.documents(s, d).select(
      col("doc_id"),
      nfc.as("nfc"),
      stripped.as("stripped"),
      length(raw).cast("long").as("len_raw"),
      length(nfc).cast("long").as("len_nfc"))
      .orderBy("doc_id")
  }, Some("""
    WITH t AS (
      SELECT doc_id,
        'Cafe' || chr(769) || ' ' || chr(197) || 'ngstro' || chr(776) || 'm ' ||
          substring(text, 1, 20) AS raw
      FROM documents)
    SELECT doc_id, nfc_normalize(raw) AS nfc, strip_accents(raw) AS stripped,
           CAST(length(raw) AS BIGINT) AS len_raw,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc
    FROM t ORDER BY doc_id
  """))

  /** Deterministic train/val/test split: md5-prefix ranges give a
    * reproducible ~80/10/10 partition of the corpus — stable under
    * re-runs, engine changes, and data re-ordering, which no random
    * split is. Per-split counts + char totals as the check. */
  private val qTrainSplit = BoundQuery("q_train_split", (s, d) => {
    val h = substring(md5(col("text")), 1, 2)
    Tables.documents(s, d)
      .withColumn("split",
        when(h < "cc", "train").when(h < "e6", "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy("split")
  }, Some("""
    SELECT CASE WHEN substr(md5(text),1,2) < 'cc' THEN 'train'
                WHEN substr(md5(text),1,2) < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM documents GROUP BY 1 ORDER BY split
  """))

  /** Vocabulary induction: corpus token frequencies ranked into
    * contiguous ids (freq desc, token asc) with a min-count floor —
    * the relational core of tokenizer training. Ids come from
    * operators.Ranking.globalRowNumber (range-partition + local rank +
    * offset), not a bare ORDER BY window: a web-scale vocabulary is
    * 10⁷–10⁸ rows, which a single-partition WindowExec would funnel
    * through one task. */
  private val qVocab = BoundQuery("q_vocab", (s, d) => {
    val tf = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .where(col("freq") >= 5)
    graft.operators.Ranking.globalRowNumber(tf, "vocab_id",
        col("freq").desc, col("token").asc)
      .orderBy("vocab_id")
  }, Some("""
    WITH tf AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS token
            FROM documents)
      GROUP BY token HAVING count(*) >= 5)
    SELECT token, freq,
           CAST(row_number() OVER (ORDER BY freq DESC, token ASC) AS BIGINT) - 1 AS vocab_id
    FROM tf ORDER BY vocab_id
  """))

  /** Count-min frequency estimates (Spark's `countMinSketch`, built in
    * one aggregation pass) for the exact top-20 words, probed on the
    * driver. Width 1<<14 >> the corpus vocabulary, so collisions vanish
    * and the estimates are exact here — the oracle simply repeats the
    * exact count; BloomSpec pins the never-undercount and
    * bounded-overcount guarantees under tight widths where collisions
    * do happen. */
  private val qCmsWords = BoundQuery("q_cms_words", (s, d) => {
    val words = Tables.documents(s, d).select(explode(tokens(col("text"))).as("word"))
    val sketch = words.stat.countMinSketch(col("word"), 4, 1 << 14, 42)
    val top = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20).collect()
      .map(r => (r.getString(0), r.getLong(1), sketch.estimateCount(r.getString(0))))
    import s.implicits._
    top.toSeq.toDF("word", "cnt", "est").orderBy("word")
  }, Some("""
    SELECT word, cnt, cnt AS est FROM (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS word
            FROM documents)
      GROUP BY word ORDER BY cnt DESC, word LIMIT 20)
    ORDER BY word
  """))

  /** Corpus-trained bigram language-model scoring — the LM-based
    * quality signal (CCNet/Gopher-style perplexity filtering) of a
    * training-data pipeline: train add-one-smoothed bigram
    * probabilities on the corpus itself, score every document by its
    * mean token-transition log-probability. Two count aggregations
    * (bigram, preceding-unigram) + one broadcastable vocab scalar +
    * one join back to the exploded bigrams — no model state outside
    * the data. Determinism: each ln-term rounds to integer micro-nats
    * BEFORE the per-doc sum, so the aggregation is exact long
    * arithmetic in any order on any engine (the cents-integer rule of
    * Num.scala applied to log space). */
  /** Per-doc corpus-LM totals (doc_id, n_bigrams, sum_u) — the shared
    * scoring core of q_bigram_lm and q_ppl_buckets. */
  private[queries] def bigramLmTerms(s: org.apache.spark.sql.SparkSession,
                                     d: String) = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
    val bigrams = docs.select(col("doc_id"),
        explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = bigrams.agg(countDistinct(col("w2")).as("v"))
    bigrams
      .join(c12, Seq("w1", "w2")).join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .withColumn("nats_u",
        round(log((col("c12") + 1).cast("double") / (col("c1") + col("v")).cast("double")) * 1e6, 0)
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nats_u")).as("sum_u"))
  }

  /** DuckDB twin of bigramLmTerms as a reusable CTE block; yields a
    * relation named `lmterms`(doc_id, n_bigrams, sum_u). */
  private[queries] val bigramLmTermsSql = """
    docs AS (
      SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
      FROM documents),
    bigrams AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
            FROM docs WHERE len(toks) >= 2)),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bigrams GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bigrams GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM bigrams),
    terms AS (
      SELECT doc_id,
        CAST(round(ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS nats_u
      FROM bigrams JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
    lmterms AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(nats_u) AS BIGINT) AS sum_u
      FROM terms GROUP BY doc_id)"""

  private val qBigramLm = BoundQuery("q_bigram_lm", (s, d) => {
    bigramLmTerms(s, d)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_u").cast("double") / col("n_bigrams").cast("double") / 1e6, 6)
          .as("avg_logprob"))
      .orderBy("doc_id")
  }, Some(s"""
    WITH $bigramLmTermsSql
    SELECT doc_id, n_bigrams,
           round(CAST(sum_u AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1e6, 6) AS avg_logprob
    FROM lmterms ORDER BY doc_id
  """))

  /** Sequence packing for pretraining: concatenate the corpus in
    * deterministic doc order and cut every `ctx` tokens (the packed-
    * sequences shape), emitting one row per (bin, document span) with
    * the token count the document contributes to that bin — the
    * batch-assembly table a trainer's data loader consumes. The
    * global token offset comes from Ranking.globalCumSum (two-phase,
    * scale-safe), never an unpartitioned window; a document spanning
    * a cut contributes rows to both bins. */
  private val qPackSequences = BoundQuery("q_pack_sequences", (s, d) => {
    val ctx = 256L
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .where(col("n_tok") > 0)
    graft.operators.Ranking.globalCumSum(docs, col("n_tok"), "cum", col("doc_id").asc)
      .withColumn("start", col("cum") - col("n_tok"))
      .withColumn("bin", explode(sequence(
        floor(col("start") / ctx).cast("long"),
        floor((col("cum") - 1) / ctx).cast("long"))))
      .select(col("bin"), col("doc_id"),
        (least(col("cum"), (col("bin") + 1) * ctx) -
         greatest(col("start"), col("bin") * ctx)).as("n_tok_in_bin"))
      .orderBy("bin", "doc_id")
  }, Some("""
    WITH docs AS (
      SELECT doc_id,
        CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
      WHERE len(list_filter(string_split(text,' '), x -> x <> '')) > 0),
    cums AS (
      SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM docs),
    spans AS (
      SELECT doc_id, n_tok, cum, cum - n_tok AS start,
             unnest(range(CAST(floor((cum - n_tok) / 256) AS BIGINT),
                          CAST(floor((cum - 1) / 256) AS BIGINT) + 1)) AS bin
      FROM cums)
    SELECT bin, doc_id,
           CAST(least(cum, (bin + 1) * 256) - greatest(start, bin * 256) AS BIGINT)
             AS n_tok_in_bin
    FROM spans ORDER BY bin, doc_id
  """))

  /** Document chunking: fixed-size token windows with overlap (stride
    * < window), the long-document splitter feeding context-bounded
    * training examples; emits provenance (doc, chunk index, token
    * range) plus the chunk's first/last token for spot checks. Pure
    * per-row sequence arithmetic — embarrassingly parallel, no
    * shuffle at all beyond the scan. */
  private val qChunkDocs = BoundQuery("q_chunk_docs", (s, d) => {
    val (win, stride) = (40L, 32L)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .where(col("n") > 0)
    docs
      .withColumn("chunk_idx", explode(sequence(lit(0L),
        greatest(ceil((col("n") - win).cast("double") / stride).cast("long"), lit(0L)))))
      .withColumn("start", col("chunk_idx") * stride)
      .where(col("start") < col("n")) // stride tail guard
      .select(col("doc_id"), col("chunk_idx"),
        (least(col("start") + win, col("n")) - col("start")).as("chunk_len"),
        element_at(col("toks"), (col("start") + 1).cast("int")).as("first_tok"),
        element_at(col("toks"),
          least(col("start") + win, col("n")).cast("int")).as("last_tok"))
      .orderBy("doc_id", "chunk_idx")
  }, Some("""
    WITH docs AS (
      SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
      FROM documents),
    sized AS (
      SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM docs WHERE len(toks) > 0),
    chunks AS (
      SELECT doc_id, toks, n,
             unnest(range(0, greatest(CAST(ceil(CAST(n - 40 AS DOUBLE) / 32) AS BIGINT), 0) + 1)) AS chunk_idx
      FROM sized)
    SELECT doc_id, chunk_idx,
           least(chunk_idx * 32 + 40, n) - chunk_idx * 32 AS chunk_len,
           toks[chunk_idx * 32 + 1] AS first_tok,
           toks[least(chunk_idx * 32 + 40, n)] AS last_tok
    FROM chunks
    WHERE chunk_idx * 32 < n
    ORDER BY doc_id, chunk_idx
  """))

  /** BPE tokenizer training (ml.BpeTrainer): the first 12 byte-pair
    * merges over the corpus, with weighted pair counts. FULL ORACLE:
    * each merge rewrites the tokenization the next iteration counts,
    * and DuckDB unrolls exactly that recurrence — per-iteration pair
    * counts, total-order argmax, and the leftmost non-overlapping
    * merge application expressed as run-parity window logic
    * (DuckBpeSql); BpeSpec additionally pins the merge sequence
    * against an independent reference implementation. */
  private val qBpeMerges = BoundQuery("q_bpe_merges", (s, d) => {
    graft.ml.BpeTrainer.mergesDF(Tables.documents(s, d), col("text"), numMerges = 12)
      .orderBy("rank")
  }, Some(DuckBpeSql.mergesSql(numMerges = 12)))

  /** Containment near-dup pairs (Dedup.ngramContainmentPairs): the
    * subset-duplication detector jaccard under-scores. The
    * maxShingleDf skew cap is bound (sized per the q_ngram_jaccard
    * note: above the real df tail incl. the sf1 smoke's ~40, far
    * below boilerplate scale); capped candidates re-verify against
    * full shingle sets. */
  /** Dedup IMPACT REPORT — the before-you-run-it readout every
    * curation pipeline wants from exact dedup: the cluster-size
    * histogram (size s → how many duplicate classes, docs removed
    * under keep-first = (s−1) per class, bytes removed from exact
    * n_chars sums of the non-kept members). Exact-dup classes ARE
    * the text hash groups, so this is one digest-keyed partial agg
    * plus a window min — same 16-byte shuffle key as q_dedup_exact,
    * no pairwise anything. */
  private val qDedupReport = BoundQuery("q_dedup_report", (s, d) => {
    val docs = Tables.documents(s, d)
      .select(md5(col("text")).as("h"), col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("h").orderBy("doc_id")
    val classes = docs
      .withColumn("rn", row_number().over(w))
      .groupBy("h")
      .agg(count(lit(1)).as("sz"),
        sum(when(col("rn") > 1, col("n_chars")).otherwise(0L))
          .as("bytes_removed"))
    classes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        ((col("sz") - 1) * count(lit(1))).as("docs_removed"),
        sum("bytes_removed").as("chars_removed"))
      .orderBy("cluster_size")
  }, Some("""
    WITH docs AS (
      SELECT md5(text) AS h, doc_id, n_chars,
        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents),
    classes AS (
      SELECT h, CAST(count(*) AS BIGINT) AS sz,
        CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
          AS bytes_removed
      FROM docs GROUP BY h)
    SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
      CAST((sz - 1) * count(*) AS BIGINT) AS docs_removed,
      CAST(sum(bytes_removed) AS BIGINT) AS chars_removed
    FROM classes GROUP BY sz ORDER BY cluster_size
  """))

  /** SPLIT LEAKAGE: what fraction of the test split's distinct
    * 8-grams already appear in train — the gram-level contamination
    * q_train_split's doc-level hash split cannot see (two different
    * docs sharing a template leak n-grams across the split even
    * though no DOC crosses it). Same md5 split rule as
    * q_train_split; distinct gram sets per side; coverage ppm from
    * exact counts via one gram-keyed join (the shuffle is
    * gram-hashed, never doc×doc). High leakage says held-out
    * perplexity will flatter the model. */
  private val qSplitLeakage = BoundQuery("q_split_leakage", (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("split",
        when(substring(md5(col("text")), 1, 2) < "cc", "train")
          .when(substring(md5(col("text")), 1, 2) < "e6", "val")
          .otherwise("test"))
    val grams = docs
      .select(col("split"),
        explode(graft.functions.TextFunctions.wordShingles(col("text"), 8))
          .as("g"))
      .distinct()
    val train = grams.where(col("split") === "train").select("g")
    val other = grams.where(col("split") =!= "train")
    val leaked = other.join(train, Seq("g"), "left_semi")
      .groupBy("split").agg(count(lit(1)).as("n_leaked"))
    other.groupBy("split").agg(count(lit(1)).as("n_grams"))
      .join(leaked, Seq("split"), "left")
      .select(col("split"), col("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        expr("(coalesce(n_leaked, 0) * 1000000) div n_grams")
          .as("leakage_ppm"))
      .orderBy("split")
  }, Some("""
    WITH docs AS (
      SELECT CASE WHEN substr(md5(text),1,2) < 'cc' THEN 'train'
                  WHEN substr(md5(text),1,2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split,
        list_filter(string_split(text,' '), x -> x <> '') AS w
      FROM documents),
    grams AS (
      SELECT DISTINCT split, g FROM (
        SELECT split,
          unnest(list_transform(range(1, greatest(len(w)-6, 1)),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
               || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS g
        FROM docs WHERE len(w) >= 8)),
    train AS (SELECT g FROM grams WHERE split = 'train'),
    other AS (SELECT split, g FROM grams WHERE split <> 'train'),
    leaked AS (
      SELECT o.split, CAST(count(*) AS BIGINT) AS n_leaked
      FROM other o WHERE EXISTS (SELECT 1 FROM train t WHERE t.g = o.g)
      GROUP BY o.split),
    tot AS (SELECT split, CAST(count(*) AS BIGINT) AS n_grams
            FROM other GROUP BY split)
    SELECT tot.split, n_grams,
      CAST(COALESCE(n_leaked, 0) AS BIGINT) AS n_leaked,
      CAST((COALESCE(n_leaked, 0) * 1000000) // n_grams AS BIGINT)
        AS leakage_ppm
    FROM tot LEFT JOIN leaked ON leaked.split = tot.split
    ORDER BY tot.split
  """))

  /** Per-source duplicate TOKEN INFLATION: how many of each source's
    * tokens are re-counted copies — total tokens vs tokens surviving
    * exact keep-first dedup, and the inflation in ppm. The
    * source-level budget view of q_dedup_report (a source can look
    * token-rich while 30% of it is one press release repeated).
    * Digest window + one partial agg; token counts ride the same
    * shuffle. */
  private val qDupInflation = BoundQuery("q_dup_inflation", (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_toks"),
        md5(col("text")).as("h"))
    val w = Window.partitionBy("h").orderBy("doc_id")
    docs.withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("tokens_total"),
        sum(when(col("rn") === 1, col("n_toks")).otherwise(0L))
          .as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("tokens_total"),
        col("tokens_kept"),
        expr("((tokens_total - tokens_kept) * 1000000) div tokens_total")
          .as("inflation_ppm"))
      .orderBy("source")
  }, Some("""
    WITH docs AS (
      SELECT source, doc_id,
        CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT)
          AS n_toks,
        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_toks) AS BIGINT) AS tokens_total,
      CAST(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END) AS BIGINT)
        AS tokens_kept,
      CAST(((sum(n_toks) - sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END))
            * 1000000) // sum(n_toks) AS BIGINT) AS inflation_ppm
    FROM docs GROUP BY source ORDER BY source
  """))

  /** Cross-source exact-duplicate matrix — WHO mirrors WHOM: pairs of
    * identical texts landing under different sources, counted per
    * (source_a, source_b) with source names ordered inside the pair.
    * The q_dedup_report sibling that turns "how much is duplicated"
    * into "between which feeds" — the table that decides which source
    * to drop. Digest-keyed self-join inside hash classes only (never
    * corpus×corpus); class sizes are exact-dup-bounded. */
  private val qSourceDupMatrix = BoundQuery("q_source_dup_matrix", (s, d) => {
    val docs = Tables.documents(s, d)
      .select(md5(col("text")).as("h"), col("doc_id"), col("source"))
    docs.as("a").join(docs.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
        col("a.source") =!= col("b.source"))
      .select(least(col("a.source"), col("b.source")).as("source_a"),
        greatest(col("a.source"), col("b.source")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy(desc("n_dup_pairs"), col("source_a"), col("source_b"))
  }, Some("""
    WITH docs AS (SELECT md5(text) AS h, doc_id, source FROM documents)
    SELECT least(a.source, b.source) AS source_a,
           greatest(a.source, b.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM docs a JOIN docs b
      ON a.h = b.h AND a.doc_id < b.doc_id AND a.source <> b.source
    GROUP BY 1, 2
    ORDER BY n_dup_pairs DESC, source_a, source_b
  """))

  private val qContainmentPairs = BoundQuery("q_containment_pairs", (s, d) => {
    Dedup.ngramContainmentPairs(Tables.documents(s, d), col("doc_id"), col("text"),
      shingleSize = 5, minContainment = 0.5, maxShingleDf = Some(1000))
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
      CAST(shared AS DOUBLE)/CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
    FROM shared JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(shared AS DOUBLE)/CAST(least(sa.n, sb.n) AS DOUBLE) >= 0.5
    ORDER BY id_a, id_b
  """))

  /** Dedup threshold sweep: how many near-dup pairs — and how many
    * documents a keep-first policy would drop — at jaccard cuts
    * 0.5…0.9, all from ONE pass of the shingle-blocked exact-jaccard
    * join (Dedup.ngramJaccardPairs at the lowest cut; higher cuts are
    * conditional aggregates over the same pair table). The knob curve
    * a curator reads before fixing the production threshold: the
    * elbow is where boilerplate stops and true dups start. */
  private val qDupThresholdSweep = BoundQuery("q_dup_threshold_sweep", (s, d) => {
    val pairs = graft.util.CacheScope.persist(
      graft.operators.Dedup.ngramJaccardPairs(
        Tables.documents(s, d), col("doc_id"), col("text"),
        shingleSize = 5, minJaccard = 0.5, maxShingleDf = Some(1000)))
    val cuts = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    pairs.crossJoin(
        broadcast(s.createDataFrame(cuts.map(Tuple1(_))).toDF("cut")))
      .where(col("jaccard") >= col("cut"))
      .groupBy("cut")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("docs_dropped"))
      .orderBy("cut")
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
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b,
        CAST(shared AS DOUBLE)/CAST(sa.n + sb.n - shared AS DOUBLE) AS jaccard
      FROM shared JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(shared AS DOUBLE)/CAST(sa.n + sb.n - shared AS DOUBLE) >= 0.5)
    SELECT cut, CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(count(DISTINCT id_b) AS BIGINT) AS docs_dropped
    FROM pairs CROSS JOIN (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS cut)
    WHERE jaccard >= cut
    GROUP BY cut ORDER BY cut
  """))

  /** Duplication growth curve: the exact-duplicate ratio on the
    * first 25/50/75/100% of the corpus (doc_id order — ingestion
    * order in this fixture). Deduplication is superlinear in corpus
    * size on real crawls (every new shard collides with everything
    * before it); this measures that growth so capacity planning can
    * extrapolate. Quartile id thresholds are exact integers from
    * min/max; each prefix reports docs, distinct digests, and the
    * dup ratio in ppm — fully integer, one digest-grain aggregate
    * per prefix over a shared broadcast threshold table. */
  private val qDupGrowth = BoundQuery("q_dup_growth", (s, d) => {
    val docs = graft.util.CacheScope.persist(
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h")))
    val bounds = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val qs = s.range(1, 5).select(col("id").as("q"))
    val thr = broadcast(bounds.crossJoin(qs)
      .select(col("q"), expr("lo + ((hi - lo + 1) * q) div 4").as("cut")))
    docs.crossJoin(thr)
      .where(col("doc_id") < col("cut"))
      .groupBy(col("q"), col("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy("q")
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_distinct"),
        sum(col("c") - 1).as("n_dups"))
      .select((col("q") * 25).cast("long").as("prefix_pct"),
        col("n_docs"), col("n_distinct"),
        expr("(1000000 * n_dups) div n_docs").as("dup_ppm"))
      .orderBy("prefix_pct")
  }, Some("""
    WITH docs AS (SELECT doc_id, md5(text) AS h FROM documents),
    bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM docs),
    thr AS (
      SELECT q, lo + ((hi - lo + 1) * q) // 4 AS cut
      FROM bounds CROSS JOIN (SELECT unnest(range(1, 5)) AS q)),
    pre AS (
      SELECT q, h, CAST(count(*) AS BIGINT) AS c
      FROM docs JOIN thr ON doc_id < cut
      GROUP BY 1, 2),
    g AS (
      SELECT q, CAST(sum(c) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(sum(c - 1) AS BIGINT) AS n_dups
      FROM pre GROUP BY 1)
    SELECT CAST(q * 25 AS BIGINT) AS prefix_pct, n_docs, n_distinct,
      (1000000 * n_dups) // n_docs AS dup_ppm
    FROM g ORDER BY prefix_pct
  """))

  val all: Seq[BoundQuery] =
    Seq(qTfidf, qLevenshteinPairs, qDedupClusters, qCapPerSource,
      qDedupKeepBest, qNormalize, qTrainSplit, qVocab, qCmsWords,
      qBigramLm, qBpeMerges, qPackSequences, qChunkDocs, qContainmentPairs,
      qDedupReport, qSourceDupMatrix, qDupInflation, qSplitLeakage,
      qDupThresholdSweep, qDupGrowth)
}
