package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for training-data pipelines
  * (SURVEY §2.4). Everything is Column-composed `functions._` — no
  * UDFs — so Catalyst keeps whole-stage codegen through the hot path
  * and every value is deterministic across partitionings (and against
  * the DuckDB oracle, whose SQL mirrors these expressions 1:1).
  */
object TextFunctions {

  /** Whitespace tokens, empties removed (mirrors DuckDB
    * `list_filter(string_split(text,' '), w -> w <> '')`). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** BPE-ish subword split: letter runs, digit runs, single
    * punctuation — the shape of a byte-pair tokenizer's pre-tokenizer. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Composite quality score in [0,1]: length credit + punctuation
    * penalty + stopword-density credit (the q_text_stats formula,
    * factored for reuse). All ratios are int/int single divisions —
    * deterministic across engines. Callers must guard empty-token
    * docs (the stopword ratio divides by token count). */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("long")
    val nPunct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")
    val nStop = stopwordCount(toks, "en").cast("long")
    val punctRatio = nPunct.cast("double") / length(text).cast("double")
    val stopRatio = nStop.cast("double") / nTok.cast("double")
    lit(0.5) * least(nTok.cast("double") / lit(100.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - punctRatio) +
      lit(0.2) * least(stopRatio * lit(5.0), lit(1.0))
  }

  /** Contiguous n-word shingles ("a b c" strings). Guarded: Spark's
    * `sequence(1, k)` counts DOWN for k<1, so short docs get []. */
  def wordShingles(text: Column, n: Int): Column = {
    val w = tokens(text)
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(w) - (n - 1)),
        i => array_join(slice(w, i, lit(n)), " ")))
  }

  /** Hashed n-word shingles: one long per shingle position with the
    * same distinct-set structure as string shingles (modulo ~2^-64
    * collisions) at a fraction of the cost. Delegates to the custom
    * Catalyst expression graft.expressions.ShingleHash64 — see its
    * Scaladoc for why the HOF formulation loses. */
  def shingleHashes(spark: org.apache.spark.sql.SparkSession, text: Column, n: Int): Column =
    graft.expressions.ShingleHash64.shingleHash64(spark, tokens(text), n)

  /** Polynomial rolling-hash fingerprint: fold (acc*31 + ascii(ch))
    * mod 1e9+7 over the characters. Mirrors DuckDB
    * `list_reduce(list_prepend(0, codes), (a,b) -> (a*31+b) % 1000000007)`. */
  def rollingFingerprint(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, ch) => pmod(acc * lit(31L) + ascii(ch), lit(1000000007L)))

  private val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "los", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "une"))

  /** Count of tokens matching a language's stopword profile. */
  def stopwordCount(toks: Column, lang: String): Column = {
    val words = StopwordProfiles.toMap.apply(lang)
    size(filter(toks, t => t.isin(words.map(lit): _*)))
  }

  /** Marker-stopword language-ID heuristic (reference-class n-gram
    * profiling, reduced to word unigrams — the synthetic corpus has no
    * language-specific character distributions to profile). Ties break
    * by profile priority order; no hits → 'und'. */
  def langId(toks: Column): Column = {
    val c = StopwordProfiles.map { case (l, _) => l -> stopwordCount(toks, l) }.toMap
    when(c("en") > 0 && c("en") >= c("es") && c("en") >= c("de") && c("en") >= c("fr"), lit("en"))
      .when(c("es") > 0 && c("es") >= c("de") && c("es") >= c("fr"), lit("es"))
      .when(c("de") > 0 && c("de") >= c("fr"), lit("de"))
      .when(c("fr") > 0, lit("fr"))
      .otherwise(lit("und"))
  }
}
