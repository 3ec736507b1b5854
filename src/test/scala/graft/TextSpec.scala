package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._
import graft.functions.TextFunctions._
import graft.operators.Dedup

class TextSpec extends AnyFunSuite {

  private lazy val docs = graft.sources.Tables.documents(spark, sfTiny)

  private lazy val exactDupPairs: Set[(Long, Long)] =
    Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet

  test("corpus has planted near-dups and jaccard finds them") {
    assert(exactDupPairs.nonEmpty)
  }

  test("maxShingleDf cap is lossless at the bound threshold on the corpus") {
    // the q_ngram_jaccard / q_containment_pairs parameters exactly
    val uncappedJ = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 5, 0.3)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    val cappedJ = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 5, 0.3,
        maxShingleDf = Some(1000))
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    assert(cappedJ == uncappedJ)
    val uncappedC = Dedup.ngramContainmentPairs(docs, col("doc_id"), col("text"), 5, 0.5)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("containment"))).toMap
    val cappedC = Dedup.ngramContainmentPairs(docs, col("doc_id"), col("text"), 5, 0.5,
        maxShingleDf = Some(1000))
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("containment"))).toMap
    assert(cappedC == uncappedC)
  }

  test("maxShingleDf keeps true scores on a skewed corpus, prunes only all-boilerplate pairs") {
    import spark.implicits._
    // every doc shares the boilerplate prefix (shingle df = n); pairs
    // 1-2 and 3-4 also share rare tails. Docs 5 and 6 are boilerplate-
    // ONLY: their pair shares no sub-cap shingle — the one shape the
    // cap knowingly gives up.
    val boiler = "terms of service apply to all"
    val corpus = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon"),
      (2L, s"$boiler alpha beta gamma delta zeta"),
      (3L, s"$boiler omega psi chi phi upsilon"),
      (4L, s"$boiler omega psi chi phi tau"),
      (5L, boiler),
      (6L, boiler)
    ).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(corpus, col("doc_id"), col("text"), 3, 0.2)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    val capped = Dedup.ngramJaccardPairs(corpus, col("doc_id"), col("text"), 3, 0.2,
        maxShingleDf = Some(4))
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    // pairs that share any sub-cap shingle survive with their TRUE
    // (full-set) jaccard — the cap never distorts a score
    assert(capped.contains((1L, 2L)) && capped.contains((3L, 4L)))
    capped.foreach { case (k, j) => assert(j == uncapped(k), s"pair $k: $j vs ${uncapped(k)}") }
    // the boilerplate-only pair is the documented loss
    assert(uncapped.contains((5L, 6L)) && !capped.contains((5L, 6L)))
  }

  test("arith minhash (oracle-gated family) recalls the exact near-dup pairs") {
    val cand = Dedup.minhashCandidatesArith(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val recall = exactDupPairs.count(cand.contains).toDouble / exactDupPairs.size
    assert(recall >= 0.8, s"arith minhash recall $recall over ${exactDupPairs.size} pairs")
  }

  test("arith minhash estimates 1.0 for identical docs and is deterministic") {
    import spark.implicits._
    val dup = Seq((1L, "alpha beta gamma delta epsilon"),
                  (2L, "alpha beta gamma delta epsilon"),
                  (3L, "totally different words here now")).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatesArith(dup, col("doc_id"), col("text"))
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard_est"))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    val again = Dedup.minhashCandidatesArith(dup, col("doc_id"), col("text"))
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard_est"))).toMap
    assert(pairs == again)
  }

  test("arith simhash signatures spread across all 31 bits (finalizer works)") {
    // without the multiplicative finalizer short-token folds leave the
    // high bits identically zero and prefix blocking degenerates
    val sigs = docs.select(
        graft.expressions.SimHashPoly.simhashPoly(spark, tokens(col("text"))).as("sig"))
      .collect().map(_.getLong(0))
    val highBitsUsed = sigs.map(_ >>> 23).distinct.length
    assert(highBitsUsed > 10, s"only $highBitsUsed distinct 8-bit prefixes — degenerate blocking")
    // identical docs → identical sigs → hamming-0 pair
    val sim = Dedup.simhashPairsArith(docs, col("doc_id"), col("text"), maxHamming = 6)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val recall = exactDupPairs.count(sim.contains).toDouble / exactDupPairs.size
    assert(recall >= 0.3, s"arith simhash recall $recall")
  }

  test("containment dominates jaccard on every shared pair") {
    // |A∩B|/min(|A|,|B|) >= |A∩B|/|A∪B| always; equality iff A ⊆ B or B ⊆ A
    val jac = graft.operators.Dedup
      .ngramJaccardPairs(docs, col("doc_id"), col("text"), 5, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val con = graft.operators.Dedup
      .ngramContainmentPairs(docs, col("doc_id"), col("text"), 5, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac.keySet == con.keySet && jac.nonEmpty)
    jac.foreach { case (k, j) => assert(con(k) >= j - 1e-12, s"pair $k") }
  }

  test("NormalizeString canonicalizes composed/decomposed to one form") {
    import graft.expressions.NormalizeString.normalizeString
    import spark.implicits._
    val composed = "Caf\u00e9"       // e-acute as one codepoint
    val decomposed = "Cafe\u0301"    // e + combining acute
    val df = Seq((1L, composed), (2L, decomposed)).toDF("id", "s")
    val nfc = df.select(normalizeString(spark, col("s"), "NFC").as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(nfc(0) == nfc(1) && nfc(0) == composed)
    // idempotent; registered for SQL; exact dedup now sees ONE document
    graft.expressions.GraftExtensions.registerAll(spark)
    // NB Spark's chr() is ASCII-only (mod 256), unlike DuckDB's —
    // use a \u escape in the SQL literal instead
    val viaSql = spark.sql("SELECT normalize_string('Cafe\\u0301', 'NFC')")
      .collect()(0).getString(0)
    assert(viaSql == composed)
    assert(df.select(normalizeString(spark, col("s"), "NFC").as("n"))
      .distinct().count() == 1)
  }

  test("rolling fingerprint equals a reference implementation") {
    val got = docs.limit(5).select(col("text"), rollingFingerprint(col("text")).as("fp"))
      .collect()
    got.foreach { r =>
      val expected = r.getAs[String]("text").foldLeft(0L)((a, c) =>
        (a * 31 + c.toInt) % 1000000007L)
      assert(r.getAs[Long]("fp") == expected)
    }
  }

  test("wordShingles guards short docs (no descending sequence)") {
    val df = spark.range(1).select(wordShingles(lit("a b"), 3).as("sh"),
      wordShingles(lit("a b c d"), 3).as("sh2"))
    val r = df.collect()(0)
    assert(r.getSeq[String](0).isEmpty)
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
  }
}
