package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication family for training-data pipelines (SURVEY §2.4).
  *
  * Exact dedup groups on a digest of the content, near-dup variants
  * all follow the same scale shape: derive a compact per-doc signal
  * (shingle set / minhash signature / simhash), BLOCK on something
  * shared by near-dups (band key, simhash band, shingle), join
  * within blocks only, then verify candidates exactly. Shuffles are
  * O(docs x small-factor); the quadratic all-pairs comparison never
  * materializes.
  */
object Dedup {

  /** Keep the first row (by tiebreak) of each exact-duplicate class.
    * Partitions by a 128-bit digest of the content, not the content
    * itself — at 100 TB the shuffle key stays 16 bytes however wide
    * the document is. Reference analogue: data_cleaner.py:84
    * `df.dropDuplicates()`. */
  def exactKeepFirst(df: DataFrame, contentCol: Column, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(md5(contentCol)).orderBy(tiebreak)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Affine-permutation constants (a_j, b_j) for the arithmetic
    * minhash family h_j(x) = (a_j·x + b_j) mod P over P = 1e9+7 —
    * a_j odd (a bijection mod the prime), b_j a golden-ratio stride.
    * Exposed so the DuckDB oracle twin embeds the SAME constants. */
  val MinhashPrime = 1000000007L
  def minhashPermConsts(k: Int): Seq[(Long, Long)] = {
    val phi = -7046029254386353131L
    (0 until k).map(j => (2L * j + 1, math.floorMod(phi * (j + 1), MinhashPrime)))
  }

  /** MinHash+LSH candidates with a FULLY ORACLE-REPLICABLE hash
    * family: shingle base hash = polynomial rolling hash of the
    * shingle string (TextFunctions.rollingFingerprint — chars folded
    * (acc·31 + code) mod 1e9+7), permutations = minhashPermConsts
    * affine maps, band key = the same polynomial fold (base 1048573)
    * over the band's signature slice. Every step is integer
    * arithmetic a SQL engine can replay term-for-term, so the
    * estimates hash-match a DuckDB oracle. LSH scale shape:
    * O(docs × bands) blocking join, candidates distinct-ed before the
    * signature compare, never O(docs²). */
  /** The arithmetic-family minhash signature table (id, sig) —
    * persisted, since callers feed it to both the band join and the
    * verification join. */
  private def arithSignatures(df: DataFrame, idCol: Column, textCol: Column,
                              shingleSize: Int, k: Int): DataFrame = {
    val P = MinhashPrime
    // Spread first: the per-char rolling-hash fold below is the
    // pipeline's dominant cost and must not inherit a file-bound
    // single partition (util.Spread doc — the measured 1-core case)
    val docs = graft.util.Spread(df).select(idCol.as("id"),
        array_distinct(wordShingles(textCol, shingleSize)).as("shg"))
      .where(size(col("shg")) > 0)
      .withColumn("hs", transform(col("shg"), s => rollingFingerprint(s)))
    graft.util.CacheScope.persist(docs.select(col("id"),
      array(minhashPermConsts(k).map { case (a, b) =>
        array_min(transform(col("hs"), x => pmod(lit(a) * x + lit(b), lit(P))))
      }: _*).as("sig")))
  }

  private def bandKeysOf(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("id"),
        explode(array((0 until bands).map { bi =>
          struct(lit(bi).as("band"),
            aggregate(slice(col("sig"), bi * rowsPerBand + 1, rowsPerBand), lit(0L),
              (acc, v) => pmod(acc * lit(1048573L) + v, lit(MinhashPrime))).as("bkey"))
        }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))

  /** The (id, band, bkey) LSH banding table of the arithmetic family,
    * exposed for band-occupancy diagnostics (q_minhash_band_stats) —
    * same hash constants as minhashCandidatesArith, so its bucket
    * statistics describe exactly the join that pipeline would run. */
  def arithBandKeys(df: DataFrame, idCol: Column, textCol: Column,
                    shingleSize: Int, bands: Int, rowsPerBand: Int): DataFrame =
    bandKeysOf(arithSignatures(df, idCol, textCol, shingleSize,
      bands * rowsPerBand), bands, rowsPerBand)

  def minhashCandidatesArith(df: DataFrame, idCol: Column, textCol: Column,
                             shingleSize: Int = 3, bands: Int = 8,
                             rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    val sig = arithSignatures(df, idCol, textCol, shingleSize, k)
    val bandKeys = bandKeysOf(sig, bands, rowsPerBand)
    val cand = bandKeys.as("a").join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(sig.select(col("id").as("id_a"), col("sig").as("siga")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sigb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (graft.expressions.AgreeCount.agreeCount(col("siga"), col("sigb"))
          .cast("double") / lit(k.toDouble)).as("jaccard_est"))
  }

  /** Exact n-gram Jaccard similarity join: block by shared shingle,
    * count shared distinct shingles per pair, jaccard =
    * |A∩B| / (|A|+|B|-|A∩B|) from exact ints.
    *
    * `maxShingleDf` is the skew guard at scale: a shingle appearing in
    * m docs costs m² candidate rows, and web corpora have boilerplate
    * shingles with m in the millions. With the cap, ubiquitous
    * shingles are excluded from CANDIDATE GENERATION only — surviving
    * candidates are re-verified against the FULL shingle sets
    * (array_intersect), so every emitted jaccard is still the true
    * uncapped value; the cap can only lose a pair in which EVERY
    * shared shingle has df > cap. For near-dup thresholds that is the
    * pathological all-boilerplate pair (DedupSpec pins both the
    * lossless case and this boundary); production dedup (e.g.
    * Gopher/RefinedWeb pipelines) accepts exactly this trade. */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                        shingleSize: Int, minJaccard: Double,
                        blockCol: Option[Column] = None,
                        maxShingleDf: Option[Int] = None): DataFrame = {
    val block = blockCol.getOrElse(lit(1))
    // Hashed shingles (same set structure as the strings, long join
    // keys) + persist: the shingle table feeds three branches (sizes,
    // join side a, join side b) — without the persist each branch
    // recomputes the HOF shingle pipeline, tripling the dominant cost.
    val docs = graft.util.CacheScope.persist(
      graft.util.Spread(df).select(idCol.as("id"), block.as("blk"),
          array_distinct(shingleHashes(df.sparkSession, textCol, shingleSize)).as("sh"))
        .where(size(col("sh")) > 0))
    val sizes = docs.select(col("id"), col("blk"), size(col("sh")).as("n"))
    val exploded0 = docs.select(col("id"), col("blk"), explode(col("sh")).as("s"))
    maxShingleDf match {
      case Some(cap) =>
        // df filter as a count window over (blk, s): the same hash
        // partitioning the candidate self-join needs next, so the cap
        // costs no extra shuffle (a groupBy+semijoin formulation was
        // measured 2× slower on the bench headline).
        val rare = {
          val w = Window.partitionBy("blk", "s")
          exploded0.withColumn("__df", count(lit(1)).over(w))
            .where(col("__df") <= cap).drop("__df")
        }
        val cand = rare.as("a")
          .join(rare.as("b"),
            col("a.blk") === col("b.blk") && col("a.s") === col("b.s") &&
            col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
        // full-set verification: capped blocking decides WHICH pairs
        // are considered, never what their jaccard is
        cand
          .join(docs.select(col("id").as("id_a"), col("sh").as("sha")), "id_a")
          .join(docs.select(col("id").as("id_b"), col("sh").as("shb")), "id_b")
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("sha"), col("shb"))).cast("long").as("shared"),
            size(col("sha")).as("na"), size(col("shb")).as("nb"))
          .select(col("id_a"), col("id_b"),
            (col("shared").cast("double") /
              (col("na") + col("nb") - col("shared")).cast("double")).as("jaccard"))
          .where(col("jaccard") >= minJaccard)
      case None =>
        val shared = exploded0.as("a")
          .join(exploded0.as("b"),
            col("a.blk") === col("b.blk") && col("a.s") === col("b.s") &&
            col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("shared"))
        shared
          .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
          .select(col("id_a"), col("id_b"),
            (col("shared").cast("double") /
              (col("na") + col("nb") - col("shared")).cast("double")).as("jaccard"))
          .where(col("jaccard") >= minJaccard)
    }
  }

  /** Containment (overlap coefficient) pairs: |A∩B| / min(|A|,|B|) —
    * catches near-SUBSET duplication (a doc embedded in a longer one)
    * that symmetric jaccard under-scores: a 10-shingle doc fully
    * inside a 100-shingle doc has jaccard 0.1 but containment 1.0.
    * Same shingle-blocked, never-quadratic join shape as
    * ngramJaccardPairs, including its `maxShingleDf` skew guard
    * (capped blocking + full-set verification — see there for the
    * losslessness argument). */
  def ngramContainmentPairs(df: DataFrame, idCol: Column, textCol: Column,
                            shingleSize: Int, minContainment: Double,
                            maxShingleDf: Option[Int] = None): DataFrame = {
    val docs = graft.util.CacheScope.persist(
      graft.util.Spread(df).select(idCol.as("id"),
          array_distinct(shingleHashes(df.sparkSession, textCol, shingleSize)).as("sh"))
        .where(size(col("sh")) > 0))
    val sizes = docs.select(col("id"), size(col("sh")).as("n"))
    val exploded0 = docs.select(col("id"), explode(col("sh")).as("s"))
    val contain = (shared: Column, na: Column, nb: Column) =>
      shared.cast("double") / least(na, nb).cast("double")
    maxShingleDf match {
      case Some(cap) =>
        // same no-extra-shuffle window formulation as ngramJaccardPairs
        val rare = {
          val w = Window.partitionBy("s")
          exploded0.withColumn("__df", count(lit(1)).over(w))
            .where(col("__df") <= cap).drop("__df")
        }
        val cand = rare.as("a")
          .join(rare.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
        cand
          .join(docs.select(col("id").as("id_a"), col("sh").as("sha")), "id_a")
          .join(docs.select(col("id").as("id_b"), col("sh").as("shb")), "id_b")
          .select(col("id_a"), col("id_b"),
            contain(size(array_intersect(col("sha"), col("shb"))).cast("long"),
              size(col("sha")), size(col("shb"))).as("containment"))
          .where(col("containment") >= minContainment)
      case None =>
        exploded0.as("a")
          .join(exploded0.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("shared"))
          .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
          .select(col("id_a"), col("id_b"),
            contain(col("shared"), col("na"), col("nb")).as("containment"))
          .where(col("containment") >= minContainment)
    }
  }

  /** SimHash pairs over the ORACLE-REPLICABLE 62-bit dual polynomial
    * signature (graft.expressions.SimHashPoly62) with PIGEONHOLE band
    * blocking: the signature splits into maxHamming+1 bands, any pair
    * within the hamming radius shares at least one exact band, so the
    * banded candidate join is COMPLETE (every hamming ≤ maxHamming
    * pair is emitted; a top-8-bit prefix block both misses
    * cross-prefix pairs and degenerates quadratically: 256 buckets
    * over 1.5M docs measured 63× cost for 10× data). Bucket
    * keys carry ~62/(maxHamming+1) bits, so occupancy shrinks with
    * the radius budget, and the hamming verify keeps the output
    * exact. Every step replays in DuckDB. */
  def simhashPairsArith(df: DataFrame, idCol: Column, textCol: Column,
                        maxHamming: Int = 3): DataFrame = {
    // Band width 62/(maxHamming+1) must stay meaningful: radius 7 is
    // already the outer edge of simhash near-dup practice (w = 7 bits
    // → 128-way buckets), and beyond it the zero-/few-bit band keys
    // collide everything — a quadratic join wearing an LSH costume
    // (w hits 0 at maxHamming >= 31).
    require(maxHamming >= 0 && maxHamming <= 7,
      s"simhashPairsArith: maxHamming must be in [0, 7], got $maxHamming " +
        "(band keys carry 62/(maxHamming+1) bits; wider radii need a " +
        "multi-probe or exact pass, not thinner bands)")
    val bands = maxHamming + 1
    val w = 62 / bands
    val sigs = graft.util.CacheScope.persist(
      graft.util.Spread(df).select(idCol.as("id"),
        graft.expressions.SimHashPoly.simhashPoly62(df.sparkSession,
          tokens(textCol)).as("sig")))
    val bandKeys = sigs.select(col("id"), col("sig"),
        explode(array((0 until bands).map { b =>
          val lo = b * w
          val width = if (b == bands - 1) 62 - lo else w
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sig"), lo)
              .bitwiseAND(lit((1L << width) - 1L)).as("bval"))
        }: _*)).as("bk"))
      .select(col("id"), col("sig"),
        col("bk.band").as("band"), col("bk.bval").as("bval"))
    BandedLsh.selfJoin(bandKeys, "hamming")(
      (a, b) => bit_count(a.bitwiseXOR(b)).cast("long"), _ <= maxHamming)
  }

  /** Incremental dedup: grade a NEW ingest batch against an EXISTING
    * corpus — the daily-ingest shape at 100 TB, where re-deduping the
    * whole corpus per batch is off the table. Two layers, cheapest
    * first: (1) exact — a digest semi-join (16-byte keys, the
    * exactKeepFirst rule applied cross-corpus); (2) near — the
    * shingle-blocked jaccard join of ngramJaccardPairs, but
    * ASYMMETRIC: only new×old candidates form, so per-batch work is
    * O(batch × collisions), independent of corpus size beyond the
    * (pre-computable, incrementally-maintainable) corpus shingle
    * table. Returns one row per new doc: (id, status) with status ∈
    * exact_dup | near_dup | kept; exact wins over near.
    *
    * Exactness: digests are md5; jaccard is over full distinct
    * shingle sets (blocking only decides WHICH pairs are scored) —
    * both layers replayable by a SQL oracle. */
  def incrementalDedup(newDf: DataFrame, oldDf: DataFrame,
                       idCol: Column, textCol: Column,
                       shingleSize: Int = 5, minJaccard: Double = 0.3): DataFrame = {
    val spark = newDf.sparkSession
    val nw = graft.util.CacheScope.persist(
      newDf.select(idCol.as("id"), textCol.as("text"), md5(textCol).as("dg")))
    val od = graft.util.CacheScope.persist(
      oldDf.select(idCol.as("id"), textCol.as("text"), md5(textCol).as("dg")))
    val exact = nw.join(od.select(col("dg")).distinct(), Seq("dg"), "leftsemi")
      .select(col("id")).withColumn("is_exact", lit(true))
    def shingled(df: DataFrame): DataFrame =
      graft.util.CacheScope.persist(graft.util.Spread(df).select(col("id"),
          array_distinct(shingleHashes(spark, col("text"), shingleSize)).as("sh"))
        .where(size(col("sh")) > 0))
    val ns = shingled(nw)
    val os = shingled(od)
    val cand = ns.select(col("id").as("nid"), explode(col("sh")).as("s"))
      .join(os.select(col("id").as("oid"), explode(col("sh")).as("s")), "s")
      .select(col("nid"), col("oid")).distinct()
    val near = cand
      .join(ns.select(col("id").as("nid"), col("sh").as("sha")), "nid")
      .join(os.select(col("id").as("oid"), col("sh").as("shb")), "oid")
      .select(col("nid"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("shared"),
        size(col("sha")).cast("long").as("na"), size(col("shb")).cast("long").as("nb"))
      .where(col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")).cast("double") >= minJaccard)
      .select(col("nid").as("id")).distinct()
      .withColumn("is_near", lit(true))
    nw.select(col("id"))
      .join(exact, Seq("id"), "left")
      .join(near, Seq("id"), "left")
      .select(col("id"),
        when(col("is_exact"), lit("exact_dup"))
          .when(col("is_near"), lit("near_dup"))
          .otherwise(lit("kept")).as("status"))
  }
}
