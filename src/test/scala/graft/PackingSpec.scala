package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.Registry

/** Behavior specs for the round-4 packing/selection/stat additions
  * (q_seq_pack, q_dsir, q_gini, q_survival) beyond the oracle gate.
  */
class PackingSpec extends AnyFunSuite {
  import TestSpark._

  test("seq_pack tiles the token stream exactly: contiguous offsets, consistent chunk ids") {
    val df = Registry.queries("q_seq_pack")(spark, sfTiny).cache()
    try {
      val n = df.count()
      // offsets are a gapless tiling of [0, total): distinct starts,
      // min 0, and total tokens == the largest end offset
      val row = df.agg(
        min(col("tok_start")).as("mn"),
        countDistinct(col("tok_start")).as("nd"),
        sum(col("n_tokens")).as("tot"),
        max(col("tok_start") + col("n_tokens")).as("mxe"),
        max(col("seq_last")).as("mxs")).head()
      assert(row.getAs[Long]("mn") == 0L)
      assert(row.getAs[Long]("nd") == n)
      assert(row.getAs[Long]("tot") == row.getAs[Long]("mxe"))
      // the last chunk id is exactly (total-1) div 512
      assert(row.getAs[Long]("mxs") == (row.getAs[Long]("tot") - 1) / 512)
      // per-doc chunk ids derive from the offsets alone
      assert(df.where(col("seq_first") =!= expr("tok_start div 512")).count() == 0)
      assert(df.where(col("n_tokens") > 0 &&
        col("n_seqs") =!= col("seq_last") - col("seq_first") + 1).count() == 0)
      // a doc never spans more chunks than its length allows
      assert(df.where(col("n_seqs") > expr("n_tokens div 512") + 2).count() == 0)
    } finally df.unpersist()
  }

  test("dsir scores the target stratum above the rest on average") {
    val df = Registry.queries("q_dsir")(spark, sfTiny)
      .join(graft.sources.Tables.documents(spark, sfTiny).select("doc_id", "lang"),
        "doc_id").cache()
    try {
      // the estimator exists to up-weight target-like documents: mean
      // importance of 'en' docs must exceed the non-target mean
      val m = df.groupBy(col("lang") === "en")
        .agg(avg(col("dsir_weight")).as("w"))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      assert(m(true) > m(false),
        s"en mean ${m(true)} must exceed non-en mean ${m(false)}")
      // per-token normalization sanity: weights are finite
      assert(df.where(col("dsir_weight").isNull || isnan(col("dsir_weight")))
        .count() == 0)
    } finally df.unpersist()
  }

  test("gini matches an exact local recompute and sits in its lawful range") {
    val row = Registry.queries("q_gini")(spark, sfTiny).head()
    val gini = row.getAs[Long]("gini_ppm")
    val top10 = row.getAs[Long]("top10_share_ppm")
    assert(gini >= 0L && gini < 1000000L)
    // the top decile can never hold less than its proportional share
    assert(top10 >= 100000L && top10 <= 1000000L)
    // exact replay in BigInt from the raw table
    val revs = graft.sources.Tables.orders(spark, sfTiny)
      .groupBy("o_custkey")
      .agg(sum(graft.functions.Num.cents(col("o_totalprice"))).as("rc"))
      .select("o_custkey", "rc").collect()
      .map(r => (r.getLong(1), r.getLong(0))).sorted
    val n = BigInt(revs.length)
    val s = revs.map(r => BigInt(r._1)).sum
    val t = revs.zipWithIndex.map { case ((rc, _), i0) =>
      BigInt(i0 + 1) * rc }.sum
    val expGini = (BigInt(1000000) * (2 * t - (n + 1) * s)) / (n * s)
    assert(BigInt(gini) == expGini, s"gini $gini != exact $expGini")
    val k = revs.length - revs.length / 10
    val bottom = revs.take(k).map(r => BigInt(r._1)).sum
    val expTop = (BigInt(1000000) * (s - bottom)) / s
    assert(BigInt(top10) == expTop)
  }

  test("rake phrases are stopword-free and emitted in score order") {
    val rows = Registry.queries("q_rake")(spark, sfTiny).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val stop = Set("the", "a", "of", "and", "to")
    rows.foreach { r =>
      val words = r.getAs[String]("phrase").split(" ")
      assert(words.nonEmpty && words.forall(w => !stop.contains(w)),
        s"stopword inside phrase '${r.getAs[String]("phrase")}'")
      assert(r.getAs[Long]("n_words") == words.length)
      assert(r.getAs[Long]("n_occur") >= 1L)
      assert(r.getAs[Double]("score") > 0.0)
    }
    rows.sliding(2).foreach {
      case Array(hi, lo) =>
        assert(hi.getAs[Double]("score") >= lo.getAs[Double]("score"))
      case _ => ()
    }
  }

  test("chunker tiles every doc: stride-96 starts, full coverage, 128-cap") {
    val df = Registry.queries("q_chunk_overlap")(spark, sfTiny).cache()
    try {
      assert(df.where(col("start_tok") =!= col("chunk_idx") * 96).count() == 0)
      assert(df.where(col("len_toks") < 1 || col("len_toks") > 128).count() == 0)
      // per doc: chunk ids are 0..(n-1)/96 and the last chunk ends at n
      val docs = graft.sources.Tables.documents(spark, sfTiny)
        .select(col("doc_id"),
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long").as("n"))
        .where(col("n") > 0)
      val per = df.groupBy("doc_id").agg(
        count(lit(1)).as("chunks"), max(col("chunk_idx")).as("mx"),
        max(col("start_tok") + col("len_toks")).as("end"))
        .join(docs, "doc_id")
      assert(per.where(col("chunks") =!= expr("(n - 1) div 96") + 1).count() == 0)
      assert(per.where(col("mx") =!= col("chunks") - 1).count() == 0)
      assert(per.where(col("end") =!= col("n")).count() == 0)
    } finally df.unpersist()
  }

  test("skew audit conserves mass and brackets the balanced load") {
    val rows = Registry.queries("q_skew_audit")(spark, sfTiny).collect()
    assert(rows.forall { r =>
      val b = r.getAs[Long]("bucket"); b >= 0 && b < 32 })
    val events = graft.sources.Tables.events(spark, sfTiny)
    assert(rows.map(_.getAs[Long]("load")).sum == events.count())
    assert(rows.map(_.getAs[Long]("n_keys")).sum ==
      events.select("user_id").distinct().count())
    rows.foreach(r =>
      assert(r.getAs[Long]("max_key_cnt") <= r.getAs[Long]("load")))
    // the heaviest bucket always sits at/above the balanced 1e6 ppm
    // (max over 32 buckets >= their mean, empty buckets included)
    val ppm = rows.map(_.getAs[Long]("load_x_avg_ppm"))
    assert(ppm.max >= 1000000L && ppm.min >= 0L)
  }

  test("mrl eval: hits bounded by k and wider prefixes never hurt on average") {
    val rows = Registry.queries("q_mrl_eval")(spark, sfTiny).collect()
    assert(rows.length == 15) // 3 widths x 5 queries
    rows.foreach { r =>
      val h = r.getAs[Long]("hits")
      assert(h >= 0L && h <= 10L)
      assert(r.getAs[Long]("recall_ppm") == h * 100000L)
    }
    val avg = rows.groupBy(_.getAs[Long]("m"))
      .map { case (m, rs) => m -> rs.map(_.getAs[Long]("hits")).sum }
    // Matryoshka premise: more dims, no worse aggregate recall
    assert(avg(32L) >= avg(8L),
      s"32-dim total recall ${avg(32L)} below 8-dim ${avg(8L)}")
  }

  test("oov conserves token mass and the vocab actually covers the head") {
    val df = Registry.queries("q_oov")(spark, sfTiny).cache()
    try {
      val total = graft.sources.Tables.documents(spark, sfTiny)
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("t")).count()
      assert(df.agg(sum(col("n_tokens"))).head().getLong(0) == total)
      assert(df.where(col("n_oov") > col("n_tokens")).count() == 0)
      assert(df.where(col("oov_ppm") < 0 || col("oov_ppm") > 1000000L)
        .count() == 0)
      // a 20-word vocab over this corpus must cover most of the stream
      val oov = df.agg(sum(col("n_oov"))).head().getLong(0)
      assert(oov * 2 < total, s"oov $oov should be a minority of $total")
    } finally df.unpersist()
  }

  test("poisson bootstrap replicas bracket the true mean with lawful weights") {
    val rows = Registry.queries("q_bootstrap")(spark, sfTiny).collect()
    assert(rows.length == 64)
    val orders = graft.sources.Tables.orders(spark, sfTiny)
    val n = orders.count()
    val trueMean = orders
      .agg(sum(graft.functions.Num.cents(col("o_totalprice")))).head()
      .getLong(0).toDouble / n / 100.0
    val means = rows.map(_.getAs[Double]("mean_value"))
    // 64 replicas straddle the point estimate
    assert(means.min <= trueMean && trueMean <= means.max,
      s"true mean $trueMean outside [${means.min}, ${means.max}]")
    // Poisson(1) multiplicities: each replica's effective n near n
    rows.map(_.getAs[Long]("n_eff")).foreach(ne =>
      assert(ne > n / 2 && ne < n * 2, s"n_eff $ne far from $n"))
  }

  test("ks statistic matches an exact local recompute over the raw split") {
    val row = Registry.queries("q_ks_test")(spark, sfTiny).head()
    val ks = row.getAs[Long]("ks_ppm")
    assert(ks >= 0L && ks <= 1000000L)
    // exact replay: same split, same cents, BigInt cross-multiplication
    val vals = graft.sources.Tables.events(spark, sfTiny)
      .where(col("event_type") === "purchase")
      .select(
        (substring(md5(col("user_id").cast("string")), 1, 1) < "8").as("isA"),
        graft.functions.Num.cents(col("value")).as("v"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)))
    val na = vals.count(_._1).toLong
    val nb = vals.length - na
    val byV = vals.groupBy(_._2).toSeq.sortBy(_._1)
    var (ca, cb, best) = (0L, 0L, BigInt(0))
    byV.foreach { case (_, vs) =>
      ca += vs.count(_._1); cb += vs.count(!_._1)
      val d = (BigInt(ca) * nb - BigInt(cb) * na).abs
      if (d > best) best = d
    }
    val expected = (BigInt(1000000) * best) / (BigInt(na) * nb)
    assert(BigInt(ks) == expected, s"ks $ks != exact $expected")
    assert(row.getAs[Long]("n_a") == na && row.getAs[Long]("n_b") == nb)
  }

  test("holt smoothing matches an exact local replay of the recurrence") {
    val rows = Registry.queries("q_holt")(spark, sfTiny)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val daily = graft.sources.Tables.events(spark, sfTiny)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Date](1), r.getDouble(2)))
      .groupBy(_._1)
    daily.foreach { case (et, rs) =>
      val xs = rs.sortBy(_._2.toString).map(_._3)
      var (l, b) = (0.0, 0.0)
      xs.zipWithIndex.foreach { case (x, i) =>
        if (i == 0) { l = x; b = 0.0 }
        else {
          val l1 = 0.3 * x + 0.7 * (l + b)
          b = 0.2 * (l1 - l) + 0.8 * b
          l = l1
        }
      }
      val r = rows(et)
      assert(r.getAs[Long]("n_days") == xs.length)
      assert(r.getAs[Double]("level") == math.rint(l * 1e6) / 1e6 ||
        math.abs(r.getAs[Double]("level") - l) < 1e-6,
        s"$et level ${r.getAs[Double]("level")} != replay $l")
      assert(math.abs(r.getAs[Double]("forecast_7d") - (l + 7.0 * b)) < 1e-5)
    }
  }

  test("adamic-adar scores are lawful: ordered pairs, inverse-log bounded") {
    val rows = Registry.queries("q_adamic_adar")(spark, sfTiny).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      assert(r.getAs[Long]("part_a") < r.getAs[Long]("part_b"))
      val n = r.getAs[Long]("n_orders")
      val aa = r.getAs[Double]("aa_score")
      assert(n >= 1L && aa > 0.0)
      // every contributing order weighs at most 1/ln(2)
      assert(aa <= n / math.log(2.0) + 1e-6)
    }
    rows.sliding(2).foreach {
      case Array(hi, lo) =>
        assert(hi.getAs[Double]("aa_score") >= lo.getAs[Double]("aa_score"))
      case _ => ()
    }
  }

  test("global median matches a local exact sort at sfTiny") {
    val row = Registry.queries("q_global_median")(spark, sfTiny).head()
    val vals = graft.sources.Tables.documents(spark, sfTiny)
      .select("n_chars").collect().map(_.getLong(0)).sorted
    val n = vals.length
    def pick(k: Long) = vals((k - 1).toInt)
    assert(row.getAs[Long]("n_docs") == n)
    assert(row.getAs[Long]("p25") == pick((n + 3) / 4))
    assert(row.getAs[Long]("median") == pick((n + 1) / 2))
    assert(row.getAs[Long]("p75") == pick((3L * n + 3) / 4))
    assert(row.getAs[Long]("p25") <= row.getAs[Long]("median") &&
      row.getAs[Long]("median") <= row.getAs[Long]("p75"))
  }

  test("global median ranks NULL lengths last, like the oracle's ORDER BY") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("median_nulls").toString
    // sorted NULLS LAST: 3, 5, 7, null, null, null, null (n = 7) — the
    // p25 rank (2) lands on 5, the median (4) and p75 (6) ranks on NULL
    Seq[(Long, Option[Long])]((1, Some(5)), (2, None), (3, Some(3)), (4, None),
        (5, Some(7)), (6, None), (7, None))
      .toDF("doc_id", "n_chars").write.parquet(s"$dir/documents.parquet")
    val row = Registry.queries("q_global_median")(spark, dir).head()
    assert(row.getAs[Long]("n_docs") == 7)
    assert(row.getAs[Long]("p25") == 5)
    assert(row.isNullAt(row.fieldIndex("median")))
    assert(row.isNullAt(row.fieldIndex("p75")))
  }

  test("integer kmeans partitions the collection: mass conserved, clusters tight") {
    val rows = Registry.queries("q_kmeans_arith")(spark, sfTiny).collect()
    assert(rows.map(_.getAs[Long]("cluster")).toSeq.sorted == (0L until 4L))
    val n = graft.sources.Tables.embeddings(spark, sfTiny).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == n)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_members") > 0L)
      assert(r.getAs[Long]("sse_u") >= 0L)
      assert(r.getAs[Long]("centroid_l1") > 0L)
    }
    // determinism: a second run reproduces the exact integer state
    val again = Registry.queries("q_kmeans_arith")(spark, sfTiny).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
  }

  test("ols3 solves the normal equations: local Cramer replay agrees, r2 lawful") {
    val row = Registry.queries("q_ols3")(spark, sfTiny).head()
    val r2 = row.getAs[Double]("r2")
    assert(r2 > 0.0 && r2 <= 1.0, s"r2 $r2")
    // more quantity must raise the order total (positive marginal price)
    assert(row.getAs[Double]("b1") > 0.0)
    // local replay: exact BigInt moments → same double Cramer solve
    import graft.functions.Num.cents
    val feats = graft.sources.Tables.lineitem(spark, sfTiny)
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_quantity"))).as("x1"), count(lit(1)).as("x2"))
      .join(graft.sources.Tables.orders(spark, sfTiny)
        .select(col("o_orderkey").as("l_orderkey"),
          cents(col("o_totalprice")).as("y")), Seq("l_orderkey"))
      .collect().map(r => (BigInt(r.getLong(1)), BigInt(r.getLong(2)), BigInt(r.getLong(3))))
    val n = feats.length.toDouble
    def s(f: ((BigInt, BigInt, BigInt)) => BigInt): Double =
      feats.map(f).sum.toDouble
    val (s1, s2, sy) = (s(_._1), s(_._2), s(_._3))
    val (s11, s12, s22) = (s(t => t._1 * t._1), s(t => t._1 * t._2), s(t => t._2 * t._2))
    val (s1y, s2y) = (s(t => t._1 * t._3), s(t => t._2 * t._3))
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val b1 = (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)) / det
    assert(math.abs(row.getAs[Double]("b1") - b1) < 1e-6,
      s"engine b1 ${row.getAs[Double]("b1")} vs local $b1")
    assert(row.getAs[Long]("n") == feats.length.toLong)
  }

  test("survival curve is a lawful KM estimate: monotone, risk-set consistent") {
    val rows = Registry.queries("q_survival")(spark, sfTiny)
      .orderBy("t_days").collect()
    assert(rows.nonEmpty)
    // n_risk strictly decreases in t (each step removes at least its
    // own events); the log-survival never rises
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_risk") < a.getAs[Long]("n_risk"))
      assert(b.getAs[Long]("s_mn") <= a.getAs[Long]("s_mn"))
    case _ => ()
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("d_events") >= 1L)
      assert(r.getAs[Long]("n_risk") > r.getAs[Long]("d_events"))
      val surv = r.getAs[Double]("survival")
      assert(surv > 0.0 && surv <= 1.0)
    }
    // the first risk set is every observation with duration >= t1:
    // exactly total observations minus the shorter-gap mass
    val o = graft.sources.Tables.orders(spark, sfTiny)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("dt"))
    val totalObs = o.count() // one gap-or-censor row per order
    val t1 = rows.head.getAs[Long]("t_days")
    assert(rows.head.getAs[Long]("n_risk") <= totalObs)
    assert(t1 >= 0L)
  }
}
