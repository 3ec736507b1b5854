package graft

import org.scalatest.funsuite.AnyFunSuite

/** Grading/measurement tooling meets the same correctness bar as the
  * graded code (round-6 verdict items 4–5): PairCount's cluster
  * metric (a column-selection bug here shipped a wrong BASELINE
  * table in r5), Bench's best-of-2 pairing rule (a fast-fail/slow-
  * pass split must void the pair, not record the passing time), and
  * Hints.gatedBroadcast's arm/disarm behavior.
  */
class ToolsGradingSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("PairCount.clusterStats counts cluster_id BY NAME, not the last column") {
    // the regression shape: boolean is_canonical is the LAST column —
    // `columns.last` would read 2 distinct values at any scale
    val df = Seq(
      ("d1", "c_a", true), ("d2", "c_a", false), ("d3", "c_a", false),
      ("d4", "c_b", true), ("d5", "c_b", false)
    ).toDF("doc_id", "cluster_id", "is_canonical")
    val (k, largest) = tools.PairCount.clusterStats(df)
    assert(k == 2, "two components")
    assert(largest == 3, "largest component has 3 members")
  }

  test("PairCount.clusterStats refuses a frame without cluster_id") {
    val df = Seq(("d1", true)).toDF("doc_id", "is_canonical")
    val e = intercept[IllegalArgumentException] {
      tools.PairCount.clusterStats(df)
    }
    assert(e.getMessage.contains("cluster_id"))
  }

  test("Bench.pairedTime voids the pair when either run failed") {
    assert(Bench.pairedTime(Some(2.0), Some(3.0)) == Some(2.0))
    assert(Bench.pairedTime(Some(3.0), Some(2.0)) == Some(2.0))
    assert(Bench.pairedTime(None, Some(0.001)) == None,
      "fast-fail then pass must NOT record the passing time")
    assert(Bench.pairedTime(Some(0.001), None) == None)
    assert(Bench.pairedTime(None, None) == None)
  }

  test("Bench.splitDuckFields routes scalars to the compact line, the map to the detail line") {
    val block = """"duckdb_total":1.5,"duckdb_tpch10":2.0,"duckdb_runs":2,"duckdb_queries":{"q1":0.1,"q2":null},"""
    val (scalars, perQuery) = Bench.splitDuckFields(block)
    assert(scalars == """"duckdb_total":1.5,"duckdb_tpch10":2.0,"duckdb_runs":2,""")
    assert(perQuery == """"duckdb_queries":{"q1":0.1,"q2":null},""")
    // co-reading absent (skipped/failed): both halves empty, lines stay valid
    assert(Bench.splitDuckFields("") == (("", "")))
  }

  test("Bench.pickCompact sheds the headline map before outgrowing the tail capture") {
    val short = """{"metric":"total","value":1.0}"""
    assert(Bench.pickCompact(short, "fallback") == short)
    val long = "{" + ("x" * Bench.CompactLineMax) + "}"
    assert(Bench.pickCompact(long, short) == short,
      "an over-limit compact line must fall back to the headline-free form")
    assert(Bench.CompactLineMax <= 1900,
      "the guard must stay under the driver's ~2 KB tail window")
  }

  test("Bench.noisy flags a box already loaded at bench start") {
    assert(!Bench.noisy("0.31 0.46 1.54", 32), "quiet box: 1-min load under cpus/4")
    assert(Bench.noisy("9.62 8.0 6.0", 32), "r8's loadavg-9.6 start must flag")
    assert(!Bench.noisy("8.0 20.0 20.0", 32),
      "only the 1-min field gates: the bench START is what's attributable")
    assert(!Bench.noisy("", 32), "off-Linux empty loadavg never flags")
    assert(Bench.noisy("1.1 0.0 0.0", 4), "threshold scales with the core count")
  }

  test("Bench.loadavg reads three numeric fields (box-load attribution)") {
    val la = Bench.loadavg()
    // this box is Linux; off-Linux the contract is "" and fields read empty
    assert(la.split(" ").length == 3, s"want '1m 5m 15m', got '$la'")
    la.split(" ").foreach(f => assert(f.toDouble >= 0.0))
  }

  test("Hints.gatedBroadcast arms under the cap and disarms over it") {
    val slim = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // proxy with KNOWN small stats: a local relation's size is exact
    val proxy = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val armed = util.Hints.gatedBroadcast(slim, proxy, selectivity = 1.0)
    val hinted = armed.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.nonEmpty, "under the cap the broadcast hint must be applied")
    val disarmed = util.Hints.gatedBroadcast(slim, proxy,
      selectivity = 1.0, capBytes = 1L)
    assert(disarmed eq slim,
      "over the cap the frame passes through unhinted (AQE fallback)")
    // a session that disabled broadcast joins never gets a library hint
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val respectful = util.Hints.gatedBroadcast(slim, proxy, selectivity = 1.0)
      assert(respectful eq slim,
        "a disabled session threshold must pass through unhinted")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Hints default cap tracks the session's autoBroadcastJoinThreshold") {
    // min(2×threshold, 128 MB): a 64 MB threshold caps the gate at
    // 128 MB; a 10 MB threshold caps it at 20 MB; disabled (-1/0)
    // DISARMS the gate (an operator who disabled broadcast joins must
    // not get library-forced broadcasts; the 128 MB class boundary is
    // the sf100 q8/q10 A/B — see Hints.DefaultCapBytes)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // every byte unit of Spark's bytesConf grammar, one- and two-letter
      def capAt(threshold: String): Long = {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        util.Hints.defaultCap(spark)
      }
      val ceiling = util.Hints.DefaultCapBytes
      assert(capAt("64m") == 128L << 20)
      assert(capAt("10485760") == 2L * 10485760L)
      assert(capAt("1g") == ceiling, "the 128 MB ceiling binds when 2×threshold exceeds it")
      assert(capAt("512k") == 1L << 20)
      assert(capAt("100MB") == ceiling)
      assert(capAt("64kb") == 128L << 10)
      assert(capAt("2gb") == ceiling)
      assert(capAt("1t") == ceiling)
      assert(capAt("123b") == 246L)
      assert(capAt("-1") == 0L, "a disabled threshold disarms the gate entirely")
      assert(capAt("0") == 0L, "a zero threshold disarms the gate entirely")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Hints.gatedBroadcast reads defaultSizeInBytes in any Spark byte unit") {
    val slim = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val proxy = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // getAll holds only explicitly set confs: restore "unset" as unset
    val prev = spark.conf.getAll.get("spark.sql.defaultSizeInBytes")
    try {
      spark.conf.set("spark.sql.defaultSizeInBytes", "1t")
      val armed = util.Hints.gatedBroadcast(slim, proxy, selectivity = 1.0)
      assert(armed.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty, "known small proxy stats under a 1t sentinel must arm the hint")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.defaultSizeInBytes", v)
      case None => spark.conf.unset("spark.sql.defaultSizeInBytes")
    }
  }

  test("Hints.gatedBroadcast disarms when the proxy's stats are unknown") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val slim = Seq((1L, "a")).toDF("k", "v")
    // a LogicalRDD leaf reports spark.sql.defaultSizeInBytes
    // (Long.MaxValue unless set) — the "unknown" sentinel
    val rdd = spark.sparkContext.parallelize(Seq(Row(1L)), 1)
    val proxy = spark.createDataFrame(rdd,
      StructType(Seq(StructField("k", LongType))))
    assert(proxy.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(Long.MaxValue), "fixture must actually be stats-unknown")
    val out = util.Hints.gatedBroadcast(slim, proxy, selectivity = 1e-12)
    assert(out eq slim, "unknown proxy stats must never arm the hint")
  }
}
