package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark._

/** Plan-shape assertions for the scale rules of SURVEY §5 — the
  * explain-audit, pinned as tests so a regression that silently turns
  * a broadcast into a shuffle or drops a pushed filter fails CI, not
  * a 100 TB run. Runs against cold parquet scans (no warm()), the
  * shape a real cluster read has. */
class ExplainSpec extends AnyFunSuite {

  private def plan(name: String): String =
    graft.queries.Registry.queries(name)(spark, sfTiny)
      .queryExecution.executedPlan.toString

  test("q1 scan prunes columns and pushes the date filter") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    // column pruning: the 2-column projection never drags the full row
    assert(!p.contains("l_comment") && !p.contains("l_shipmode"))
  }

  test("q3 joins broadcast the filtered dimension sides") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters"), p)
  }

  test("q5 star join broadcasts dims and keeps partial aggregation") {
    val p = plan("q5_local_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    // partial (map-side) aggregation before the exchange
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
  }

  test("leaderboard's rank-limit collapses to TakeOrdered, not a global sort") {
    val p = plan("q_top50_owners")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("semi-prune plans a LeftSemi join") {
    val p = plan("q_semi_prune")
    assert(p.contains("LeftSemi"), p)
  }

  test("mixture sampling's rank window group-limits before the stratum shuffle") {
    val p = plan("q_mixture_sample")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("contamination broadcasts the benchmark gram set, never corpus text") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("skyline's survivor pass is a broadcast anti join") {
    val p = plan("q_skyline")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("LeftAnti"), p)
  }

  test("OHLC bars are one partial-aggregable pass — no window, no join") {
    val p = plan("q_ohlc_bars")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("WindowExec") && !p.contains("Join"), p)
  }

  test("zipf's top-100 collapses to TakeOrdered, never a global sort") {
    val p = plan("q_zipf")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("entropy/TWAP/coverage windows are all key-partitioned (no single-task funnel)") {
    for (q <- Seq("q_entropy_filter", "q_twap", "q_interval_coverage")) {
      val p = plan(q)
      // every Window in these plans declares a partition spec; an
      // unpartitioned window would funnel the corpus through one task
      assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"), s"$q:\n$p")
      val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      winLines.foreach { l =>
        assert(!l.trim.startsWith("windowspecdefinition()"), s"$q unpartitioned window: $l")
      }
    }
  }

  test("PMI top-50 plans as TakeOrdered, never a global sort") {
    val p = plan("q_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("token budget's cumsum avoids the single-partition WindowExec it exists to avoid") {
    val p = plan("q_token_budget")
    // globalCumSum = range partition + per-partition window + offset
    // join; the only windows are __pid-partitioned
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("__pid")).toSeq
    assert(bad.isEmpty, s"non-pid window in cumsum plan: ${bad.mkString("\n")}")
  }

  test("Naive Bayes scoring: model join broadcasts, argmax is a WindowGroupLimit") {
    val p = plan("q_naive_bayes")
    // the per-(class, token) model is the broadcast side of the
    // scoring join — doc-term rows never shuffle against it
    assert(p.contains("BroadcastHashJoin"), p)
    // per-doc argmax must group-limit (map-side partial top-1), not
    // rank the full doc x class score table through full windows
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("c-TF-IDF per-source top-5 plans as WindowGroupLimit") {
    val p = plan("q_ctfidf")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("SemDeDup: centroid assignment broadcasts K rows, pruning joins on cluster key") {
    val p = plan("q_semdedup")
    // K centroids arrive by broadcast (nested-loop over 8 rows), and
    // the in-cluster prune is an equi join keyed on cluster — the plan
    // must never fall back to an unkeyed cartesian over the collection
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
    assert(p.contains("hashpartitioning(cluster"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("int8 quantization: the 64-row scale table comes back as a broadcast join") {
    val p = plan("q_sq8")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("winsorize/dataset-card windows are all source-partitioned (no single-task funnel)") {
    for (q <- Seq("q_winsorize", "q_dataset_card")) {
      val p = plan(q)
      val bad = p.linesIterator.filter(l =>
        l.contains("windowspecdefinition") && !l.contains("source")).toSeq
      assert(bad.isEmpty, s"$q non-source window: ${bad.mkString("\n")}")
    }
  }

  test("attribution joins stay keyed; no window at all in the plan") {
    val p = plan("q_attribution")
    // conversions x touches is keyed on user_id, normalization on
    // conv_id — per-conversion totals come from aggregation, never a
    // global window, and nothing in the plan is a cartesian product
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("arithmetic LSH bucket join is an equi join, never a cartesian") {
    val p = plan("q_lsh_cosine_arith")
    assert(p.contains("[tbl") && !p.contains("CartesianProduct"), p)
  }

  test("rake's top-50 collapses to TakeOrdered; scoring joins stay keyed") {
    val p = plan("q_rake")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("chunker is join-free, window-free per-row compute") {
    val p = plan("q_chunk_overlap")
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("Join"), p)
  }

  test("skew audit is one keyed pass + a broadcast total") {
    val p = plan("q_skew_audit")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("oov: vocab selection collapses to TakeOrdered and broadcasts back") {
    val p = plan("q_oov")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("poisson bootstrap is join-free, window-free, one 64-group shuffle") {
    val p = plan("q_bootstrap")
    assert(!p.contains("Join"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
  }

  test("mrl eval: queries broadcast against the collection, top-k group-limits") {
    val p = plan("q_mrl_eval")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ks test's twin cumsums stay two-phase (no unpartitioned window)") {
    val p = plan("q_ks_test")
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("__pid")).toSeq
    assert(bad.isEmpty, s"non-pid window in ks plan: ${bad.mkString("\n")}")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("holt fold is window-free: daily agg + per-key sorted fold only") {
    val p = plan("q_holt")
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("Join"), p)
  }

  test("adamic-adar blocks pairs per order: keyed join, TakeOrdered top-50") {
    val p = plan("q_adamic_adar")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("global median ranks over the value-domain histogram, not rows") {
    // round 9: exact rank stats come from cum counts over the DISTINCT
    // n_chars domain — the only window is the bounded cumulative one
    // (ordered by n_chars), there is no row-grain global rank, no
    // range-repartition sampling, and no offset self-join
    val p = plan("q_global_median")
    val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.nonEmpty && wins.forall(_.contains("n_chars")),
      s"expected only the n_chars cumulative window: ${wins.mkString("\n")}")
    assert(!p.contains("__pid"), p)
    assert(!p.contains("RangePartitioning"), p)
  }

  test("acf's lag join is a real equi join on day+lag, never cartesian") {
    val p = plan("q_acf")
    assert(!p.contains("CartesianProduct"), p)
    // the day-series self-join keys on date_add(day, lag)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("mann-kendall pairs stay blocked per event type (no cartesian)") {
    val p = plan("q_mann_kendall")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("ols3 reduces to one constant-size moment row with partial aggregation") {
    val p = plan("q_ols3")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
    // the lineitem->orders key join stays a real equi join
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("mmr's greedy unroll is lineage-truncated and never cartesian") {
    // Each stage references the previous selection 3×, so an
    // untruncated unroll grows the analyzed tree 3^stages and the
    // driver re-pays Catalyst analysis per action (round-6 finding:
    // 6.4 s per count() on warm caches). The stages localCheckpoint
    // lazily, so the VISIBLE plan must be a constant-size join over
    // LogicalRDDs — each stage's own argmax ran as TakeOrdered inside
    // its checkpointed sub-plan (orderBy+limit(1) cannot plan any
    // other way), which the final explain no longer contains.
    val p = plan("q_mmr")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p) // truncated stage lineage
    // 60 lines today (cand's InMemoryRelation dominates); the
    // pre-truncation plan was several hundred — 150 is the tripwire
    val lines = p.linesIterator.size
    assert(lines < 150, s"q_mmr visible plan grew to $lines lines — lineage truncation lost?\n$p")
  }

  test("integer kmeans inlines centroids as literals: no join in the assignment") {
    val p = plan("q_kmeans_arith")
    // the only join is the 4-row centroid-L1 broadcast at the end
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("seq_pack's global offset sum stays two-phase (no unpartitioned window)") {
    val p = plan("q_seq_pack")
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("__pid")).toSeq
    assert(bad.isEmpty, s"non-pid window in seq_pack plan: ${bad.mkString("\n")}")
  }

  test("dsir's 256-bucket model joins back by broadcast, never a shuffle") {
    val p = plan("q_dsir")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("gini's global rank is two-phase and its totals broadcast") {
    val p = plan("q_gini")
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("__pid")).toSeq
    assert(bad.isEmpty, s"non-pid window in gini plan: ${bad.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("item-cf blocks pairs per order and broadcasts the degree table") {
    val p = plan("q_item_cf")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("assoc rules: per-order pair join, broadcast supports, TakeOrdered") {
    val p = plan("q_assoc_rules_exact")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dbscan's neighbor search is a cell-keyed equi join, never cartesian") {
    val p = plan("q_dbscan")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ar1's lag window partitions by event type (calendar-bounded)") {
    val p = plan("q_ar1")
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("event_type")).toSeq
    assert(bad.isEmpty, s"unpartitioned window in ar1: ${bad.mkString("\n")}")
  }

  test("aqp estimate is one scan: no join, no window, no second exchange") {
    val p = plan("q_aqp_estimate")
    assert(!p.contains("Join"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("perplexity's scoring join is bigram-type keyed with a broadcast vocab") {
    val p = plan("q_perplexity")
    assert(!p.contains("CartesianProduct"), p)
    // the V scalar joins by broadcast, never a shuffled cross
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("silhouette's assignment pass is one scan: no join, no explode") {
    val p = plan("q_silhouette")
    // centroids are a collected literal; the per-point pass must not
    // join or re-explode the vectors
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.linesIterator.exists(l => l.contains("Generate explode") &&
      l.contains("vu")), p)
  }

  test("mcnemar reduces in one scan with no exchange beyond the final agg") {
    val p = plan("q_mcnemar")
    assert(!p.contains("Join"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("k-anonymity and l-diversity never plan a window or sort-heavy shape") {
    Seq("q_k_anonymity", "q_l_diversity").foreach { q =>
      val p = plan(q)
      assert(!p.contains("windowspecdefinition"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("time_to_convert ranks without a single-partition window") {
    val p = plan("q_time_to_convert")
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("__pid")).toSeq
    assert(bad.isEmpty, s"unpartitioned window: ${bad.mkString("\n")}")
  }

  test("robustness rank joins are equi joins over the degree table") {
    val p = plan("q_robustness")
    assert(!p.contains("CartesianProduct"), p)
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("__pid")).toSeq
    assert(bad.isEmpty, s"unpartitioned window: ${bad.mkString("\n")}")
  }

  test("friedman's rank window partitions by day — never a global sort") {
    val p = plan("q_friedman")
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("day")).toSeq
    assert(bad.isEmpty, s"window not day-partitioned: ${bad.mkString("\n")}")
  }

  test("t_closeness joins stay broadcast over the sparse class-segment grid") {
    val p = plan("q_t_closeness")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("hhi is two partial-aggregated shuffles and an equi join — no window") {
    val p = plan("q_hhi")
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("fairness scores via broadcast model join, never a shuffle of the model") {
    val p = plan("q_fairness")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sax windows all partition by event type (calendar-bounded)") {
    val p = plan("q_sax")
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("event_type")).toSeq
    assert(bad.isEmpty, s"window not type-partitioned: ${bad.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("markov attribution: chain solves are broadcast-size, one data window") {
    val p = plan("q_markov_attribution")
    assert(!p.contains("CartesianProduct"), p)
    // the only data-sized window is the user-keyed journey lead
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("user_id")).toSeq
    assert(bad.isEmpty, s"non-user window: ${bad.mkString("\n")}")
  }

  // -------------------------------------------------------------
  // TPC-H completion wave (TpchQueries)
  // -------------------------------------------------------------

  test("q6 is one scan with pushed date filters and no join or window") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(!p.contains("Join") && !p.contains("windowspecdefinition"), p)
  }

  test("q8 snowflake broadcasts every dim side; facts join hash-keyed") {
    val p = plan("q8_market_share")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    // the conditional share computes in ONE aggregate — a second
    // lineitem scan would mean the share was computed by self-join
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 1, p)
  }

  test("q10 aggregates before the customer join and takes top-k sorted") {
    val p = plan("q10_returned_items")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag)") ||
      p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q13 keeps the outer join (zero-order customers survive)") {
    val p = plan("q13_order_distribution")
    assert(p.contains("LeftOuter") || p.contains("RightOuter"), p)
  }

  test("q15 argmax never plans an unpartitioned window") {
    val p = plan("q15_top_supplier")
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q17 decorrelates to equi joins — no per-row subquery shape") {
    val p = plan("q17_small_qty_revenue")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q18 HAVING filter runs on the aggregated orderkey side") {
    val p = plan("q18_large_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("q19 disjunction still pushes the shared scan bounds") {
    val p = plan("q19_discounted_revenue")
    // the union bounds (qty<=30, size<=25) reach the scans even though
    // the triplet disjunction itself is post-join
    assert(p.contains("LessThanOrEqual(l_quantity,30.0)"), p)
    assert(p.contains("LessThanOrEqual(p_size,25)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q22 plans a LeftAnti join with the date filter pushed below it") {
    val p = plan("q22_dormant_customers")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  // -------------------------------------------------------------
  // Session-8 waves: stats 5/6, eval 2, monitoring, analytics 3
  // -------------------------------------------------------------

  test("stats-wave windows all partition by event type (calendar-bounded)") {
    for (q <- Seq("q_runs_test", "q_durbin_watson", "q_changepoint",
        "q_control_chart", "q_rolling_slope", "q_theil_u")) {
      val p = plan(q)
      val bad = p.linesIterator.filter(l =>
        l.contains("windowspecdefinition") && !l.contains("event_type")).toSeq
      assert(bad.isEmpty, s"$q has a non-type-partitioned window:\n" +
        bad.mkString("\n"))
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("jarque_bera / cohens_d / tukey / cochran reduce to k-row joins") {
    for (q <- Seq("q_jarque_bera", "q_cohens_d", "q_tukey_hsd",
        "q_cochran_q", "q_granger")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q shuffles a join that " +
        "should be broadcast-size")
      assert(!p.contains("windowspecdefinition") ||
        q == "q_granger" || q == "q_cochran_q", q)
    }
  }

  test("interval join is pure equi — never a nested loop over intervals") {
    val p = plan("q_interval_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("hard negatives broadcast the query side and group-limit ranks") {
    val p = plan("q_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("rouge pairs join gram tables on composite keys, no gram self-join") {
    val p = plan("q_rouge_pairs")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ppl buckets rank via __pid-partitioned windows, never unpartitioned") {
    val p = plan("q_ppl_buckets")
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("__pid")).toSeq
    assert(bad.isEmpty, s"unpartitioned window:\n${bad.mkString("\n")}")
  }

  test("katz walk counts are equi joins + partial aggs with TakeOrdered") {
    val p = plan("q_katz")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("kmeanspp rounds are scans with 1-row broadcasts — no pair matrix") {
    val p = plan("q_kmeanspp")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("gbm/tree route rows via broadcast CASE — no data-dependent plans") {
    for (q <- Seq("q_tree_depth2", "q_gbm_boost")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") ||
        p.contains("BroadcastNestedLoopJoin"), q)
      assert(!p.contains("SortMergeJoin") || q == "q_gbm_boost", q)
    }
  }

  test("dow bands / pinball windows partition by (type, dow)") {
    for (q <- Seq("q_dow_bands", "q_pinball")) {
      val p = plan(q)
      val bad = p.linesIterator.filter(l =>
        l.contains("windowspecdefinition") &&
          !(l.contains("event_type") && l.contains("dow"))).toSeq
      assert(bad.isEmpty, s"$q window not (type,dow)-partitioned:\n" +
        bad.mkString("\n"))
    }
  }

  test("elasticity and xyz stay partial-agg + broadcast shapes") {
    for (q <- Seq("q_elasticity", "q_xyz_class")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("windowspecdefinition"), q)
    }
  }

  test("blocklist matches via a broadcast dictionary join") {
    val p = plan("q_blocklist")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("bq topk ranks hamming candidates with group limits, broadcast queries") {
    val p = plan("q_bq_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the signature must stay the NATIVE codegen'd expression: the HOF
    // formulation regressed 18× when CollapseProject inlined the
    // quantize transform inside the per-bit lambda (round-8; see
    // expressions/SignSig.scala)
    assert(p.toLowerCase.contains("signsig63"), p)
    // the rerank's vd/nrm HOFs must materialize ABOVE the candidate
    // join: a transform/aggregate under the big side's scan would put
    // the 64-double work back on every row — the fan-out and ranking
    // legs read only (vec_id, sig)
    val fanoutLegHasVd = p.linesIterator.exists(l =>
      l.contains("zip_with") && l.contains("bit_count"))
    assert(!fanoutLegHasVd, "vector norm leaked into the hamming leg")
  }

  test("label prop rounds are equi joins + partial aggs, no cartesian") {
    val p = plan("q_label_prop")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("group quantiles windows partition by nation") {
    val p = plan("q_group_quantiles")
    val bad = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && !l.contains("n_name")).toSeq
    assert(bad.isEmpty, s"unpartitioned window:\n${bad.mkString("\n")}")
  }

  test("fdr and chao1 are partial-agg pipelines over one scan each") {
    for (q <- Seq("q_fdr", "q_chao1")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), q)
    }
  }

  test("label_prop unrolls as ONE lazy plan: no per-round checkpoint barriers") {
    // Each round's label table is consumed exactly once, so the 4
    // rounds must stay a single linear lazy plan (the q_pagerank
    // rule). The regression being pinned: per-round EAGER cuts of the
    // label table — visible as Scan ExistingRDD leaves over
    // (node, label) — cost 12.7× wall for 10× data at the sf1→sf10
    // step (fixed: 5.5×, sf10 63.9→29.6 s). The only allowed cut is
    // the edge relation's standing layout, a Scan ExistingRDD over
    // (src, dst).
    val p = plan("q_label_prop")
    val cuts = p.linesIterator.filter(_.contains("Scan ExistingRDD")).toSeq
    assert(cuts.nonEmpty, s"q_label_prop lost its standing edge layout:\n$p")
    val layout = "Scan ExistingRDD\\[src#\\d+L?,dst#\\d+L?\\]".r
    assert(cuts.forall(l => layout.findFirstIn(l).isDefined),
      s"q_label_prop grew a checkpoint barrier besides the edge layout:\n$p")
    // linear unroll tripwire (today ~80 lines; 3-4× that means the
    // plan is being duplicated per round)
    val lines = p.linesIterator.size
    assert(lines < 250, s"q_label_prop plan grew to $lines lines:\n$p")
  }
}
