package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.CacheScope

/** Distributed graph primitives over edge-list DataFrames — the
  * relational (GraphFrames-style) formulation: a graph is just an
  * edges DataFrame, every round is a join + partial aggregation, and
  * Catalyst/AQE handle physical placement. No vertex-centric runtime
  * needed for these shapes, and the edge list is the only state that
  * is ever O(|graph|).
  *
  * Complements ConnectedComponents (min-label + pointer doubling);
  * together: components, ranks, triangles, hop distances — the graph
  * ops a training-data pipeline runs over citation/link/co-occurrence
  * graphs for quality weighting and leakage-safe splits.
  *
  * Numeric determinism: PageRank traditionally sums doubles, whose
  * partial sums depend on partitioning — unacceptable under the
  * engine-parity rules (functions.Num). Ranks here are exact BIGINT
  * micro-units: rank/outdeg and the damping both use integer `div`,
  * so every partial sum is order-invariant and the result is
  * bit-identical on any cluster AND in the DuckDB oracle.
  */
object Graph {

  /** Initial integer rank mass per node: 10^12 "rank micro-units".
    * Headroom proof: a partial sum at a destination is bounded by the
    * total mass N·10^12, and the damping multiplies by 85 before
    * dividing — so 85·N·10^12 must stay under 2^63 ≈ 9.2·10^18,
    * i.e. N < ~10^5 per unit of scale. For graphs beyond ~10^7 nodes
    * shrink `scale` (rank precision trades against node count). */
  val DefaultScale = 1000000000000L

  /** Fixed-iteration damped PageRank over a DIRECTED edge list
    * (`src`, `dst` string node ids). Every node must have outdegree
    * ≥ 1 (feed a symmetrized edge list for undirected graphs — which
    * also eliminates dangling-mass redistribution); nodes with no
    * in-edges settle at the base mass.
    *
    * rank'(v) = (15·scale) div 100  +  (85 · Σ_{u→v} rank(u) div deg(u)) div 100
    *
    * Per iteration: one shuffle keyed by dst (the contribution agg,
    * map-side partial) + one left join back to the node set — both
    * hash-partitioned on the node id. Unlike ConnectedComponents
    * (which references its frame multiple times per round and MUST
    * truncate lineage), each round here consumes `ranks` exactly
    * once, so the unrolled plan grows LINEARLY in `iters` and the
    * whole recurrence stays one lazy plan: no per-round driver
    * barrier, one job end-to-end (a per-round eager cut cost 8
    * blocking jobs ≈ 5 of q_pagerank's 7 s at sf0.1 and would
    * serialize rounds on a real cluster too). Edges and outdegrees
    * are computed once, as standing layouts ([[prSetup]]).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, scale: Long = DefaultScale): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val (out, nodes, base) = prSetup(edges, srcCol, dstCol, scale)
    (1 to iters).foldLeft(nodes.withColumn("rank", lit(scale)))(
      (r, _) => prRound(out, nodes, r, base))
  }

  /** The loop-stable PageRank relations, shared by [[pageRank]],
    * [[pageRankStep]] and [[pageRankUntil]], so q_pagerank_converge's
    * oracle parity rests on one copy of the setup.
    *
    * Pregel-style partitioning reuse: both relations are standing
    * layouts ([[CacheScope.checkpoint]]) hashed on their join keys, so
    * each round's contribution join and node union reuse the layout
    * instead of re-shuffling the edge list `iters` times. At 100 TB the
    * edge relation is the big side; shuffling it once instead of once
    * per round is the difference between 1 and `iters` full-data
    * exchanges. Node ids keep their input type (the triangleCount
    * rule): both per-round shuffles key on the node id, and integer ids
    * shuffle ~3× fewer bytes than string renderings. The layouts are
    * plan-keyed, so every caller in a scope shares one. */
  private def prSetup(edges: DataFrame, srcCol: String, dstCol: String,
                      scale: Long): (DataFrame, DataFrame, Long) = {
    val e = CacheScope.persist(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // src carries (deg) with it so the per-iteration contribution needs
    // no extra join against the degree table
    val out = CacheScope.checkpoint(e.join(deg, "src"), col("src"))
    val nodes = CacheScope.checkpoint(
      e.select(col("src").as("node")).union(e.select(col("dst"))).distinct(), col("node"))
    (out, nodes, 15L * scale / 100L)
  }

  /** ONE recurrence round: contribution agg (dst-keyed, map-side
    * partial) over the union of per-edge contributions and a zero row
    * per node.
    *
    * Contribution-agg + LEFT JOIN back to the node set is the same
    * algebra (coalesce(s, 0) ≡ summing one extra 0 per node), but the
    * join planned as a SortMergeJoin that re-exchanged AND re-sorted
    * both sides every round (plans/r09/q_pagerank_before.txt: 17
    * node-keyed exchanges + 8 sorts for 8 rounds). The union keeps the
    * zero-filled node set in the SAME single aggregation: per round
    * exactly ONE exchange, no join back, no sorts, and no reliance on
    * any broadcast for the node-completeness step (scale-safe: the
    * node set never needs to fit anywhere).
    * plans/r09/q_pagerank_after.txt: 9 node-keyed exchanges, 0
    * SortMergeJoins. */
  private def prRound(out: DataFrame, nodes: DataFrame, ranks: DataFrame,
                      base: Long): DataFrame =
    out.join(ranks, out("src") === ranks("node"))
      .select(col("dst").as("node"), expr("rank div deg").as("c"))
      .union(nodes.select(col("node"), lit(0L).as("c")))
      .groupBy("node").agg(sum(col("c")).as("s"))
      .select(col("node"),
        (lit(base) + expr("(85 * s) div 100")).as("rank"))

  /** ONE additional PageRank round applied to an existing rank table —
    * the exact recurrence body of [[pageRank]], exposed so convergence
    * diagnostics (q_pagerank_converge) can compare consecutive rounds
    * without re-running the whole unroll twice. Same standing layouts
    * (plan-keyed, so a caller that already built them in its scope
    * shares them). */
  def pageRankStep(edges: DataFrame, srcCol: String, dstCol: String,
                   ranks: DataFrame, scale: Long = DefaultScale): DataFrame = {
    val (out, nodes, base) = prSetup(edges, srcCol, dstCol, scale)
    prRound(out, nodes, ranks, base)
  }

  /** Residual-driven PageRank: iterate until the L∞ round-over-round
    * residual falls to `residualPpm` parts-per-million of the base
    * mass `scale`, probing every `checkEvery` rounds —
    * the serving API a real pipeline wants, since q_pagerank_converge
    * shows the residual monotone on this recurrence; the fixed-`iters`
    * [[pageRank]] stays the oracle-replayed contract.
    *
    * Cost shape: rounds run LAZILY in segments of `checkEvery`; each
    * probe is ONE job that materializes the segment (the penultimate
    * and final rounds are cut with [[CacheScope.checkpoint]], so the
    * final round and the residual read share the penultimate one, and
    * the next segment builds on a materialized cut instead of
    * re-deriving the unroll; the segment's earlier cuts are then
    * released). The probe itself is a driver-side 1-row aggregate —
    * the same node-keyed join every round already does, nothing extra
    * shuffles.
    * Worst case (never converges) this runs `maxIters` rounds in
    * ceil(maxIters/checkEvery) jobs — same total work as the fixed
    * unroll, plus one k-row probe per segment.
    *
    * Returns (ranks, roundsRun, finalResidualPpm). */
  def pageRankUntil(edges: DataFrame, srcCol: String, dstCol: String,
                    residualPpm: Long, maxIters: Int = 50,
                    checkEvery: Int = 4,
                    scale: Long = DefaultScale): (DataFrame, Int, Long) = {
    require(residualPpm >= 0L, "residualPpm must be >= 0")
    require(maxIters >= 1 && checkEvery >= 1,
      "maxIters and checkEvery must be >= 1")
    val (out, nodes, base) = prSetup(edges, srcCol, dstCol, scale)
    var prev = nodes.withColumn("rank", lit(scale))
    var itersRun = 0
    var residual = Long.MaxValue
    while (itersRun < maxIters && residual > residualPpm) {
      val steps = math.min(checkEvery, maxIters - itersRun)
      // materializes once, inside the probe job, then backs both the
      // final round and the next segment
      val pCp = CacheScope.checkpoint(
        (1 until steps).foldLeft(prev)((r, _) => prRound(out, nodes, r, base)))
      val cur = CacheScope.checkpoint(prRound(out, nodes, pCp, base))
      // ppm via BigInt: an L∞ diff on a hub-heavy graph can exceed
      // Long.MaxValue/1e6 ≈ 9.2×scale early in the iteration (a
      // 1000-leaf star's round-1 hub diff is ~850×scale), and a long
      // multiply would wrap negative and report false convergence
      val linf = cur
        .join(pCp.withColumnRenamed("rank", "prev"), Seq("node"))
        .agg(coalesce(max(abs(col("rank") - col("prev"))), lit(0L)).as("linf"))
        .first().getLong(0)
      residual = (BigInt(linf) * 1000000 / scale).toLong
      itersRun += steps
      CacheScope.supersede(prev, pCp)
      CacheScope.supersede(pCp, cur)
      prev = cur
    }
    (prev, itersRun, residual)
  }

  /** Exact triangle count of an UNDIRECTED simple graph given as an
    * edge list (either or both orientations; self-loops dropped).
    *
    * Degree-ordered orientation (compact-forward / Schank-Wagner):
    * orient every edge from the (degree, id)-smaller endpoint to the
    * larger, then count paths u→v→w closed by an oriented edge u→w.
    * Each triangle has exactly one vertex of locally-minimal
    * (degree, id), so it is counted exactly once — and the join
    * fan-out per vertex is bounded by its ORIENTED out-degree, which
    * the degree ordering caps at O(sqrt(|E|)) for any graph (a
    * hub's edges all point AT it, so the hub never fans out). That
    * bound is what makes this survive skewed web/co-occurrence graphs
    * where id-ordered orientation melts a single task.
    *
    * Two shuffles (path join + closure join), both on node keys.
    *
    * Node ids keep their INPUT type (no string normalization): the
    * path intermediate is the operator's largest relation — Σ
    * in·out over oriented degrees — and on integer-keyed graphs a
    * 'p'||key string id would inflate every shuffled row ~4× and
    * turn each join comparison into a byte-wise string compare. The
    * count is type-agnostic anyway; callers with heterogeneous node
    * sets cast before calling. */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val raw = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .where(col("a") =!= col("b"))
    // canonicalize to a<b, dedupe, then attach degrees
    val canon = CacheScope.persist(
      raw.select(least(col("a"), col("b")).as("a"),
                 greatest(col("a"), col("b")).as("b")).distinct())
    val deg = canon.select(col("a").as("n")).union(canon.select(col("b")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = canon
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    // orient from (deg, id)-smaller to larger — total order, no ties
    val oriented = CacheScope.persist(withDeg.select(
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("lo"),
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("hi")))
    // The wedge relation u→v→w is the operator's true cost: Σ in·out
    // over oriented degrees — 41× the edge count on the co-purchase
    // graph (sf1: 492M wedges from 12M edges), and the closure join
    // forces ALL of it through a shuffle while a single-node engine
    // streams it through a hash probe. A Bloom filter over
    // xxhash64(lo,hi) of the edge set, probed INSIDE the wedge join's
    // stage, drops non-closing wedges before the exchange: survivors
    // = triangles + ~1% false positives that the exact closure join
    // then removes (sf1: ~23M rows shuffled instead of 492M). The
    // bloom ships as a LITERAL from a driver-side 1-row collect (the
    // q_bloom_prune pattern, within the k-row model-table contract):
    // plan literals become codegen reference objects — zero per-row
    // copies — and stage task binaries are themselves broadcast once,
    // so the bytes cross the wire once per executor. (The tempting
    // crossJoin(broadcast(bloomDf)) alternative re-materializes the
    // bit set through UnsafeRow.getBinary ON EVERY PROBE ROW — a
    // 1.5 MB copy × 492M wedges; measured as a hang.) Size-gated like
    // Hints.gatedBroadcast: armed while 10 bits/edge fits the 256 MB
    // Int-indexable cap, disarmed beyond (~214M edges) where the
    // plain two-shuffle plan and cluster spill bandwidth take over.
    // The sizing count runs on the persisted canon the degree agg
    // needs anyway.
    val spark = edges.sparkSession
    val eCount = canon.count()
    val paths = oriented.as("e1").join(oriented.as("e2"),
        col("e1.hi") === col("e2.lo"))
      .select(col("e1.lo").as("u"), col("e2.hi").as("w"))
    val capBits = (1L << 31) - 64
    val pruned =
      if (eCount > 0 && eCount * 10L <= capBits) {
        val nb = math.max(1L << 20, ((eCount * 10L + 63) / 64) * 64).toInt
        // coalesce(16) before the build: every map partition emits a
        // FULL nb-bit partial and the final merge is single-threaded,
        // so 256 partials × a 150 MB bloom is a ~38 GB one-task OR
        // (measured: a 28 s single-task stage at sf1 before this).
        // 16 partials keep the merge ~seconds at any armed size.
        val bloomBytes = oriented.coalesce(16)
          .agg(graft.expressions.BloomFilter
            .bloomAgg(spark, xxhash64(col("lo"), col("hi")), nb, 5).as("bf"))
          .first().getAs[Array[Byte]](0)
        paths.where(graft.expressions.BloomFilter.mightContain(
          spark, lit(bloomBytes), xxhash64(col("u"), col("w")), 5))
      } else paths
    val tri = pruned.join(oriented.as("e3"),
      col("u") === col("e3.lo") && col("w") === col("e3.hi"))
    // node/edge counts ride the same plan as broadcast 1-row
    // aggregates (scalar-subquery pattern) instead of two separate
    // driver-blocking count() jobs — one job end-to-end, and the two
    // side aggregates read the persisted canon cache
    tri.agg(count(lit(1)).as("triangles"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("nodes"))))
      .crossJoin(broadcast(canon.agg(count(lit(1)).as("edges"))))
      .select(col("nodes"), col("edges"), col("triangles"))
  }

  /** Minimum hop distance from a set of source nodes, breadth-first,
    * up to `maxHops`. Returns (node, hop) for every node reachable
    * within the bound — the building block for leakage-safe dataset
    * splits ("hold out everything within k hops of the eval set") and
    * link-graph quality propagation.
    *
    * Frontier-free formulation: labels(v) = min hop seen so far;
    * each round relaxes labels through one join + min-agg. A round
    * changes nothing once all shortest paths ≤ maxHops are found, so
    * the loop exits early once the labelled node count stops growing.
    * Per round: one shuffle keyed by dst and one probe job
    * ([[cutLoop]]). */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              sources: DataFrame, sourceCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    // node ids keep their input type (the triangleCount rule): every
    // relaxation round shuffles the frontier join — integer ids
    // shuffle ~3× fewer bytes than string renderings
    val e = CacheScope.persist(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    cutLoop(sources.select(col(sourceCol).as("node")).distinct().withColumn("hop", lit(0L)),
        maxHops, Some(_.count())) { (labels, _) =>
      labels.union(e.join(labels, e("src") === labels("node"))
          .select(col("dst").as("node"), (col("hop") + 1).as("hop")))
        .groupBy("node").agg(min(col("hop")).as("hop"))
    }._1
  }

  /** Runs `round` from `start` for at most `maxRounds` rounds, cutting
    * the start and every round's result with [[CacheScope.checkpoint]];
    * `round` also gets the number of rounds already run. With a `probe`
    * the loop stops after a round that leaves the probe's value
    * unchanged: one job per round materializes the cut and probes it,
    * the previous value is carried, not re-run, and the previous cut
    * is released. Without one the cuts materialize inside the caller's
    * final job and are held until the scope closes. Returns the last
    * cut, the rounds run and whether the probe saw a fixpoint. */
  private[operators] def cutLoop(start: DataFrame, maxRounds: Int, probe: Option[DataFrame => Any])(
      round: (DataFrame, Int) => DataFrame): (DataFrame, Int, Boolean) = {
    var cur = CacheScope.checkpoint(start)
    var seen = probe.map(_(cur))
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val next = CacheScope.checkpoint(round(cur, rounds))
      probe.foreach { p =>
        val now = Some(p(next))
        stable = now == seen
        seen = now
        CacheScope.supersede(cur, next)
      }
      cur = next
      rounds += 1
    }
    (cur, rounds, stable)
  }

  /** k-core decomposition by iterative peeling: repeatedly drop nodes
    * with degree < k until none remain — the surviving subgraph is
    * the (maximal) k-core, the standard density filter for
    * co-occurrence graphs ("keep only tokens/parts embedded in a
    * dense context") and the preprocessing step for community and
    * nucleus decompositions.
    *
    * Per round: one degree aggregation (map-side partial, keyed on
    * node) + two left-semi joins filtering the edge list — all
    * node-key shuffles, no window, no collect. Each round's surviving
    * edge list is cut ([[cutLoop]]): the next round references it three
    * times (degree union + semi join), so the lineage must truncate.
    * Round count = peeling depth of the graph (typically small; worst
    * case the degeneracy ordering's length). With `maxRounds` set the
    * loop runs EXACTLY that many rounds with no convergence probes —
    * the deterministic bounded twin an unrolled SQL oracle can replay
    * step for step; once the peel has converged further rounds are
    * identity, so a bounded run that happens to converge early equals
    * the fixpoint. Returns (node, deg) of the surviving subgraph.
    *
    * Input contract: (`a`, `b`) UNDIRECTED canonical edges
    * (a < b, distinct). Node ids keep their input type (the
    * triangleCount rule): every peel round shuffles the surviving
    * edge list twice, and integer keys shuffle ~4× fewer bytes than
    * their string renderings. */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def degrees(e: DataFrame) = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node"))).groupBy("node").agg(count(lit(1)).as("deg"))
    degrees(cutLoop(edges.select(col(aCol).as("a"), col(bCol).as("b")), maxRounds,
        if (maxRounds == Int.MaxValue) Some(_.count()) else None) { (alive, _) =>
      val keep = degrees(alive).where(col("deg") >= k).select("node")
      alive
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
    }._1)
  }
}
