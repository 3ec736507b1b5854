package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Graph

/** SURVEY §2.6 graph analytics over derived edge lists — ranks,
  * triangles, hop distances (components live in TextQueries2's dedup
  * clusters). The graph is derived from the TPC-H tables: the
  * bipartite supplier↔part supply graph and the part co-occurrence
  * graph (parts supplied within the same order).
  *
  * All three are ITERATIVE or MULTI-JOIN shapes whose oracles are
  * still plain SQL: PageRank and BFS run a FIXED number of rounds, so
  * the oracle is the same recurrence unrolled as k chained CTEs —
  * generated by a Scala loop below so both engines share one
  * recurrence definition and cannot drift.
  */
object GraphQueries {

  /** Shared DuckDB CTE prelude — integer-ENCODED (round-7): supplier k ↦
    * 2k, part k ↦ 2k+1. Every iterative round shuffles the edge
    * relation keyed by node id, and an 8-byte long shuffles ~3× fewer
    * bytes (and hashes/compares flat) vs the 's123'/'p456' string
    * rendering — the same native-key rule kCore and triangleCount
    * follow. The human-readable id is rendered ONCE at the k-row
    * output ([[renderNodeSql]]); kcore's identical change sped up
    * BOTH engines (DuckDB 91→9 s at sf1), so the ratio stays honest. */
  private val duckEdgesEnc = """
    ede AS (SELECT DISTINCT 2 * l_suppkey AS src, 2 * l_partkey + 1 AS dst
            FROM lineitem),
    edges AS (SELECT src, dst FROM ede UNION ALL SELECT dst, src FROM ede),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges)"""

  /** Render an encoded node id back to the reference 's<k>'/'p<k>'
    * form — identical CASE on both engines, applied only to final
    * k-row outputs. */
  private def renderNodeSql(c: String): String =
    s"CASE WHEN $c % 2 = 0 THEN 's' || CAST($c // 2 AS VARCHAR) " +
      s"ELSE 'p' || CAST($c // 2 AS VARCHAR) END"

  private def renderNodeSpark(c: String) = expr(
    s"CASE WHEN $c % 2 = 0 THEN concat('s', CAST($c div 2 AS STRING)) " +
      s"ELSE concat('p', CAST($c div 2 AS STRING)) END")

  /** Encoded symmetrized supplier↔part edge list (Spark twin of
    * [[duckEdgesEnc]]). */
  private def encEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    val sp = Tables.lineitem(s, d)
      .select((col("l_suppkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
  }

  private val prIters = 8

  /** One unrolled PageRank round: the exact integer recurrence from
    * operators.Graph.pageRank (BIGINT micro-units, integer div). */
  private def prStep(k: Int): String = s"""
    pr$k AS (
      SELECT n.node,
             CAST(150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(p.rank // d.d) AS BIGINT) AS s
        FROM pr${k - 1} p
        JOIN deg d ON p.node = d.src
        JOIN edges e ON e.src = p.node
        GROUP BY e.dst) c ON n.node = c.node)"""

  /** Damped PageRank (8 rounds, exact BIGINT arithmetic) over the
    * symmetrized supplier↔part graph; top-100 nodes. Integer ranks
    * make the result partition-order-invariant, hence fully
    * hash-checkable against the unrolled-CTE oracle — a rare thing
    * for an iterative float algorithm. Scale shape: per round one
    * agg shuffle on dst + one node-keyed left join, lineage truncated
    * per round (operators/Graph.scala). */
  private val qPageRank = BoundQuery("q_pagerank", (s, d) => {
    Graph.pageRank(encEdges(s, d), "src", "dst", iters = prIters)
      .select(renderNodeSpark("node").as("node"), col("rank"))
      .orderBy(desc("rank"), col("node")).limit(100)
  }, Some(s"""
    WITH $duckEdgesEnc,
    pr0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
    ${(1 to prIters).map(prStep).mkString(",")}
    SELECT ${renderNodeSql("node")} AS node, rank
    FROM pr$prIters ORDER BY rank DESC, node LIMIT 100
  """))

  /** Exact triangle count of the part co-occurrence graph (parts
    * sharing an order). Edge derivation fan-out is bounded by
    * items-per-order (≤ 7 in TPC-H, ≤ 13 in the testdata) — per-order
    * pair explosion is quadratic only in that small constant, safe at
    * any order count. The count itself uses degree-ordered
    * orientation (operators.Graph.triangleCount) so no task ever fans
    * out more than O(sqrt|E|); the oracle counts via the simpler
    * id-orientation — triangle COUNT is orientation-invariant, so
    * both give the same number while only the Spark side carries the
    * skew-safe shape. */
  private val qTriangles = BoundQuery("q_triangles", (s, d) => {
    val pp = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = pp.as("a").join(pp.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("pa"), col("b.p").as("pb"))
    Graph.triangleCount(pairs, "pa", "pb")
  }, Some("""
    WITH pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ed AS (SELECT DISTINCT CAST(a.p AS VARCHAR) AS a, CAST(b.p AS VARCHAR) AS b
           FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS triangles
            FROM ed e1 JOIN ed e2 ON e2.a = e1.b
                       JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT a AS n FROM ed UNION SELECT b FROM ed)) AS nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM ed) AS edges,
           triangles
    FROM tri
  """))

  private val bfsHops = 4

  /** One unrolled BFS round: min-hop relaxation through the edge
    * list, mirroring operators.Graph.bfsHops. */
  private def bfsStep(k: Int): String = s"""
    r$k AS (SELECT node, min(hop) AS hop FROM (
              SELECT node, hop FROM r${k - 1}
              UNION ALL
              SELECT e.dst, r.hop + 1
              FROM edges e JOIN r${k - 1} r ON e.src = r.node)
            GROUP BY node)"""

  /** Hop distance (≤ 4) from the seed suppliers s1..s5 over the
    * supply graph — the "hold out everything within k hops of the
    * eval set" primitive for leakage-safe splits. Early-exits when a
    * round adds no nodes; per round one dst-keyed shuffle. Integer
    * hops → exact oracle via the unrolled min-hop recurrence. */
  private val qBfsHops = BoundQuery("q_bfs_hops", (s, d) => {
    val li = Tables.lineitem(s, d)
    val sources = li.where(col("l_suppkey") <= 5)
      .select((col("l_suppkey") * 2).as("node")).distinct()
    Graph.bfsHops(encEdges(s, d), "src", "dst", sources, "node",
        maxHops = bfsHops)
      .select(renderNodeSpark("node").as("node"), col("hop"))
      .orderBy("node")
  }, Some(s"""
    WITH $duckEdgesEnc,
    r0 AS (SELECT DISTINCT 2 * l_suppkey AS node, CAST(0 AS BIGINT) AS hop
           FROM lineitem WHERE l_suppkey <= 5),
    ${(1 to bfsHops).map(bfsStep).mkString(",")}
    SELECT ${renderNodeSql("node")} AS node, hop
    FROM r$bfsHops ORDER BY node
  """))

  /** Adamic–Adar link prediction (Adamic & Adar 2003) over the part
    * co-purchase graph: two parts are "likely related" in proportion
    * to Σ 1/ln(sharing-context size) over the orders containing both —
    * rarer contexts vouch harder, the inverse-log damping that makes
    * AA beat raw co-occurrence counts for recommendations. Each
    * order's weight 1e6/ln(m) is micro-nat-rounded ONCE; pair scores
    * are exact long sums; top-50 by TakeOrdered.
    *
    * Scale shape: pairs are generated per ORDER (the blocking key),
    * and an order holds ≤7 lineitems in TPC-H-shaped data, so the
    * self-join fan-out is ≤ C(7,2) per order — candidates grow with
    * orders, never parts². The degenerate-context guard every AA
    * implementation needs (a giant context generating m² pairs) is
    * structural here; for unbounded contexts the same maxShingleDf
    * cap as the ngram joins applies. */
  private val qAdamicAdar = BoundQuery("q_adamic_adar", (s, d) => {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val sized = items.groupBy("ok").agg(count(lit(1)).as("m"))
      .where(col("m") >= 2)
      .withColumn("w_mn",
        round(lit(1e6) / log(col("m").cast("double")), 0).cast("long"))
    val withW = items.join(sized, "ok")
    withW.as("a").join(withW.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .agg(count(lit(1)).as("n_orders"), sum(col("a.w_mn")).as("aa_mn"))
      .select(col("part_a"), col("part_b"), col("n_orders"),
        round(col("aa_mn").cast("double") / 1e6, 6).as("aa_score"))
      .orderBy(desc("aa_score"), col("part_a"), col("part_b")).limit(50)
  }, Some("""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    sized AS (
      SELECT ok, CAST(count(*) AS BIGINT) AS m,
        CAST(round(1e6 / ln(CAST(count(*) AS DOUBLE)), 0) AS BIGINT) AS w_mn
      FROM items GROUP BY ok HAVING count(*) >= 2),
    ww AS (SELECT items.ok, pk, w_mn FROM items JOIN sized ON items.ok = sized.ok)
    SELECT a.pk AS part_a, b.pk AS part_b,
      CAST(count(*) AS BIGINT) AS n_orders,
      round(CAST(sum(a.w_mn) AS DOUBLE) / 1e6, 6) AS aa_score
    FROM ww a JOIN ww b ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY 1, 2
    ORDER BY aa_score DESC, part_a, part_b LIMIT 50
  """))

  /** k-core of the part co-purchase graph (k=80), peeled for EXACTLY
    * 3 rounds — the bounded twin of Graph.kCore's fixpoint loop, so
    * the DuckDB oracle replays every round as an unrolled CTE (the
    * q_kmeans_arith convention for iterative algorithms: bind the
    * bounded deterministic form, spec the convergent form). At k=80
    * the first peel removes ~7% of nodes and triggers real cascading
    * (second-round deficits), so the query exercises the iteration,
    * not just the initial filter.
    *
    * Scale shape: per round one node-keyed degree agg + two left-semi
    * joins — see Graph.kCore. */
  private val qKcore = BoundQuery("q_kcore", (s, d) => {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
    Graph.kCore(edges, "src", "dst", k = 80, maxRounds = 3)
      .orderBy("node")
  }, Some("""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
    d1 AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
             SELECT src AS node FROM e0 UNION ALL SELECT dst AS node FROM e0) t
           GROUP BY 1),
    k1 AS MATERIALIZED (SELECT node FROM d1 WHERE deg >= 80),
    e1 AS MATERIALIZED (SELECT e0.src, e0.dst FROM e0
           JOIN k1 a ON e0.src = a.node JOIN k1 b ON e0.dst = b.node),
    d2 AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
             SELECT src AS node FROM e1 UNION ALL SELECT dst AS node FROM e1) t
           GROUP BY 1),
    k2 AS MATERIALIZED (SELECT node FROM d2 WHERE deg >= 80),
    e2 AS MATERIALIZED (SELECT e1.src, e1.dst FROM e1
           JOIN k2 a ON e1.src = a.node JOIN k2 b ON e1.dst = b.node),
    d3 AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
             SELECT src AS node FROM e2 UNION ALL SELECT dst AS node FROM e2) t
           GROUP BY 1),
    k3 AS MATERIALIZED (SELECT node FROM d3 WHERE deg >= 80),
    e3 AS (SELECT e2.src, e2.dst FROM e2
           JOIN k3 a ON e2.src = a.node JOIN k3 b ON e2.dst = b.node)
    SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      SELECT src AS node FROM e3 UNION ALL SELECT dst AS node FROM e3) t
    GROUP BY 1 ORDER BY node
  """))

  /** Neighbor-set Jaccard for every co-purchase edge — the third
    * link-prediction score beside q_adamic_adar (inverse-log) and
    * plain common-neighbors: |N(a)∩N(b)| / |N(a)∪N(b)| with the
    * intersection = triangles through the edge.
    *
    * Common-neighbor counting reuses q_triangles' degree-ordered
    * orientation (wedges fan out from each node's ORIENTED
    * out-neighbors, bounded by arboricity — a hub's edges all point
    * at it), each closed triangle emits its three canonical edges,
    * and one groupBy yields per-edge intersection sizes. Union size
    * is deg_a + deg_b − common (inclusion–exclusion, exact longs);
    * the score is one integral division to ppm, top-50 by TakeOrdered. */
  private val qNeighborJaccard = BoundQuery("q_neighbor_jaccard", (s, d) => {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val canon = items.as("x").join(items.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst")).distinct()
    val deg = canon.select(col("src").as("node"))
      .union(canon.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val wd = canon
      .join(deg.select(col("node").as("src"), col("deg").as("da")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("db")), "dst")
    val oriented = wd.select(
      when(struct(col("da"), col("src")) < struct(col("db"), col("dst")),
        col("src")).otherwise(col("dst")).as("lo"),
      when(struct(col("da"), col("src")) < struct(col("db"), col("dst")),
        col("dst")).otherwise(col("src")).as("hi"))
    val paths = oriented.as("e1").join(oriented.as("e2"),
        col("e1.hi") === col("e2.lo"))
      .select(col("e1.lo").as("u"), col("e1.hi").as("v"), col("e2.hi").as("w"))
    val tri = paths.join(oriented.as("e3"),
      col("u") === col("e3.lo") && col("w") === col("e3.hi"))
      .select("u", "v", "w")
    val triEdges = tri.select(explode(array(
        struct(least(col("u"), col("v")).as("s"), greatest(col("u"), col("v")).as("g")),
        struct(least(col("v"), col("w")).as("s"), greatest(col("v"), col("w")).as("g")),
        struct(least(col("u"), col("w")).as("s"), greatest(col("u"), col("w")).as("g"))))
        .as("e"))
      .select(col("e.s").as("src"), col("e.g").as("dst"))
    val common = triEdges.groupBy("src", "dst").agg(count(lit(1)).as("common"))
    wd.join(common, Seq("src", "dst"), "left")
      .na.fill(0L, Seq("common"))
      .select(col("src"), col("dst"), col("common"),
        col("da").as("deg_src"), col("db").as("deg_dst"),
        expr("(1000000 * common) div (da + db - common)").as("jacc_ppm"))
      .orderBy(desc("jacc_ppm"), col("src"), col("dst")).limit(50)
  }, Some("""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
    d AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) t
          GROUP BY 1),
    wd AS (
      SELECT e.src, e.dst, da.deg AS da, db.deg AS db
      FROM e JOIN d da ON da.node = e.src JOIN d db ON db.node = e.dst),
    o AS (
      SELECT CASE WHEN (da, src) < (db, dst) THEN src ELSE dst END AS lo,
             CASE WHEN (da, src) < (db, dst) THEN dst ELSE src END AS hi
      FROM wd),
    p AS (
      SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
      FROM o e1 JOIN o e2 ON e1.hi = e2.lo),
    tri AS (
      SELECT u, v, w FROM p JOIN o e3 ON p.u = e3.lo AND p.w = e3.hi),
    tri_edges AS (
      SELECT least(u, v) AS src, greatest(u, v) AS dst FROM tri
      UNION ALL SELECT least(v, w), greatest(v, w) FROM tri
      UNION ALL SELECT least(u, w), greatest(u, w) FROM tri),
    c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS common
          FROM tri_edges GROUP BY 1, 2),
    j AS (
      SELECT wd.src, wd.dst, coalesce(c.common, 0) AS common, wd.da, wd.db
      FROM wd LEFT JOIN c ON c.src = wd.src AND c.dst = wd.dst)
    SELECT src, dst, common, da AS deg_src, db AS deg_dst,
      (1000000 * common) // (da + db - common) AS jacc_ppm
    FROM j ORDER BY jacc_ppm DESC, src, dst LIMIT 50
  """))

  /** HITS hubs & authorities (Kleinberg '99) on the bipartite
    * customer→part purchase graph, 2 mutual-reinforcement rounds:
    * authority(p) = Σ hub of buyers, hub(c) = Σ authority of parts
    * bought. The float-free formulation follows q_pca_power: scores
    * are exact micro-unit longs and each round renormalizes by the
    * MAXIMUM via one truncating integral division (s·10⁶ div max) —
    * both engines replay every round bit-for-bit, so the oracle
    * unrolls the recurrence as CTEs. Top-20 authorities by
    * TakeOrdered.
    *
    * Scale shape: each half-round is one edge-keyed partial-agg
    * shuffle + a 1-row max broadcast — the PageRank cost shape; edges
    * are the distinct (customer, part) pairs, never order lines. */
  private val qHits = BoundQuery("q_hits", (s, d) => {
    val edges = Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
    // round 1: authority from unit hubs (= 10^6 · indegree), renorm
    val a1raw = edges.groupBy("p").agg((count(lit(1)) * 1000000L).as("ar"))
    val a1max = a1raw.agg(max(col("ar")).as("am"))
    val a1 = a1raw.crossJoin(broadcast(a1max))
      .select(col("p"), expr("(ar * 1000000) div am").as("a1"))
    // round 1: hub from those authorities, renorm
    val h1raw = edges.join(a1, "p").groupBy("c").agg(sum(col("a1")).as("hr"))
    val h1max = h1raw.agg(max(col("hr")).as("hm"))
    val h1 = h1raw.crossJoin(broadcast(h1max))
      .select(col("c"), expr("(hr * 1000000) div hm").as("h1"))
    // round 2: authority from refined hubs, renorm
    val a2raw = edges.join(h1, "c").groupBy("p").agg(sum(col("h1")).as("ar2"))
    val a2max = a2raw.agg(max(col("ar2")).as("am2"))
    a2raw.crossJoin(broadcast(a2max))
      .select(col("p").as("part"), expr("(ar2 * 1000000) div am2").as("auth_u"))
      .orderBy(desc("auth_u"), col("part")).limit(20)
  }, Some("""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    a1raw AS (
      SELECT p, CAST(count(*) * 1000000 AS BIGINT) AS ar
      FROM edges GROUP BY 1),
    a1 AS (
      SELECT p, (ar * 1000000) // (SELECT max(ar) FROM a1raw) AS a1
      FROM a1raw),
    h1raw AS (
      SELECT c, CAST(sum(a1) AS BIGINT) AS hr
      FROM edges JOIN a1 USING (p) GROUP BY 1),
    h1 AS (
      SELECT c, (hr * 1000000) // (SELECT max(hr) FROM h1raw) AS h1
      FROM h1raw),
    a2raw AS (
      SELECT p, CAST(sum(h1) AS BIGINT) AS ar2
      FROM edges JOIN h1 USING (c) GROUP BY 1)
    SELECT p AS part, (ar2 * 1000000) // (SELECT max(ar2) FROM a2raw) AS auth_u
    FROM a2raw ORDER BY auth_u DESC, part LIMIT 20
  """))

  /** Newman modularity of the brand partition over the part
    * co-purchase graph — "do same-brand parts cluster in purchases?":
    * Q = Σ_c [e_c/m − (d_c/2m)²], communities = p_brand. The
    * partition-quality readout that turns any grouping (brands here;
    * near-dup clusters, k-cores elsewhere) into one comparable score.
    *
    * Exact integer form: Q·ppm = (10⁶·(4m·Σe_c − Σd_c²)) div (4m²)
    * by cross-multiplication — no per-community fraction ever
    * materializes (the q_ks_test cross-multiply rule); 4m·Σe_c and
    * Σd_c² live in decimal(38,0)/HUGEINT. Per-community rows are also
    * emitted (intra-edges, degree mass) so the score is auditable.
    *
    * Scale shape: one edge-keyed join to attach brands (broadcast
    * part dim), one groupBy per side; the final reduction is
    * |brands|-sized. */
  private val qModularity = BoundQuery("q_modularity", (s, d) => {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
    val brand = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"))
    val withC = edges
      .join(broadcast(brand.select(col("p_partkey").as("src"),
        col("p_brand").as("cs"))), "src")
      .join(broadcast(brand.select(col("p_partkey").as("dst"),
        col("p_brand").as("cd"))), "dst")
    val m = withC.agg(count(lit(1)).as("m"))
    val intra = withC.where(col("cs") === col("cd"))
      .groupBy(col("cs").as("community")).agg(count(lit(1)).as("e_c"))
    val degMass = withC.select(col("cs").as("community"))
      .union(withC.select(col("cd").as("community")))
      .groupBy("community").agg(count(lit(1)).as("d_c"))
    val per = degMass.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("e_c"))
    per.crossJoin(broadcast(m))
      .agg(max(col("m")).as("m"), count(lit(1)).as("n_communities"),
        sum(col("e_c")).as("intra_edges"),
        sum(col("d_c").cast("decimal(19,0)") * col("d_c").cast("decimal(19,0)"))
          .as("dsq"))
      .select(col("m").as("n_edges"), col("n_communities"), col("intra_edges"),
        expr("""CAST((1000000 * (4 * CAST(m AS DECIMAL(38,0)) * intra_edges
                                 - dsq))
                div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)""")
          .as("q_ppm"))
  }, Some("""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
    wc AS (
      SELECT e.src, e.dst, ps.p_brand AS cs, pd.p_brand AS cd
      FROM e JOIN part ps ON ps.p_partkey = e.src
             JOIN part pd ON pd.p_partkey = e.dst),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM wc),
    intra AS (
      SELECT cs AS community, CAST(count(*) AS BIGINT) AS e_c
      FROM wc WHERE cs = cd GROUP BY 1),
    dm AS (
      SELECT community, CAST(count(*) AS BIGINT) AS d_c FROM (
        SELECT cs AS community FROM wc
        UNION ALL SELECT cd AS community FROM wc) t
      GROUP BY 1),
    per AS (
      SELECT dm.community, dm.d_c, coalesce(intra.e_c, 0) AS e_c
      FROM dm LEFT JOIN intra ON intra.community = dm.community)
    SELECT max(m.m) AS n_edges, CAST(count(*) AS BIGINT) AS n_communities,
      CAST(sum(e_c) AS BIGINT) AS intra_edges,
      CAST((1000000 * (4 * CAST(max(m.m) AS HUGEINT) * CAST(sum(e_c) AS BIGINT)
                       - sum(CAST(d_c AS HUGEINT) * d_c)))
           // (4 * CAST(max(m.m) AS HUGEINT) * max(m.m)) AS BIGINT) AS q_ppm
    FROM per CROSS JOIN m
  """))

  /** Global clustering coefficient (transitivity) of the part
    * co-purchase graph: C = 3·triangles / wedges, where wedges =
    * Σ_n d(d−1)/2 counts unordered neighbor pairs. Triangles reuse
    * operators.Graph.triangleCount's degree-ordered orientation
    * (wedge fan-out bounded by arboricity — a hub's edges all point
    * AT it, so no hub ever enumerates its own d² wedges); the wedge
    * total is one degree agg + a closed-form sum. d(d−1) is a product
    * of consecutive integers, so the `div 2` is exact, and the ppm
    * coefficient is one truncating division — bit-equal on both
    * engines.
    *
    * Scale shape: the only data-sized work is the canonical edge
    * list (one distinct) + the oriented wedge join q_triangles
    * already pays; the new wedge term is a node-keyed partial agg
    * reduced to ONE row. d can reach ~1e5 on a web-scale co-purchase
    * hub → d² ≈ 1e10 per node, summed in decimal(38,0). */
  private val qClusteringCoeff = BoundQuery("q_clustering_coeff", (s, d) => {
    val pp = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = pp.as("a").join(pp.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("pa"), col("b.p").as("pb"))
    val canon = pairs.select(col("pa").cast("string").as("a"),
        col("pb").cast("string").as("b")).distinct()
    val deg = canon.select(col("a").as("n")).union(canon.select(col("b")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    // per-node dg·(dg−1)/2 is exact in a long (even product, d ≤ ~1e5
    // even on a web-scale hub → ≤ 5e9); the global sum gets decimal
    val wedges = deg.agg(
      sum(expr("(dg * (dg - 1)) div 2").cast("decimal(38,0)")).as("w2"))
      .select(col("w2").cast("long").as("wedges"))
    Graph.triangleCount(pairs, "pa", "pb")
      .crossJoin(broadcast(wedges))
      .select(col("nodes"), col("edges"), col("triangles"), col("wedges"),
        expr("CASE WHEN wedges > 0 THEN CAST((3000000 * triangles) div wedges AS BIGINT) END")
          .as("transitivity_ppm"))
  }, Some("""
    WITH pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ed AS (SELECT DISTINCT CAST(a.p AS VARCHAR) AS a, CAST(b.p AS VARCHAR) AS b
           FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM (
              SELECT a AS n FROM ed UNION ALL SELECT b FROM ed) GROUP BY n),
    wg AS (SELECT CAST(sum(CAST(dg AS HUGEINT) * (dg - 1)) // 2 AS BIGINT) AS wedges
           FROM deg),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS triangles
            FROM ed e1 JOIN ed e2 ON e2.a = e1.b
                       JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM ed) AS edges,
           triangles, wedges,
           CASE WHEN wedges > 0
             THEN CAST((3000000 * triangles) // wedges AS BIGINT) END AS transitivity_ppm
    FROM tri CROSS JOIN wg
  """))

  /** Degree assortativity of the part co-purchase graph: the Pearson
    * correlation of endpoint degrees over all DIRECTED edges (each
    * undirected edge contributes both orientations — the standard
    * Newman '02 convention, which also makes Σx = Σy by symmetry).
    * Positive r = hubs prefer hubs (social-network-like), negative =
    * hubs prefer leaves (star-like catalogs).
    *
    * Exactness: degrees are exact longs from one count; all five
    * moment sums accumulate in decimal(38,0) (Σxy ≤ E·d_max² ≈
    * 3e7·1e10 at a web-scale co-purchase graph — far past int64);
    * the final r follows the q_correlation precedent — identical
    * IEEE-754 double ops on identical exact-integer operands, rounded
    * to 9 digits, so both engines emit the same bits.
    *
    * Scale shape: one distinct for the edge list, one node-keyed
    * degree agg, two broadcast-able degree joins (the degree table is
    * |V| rows — small relative to |E|), one 6-sum reduction. */
  private val qAssortativity = BoundQuery("q_assortativity", (s, d) => {
    val pp = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val ed = pp.as("a").join(pp.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
    val sym = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("n")).agg(count(lit(1)).as("dg"))
    val dec = "decimal(38,0)"
    sym
      .join(deg.select(col("n").as("src"), col("dg").as("x")), "src")
      .join(deg.select(col("n").as("dst"), col("dg").as("y")), "dst")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
      .select(col("n").as("n_edges"),
        round((col("n").cast("double") * col("sxy").cast("double") -
               col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
           sqrt(col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 9)
          .as("assortativity"))
  }, Some("""
    WITH pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ed AS (SELECT DISTINCT a.p AS src, b.p AS dst
           FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p),
    sym AS (SELECT src, dst FROM ed UNION ALL SELECT dst AS src, src AS dst FROM ed),
    deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS dg FROM sym GROUP BY src),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
            sum(CAST(da.dg AS DECIMAL(38,0))) AS sx,
            sum(CAST(db.dg AS DECIMAL(38,0))) AS sy,
            sum(CAST(da.dg AS DECIMAL(38,0)) * da.dg) AS sxx,
            sum(CAST(da.dg AS DECIMAL(38,0)) * db.dg) AS sxy,
            sum(CAST(db.dg AS DECIMAL(38,0)) * db.dg) AS syy
          FROM sym JOIN deg da ON sym.src = da.n JOIN deg db ON sym.dst = db.n)
    SELECT n AS n_edges,
      round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
        AS assortativity
    FROM m
  """))

  /** Hub-removal robustness of the part co-purchase graph: for
    * k ∈ {1, 5, 25}, how many edges survive when the top-k
    * highest-degree nodes (min-node-id tie-break) are deleted — the
    * targeted-attack curve (Albert–Barabási '00): scale-free graphs
    * shatter under hub removal while random graphs barely notice.
    * Operationally this is the "what if we blocklist the k most
    * connected entities" question for fraud rings and boilerplate
    * hubs.
    *
    * Scale shape: degree ranks come from Ranking.globalRowNumber
    * (range-partitioned two-phase rank — NO single-partition window
    * over |V|); each edge picks up its endpoints' ranks via two
    * node-keyed joins, then a 3-row threshold explode reduces to the
    * 3-row curve. */
  private val qRobustness = BoundQuery("q_robustness", (s, d) => {
    val pp = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val ed = pp.as("a").join(pp.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
    val deg = ed.select(col("src").as("n")).union(ed.select(col("dst").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val ranked = graft.operators.Ranking
      .globalRowNumber(deg, "rk0", col("dg").desc, col("n"))
      .select(col("n"), (col("rk0") + 1).as("rk"))
    ed
      .join(ranked.select(col("n").as("src"), col("rk").as("rka")), "src")
      .join(ranked.select(col("n").as("dst"), col("rk").as("rkb")), "dst")
      .select(col("rka"), col("rkb"),
        explode(array(lit(1L), lit(5L), lit(25L))).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("edges_total"),
        sum(when(col("rka") > col("k") && col("rkb") > col("k"), 1L)
          .otherwise(0L)).as("edges_surviving"))
      .select(col("k"), col("edges_total"), col("edges_surviving"),
        expr("CAST((1000000 * edges_surviving) div edges_total AS BIGINT)")
          .as("survival_ppm"))
      .orderBy("k")
  }, Some("""
    WITH pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ed AS (SELECT DISTINCT a.p AS src, b.p AS dst
           FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM (
              SELECT src AS n FROM ed UNION ALL SELECT dst FROM ed) GROUP BY n),
    ranked AS (SELECT n, CAST(row_number() OVER (ORDER BY dg DESC, n) AS BIGINT) AS rk
               FROM deg),
    ks AS (SELECT CAST(k AS BIGINT) AS k FROM unnest([1, 5, 25]) AS t(k))
    SELECT k, CAST(count(*) AS BIGINT) AS edges_total,
      CAST(sum(CASE WHEN ra.rk > k AND rb.rk > k THEN 1 ELSE 0 END) AS BIGINT)
        AS edges_surviving,
      CAST((1000000 * sum(CASE WHEN ra.rk > k AND rb.rk > k THEN 1 ELSE 0 END))
           // count(*) AS BIGINT) AS survival_ppm
    FROM ed JOIN ranked ra ON ed.src = ra.n JOIN ranked rb ON ed.dst = rb.n
    CROSS JOIN ks
    GROUP BY k ORDER BY k
  """))

  /** Degree distribution of the co-purchase graph in exact log₂
    * buckets (bucket = len(bin(d)) − 1, pure integer string length —
    * no float log whose last-ulp could misbucket a 2^k boundary):
    * node count and degree mass per bucket. The heavy-tail summary
    * read next to q_hubness (vectors) and q_robustness (edges): a
    * straight line across these buckets is the power-law signature
    * that predicts hub fragility.
    *
    * Scale shape: one node-keyed degree agg, one ≤64-row bucket agg. */
  private val qDegreeDist = BoundQuery("q_degree_dist", (s, d) => {
    val pp = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val ed = pp.as("a").join(pp.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
    val deg = ed.select(col("src").as("n")).union(ed.select(col("dst").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    deg.groupBy((length(bin(col("dg"))) - 1).cast("long").as("log2_bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("degree_mass"))
      .orderBy("log2_bucket")
  }, Some("""
    WITH pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ed AS (SELECT DISTINCT a.p AS src, b.p AS dst
           FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM (
              SELECT src AS n FROM ed UNION ALL SELECT dst FROM ed) GROUP BY n)
    SELECT CAST(length(bin(dg)) - 1 AS BIGINT) AS log2_bucket,
      CAST(count(*) AS BIGINT) AS n_nodes,
      CAST(sum(dg) AS BIGINT) AS degree_mass
    FROM deg GROUP BY 1 ORDER BY log2_bucket
  """))

  /** Katz centrality (Katz 1953), truncated at walk length 3 with
    * α = 0.1: c(v) = Σ_l α^l·walks_l(v), where walks_l(v) counts
    * length-l walks ENDING at v — the centrality that credits a node
    * for being reachable, damped by distance, where degree (= l=1
    * term) sees only the immediate neighborhood. α = 10⁻¹ makes the
    * truncated sum EXACT in milli-units: katz_milli = 100·w₁ + 10·w₂
    * + 1·w₃, pure integer — no float, no convergence tolerance
    * (α < 1/λmax territory is moot at finite truncation). Truncation
    * is principled: the l=4 term is ≤ w₃·maxdeg/10⁴ relative noise at
    * these degrees and the ranking question is local influence.
    *
    * Scale shape: walks_l comes from l−1 sparse edge joins — each is
    * an equi join on the node key followed by a map-side-combined
    * sum, the exact shape of one PageRank round (and the same
    * degenerate-hub caveat: walk counts grow with Πdeg, so a 10⁸-deg
    * hub needs the df-cap treatment before round 3). Top-50 via
    * TakeOrdered, never a global sort. */
  private val qKatz = BoundQuery("q_katz", (s, d) => {
    // the walk recurrence references the edge relation three times:
    // cut it once (unpinned, each w_k re-scanned the fact table and
    // re-shuffled the distinct)
    val edges = graft.util.CacheScope.checkpoint(encEdges(s, d))
    val w1 = edges.groupBy(col("dst").as("node")).agg(count(lit(1)).as("w1"))
    val w2 = edges.join(w1.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node")).agg(sum(col("w1")).as("w2"))
    val w3 = edges.join(w2.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node")).agg(sum(col("w2")).as("w3"))
    w1.join(w2, "node").join(w3, "node")
      .select(renderNodeSpark("node").as("node"),
        col("w1"), col("w2"), col("w3"),
        (col("w1") * 100L + col("w2") * 10L + col("w3")).as("katz_milli"))
      .orderBy(desc("katz_milli"), col("node")).limit(50)
  }, Some(s"""
    WITH $duckEdgesEnc,
    w1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS w1
           FROM edges GROUP BY 1),
    w2 AS (SELECT e.dst AS node, CAST(sum(w1.w1) AS BIGINT) AS w2
           FROM edges e JOIN w1 ON w1.node = e.src GROUP BY 1),
    w3 AS (SELECT e.dst AS node, CAST(sum(w2.w2) AS BIGINT) AS w3
           FROM edges e JOIN w2 ON w2.node = e.src GROUP BY 1)
    SELECT ${renderNodeSql("w1.node")} AS node, w1.w1, w2.w2, w3.w3,
      w1.w1 * 100 + w2.w2 * 10 + w3.w3 AS katz_milli
    FROM w1 JOIN w2 ON w1.node = w2.node JOIN w3 ON w1.node = w3.node
    ORDER BY katz_milli DESC, node LIMIT 50
  """))

  /** Synchronous label propagation (Raghavan et al. 2007, the
    * deterministic variant): every node starts as its own label and
    * each round adopts the MODE of its neighbors' labels with a
    * total-order tie-break (count desc, label asc) — 4 rounds, then
    * community sizes. Complements the dedup CC operator: CC finds
    * connected components; LP finds dense regions INSIDE one giant
    * component (the supplier↔part graph is near-connected, where CC
    * says almost nothing). Scale shape per round: one edge-keyed
    * join + one (node, label) partial-agg + one per-node argmax
    * agg, all inside ONE lazy unrolled plan (each round's label table
    * is consumed exactly once, so the plan grows linearly in rounds —
    * no per-round driver barrier); the oracle unrolls the identical 4 rounds (the
    * q_pagerank technique). Sync + total-order ties = deterministic,
    * hence hash-gated — the async random-order variant trades that
    * for faster convergence and is the documented production knob. */
  private val qLabelProp = BoundQuery("q_label_prop", (s, d) => {
    // the Pregel standing-layout rule (operators/Graph.pageRank): the
    // loop-stable edge relation is hashed on the round's join key, so
    // each of the 4 rounds re-shuffles only the node-grain label
    // table, never the edge list (unhashed, the edge list
    // re-exchanged 240M rows per round at sf10)
    val edges = graft.util.CacheScope.checkpoint(encEdges(s, d), col("dst"))
    // ONE lazy unrolled plan, the q_pagerank rule: each round's label
    // table is consumed exactly once (the next round's join), so the
    // plan grows LINEARLY in rounds and nothing recomputes. Per-round
    // eager cuts of the node-grain table cost 12.7× wall for 10× data
    // sf1→sf10, the only graph slope over 10×; the lazy single plan
    // read 63.9→29.6 s at sf10 = 5.5× for 10× data, and per-round
    // barriers would serialize a 1000-executor cluster identically.
    var lab = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to 4) {
      val counts = edges
        .join(lab.select(col("node").as("dst"), col("label")), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("c"))
      // mode with (count DESC, label ASC) tie-break as ONE hash
      // aggregation: max of struct(c, -label) is lexicographic, so the
      // winner is the highest count and, on ties, the SMALLEST label —
      // same answer as the row_number window, without materializing
      // and sorting the (src, label) relation per round (round-7: the
      // per-round sort window was 8× DuckDB at sf10; encoded labels
      // made the negation trick available). The oracle keeps the
      // window formulation — identical result, each engine on its
      // natural plan.
      lab = counts
        .groupBy(col("src"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("label"))
    }
    lab.groupBy("label").agg(count(lit(1)).as("n_members"))
      .select(renderNodeSpark("label").as("label"), col("n_members"))
      .orderBy(desc("n_members"), col("label")).limit(50)
  }, Some {
    def step(k: Int) = s"""
    cnt$k AS (
      SELECT e.src, l.label, CAST(count(*) AS BIGINT) AS c
      FROM edges e JOIN lab${k - 1} l ON l.node = e.dst GROUP BY 1, 2),
    lab$k AS MATERIALIZED (
      SELECT src AS node, label FROM (
        SELECT src, label,
          row_number() OVER (PARTITION BY src ORDER BY c DESC, label ASC) AS rn
        FROM cnt$k) WHERE rn = 1)"""
    s"""
    WITH $duckEdgesEnc,
    lab0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
    ${(1 to 4).map(step).mkString(",")}
    SELECT ${renderNodeSql("label")} AS label,
      CAST(count(*) AS BIGINT) AS n_members
    FROM lab4 GROUP BY label ORDER BY n_members DESC, label LIMIT 50
  """})

  /** One unrolled peel chain at threshold k for the q_core_levels
    * oracle — q_kcore's 3-round CTE ladder parameterized by k, names
    * suffixed so three thresholds coexist in one WITH clause. */
  private def peelSql(k: Int): String = {
    def e(i: Int) = if (i == 0) "e0" else s"e${k}_$i"
    (1 to 3).map { i =>
      s"""
    d${k}_$i AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
           FROM (SELECT src AS node FROM ${e(i - 1)}
                 UNION ALL SELECT dst AS node FROM ${e(i - 1)}) t GROUP BY 1),
    k${k}_$i AS MATERIALIZED (SELECT node FROM d${k}_$i WHERE deg >= $k),
    ${e(i)} AS MATERIALIZED (SELECT p.src, p.dst FROM ${e(i - 1)} p
           JOIN k${k}_$i a ON p.src = a.node
           JOIN k${k}_$i b ON p.dst = b.node)"""
    }.mkString(",")
  }

  /** Core-level profile: the bounded k-core peel (3 rounds, the
    * q_kcore twin) run at thresholds k ∈ {40, 80, 120}, reporting the
    * surviving subgraph's node and edge counts per level — the
    * density-decay curve that tells a corpus curator how much of the
    * co-purchase graph lives at each connectivity tier before
    * committing to a cutoff. Surviving edges come from the operator's
    * degree output via Σdeg div 2 (every edge counted at both
    * endpoints — exact, no separate edge scan). */
  private val qCoreLevels = BoundQuery("q_core_levels", (s, d) => {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
    def level(k: Int) = Graph.kCore(edges, "src", "dst", k, maxRounds = 3)
      .agg(count(lit(1)).as("n_nodes"),
        // a fully-peeled level has NO surviving rows: sum→NULL, not 0
        coalesce(expr("sum(deg) div 2"), lit(0L)).as("n_edges"))
      .select(lit(k.toLong).as("k"), col("n_nodes"), col("n_edges"))
    level(40).union(level(80)).union(level(120)).orderBy("k")
  }, Some {
    def lvl(k: Int) = s"""
    SELECT CAST($k AS BIGINT) AS k,
      (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM (
        SELECT src AS node FROM e${k}_3 UNION ALL SELECT dst FROM e${k}_3))
        AS n_nodes,
      (SELECT CAST(count(*) AS BIGINT) FROM e${k}_3) AS n_edges"""
    s"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
    ${Seq(40, 80, 120).map(peelSql).mkString(",")}
    ${Seq(40, 80, 120).map(lvl).mkString(" UNION ALL ")}
    ORDER BY k
  """})

  /** PageRank convergence residual: the L1 / L∞ distance between the
    * round-7 and round-8 rank vectors, in exact rank micro-units —
    * the telemetry that tells you whether q_pagerank's FIXED
    * iteration count actually suffices on THIS graph before anyone
    * trusts the ranks (residual_ppm = L1 relative to total rank
    * mass; stop when it stalls). Both vectors come out of ONE
    * 8-round lazy unroll: the round-7 table is consumed twice (round
    * 8 + this comparison), exactly the kind of shared prefix
    * CacheScope's plan-keyed persist dedupes, so the marginal cost
    * over q_pagerank is one node-grain join. Exact BIGINT ranks make
    * the residual hash-checkable — a convergence DIAGNOSTIC that two
    * engines agree on bit-for-bit. */
  private val qPagerankConverge = BoundQuery("q_pagerank_converge", (s, d) => {
    val e = graft.util.CacheScope.persist(encEdges(s, d).distinct())
    val r7 = graft.util.CacheScope.persist(
      Graph.pageRank(e, "src", "dst", iters = prIters - 1))
    val r8 = Graph.pageRankStep(e, "src", "dst", r7)
    r7.select(col("node"), col("rank").as("rank7"))
      .join(r8.select(col("node"), col("rank").as("rank8")), "node")
      .agg(count(lit(1)).as("n_nodes"),
        sum(abs(col("rank8") - col("rank7"))).as("l1_u"),
        max(abs(col("rank8") - col("rank7"))).as("linf_u"),
        sum(col("rank8")).as("mass_u"))
      .select(col("n_nodes"), col("l1_u"), col("linf_u"),
        // divide the mass down rather than scaling l1 up: mass is
        // n·10¹² (≥10¹² always, so the divisor never zeroes) and
        // 10⁶·l1 overflows long past ~10k nodes
        expr("l1_u div (mass_u div 1000000)").as("residual_ppm"))
  }, Some(s"""
    WITH $duckEdgesEnc,
    pr0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
    ${(1 to prIters).map(prStep).mkString(",")}
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      CAST(sum(abs(b.rank - a.rank)) AS BIGINT) AS l1_u,
      CAST(max(abs(b.rank - a.rank)) AS BIGINT) AS linf_u,
      CAST(sum(abs(b.rank - a.rank)) // (sum(b.rank) // 1000000) AS BIGINT)
        AS residual_ppm
    FROM pr${prIters - 1} a JOIN pr$prIters b ON a.node = b.node
  """))

  val all: Seq[BoundQuery] = Seq(qPageRank, qTriangles, qBfsHops, qAdamicAdar,
    qKcore, qNeighborJaccard, qHits, qModularity, qClusteringCoeff,
    qAssortativity, qRobustness, qDegreeDist, qKatz, qLabelProp, qCoreLevels,
    qPagerankConverge)
}
