package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.CacheScope

/** Distributed connected components over an edge list — the missing
  * last step of near-dup deduplication: candidate PAIRS (minhash /
  * simhash / exact-jaccard) must be grouped into duplicate CLUSTERS
  * so one canonical document per cluster survives. The reference stops
  * at `dropDuplicates` (data_cleaner.py:84, exact only); a training-
  * data pipeline needs the transitive closure of near-dup pairs.
  *
  * Algorithm: min-label propagation with pointer-doubling (the
  * DataFrame form of hash-to-min, Rastogi et al., "Finding Connected
  * Components in Map-Reduce in Logarithmic Rounds", ICDE 2013). Each
  * node holds a candidate label (initially itself); every round each
  * node takes the min of its own and its neighbors' labels, THEN
  * follows its label's label (shortcutting). Neighbor-min alone needs
  * O(diameter) rounds — a 1M-node chain would need 1M shuffles; the
  * shortcut halves remaining path length each round, so rounds =
  * O(log diameter). Each round is two shuffles keyed by node id —
  * never materializes anything super-linear in |edges|.
  *
  * Scale notes: every segment is cut with [[CacheScope.checkpoint]],
  * so plan size stays O(1) across iterations (iterative DataFrame jobs
  * otherwise re-plan an exponentially growing tree); convergence is
  * detected by the exact monotone label-sum riding the segment's own
  * materialization job.
  */
object ConnectedComponents {

  /** Edge list (aCol, bCol: long node ids, undirected) → (id, component)
    * for every node appearing in an edge; `component` is the minimum
    * node id of the component (deterministic canonical choice).
    *
    * If `maxIter` is hit before convergence (possible only on graphs
    * whose diameter >> 2^maxIter-reachable — pathological at 25), the
    * labels are PARTIAL: a cluster may carry several "canonical" ids.
    * That must not pass silently into a dedup pipeline, so this either
    * throws (`requireConvergence = true`) or logs a loud warning;
    * callers needing the flag programmatically use
    * `labelPropagationWithStatus`. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       maxIter: Int = 25, requireConvergence: Boolean = false): DataFrame =
    labelPropagationWithStatus(edges, aCol, bCol, maxIter, requireConvergence)._1

  /** As labelPropagation, additionally returning whether the labels
    * converged within maxIter rounds. */
  def labelPropagationWithStatus(edges: DataFrame, aCol: String, bCol: String,
                                 maxIter: Int = 25, requireConvergence: Boolean = false)
      : (DataFrame, Boolean) = {
    val e = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    // Undirected: propagate both ways. A standing layout hashed on the
    // join key: every round's neighbor-min joins adj on `b`, and an
    // unhashed edge relation re-exchanges the EDGE LIST — the big
    // side — once per round. At 100 TB that is `rounds` full-data
    // shuffles for one.
    val adj = CacheScope.checkpoint(
      e.union(e.select(col("b").as("a"), col("a").as("b"))).distinct(), col("b"))
    // Convergence probe: labels are NON-INCREASING per node (min of
    // self and neighbors, then a shortcut that only ever jumps toward
    // the component min), so Σ label is strictly decreasing until the
    // fixpoint and "sum unchanged ⟺ no label changed". The sum is exact
    // (decimal(38,0) — |nodes|·maxId ≪ 10^38) and rides the SAME job
    // that materializes the segment's cut, so a segment costs ONE
    // driver-blocking job.
    // An empty node set sums to ZERO; a null sum over a NON-empty set
    // (every node id null, or a non-ANSI decimal overflow) has no
    // fixpoint to detect and fails here instead of reading as
    // "converged".
    def labelSum(df: DataFrame): BigInt = {
      val r = df.agg(count(lit(1)), sum(col("label").cast("decimal(38,0)"))).first()
      if (r.getLong(0) == 0L) BigInt(0)
      else Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(
        throw new IllegalArgumentException(
          s"ConnectedComponents: label sum is null over ${r.getLong(0)} nodes " +
            "(null node ids, or decimal overflow with ANSI mode off)"))
    }
    // TWO rounds per segment, one blocking job each (the pageRankUntil
    // segment pattern): rounds inside a segment unroll lazily and
    // materialize together in the probe's job, halving the sequential
    // job count the loop pays — on the q_dbscan ε-graph (16 rounds to
    // converge) 8 blocking jobs instead of 16. Convergence across a
    // segment is still exact: the sum is monotone per ROUND, so
    // segment-sum unchanged ⟺ both rounds were the identity ⟺ fixpoint.
    val (labels, segments, converged) = Graph.cutLoop(
        adj.select(col("a").as("id")).distinct().withColumn("label", col("id")),
        (maxIter + 1) / 2, Some(labelSum)) { (cur, done) =>
      (1 to math.min(2, maxIter - 2 * done)).foldLeft(cur) { (seg, _) =>
        // min label among neighbors, then min with own label — as ONE
        // aggregation over the union of neighbor labels and own labels
        // (min over the union ≡ least(own, coalesce(nbrMin, own)); a
        // LEFT JOIN of neighbor minima back onto `labels` re-exchanged
        // and sorted both node-grain sides every round, while the
        // union rides the single exchange the aggregation needs anyway)
        val stepped = adj.join(seg, adj("b") === seg("id"))
          .select(adj("a").as("id"), col("label"))
          .union(seg)
          .groupBy("id").agg(min(col("label")).as("label"))
        // pointer doubling: label := label(label). Labels are node ids
        // of the same component, so this only ever jumps closer to the
        // min. The self-join's duplicate stepped subtree is deduped at
        // runtime by exchange reuse (one exchange, two reduce-side
        // aggs over node-grain rows).
        val roots = stepped.select(col("id").as("rid"), col("label").as("rlabel"))
        stepped.join(roots, stepped("label") === roots("rid"), "left")
          .select(stepped("id"),
            least(stepped("label"), coalesce(col("rlabel"), stepped("label"))).as("label"))
      }
    }
    val iter = math.min(2 * segments, maxIter)
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"labelPropagation: $iter rounds, converged=$converged")
    if (!converged) {
      val msg = s"ConnectedComponents.labelPropagation did NOT converge within " +
        s"$maxIter rounds — labels are partial (multiple canonical ids per cluster possible)"
      if (requireConvergence) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    (labels.select(col("id"), col("label").as("component")), converged)
  }
}
