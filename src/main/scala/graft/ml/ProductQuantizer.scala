package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.toDouble

/** Product quantization for memory-bounded ANN — the standard scale
  * path when raw vectors stop fitting in executor memory (Jégou et
  * al., "Product Quantization for Nearest Neighbor Search", TPAMI
  * 2011). The d-dim space is split into m subspaces; each gets a
  * k-centroid codebook (KMeansLite's deterministic Lloyd loop); a
  * vector compresses to m small codes (64 floats -> 4 bytes here,
  * 64x). Queries score candidates with asymmetric distance (ADC):
  * per-subspace lookup tables of query-to-centroid distances, summed
  * by code — a handful of array lookups per candidate instead of a
  * d-dim dot product, all codegen'd column expressions.
  *
  * Codebooks are tiny (m*k*subDim doubles) and inlined as literals —
  * the same broadcast-free pattern as KMeansLite's assignment.
  */
object ProductQuantizer {

  /** codebooks(j)(c) = centroid c of subspace j. */
  final case class Codebooks(m: Int, subDim: Int, cents: Array[Array[Array[Double]]])

  /** Train one codebook per subspace with deterministic k-means —
    * jointly: all m subspaces ride one exploded (j, subvector) frame
    * of KMeansLite's Lloyd loop, so each training iteration is ONE
    * Spark job instead of m. Numerically identical to m separate
    * KMeansLite.fit runs, one per slice: the init is the same lowest-k-id
    * rows sliced per subspace, each (j, cluster, pos) mean averages
    * exactly the same rows with the same round-to-9 parity anchor — so
    * the DuckDB oracle replay of train→encode→ADC is unchanged. */
  def train(df: DataFrame, idCol: Column, vecCol: Column,
            m: Int, k: Int, iters: Int): Codebooks =
    trainGroups(df, idCol, vecCol, m, k, iters, None)._1

  /** `train`, plus — for `coarseK = Some(n)` — an n-centroid
    * full-vector group j = m on the same frame: the IVF-PQ coarse
    * quantizer, equal to KMeansLite.fit over the same vectors, trained
    * in the same jobs as the codebooks. */
  private[graft] def trainGroups(df: DataFrame, idCol: Column, vecCol: Column,
      m: Int, k: Int, iters: Int, coarseK: Option[Int])
      : (Codebooks, Option[Array[Array[Double]]]) = {
    val vecs = df.select(idCol.as("id"), toDouble(vecCol).as("v"))
    val init = KMeansLite.seeds[Double](vecs, (k +: coarseK.toSeq).max)
    val dim = init.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val groups = (0 until m).map(j => slice(col("v"), j * subDim + 1, subDim)) ++
      coarseK.map(_ => col("v"))
    // one row per (vector, group): iterations replay the argmin over
    // this cache — Spread first so a file-bound single partition can't
    // serialize the whole loop through one core
    val data = graft.util.CacheScope.persist(
      graft.util.Spread(vecs.select(KMeansLite.checked(col("id"), col("v"), dim).as("v")))
        .select(explode(array(groups.zipWithIndex.map { case (g, j) =>
          struct(lit(j).as("j"), g.as("v"))
        }: _*)).as("e"))
        .select(col("e.j").as("j"), col("e.v").as("v")))
    val fitted = KMeansLite.lloyd(data,
      Array.tabulate(m)(j => init.take(k).map(_.slice(j * subDim, (j + 1) * subDim))) ++
        coarseK.map(init.take), iters, KMeansLite.roundedMean)
    (Codebooks(m, subDim, fitted.take(m)), coarseK.map(_ => fitted(m)))
  }

  /** Compress every vector to its m nearest-centroid codes. The
    * input is Spread first: the m·k·subDim argmin expression is the
    * dominant cost and must not inherit a file-bound single
    * partition (util.Spread doc). */
  def encode(df0: DataFrame, idCol: Column, vecCol: Column, cb: Codebooks): DataFrame = {
    val df = graft.util.Spread(df0)
    val codeCols = (0 until cb.m).map { j =>
      KMeansLite.nearest(slice(toDouble(vecCol), j * cb.subDim + 1, cb.subDim),
        KMeansLite.indexed(cb.cents(j)))("cluster")
    }
    df.select(idCol.as("id"), array(codeCols: _*).as("codes"))
  }

  /** Asymmetric distance of every row's `codes` to query vector `qv`:
    * per-subspace lookup tables of query-to-centroid squared distances
    * (literal arrays in the plan), summed by code, rounded to 9
    * decimals. */
  private[graft] def adcDistance(cb: Codebooks, qv: Array[Double]): Column =
    round((0 until cb.m).map { j =>
      val table = array(cb.cents(j).map { c =>
        lit(c.zip(qv.slice(j * cb.subDim, (j + 1) * cb.subDim))
          .map { case (ci, qi) => (ci - qi) * (ci - qi) }.sum)
      }: _*)
      element_at(table, element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _), 9)

  /** ADC top-k: for each (queryId, vector), rank the encoded
    * collection by summed lookup-table distance. The per-query tables
    * are literal arrays in the plan — queries are a serving-side
    * handful; the collection side only ever reads its codes. */
  def adcTopK(encoded: DataFrame, queries: Seq[(Long, Array[Double])],
              cb: Codebooks, kTop: Int): DataFrame = {
    val scored = queries.map { case (qid, qv) =>
      struct(lit(qid).as("query_id"), adcDistance(cb, qv).as("adist"))
    }
    val exploded = encoded
      .select(col("id"), explode(array(scored: _*)).as("q"))
      .where(col("q.query_id") =!= col("id"))
      .select(col("q.query_id").as("query_id"), col("id"), col("q.adist").as("adist"))
    graft.operators.TopKPerGroup.topK(exploded, Seq(col("query_id")),
      Seq(asc("adist"), col("id")), kTop, rankCol = "rnk")
      .select("query_id", "id", "adist", "rnk")
  }
}
