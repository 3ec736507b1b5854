package graft.ml

import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.toDouble

/** Deterministic Lloyd's k-means over an array<float|double> column,
  * expressed as DataFrame aggregations (reference: mlqueries.py:14
  * run_kmeans_clustering, which used spark.ml KMeans on 2-D points).
  *
  * Spark-first shape: per iteration one codegen'd projection computes
  * the argmin-distance assignment (centroids inlined as literals — k*d
  * values in the plan, broadcast-free), then one posexplode+groupBy
  * recomputes means. Only k*d values ever hit the driver per
  * iteration. Init = the k lowest-id vectors (not kmeans||) so runs
  * are reproducible across partitionings — at 100 TB swap init for a
  * sampled sketch, the iteration shape is unchanged.
  *
  * The same Lloyd core (`distances`, `means`, `lloyd`) trains the
  * ProductQuantizer codebooks, the IVF-PQ coarse cells and the
  * integer k-means queries: numeric identity of every composition is
  * what keeps their unrolled DuckDB oracles valid.
  */
object KMeansLite {

  final case class Model(centroids: Array[Array[Double]], assignments: DataFrame)

  /** The cross-engine parity anchor of the double-valued models: a
    * raw double avg is summed in partition order, so its last ulps are
    * engine-dependent and would propagate into the next iteration's
    * assignments; at 1e-9 the rounding is far below inter-centroid
    * distances and far above ulp noise. */
  private[graft] val roundedMean: Column => Column = x => round(avg(x), 9)

  /** One (d, cluster) struct per literal centroid, d = Σ(v−c)² by the
    * native codegen'd fold (expressions/SqDist.scala — bit-identical
    * left-to-right sum, so the unrolled oracles replay it). The caller
    * supplies the cluster ids; sort_array's (d, cluster) order is the
    * deterministic tie-break: equal distances go to the lowest id. */
  private[graft] def distances[K, T](v: Column, cents: Seq[(K, Array[T])]): Column =
    array(cents.map { case (id, c) =>
      struct(graft.expressions.SqDist.sqDist(v, array(c.map(lit(_)): _*)).as("d"),
        lit(id).as("cluster"))
    }: _*)

  /** The nearest centroid's (d, cluster) struct. */
  private[graft] def nearest[K, T](v: Column, cents: Seq[(K, Array[T])]): Column =
    sort_array(distances(v, cents))(0)

  /** Centroids keyed by their index: the Int cluster ids. */
  private[graft] def indexed[T](cents: Array[Array[T]]): Seq[(Int, Array[T])] =
    cents.toSeq.zipWithIndex.map(_.swap)

  /** The k lowest-id rows' vectors of an (id, v) frame: the init. */
  private[graft] def seeds[T: ClassTag](vecs: DataFrame, k: Int): Array[Array[T]] = {
    val init = vecs.orderBy("id").limit(k).collect().map(_.getSeq[T](1).toArray)
    require(init.nonEmpty, "k-means needs a non-empty collection")
    init
  }

  /** `v` unless it is a non-NULL vector that is not `dim` non-NULL
    * values: SqDist reads such a vector as a NULL distance, which
    * sort_array orders first, so it would silently join cluster 0.
    * Applied once, where a caller builds the loop's cached input. */
  private[graft] def checked(id: Column, v: Column, dim: Int): Column =
    when(v.isNull || (size(v) === dim && !exists(v, _.isNull)), v)
      .otherwise(raise_error(concat(lit("k-means input id "), id.cast("string"),
        lit(s" is not a vector of $dim non-NULL values"))))

  /** One means pass over (j, cluster, v) rows: `mean` of every
    * (j, cluster, pos), collected in a single aggregation (the whole
    * model, driver-tiny) and assembled per (j, cluster) in pos order. */
  private[graft] def means[K, T: ClassTag](assigned: DataFrame,
      mean: Column => Column): Map[(Int, K), Array[T]] =
    assigned.select(col("j"), col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("j", "cluster", "pos").agg(mean(col("x")).as("m"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getAs[K](1)))
      .map { case (key, rows) => key -> rows.sortBy(_.getInt(2)).map(_.getAs[T](3)) }

  /** Lloyd's loop over a (j, v) frame with one centroid set per group
    * j: each round assigns every row to the nearest centroid of its own
    * group (one group's k distances per row) and runs one means pass.
    * A cluster no row joined keeps its previous centroid. */
  private[graft] def lloyd[T: ClassTag](data: DataFrame, init: Array[Array[Array[T]]],
      iters: Int, mean: Column => Column): Array[Array[Array[T]]] =
    (0 until iters).foldLeft(init) { (cents, _) =>
      val arms = cents.map(g => nearest(col("v"), indexed(g))("cluster"))
      val assign = arms.indices.tail.foldLeft(when(col("j") === 0, arms(0))) {
        (acc, j) => acc.when(col("j") === j, arms(j))
      }
      val next = cents.map(_.clone())
      means[Int, T](data.withColumn("cluster", assign), mean)
        .foreach { case ((j, cl), c) => next(j)(cl) = c }
      next
    }

  def fit(df: DataFrame, idCol: Column, vecCol: Column, k: Int, iters: Int): Model = {
    val vecs = df.select(idCol.as("id"), toDouble(vecCol).as("v"))
    val init = seeds[Double](vecs, k)
    // Spread before persisting: every iteration replays the k·d-term
    // assignment expression over this cache, so a file-bound single
    // partition would serialize the whole training loop through one
    // core (util.Spread doc — measured 1-core starvation at sf10)
    val data = graft.util.CacheScope.persist(graft.util.Spread(vecs.select(col("id"),
      checked(col("id"), col("v"), init.head.length).as("v"))))
    val cents = lloyd(data.select(lit(0).as("j"), col("v")), Array(init), iters,
      roundedMean).head
    Model(cents, data.select(col("id"), nearest(col("v"), indexed(cents))("cluster").as("cluster")))
  }
}
