package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, first}

/** The banded self-join of the LSH near-dup operators (Similarity's
  * cosine families, Dedup.simhashPairsArith). */
private[operators] object BandedLsh {

  /** Scored pairs of `buckets` rows that share a band key.
    * `buckets` is an (id, payload, band, key) frame; rows meeting on
    * (band, key) pair up once as id_a < id_b. The payload rides along
    * with the bucket rows, so `score` runs inline in the join task and
    * `keep` filters its result before the pair dedup: the groupBy (a
    * pair sharing several bands arrives once per band) then runs over
    * true pairs only, never a distinct over all candidates, and no
    * payload is joined back. Output: (id_a, id_b, `scoreName`). */
  def selfJoin(buckets: DataFrame, scoreName: String)(
      score: (Column, Column) => Column, keep: Column => Column): DataFrame = {
    val Array(_, payload, band, key) = buckets.columns
    buckets.as("a").join(buckets.as("b"),
        col(s"a.$band") === col(s"b.$band") && col(s"a.$key") === col(s"b.$key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        score(col(s"a.$payload"), col(s"b.$payload")).as(scoreName))
      .where(keep(col(scoreName)))
      .groupBy("id_a", "id_b").agg(first(col(scoreName)).as(scoreName))
  }
}
