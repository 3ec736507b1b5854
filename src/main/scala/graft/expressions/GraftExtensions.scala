package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point registering graft's custom
  * Catalyst expressions as SQL functions, so a deployment can enable
  * them cluster-wide via
  * `spark.sql.extensions=graft.expressions.GraftExtensions` (no
  * per-session register calls).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.faces.foreach(f => e.injectFunction(
      (FunctionIdentifier(f.name), new ExpressionInfo("graft.expressions", f.name), f.builder)))
    e.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}

object GraftExtensions {

  /** Every SQL function graft defines, one face each: the single list
    * behind both the session extension and `registerAll`. */
  private[expressions] val faces: Seq[FnRegistry] = Seq(
    ShingleHash64.face, DotProduct.face, SqDist.face, SignSig63.face,
    AgreeCount.face, NormalizeString.face, SimHashPoly.face, SimHashPoly.face62,
    BloomFilter.aggFace, BloomFilter.containsFace, Gram.longFace, Gram.doubleFace,
    KllSketch.aggFace, KllSketch.quantileFace)

  /** Register everything on an existing session (same effect as the
    * spark.sql.extensions config for already-built sessions). */
  def registerAll(spark: SparkSession): Unit = faces.foreach(_.register(spark))
}
