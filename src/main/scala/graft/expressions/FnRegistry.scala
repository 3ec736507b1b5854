package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** One SQL function face of a native expression: its name, its
  * builder, once-per-session temp-function registration and a Column
  * face. Registration happens once per session because re-registering
  * mid-flight mutates the session and floods the log with
  * replaced-function WARNs. GraftExtensions.faces lists every face;
  * the session extension and `registerAll` both walk that list. */
private[expressions] final class FnRegistry(
    val name: String, val builder: Seq[Expression] => Expression) {
  import org.apache.spark.sql.classic.ClassicConversions.castToImpl

  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit =
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null)
      castToImpl(spark).sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")

  def column(spark: SparkSession, cols: Column*): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(name, cols: _*)
  }
}
