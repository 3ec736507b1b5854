package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Count of positions where two array<bigint> columns agree —
  * the MinHash signature-agreement estimator's hot path, replacing
  * `size(filter(zip_with(a, b, (x,y) => (x===y).cast(int)), v => v===1))`
  * with one primitive loop.
  *
  * Exact HOF parity: zip_with null-pads the shorter array, a null
  * operand makes the equality null, cast keeps it null, and filter
  * DROPS nulls — so only positions with both sides present and equal
  * count. This loop runs to min(len) and skips null elements:
  * identical count for every length combination.
  *
  * Why native (the DotProduct/SignSig63/SqDist rule): the HOF chain
  * is interpreted (CodegenFallback) and allocates TWO intermediate
  * arrays per evaluation (the zip_with products and the filter
  * survivors). This runs once per CANDIDATE PAIR in the banded LSH
  * join — the relation that dominates near-dup cost at corpus scale —
  * and a k=16..128-element loop per pair is exactly what should stay
  * inside the stage's generated code.
  */
case class AgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"agree_count needs two array<bigint>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
        acc += 1
      i += 1
    }
    java.lang.Integer.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $acc = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) $acc++;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): AgreeCount =
    copy(left = l, right = r)
}

object AgreeCount {
  private[expressions] val face =
    new FnRegistry("agree_count", exprs => AgreeCount(exprs(0), exprs(1)))

  def agreeCount(spark: SparkSession, a: Column, b: Column): Column =
    face.column(spark, a, b)

  /** Session-less face for operator builders (the Dedup join
    * pipelines take no session parameter). */
  def agreeCount(a: Column, b: Column): Column =
    agreeCount(SparkSession.active, a, b)
}
