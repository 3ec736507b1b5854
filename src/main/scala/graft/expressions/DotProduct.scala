package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Dot product of two array<double> columns as one primitive loop.
  *
  * Semantically identical to
  * `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, (acc,v)=>acc+v)` — the
  * same left-to-right IEEE-754 fold, so results are bit-identical to
  * the HOF formulation and to the DuckDB `list_reduce` oracle — but
  * without materializing the intermediate product array per row. On
  * the 2M-pair near-dup join this is the per-pair hot path: the HOF
  * version allocates two ArrayData per pair; this allocates nothing.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private lazy val elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  /** double in → double out; bigint in → bigint out (round-8: the
    * LSH plane-sign bits fold long micro-unit vectors — same
    * wrapping long arithmetic as the HOF it replaces). */
  override def dataType: DataType = elemType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_product needs two array<double> or two array<bigint>, got $other")
    }

  override def nullable: Boolean = true

  /** Null semantics match the HOF fold (review fix — the siblings
    * AgreeCount/SqDist/SignSig63 already did): a null element
    * null-poisons `acc + x*y`, and zip_with null-pads unequal
    * lengths into the same poisoning, so both cases return null
    * instead of silently reading 0 off an UnsafeArrayData slot. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    if (elemType == DoubleType) {
      var acc = 0.0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getDouble(i) * y.getDouble(i); i += 1
      }
      java.lang.Double.valueOf(acc)
    } else {
      var acc = 0L
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getLong(i) * y.getLong(i); i += 1
      }
      java.lang.Long.valueOf(acc)
    }
  }

  /** Participates in whole-stage codegen: the fold compiles into the
    * enclosing stage's loop instead of falling back to interpreted
    * eval per row. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val (jt, get) =
        if (elemType == DoubleType) ("double", "getDouble")
        else ("long", "getLong")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  $jt $acc = ($jt) 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.$get($i) * $b.$get($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

object DotProduct {
  private[expressions] val face =
    new FnRegistry("dot_product", exprs => DotProduct(exprs(0), exprs(1)))

  def dotProduct(spark: SparkSession, a: Column, b: Column): Column =
    face.column(spark, a, b)
}
