package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Squared Euclidean distance of two same-typed arrays as one
  * primitive loop: Σ (x−y)², folded LEFT TO RIGHT exactly like the
  * HOF formulation `aggregate(zip_with(a, b, (x,y) => (x−y)*(x−y)),
  * 0, (acc,z) => acc+z)` it replaces — bit-identical IEEE-754 sums on
  * array<double>, identical wrapping arithmetic on array<bigint> — so
  * every unrolled DuckDB k-means/PQ oracle replay is unchanged.
  * Unequal lengths return NULL, matching the HOF (zip_with pads with
  * null, the null product poisons the fold); so does a null element.
  *
  * Why native (the DotProduct/SignSig63 rule): lambda HOFs are
  * CodegenFallback and allocate an intermediate array per evaluation.
  * K-means assignment evaluates k of these per ROW per iteration —
  * the hot path of q_kmeans / q_kmeans_arith / q_kmeanspp and the
  * ProductQuantizer trainer/encoder behind q_ivf_pq / q_pq_topk. One
  * codegen'd loop per centroid deletes the allocations and keeps the
  * whole assignment expression inside the stage's generated code.
  */
case class SqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  private lazy val elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = elemType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"sq_dist needs two array<double> or two array<bigint>, got $other")
    }

  override def nullable: Boolean = true

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
        val d = x.getDouble(i) - y.getDouble(i)
        acc += d * d
        i += 1
      }
      java.lang.Double.valueOf(acc)
    } else {
      var acc = 0L
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val d = x.getLong(i) - y.getLong(i)
        acc += d * d
        i += 1
      }
      java.lang.Long.valueOf(acc)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      val (jt, get) =
        if (elemType == DoubleType) ("double", "getDouble")
        else ("long", "getLong")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  $jt $acc = ($jt) 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $jt $dd = $a.$get($i) - $b.$get($i);
         |    $acc += $dd * $dd;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDist =
    copy(left = l, right = r)
}

object SqDist {
  private[expressions] val face =
    new FnRegistry("sq_dist", exprs => SqDist(exprs(0), exprs(1)))

  /** Column face; registers on first use in the session. */
  def sqDist(spark: SparkSession, a: Column, b: Column): Column =
    face.column(spark, a, b)

  /** Session-less face for expression builders (KMeansLite /
    * ProductQuantizer construct assignment Columns with no session
    * parameter): resolves the thread's active session, which every
    * query-construction path has. */
  def sqDist(a: Column, b: Column): Column =
    sqDist(SparkSession.active, a, b)
}
