package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 63-bit sign signature of an embedding: bit j (0-based, j < 63) is
  * set iff `CAST(round(CAST(a[j] AS DOUBLE) * 1e6, 0) AS BIGINT) > 0`
  * — the exact per-element quantize-then-compare the q_bq_topk HOF
  * formulation and its DuckDB oracle replay use. Bit 63 stays clear
  * (a signed-64 `1<<63` overflows the oracle's BIGINT).
  *
  * The predicate is computed as `xd * 1e6 >= 0.5`, provably identical
  * to Spark's Round(HALF_UP)-then->0: BigDecimal.valueOf(d) preserves
  * order against 0.5 (exactly representable in both binary and
  * decimal), and HALF_UP rounds decimal(d) to ≥ 1 exactly when
  * decimal(d) ≥ 0.5; negatives round away from zero so they can never
  * land > 0. A null element contributes a clear bit, exactly like the
  * HOF's `IF(null > 0, 1, 0)`.
  *
  * Why a native expression: the HOF `aggregate(sequence(1,63), …)`
  * runs interpreted (lambda HOFs are CodegenFallback) and, once the
  * quantized intermediate array is referenced only by the signature,
  * CollapseProject inlines the 64-element transform INSIDE the
  * 63-iteration lambda — ~4k interpreted expression evals and 63
  * array allocations per row. This is one primitive loop, zero
  * allocations, and participates in whole-stage codegen, so the
  * ranking scan it feeds stays in one generated loop.
  */
case class SignSig63(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"sign_sig63 needs array<float> or array<double>, got $other")
  }

  // lazy: a strict val would ClassCastException on a wrong-typed
  // argument during construction, before checkInputDataTypes can
  // produce the curated error (the DotProduct/SqDist convention)
  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), 63)
    var acc = 0L
    var j = 0
    while (j < n) {
      if (!x.isNullAt(j)) {
        val xd = if (isFloat) x.getFloat(j).toDouble else x.getDouble(j)
        if (xd * 1e6 >= 0.5) acc |= 1L << j
      }
      j += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val xd = ctx.freshName("xd")
      val get = if (isFloat) s"(double) $a.getFloat($j)" else s"$a.getDouble($j)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), 63);
         |long $acc = 0L;
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$a.isNullAt($j)) {
         |    double $xd = $get;
         |    if ($xd * 1e6 >= 0.5) $acc |= 1L << $j;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SignSig63 =
    copy(child = c)
}

object SignSig63 {
  private[expressions] val face =
    new FnRegistry("sign_sig63", exprs => SignSig63(exprs.head))

  def signSig63(spark: SparkSession, a: Column): Column = face.column(spark, a)
}
