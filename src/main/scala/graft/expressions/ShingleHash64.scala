package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Rolling 64-bit hashes of the n-word shingles of a token array:
  * each token is xxhash64'd (seed 42) once, then each window of n
  * consecutive token hashes is combined polynomially (base 1048573,
  * natural 64-bit wrap). One tight JVM pass, O(tokens) work with an
  * O(1) incremental window — no per-position string building.
  *
  * Why a custom Expression and not higher-order Column functions: a
  * `transform(sequence(...), i -> ... element_at(tokenHashes, i+j))`
  * formulation re-evaluates the embedded tokenHashes subexpression for
  * every lambda occurrence (Catalyst does not CSE across lambda
  * bodies), turning O(tokens) into O(tokens * n) full-array passes —
  * measured 4x slower than the plain string shingles it was meant to
  * beat. This is the (b) tier of the custom-operator ladder:
  * Expression before LogicalPlan/Strategy.
  *
  * Output values are opaque hashes: set cardinalities/intersections
  * match the string-shingle formulation modulo ~2^-64 collisions, so
  * exact-Jaccard results are preserved while join keys become longs.
  */
case class ShingleHash64(tokens: Expression, nExpr: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = tokens
  override def right: Expression = nExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (tokens.dataType, nExpr) match {
    case (ArrayType(StringType, _), Literal(n: Int, IntegerType)) if n >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        "shingle_hash64 needs (array<string>, positive int literal)")
  }

  override def nullSafeEval(toks: Any, nAny: Any): Any = {
    val arr = toks.asInstanceOf[ArrayData]
    val n = nAny.asInstanceOf[Int]
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](len)
    var i = 0
    while (i < len) {
      hs(i) = if (arr.isNullAt(i)) 0L
              else XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      i += 1
    }
    val B = 1048573L
    val out = new Array[Long](len - n + 1)
    var p = 0
    while (p <= len - n) {
      var acc = 0L
      var j = 0
      while (j < n) { acc = acc * B + hs(p + j); j += 1 }
      out(p) = acc
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ShingleHash64 =
    copy(tokens = l, nExpr = r)
}

object ShingleHash64 {
  private[expressions] val face =
    new FnRegistry("shingle_hash64", exprs => ShingleHash64(exprs(0), exprs(1)))

  def shingleHash64(spark: SparkSession, tokens: Column, n: Int): Column =
    face.column(spark, tokens, org.apache.spark.sql.functions.lit(n))
}
