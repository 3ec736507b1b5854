package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 31-bit SimHash over an array<string> of tokens with a FULLY
  * ORACLE-REPLICABLE hash: per token the polynomial code-point fold
  * h = fold((acc*31 + codepoint) mod 2^31) followed by a Knuth
  * multiplicative finalizer (h*2654435761 mod 2^31 — an odd constant,
  * hence a bijection that spreads the small folds short tokens
  * produce across all 31 bits; without it high bits are identically
  * zero and the vote degenerates), then the classic ±1 vote per bit
  * position (Charikar '02), sign bitmap out (bit set iff the vote
  * count is > 0).
  *
  * Every step is integer arithmetic a SQL engine replays
  * term-for-term, so a pair query built on it is gated by a full
  * DuckDB oracle. A native expression because it runs as one tight
  * JVM loop per row: the HOF formulation of the same hash re-scans
  * the token-hash array once per bit, 31 times per row.
  *
  * Code points (not UTF-16 units) are hashed, matching SQL
  * `ascii(substring(s, i, 1))` / character-indexed `length()`
  * semantics for the whole BMP and beyond.
  */
case class SimHashPoly(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash_poly needs array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](31)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i).toString
        var acc = 0L
        var idx = 0
        while (idx < s.length) {
          val cp = s.codePointAt(idx)
          acc = (acc * 31L + cp) % 2147483648L
          idx += Character.charCount(cp)
        }
        acc = (acc * 2654435761L) % 2147483648L
        var j = 0
        while (j < 31) {
          if (((acc >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 31) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashPoly =
    copy(child = newChild)
}

object SimHashPoly {
  private[expressions] val face =
    new FnRegistry("simhash_poly", exprs => SimHashPoly(exprs.head))
  private[expressions] val face62 =
    new FnRegistry("simhash_poly62", exprs => SimHashPoly62(exprs.head))

  def simhashPoly(spark: SparkSession, tokens: Column): Column =
    face.column(spark, tokens)

  def simhashPoly62(spark: SparkSession, tokens: Column): Column =
    face62.column(spark, tokens)
}

/** 62-bit widening of [[SimHashPoly]]: TWO independent 31-bit
  * polynomial folds per token (bases 31 and 37, finalizers
  * 2654435761 and 2246822519 — both odd, hence bijections mod 2^31),
  * votes over all 62 bit positions, low fold in bits 0–30, second
  * fold in bits 31–61. Doubling the signature width is what makes
  * PIGEONHOLE BAND BLOCKING effective at corpus scale: with b =
  * maxHamming+1 bands of ~62/b bits, any pair within the hamming
  * radius shares at least one exact band (≤ maxHamming flipped bits
  * cannot touch all b bands), so the banded candidate join is
  * COMPLETE — and each band key carries enough bits that bucket
  * sizes stay sub-quadratic where an 8-bit prefix block degenerated
  * (measured 63× growth for 10× docs at the sf10 fixture). Every
  * step remains integer arithmetic a SQL engine replays
  * term-for-term.
  */
case class SimHashPoly62(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash_poly62 needs array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](62)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i).toString
        var a1 = 0L
        var a2 = 0L
        var idx = 0
        while (idx < s.length) {
          val cp = s.codePointAt(idx)
          a1 = (a1 * 31L + cp) % 2147483648L
          a2 = (a2 * 37L + cp) % 2147483648L
          idx += Character.charCount(cp)
        }
        a1 = (a1 * 2654435761L) % 2147483648L
        a2 = (a2 * 2246822519L) % 2147483648L
        var j = 0
        while (j < 31) {
          if (((a1 >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          if (((a2 >>> j) & 1L) == 1L) counts(31 + j) += 1 else counts(31 + j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 62) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashPoly62 =
    copy(child = newChild)
}
