package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Bloom-filter runtime pruning, the 100 TB semi-join accelerator:
  * build a compact bit set over the small side's join keys (one
  * partial-aggregable pass, partitions OR-merge), ship it to the fact
  * scan, and drop rows that can't match BEFORE the shuffle. False
  * positives only let extra rows through to the exact residual join —
  * never wrong results; false negatives are impossible.
  *
  * BloomFilterAgg is the build side (TypedImperativeAggregate →
  * binary); BloomMightContain is the probe side (codegen'd membership
  * test). Double hashing h1 + i*h2 over a splitmix64 scramble
  * (Kirsch & Mitzenmacher '06: two hashes simulate k).
  */
object BloomFns {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def add(words: Array[Long], key: Long, numHashes: Int): Unit = {
    val numBits = words.length.toLong * 64
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5851f42d4c957f2dL) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      words((bit >>> 6).toInt) |= 1L << (bit & 63)
      i += 1
    }
  }

  /** Called from both interpreted eval and generated code. */
  def mightContain(bytes: Array[Byte], key: Long, numHashes: Int): Boolean = {
    val numBits = bytes.length.toLong * 8
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5851f42d4c957f2dL) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      if ((bytes((bit >>> 3).toInt) & (1 << (bit & 7).toInt)) == 0) return false
      i += 1
    }
    true
  }

  def toBytes(words: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    words.foreach(bb.putLong)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bytes.length / 8)(bb.getLong)
  }
}

case class BloomFilterAgg(
    child: Expression,
    numBitsExpr: Expression,
    numHashesExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private lazy val numBits: Int = numBitsExpr.eval().asInstanceOf[Int]
  private lazy val numHashes: Int = numHashesExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, numBitsExpr, numHashesExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, numBitsExpr, numHashesExpr) match {
      case (LongType, Literal(b: Int, IntegerType), Literal(h: Int, IntegerType))
        if b >= 64 && b % 64 == 0 && h >= 1 => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "bloom_agg needs (bigint, numBits int literal divisible by 64, numHashes int literal)")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomFns.add(buf, v.asInstanceOf[Long], numHashes)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = BloomFns.toBytes(buf)
  override def serialize(buf: Array[Long]): Array[Byte] = BloomFns.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] = BloomFns.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BloomFilterAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomFilterAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): BloomFilterAgg =
    copy(child = cs(0), numBitsExpr = cs(1), numHashesExpr = cs(2))
}

/** might_contain(bloomBytes, key) — stays inside whole-stage codegen
  * so the probe costs a few hashes per row, not a UDF call. */
case class BloomMightContain(left: Expression, right: Expression, numHashes: Int)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain needs (binary, bigint), got $other")
    }

  override def nullSafeEval(bloom: Any, key: Any): Any =
    BloomFns.mightContain(bloom.asInstanceOf[Array[Byte]],
      key.asInstanceOf[Long], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bloom, key) => {
      s"${ev.value} = graft.expressions.BloomFns.mightContain($bloom, $key, $numHashes);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContain =
    copy(left = l, right = r)
}

object BloomFilter {
  private[expressions] val aggFace = new FnRegistry("bloom_agg",
    exprs => BloomFilterAgg(exprs(0), exprs(1), exprs(2)).toAggregateExpression())
  private[expressions] val containsFace = new FnRegistry("bloom_might_contain",
    exprs => {
      val k = exprs(2) match {
        case Literal(v: Int, IntegerType) => v
        case _ => 5
      }
      BloomMightContain(exprs(0), exprs(1), k)
    })

  def bloomAgg(spark: SparkSession, key: Column, numBits: Int, numHashes: Int): Column =
    aggFace.column(spark, key, org.apache.spark.sql.functions.lit(numBits),
      org.apache.spark.sql.functions.lit(numHashes))

  def mightContain(spark: SparkSession, bloom: Column, key: Column, numHashes: Int): Column =
    containsFace.column(spark, bloom, key,
      org.apache.spark.sql.functions.lit(numHashes))
}
