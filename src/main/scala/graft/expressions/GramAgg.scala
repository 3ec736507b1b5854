package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** One-pass d×d Gram/moment aggregation for embedding columns: the
  * scale-correct replacement for the posexplode²/self-join moment
  * passes in ml.Pca and ml.ScatterPower. Each partition accumulates
  * (n, Σx, upper-triangle ΣxxT) into a flat buffer — O(d²) state, no
  * row inflation — and partials merge cell-wise, so the only thing
  * that ever crosses the shuffle is one d(d+1)/2-cell buffer per
  * partition instead of n·d² exploded rows (4096× row inflation at
  * d = 64). Reference analogue: mlqueries.py's dimensionality work
  * (runKMeansOnCoordinates, mlqueries.py:21) stops at 2-D points; at
  * 100 TB of embeddings this pass is the only part that touches data.
  *
  * Two lanes:
  *  - [[GramAggLong]] (`gram_agg_long`) — EXACT integer moments over
  *    `array<long>` (quantized milli-unit embeddings). Cells
  *    accumulate in a Long fast lane; a cell that would overflow
  *    spills into a per-cell BigInt side lane (Hacker's-Delight
  *    overflow test, no exceptions in the hot loop), so the result is
  *    exact at ANY scale while the hot path stays primitive adds.
  *    Partition-order invariant (integer addition commutes), hence
  *    DuckDB-replayable: the output equals `sum(a.xm*b.xm)` in any
  *    evaluation order.
  *  - [[GramAggDouble]] (`gram_agg_double`) — double moments over
  *    `array<double>` for spectral analyses with float tolerances
  *    (ml.Pca's breeze eigSym cross-check).
  *
  * Output: struct(n BIGINT, s array(d), g array(d(d+1)/2)) with the
  * upper triangle packed row-major: (i,j), i ≤ j, at index
  * i·d − i(i−1)/2 + (j−i).
  */
object GramFns {

  def triIndex(d: Int, i: Int, j: Int): Int = i * d - i * (i - 1) / 2 + (j - i)

  /** Exact integer accumulator: Long fast lane + BigInt spill lane. */
  final class LongBuf(val d: Int) {
    val tri: Int = d * (d + 1) / 2
    var n: Long = 0L
    val sumL = new Array[Long](d)
    val gramL = new Array[Long](tri)
    // lazily allocated: null while every cell still fits in a Long
    var sumB: Array[BigInt] = _
    var gramB: Array[BigInt] = _

    @inline private def spillSum(k: Int, a: Long, v: Long): Unit = {
      if (sumB == null) sumB = new Array[BigInt](d)
      val prev = if (sumB(k) == null) BigInt(0) else sumB(k)
      sumB(k) = prev + BigInt(a) + BigInt(v)
      sumL(k) = 0L
    }

    @inline private def spillGram(k: Int, a: Long, v: Long): Unit = {
      if (gramB == null) gramB = new Array[BigInt](tri)
      val prev = if (gramB(k) == null) BigInt(0) else gramB(k)
      gramB(k) = prev + BigInt(a) + BigInt(v)
      gramL(k) = 0L
    }

    @inline def addSum(k: Int, v: Long): Unit = {
      val a = sumL(k); val s = a + v
      if (((a ^ s) & (v ^ s)) < 0) spillSum(k, a, v) else sumL(k) = s
    }

    @inline def addGram(k: Int, v: Long): Unit = {
      val a = gramL(k); val s = a + v
      if (((a ^ s) & (v ^ s)) < 0) spillGram(k, a, v) else gramL(k) = s
    }

    def update(xs: Array[Long]): Unit = {
      require(xs.length == d, s"gram_agg: vector of ${xs.length}, expected $d")
      n += 1
      var i = 0
      var k = 0
      while (i < d) {
        val xi = xs(i)
        addSum(i, xi)
        var j = i
        while (j < d) {
          // multiplyExact: quantized inputs keep |x| far below 2^31,
          // but a bad quantization scale must fail loudly, not wrap
          addGram(k, Math.multiplyExact(xi, xs(j)))
          j += 1; k += 1
        }
        i += 1
      }
    }

    def merge(o: LongBuf): Unit = {
      require(o.d == d, s"gram_agg: merging dim ${o.d} into $d")
      n += o.n
      var k = 0
      while (k < d) {
        addSum(k, o.sumL(k))
        if (o.sumB != null && o.sumB(k) != null) {
          if (sumB == null) sumB = new Array[BigInt](d)
          sumB(k) = (if (sumB(k) == null) BigInt(0) else sumB(k)) + o.sumB(k)
        }
        k += 1
      }
      k = 0
      while (k < tri) {
        addGram(k, o.gramL(k))
        if (o.gramB != null && o.gramB(k) != null) {
          if (gramB == null) gramB = new Array[BigInt](tri)
          gramB(k) = (if (gramB(k) == null) BigInt(0) else gramB(k)) + o.gramB(k)
        }
        k += 1
      }
    }

    def sumAt(k: Int): BigInt =
      BigInt(sumL(k)) + (if (sumB != null && sumB(k) != null) sumB(k) else BigInt(0))
    def gramAt(k: Int): BigInt =
      BigInt(gramL(k)) + (if (gramB != null && gramB(k) != null) gramB(k) else BigInt(0))

    def toBytes: Array[Byte] = {
      val bigs = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      if (sumB != null)
        for (k <- 0 until d if sumB(k) != null) bigs += ((k, sumB(k).toByteArray))
      if (gramB != null)
        for (k <- 0 until tri if gramB(k) != null) bigs += ((d + k, gramB(k).toByteArray))
      val bigBytes = bigs.map(_._2.length + 8).sum
      val bb = java.nio.ByteBuffer.allocate(4 + 8 + 8 * d + 8 * tri + 4 + bigBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(d).putLong(n)
      sumL.foreach(bb.putLong)
      gramL.foreach(bb.putLong)
      bb.putInt(bigs.length)
      bigs.foreach { case (k, bytes) => bb.putInt(k).putInt(bytes.length).put(bytes) }
      bb.array()
    }
  }

  def longFromBytes(bytes: Array[Byte]): LongBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val buf = new LongBuf(bb.getInt)
    buf.n = bb.getLong
    for (k <- 0 until buf.d) buf.sumL(k) = bb.getLong
    for (k <- 0 until buf.tri) buf.gramL(k) = bb.getLong
    val nb = bb.getInt
    for (_ <- 0 until nb) {
      val k = bb.getInt
      val bytes = new Array[Byte](bb.getInt)
      bb.get(bytes)
      val v = BigInt(new java.math.BigInteger(bytes))
      if (k < buf.d) {
        if (buf.sumB == null) buf.sumB = new Array[BigInt](buf.d)
        buf.sumB(k) = v
      } else {
        if (buf.gramB == null) buf.gramB = new Array[BigInt](buf.tri)
        buf.gramB(k - buf.d) = v
      }
    }
    buf
  }

  /** Double accumulator for float-tolerance spectral work. */
  final class DoubleBuf(val d: Int) {
    val tri: Int = d * (d + 1) / 2
    var n: Long = 0L
    val sum = new Array[Double](d)
    val gram = new Array[Double](tri)

    def update(xs: Array[Double]): Unit = {
      require(xs.length == d, s"gram_agg: vector of ${xs.length}, expected $d")
      n += 1
      var i = 0
      var k = 0
      while (i < d) {
        val xi = xs(i)
        sum(i) += xi
        var j = i
        while (j < d) { gram(k) += xi * xs(j); j += 1; k += 1 }
        i += 1
      }
    }

    def merge(o: DoubleBuf): Unit = {
      require(o.d == d, s"gram_agg: merging dim ${o.d} into $d")
      n += o.n
      var k = 0
      while (k < d) { sum(k) += o.sum(k); k += 1 }
      k = 0
      while (k < tri) { gram(k) += o.gram(k); k += 1 }
    }

    def toBytes: Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 + 8 * d + 8 * tri)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(d).putLong(n)
      sum.foreach(bb.putDouble)
      gram.foreach(bb.putDouble)
      bb.array()
    }
  }

  def doubleFromBytes(bytes: Array[Byte]): DoubleBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val buf = new DoubleBuf(bb.getInt)
    buf.n = bb.getLong
    for (k <- 0 until buf.d) buf.sum(k) = bb.getDouble
    for (k <- 0 until buf.tri) buf.gram(k) = bb.getDouble
    buf
  }
}

case class GramAggLong(
    child: Expression,
    dimExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GramFns.LongBuf] {

  private lazy val d: Int = dimExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, dimExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("s", ArrayType(DecimalType(38, 0), containsNull = false)),
    StructField("g", ArrayType(DecimalType(38, 0), containsNull = false))))

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, dimExpr) match {
      case (ArrayType(LongType, _), Literal(dd: Int, IntegerType)) if dd >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "gram_agg_long needs (array<long>, dim int literal >= 1)")
    }

  override def createAggregationBuffer(): GramFns.LongBuf = new GramFns.LongBuf(d)

  override def update(buf: GramFns.LongBuf, input: InternalRow): GramFns.LongBuf = {
    val v = child.eval(input)
    if (v != null)
      buf.update(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray())
    buf
  }

  override def merge(buf: GramFns.LongBuf, other: GramFns.LongBuf): GramFns.LongBuf = {
    buf.merge(other); buf
  }

  override def eval(buf: GramFns.LongBuf): Any = {
    val s = new GenericArrayData(
      Array.tabulate[Any](buf.d)(k => Decimal(BigDecimal(buf.sumAt(k)), 38, 0)))
    val g = new GenericArrayData(
      Array.tabulate[Any](buf.tri)(k => Decimal(BigDecimal(buf.gramAt(k)), 38, 0)))
    new GenericInternalRow(Array[Any](buf.n, s, g))
  }

  override def serialize(buf: GramFns.LongBuf): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): GramFns.LongBuf =
    GramFns.longFromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): GramAggLong =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GramAggLong =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): GramAggLong =
    copy(child = cs(0), dimExpr = cs(1))
}

case class GramAggDouble(
    child: Expression,
    dimExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GramFns.DoubleBuf] {

  private lazy val d: Int = dimExpr.eval().asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, dimExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("s", ArrayType(DoubleType, containsNull = false)),
    StructField("g", ArrayType(DoubleType, containsNull = false))))

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, dimExpr) match {
      case (ArrayType(DoubleType, _), Literal(dd: Int, IntegerType)) if dd >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "gram_agg_double needs (array<double>, dim int literal >= 1)")
    }

  override def createAggregationBuffer(): GramFns.DoubleBuf = new GramFns.DoubleBuf(d)

  override def update(buf: GramFns.DoubleBuf, input: InternalRow): GramFns.DoubleBuf = {
    val v = child.eval(input)
    if (v != null)
      buf.update(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray())
    buf
  }

  override def merge(buf: GramFns.DoubleBuf, other: GramFns.DoubleBuf): GramFns.DoubleBuf = {
    buf.merge(other); buf
  }

  override def eval(buf: GramFns.DoubleBuf): Any =
    new GenericInternalRow(Array[Any](buf.n,
      new GenericArrayData(buf.sum.map(x => x: Any)),
      new GenericArrayData(buf.gram.map(x => x: Any))))

  override def serialize(buf: GramFns.DoubleBuf): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): GramFns.DoubleBuf =
    GramFns.doubleFromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): GramAggDouble =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GramAggDouble =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): GramAggDouble =
    copy(child = cs(0), dimExpr = cs(1))
}

object Gram {
  private[expressions] val longFace = new FnRegistry("gram_agg_long",
    exprs => GramAggLong(exprs(0), exprs(1)).toAggregateExpression())
  private[expressions] val doubleFace = new FnRegistry("gram_agg_double",
    exprs => GramAggDouble(exprs(0), exprs(1)).toAggregateExpression())

  def gramAggLong(spark: SparkSession, vec: Column, d: Int): Column =
    longFace.column(spark, vec, org.apache.spark.sql.functions.lit(d))

  def gramAggDouble(spark: SparkSession, vec: Column, d: Int): Column =
    doubleFace.column(spark, vec, org.apache.spark.sql.functions.lit(d))
}
