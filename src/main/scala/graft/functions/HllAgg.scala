package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog distinct-count sketch as a `TypedImperativeAggregate` —
  * the stretch custom-Catalyst-aggregate surface (SURVEY.md §2.11
  * udaf_imperative_hll). `approx_count_distinct` already ships HLL++; this
  * exists to exercise the raw imperative-aggregate path: an arbitrary JVM
  * buffer (byte-array registers) with explicit serialize/merge — exactly
  * the contract any custom sketch (theta, KLL, CPC) plugs into. Mergeable
  * constant-size state ⇒ partial aggregation and a shuffle of 2^p bytes
  * per group regardless of input size — the 100 TB property.
  *
  * Plain HLL (Flajolet et al. 2007) with the standard bias correction for
  * small/large ranges; p=11 → 2048 registers, ~1.5% relative error.
  */
case class HllSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  private val p = 11
  private val m = 1 << p

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hll"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  private def hash(v: Any): Long = v match {
    case s: UTF8String => scala.util.hashing.MurmurHash3.bytesHash(s.getBytes, 41).toLong << 32 |
      (scala.util.hashing.MurmurHash3.bytesHash(s.getBytes, 43).toLong & 0xffffffffL)
    case l: Long =>
      // 64-bit finalizer (splitmix64) — avalanche for dense integer keys
      var z = l + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    case i: Int => hash(i.toLong)
    case other => hash(other.toString.hashCode.toLong)
  }

  override def update(buf: Array[Byte], input: org.apache.spark.sql.catalyst.InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = hash(v)
      val idx = (h >>> (64 - p)).toInt
      val rest = h << p
      val rank = (if (rest == 0) 64 - p else java.lang.Long.numberOfLeadingZeros(rest)) + 1
      if (rank > buf(idx)) buf(idx) = rank.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any = {
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += math.pow(2.0, -buf(i).toDouble)
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    var e = alpha * m * m / sum
    if (e <= 2.5 * m && zeros > 0) e = m * math.log(m.toDouble / zeros)
    math.round(e)
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object HllSketch {
  /** The `graft_hll(c)` aggregate as a Column. */
  def col(c: Column): Column =
    column(HllSketch(expression(c)).toAggregateExpression())

  /** The estimator over raw registers — shared by the aggregate's eval
    * and driver-side sketch ALGEBRA (union-merge of returned register
    * arrays; see audience_overlap_hll). */
  def estimate(buf: Array[Byte]): Long = {
    val m = buf.length
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += math.pow(2.0, -buf(i).toDouble)
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    var e = alpha * m * m / sum
    if (e <= 2.5 * m && zeros > 0) e = m * math.log(m.toDouble / zeros)
    math.round(e)
  }

  /** Register-wise max — |A ∪ B| comes free from two sketches, which is
    * the whole point of HLL as an algebra, not just a counter. */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) {
      out(i) = if (b(i) > a(i)) b(i) else a(i); i += 1
    }
    out
  }
}

/** [[HllSketch]] evaluating to its RAW REGISTER ARRAY (BinaryType)
  * instead of the point estimate — what a sketch STORE persists so later
  * queries can merge/intersect without rescanning the data. */
case class HllRegisters(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  private val delegate = HllSketch(child)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "graft_hll_regs"

  override def createAggregationBuffer(): Array[Byte] =
    delegate.createAggregationBuffer()
  override def update(buf: Array[Byte], input: org.apache.spark.sql.catalyst.InternalRow): Array[Byte] =
    delegate.update(buf, input)
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    delegate.merge(a, b)
  override def eval(buf: Array[Byte]): Any = buf.clone()
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegisters =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegisters =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object HllRegisters {
  /** The `graft_hll_regs(c)` aggregate as a Column. */
  def col(c: Column): Column =
    column(HllRegisters(expression(c)).toAggregateExpression())
}
