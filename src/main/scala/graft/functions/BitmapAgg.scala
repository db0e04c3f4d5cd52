package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** EXACT distinct count over a non-negative integer key domain as a
  * sparse paged bitmap `TypedImperativeAggregate` — the third custom
  * imperative aggregate (next to the HLL and t-digest SKETCHES), and the
  * one that can be oracle-gated to a hash match: bitmap-OR is exact, so
  * `graft_bitmap(user_id)` == `count(DISTINCT user_id)` bit for bit.
  *
  * State is a page map (id >>> 15 → 4 KB bit page): dense within a page,
  * sparse across pages, so clustered id spaces (users, docs — the usual
  * dictionary-encoded entity keys) cost bytes ∝ occupied range, not
  * universe size. Pages OR together, which makes the buffer mergeable —
  * partial aggregation collapses map-side and the exchange carries page
  * state, not rows: the 100 TB property. (Production note: this is the
  * shape RoaringBitmap industrializes — run containers, SIMD OR; the
  * paged map here keeps the dependency surface zero.)
  *
  * Negative keys are not representable by construction (entity ids in
  * this schema are non-negative); null input is skipped like any agg.
  */
case class BitmapDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[Integer, Array[Long]]] {

  private val pageBits = 15 // 32768 ids / page → 4 KB of longs
  private val pageWords = 1 << (pageBits - 6)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bitmap"

  override def createAggregationBuffer(): java.util.HashMap[Integer, Array[Long]] =
    new java.util.HashMap[Integer, Array[Long]]()

  override def update(
      buf: java.util.HashMap[Integer, Array[Long]],
      input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.HashMap[Integer, Array[Long]] = {
    val v = child.eval(input)
    if (v != null) {
      val id = v match {
        case l: Long => l
        case i: Int => i.toLong
        case other => throw new IllegalArgumentException(
          s"graft_bitmap needs an integral key, got ${other.getClass}")
      }
      require(id >= 0 && id <= Int.MaxValue.toLong * (1L << pageBits),
        s"graft_bitmap key out of the pageable domain: $id")
      val page = (id >>> pageBits).toInt
      val bit = (id & ((1 << pageBits) - 1)).toInt
      var words = buf.get(page)
      if (words == null) { words = new Array[Long](pageWords); buf.put(page, words) }
      words(bit >>> 6) |= 1L << (bit & 63)
    }
    buf
  }

  override def merge(
      a: java.util.HashMap[Integer, Array[Long]],
      b: java.util.HashMap[Integer, Array[Long]])
      : java.util.HashMap[Integer, Array[Long]] = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val mine = a.get(e.getKey)
      // ADOPTS b's page array by reference and later merges mutate it in
      // place — sound ONLY because TypedImperativeAggregate input buffers
      // are freshly deserialized per merge() and never reused after it;
      // if that lifecycle ever changes, clone() the page on adoption.
      if (mine == null) a.put(e.getKey, e.getValue)
      else {
        var i = 0
        while (i < pageWords) { mine(i) |= e.getValue()(i); i += 1 }
      }
    }
    a
  }

  override def eval(buf: java.util.HashMap[Integer, Array[Long]]): Any = {
    var n = 0L
    val it = buf.values().iterator()
    while (it.hasNext) {
      val words = it.next()
      var i = 0
      while (i < pageWords) { n += java.lang.Long.bitCount(words(i)); i += 1 }
    }
    n
  }

  override def serialize(buf: java.util.HashMap[Integer, Array[Long]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size() * (4 + pageWords * 8))
    bb.putInt(buf.size())
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putInt(e.getKey)
      val words = e.getValue
      var i = 0
      while (i < pageWords) { bb.putLong(words(i)); i += 1 }
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[Integer, Array[Long]] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.HashMap[Integer, Array[Long]](n * 2)
    var k = 0
    while (k < n) {
      val page = bb.getInt
      val words = new Array[Long](pageWords)
      var i = 0
      while (i < pageWords) { words(i) = bb.getLong; i += 1 }
      buf.put(page, words)
      k += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object BitmapDistinct {
  /** The `graft_bitmap(c)` aggregate as a Column. */
  def col(c: Column): Column =
    column(BitmapDistinct(expression(c)).toAggregateExpression())
}
