package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, DoubleType}

/** t-digest quantile sketch as a `TypedImperativeAggregate` — the third
  * custom sketch next to [[HllSketch]] (distinct counts) and the
  * count-min heavy hitters: mergeable, bounded-size state for QUANTILES,
  * the statistic `percentile_approx` serves but whose raw
  * imperative-aggregate contract this exercises (arbitrary JVM buffer,
  * explicit serialize/merge — what any KLL/REQ/moments sketch plugs
  * into).
  *
  * Design (Dunning & Ertl, "Computing extremely accurate quantiles using
  * t-digests", 2019): centroids (mean, weight) kept under the k1 scale
  * function's size bound — clusters near the tails stay tiny (accurate
  * extreme quantiles), mid-range clusters grow. Buffered inserts amortize
  * compression; merge = concatenate + recompress. State ≤ ~2·δ centroids
  * regardless of input size ⇒ partial aggregation shuffles O(δ) doubles
  * per group — the 100 TB property.
  *
  * Merge order affects centroid boundaries slightly (inherent to
  * t-digest), so results are approximate and the key is oracle-EXEMPT:
  * CustomSurfaceSpec bounds the error against exact percentile.
  */
case class TDigestQuantile(
    child: Expression,
    qExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigestQuantile.Digest] {

  import TDigestQuantile.Digest

  private lazy val q: Double =
    qExpr.eval(InternalRow.empty) match {
      case d: java.lang.Double => d.doubleValue()
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case other => other.toString.toDouble
    }

  override def children: Seq[Expression] = Seq(child, qExpr)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_tdigest"

  override def createAggregationBuffer(): Digest = new Digest()

  override def update(buf: Digest, input: InternalRow): Digest = {
    val v = child.eval(input)
    if (v != null) buf.add(v match {
      case d: java.lang.Double => d.doubleValue()
      case f: java.lang.Float => f.toDouble
      case l: java.lang.Long => l.toDouble
      case i: java.lang.Integer => i.toDouble
      case other => other.toString.toDouble
    })
    buf
  }

  override def merge(a: Digest, b: Digest): Digest = { a.mergeWith(b); a }

  override def eval(buf: Digest): Any = {
    val r = buf.quantile(q)
    if (r.isNaN) null else r
  }

  override def serialize(buf: Digest): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): Digest = Digest.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TDigestQuantile =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TDigestQuantile =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head, qExpr = newChildren(1))
}

object TDigestQuantile {

  private val Delta = 100.0 // compression: ≤ ~2δ centroids retained

  /** Mutable digest: centroid arrays + an insert buffer. */
  final class Digest {
    var means: Array[Double] = new Array[Double](0)
    var weights: Array[Double] = new Array[Double](0)
    private var bufV = new Array[Double](256)
    private var bufN = 0

    def add(v: Double): Unit = {
      if (bufN == bufV.length) compress()
      bufV(bufN) = v
      bufN += 1
    }

    def mergeWith(o: Digest): Unit = {
      o.compress()
      if (o.means.nonEmpty) {
        // fold the other digest's centroids in as weighted points
        compress()
        val m = new Array[Double](means.length + o.means.length)
        val w = new Array[Double](m.length)
        System.arraycopy(means, 0, m, 0, means.length)
        System.arraycopy(weights, 0, w, 0, means.length)
        System.arraycopy(o.means, 0, m, means.length, o.means.length)
        System.arraycopy(o.weights, 0, w, means.length, o.means.length)
        means = m; weights = w
        recompress()
      }
    }

    /** k1 scale-function size limit for a cluster at quantile midpoint. */
    private def sizeBound(qMid: Double, total: Double): Double = {
      val safe = math.max(1e-9, math.min(1.0 - 1e-9, qMid))
      4.0 * total * safe * (1.0 - safe) / Delta
    }

    def compress(): Unit = {
      if (bufN > 0) {
        val m = new Array[Double](means.length + bufN)
        val w = new Array[Double](m.length)
        System.arraycopy(means, 0, m, 0, means.length)
        System.arraycopy(weights, 0, w, 0, means.length)
        var i = 0
        while (i < bufN) {
          m(means.length + i) = bufV(i); w(means.length + i) = 1.0; i += 1
        }
        means = m; weights = w; bufN = 0
        recompress()
      }
    }

    private def recompress(): Unit = {
      if (means.length > 1) {
        val idx = means.indices.sortBy(means(_)).toArray
        val total = weights.sum
        val om = new Array[Double](means.length)
        val ow = new Array[Double](means.length)
        var k = -1
        var seen = 0.0
        var i = 0
        while (i < idx.length) {
          val mi = means(idx(i)); val wi = weights(idx(i))
          val qMid = (seen + wi / 2.0) / total
          if (k >= 0 && ow(k) + wi <= sizeBound(qMid, total)) {
            // weighted-mean merge into the open cluster
            val nw = ow(k) + wi
            om(k) = om(k) + (mi - om(k)) * wi / nw
            ow(k) = nw
          } else {
            k += 1; om(k) = mi; ow(k) = wi
          }
          seen += wi
          i += 1
        }
        means = java.util.Arrays.copyOf(om, k + 1)
        weights = java.util.Arrays.copyOf(ow, k + 1)
      }
    }

    /** Interpolated quantile over the centroid sequence. */
    def quantile(q: Double): Double = {
      compress()
      if (means.isEmpty) return Double.NaN
      if (means.length == 1) return means(0)
      val total = weights.sum
      val target = q * total
      var cum = 0.0
      var i = 0
      while (i < means.length) {
        val mid = cum + weights(i) / 2.0
        if (target <= mid) {
          if (i == 0) return means(0)
          val prevMid = cum - weights(i - 1) / 2.0
          val t = (target - prevMid) / (mid - prevMid)
          return means(i - 1) + t * (means(i) - means(i - 1))
        }
        cum += weights(i)
        i += 1
      }
      means(means.length - 1)
    }

    def toBytes: Array[Byte] = {
      compress()
      val bb = ByteBuffer.allocate(4 + means.length * 16)
      bb.putInt(means.length)
      var i = 0
      while (i < means.length) {
        bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1
      }
      bb.array()
    }
  }

  object Digest {
    def fromBytes(bytes: Array[Byte]): Digest = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val d = new Digest()
      d.means = new Array[Double](n)
      d.weights = new Array[Double](n)
      var i = 0
      while (i < n) { d.means(i) = bb.getDouble; d.weights(i) = bb.getDouble; i += 1 }
      d
    }
  }

  /** The `graft_tdigest(c, q)` aggregate as a Column. */
  def col(c: Column, q: Column): Column =
    column(TDigestQuantile(expression(c), expression(q)).toAggregateExpression())
}
