package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Element-wise vector average aggregate: array<float|double> column ->
  * array<double> of per-dimension means over non-null rows.
  *
  * This is the centroid primitive for recommend/IVF/cluster jobs. As a
  * TypedImperativeAggregate it participates in partial aggregation: each
  * partition folds its vectors into one (sums, count) buffer map-side and
  * only buffers cross the wire — versus the posexplode alternative, which
  * shuffles |rows| * dim (pos, value) pairs. At 100 TB that is the
  * difference between shuffling kilobytes and shuffling the dataset.
  *
  * Buffer: [count: Long][dim: Int][sums: dim * Double], resized on first
  * non-null input; inputs of differing lengths accumulate over the common
  * prefix of the longest seen (ragged inputs are not an error).
  */
case class VectorAvg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[VectorAvg.Buffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "v_avg"
  override def checkInputDataTypes(): TypeCheckResult =
    VecExprUtil.checkVecs(Seq(child), prettyName)

  @transient private lazy val isFloat = VecExprUtil.isFloatVec(child.dataType)

  override def createAggregationBuffer(): VectorAvg.Buffer = new VectorAvg.Buffer()

  override def update(buf: VectorAvg.Buffer, input: InternalRow): VectorAvg.Buffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      buf.ensure(n)
      var i = 0
      while (i < n) { buf.sums(i) += VecKernel.at(arr, i, isFloat); i += 1 }
      buf.count += 1
    }
    buf
  }

  override def merge(b1: VectorAvg.Buffer, b2: VectorAvg.Buffer): VectorAvg.Buffer = {
    b1.ensure(b2.dim)
    var i = 0
    while (i < b2.dim) { b1.sums(i) += b2.sums(i); i += 1 }
    b1.count += b2.count
    b1
  }

  override def eval(buf: VectorAvg.Buffer): Any =
    if (buf.count == 0L) null
    else new GenericArrayData(buf.sums.take(buf.dim).map(_ / buf.count))

  override def serialize(buf: VectorAvg.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 4 + 8 * buf.dim)
    bb.putLong(buf.count).putInt(buf.dim)
    var i = 0
    while (i < buf.dim) { bb.putDouble(buf.sums(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VectorAvg.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new VectorAvg.Buffer()
    buf.count = bb.getLong()
    val dim = bb.getInt()
    buf.ensure(dim)
    var i = 0
    while (i < dim) { buf.sums(i) = bb.getDouble(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorAvg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorAvg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): VectorAvg =
    copy(child = c.head)
}

object VectorAvg {
  final class Buffer {
    var count: Long = 0L
    var dim: Int = 0
    var sums: Array[Double] = Array.empty
    def ensure(n: Int): Unit = {
      if (n > sums.length) {
        val grown = new Array[Double](n)
        System.arraycopy(sums, 0, grown, 0, sums.length)
        sums = grown
      }
      if (n > dim) dim = n
    }
  }
}
