package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Element-wise mean of ARRAY<FLOAT> vectors as a real Catalyst
  * aggregate (double accumulation). Being a TypedImperativeAggregate,
  * it gets map-side partial aggregation: each partition contributes one
  * (sum, count) buffer per group, so a k-means iteration over any number
  * of rows shuffles only |groups| x |partitions| small buffers.
  */
final class VecSumBuffer(var sums: Array[Double], var count: Long) {
  def add(a: ArrayData): Unit = {
    val n = a.numElements()
    if (sums == null) sums = new Array[Double](n)
    else require(n == sums.length,
      s"ragged vector column: got dimension $n after ${sums.length}")
    var i = 0
    while (i < n) { sums(i) += a.getFloat(i); i += 1 }
    count += 1L
  }
  def merge(o: VecSumBuffer): Unit = {
    if (o.sums != null) {
      if (sums == null) { sums = o.sums.clone(); count = o.count }
      else {
        require(o.sums.length == sums.length,
          s"ragged vector column: merging dimension ${o.sums.length} " +
            s"into ${sums.length}")
        var i = 0
        while (i < sums.length) { sums(i) += o.sums(i); i += 1 }
        count += o.count
      }
    }
  }
}

case class VectorAvg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSumBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "vector_avg"

  override def createAggregationBuffer(): VecSumBuffer =
    new VecSumBuffer(null, 0L)

  override def update(buf: VecSumBuffer, input: InternalRow): VecSumBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[ArrayData])
    buf
  }

  override def merge(b1: VecSumBuffer, b2: VecSumBuffer): VecSumBuffer = {
    b1.merge(b2); b1
  }

  override def eval(buf: VecSumBuffer): Any =
    if (buf.sums == null || buf.count == 0L) null
    else new GenericArrayData(
      buf.sums.map(s => (s / buf.count).toFloat))

  override def serialize(buf: VecSumBuffer): Array[Byte] =
    VecSumKind.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): VecSumBuffer =
    VecSumKind.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): VectorAvg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorAvg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
}
