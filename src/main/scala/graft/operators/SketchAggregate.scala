package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One sketch kind: a mergeable summary in the sense of Agarwal et al.,
  * "Mergeable Summaries" (PODS 2012) — one buffer, one associative
  * `combine`, one wire codec — plus how a base row enters the buffer.
  * Every kind has two aggregate forms over [[SketchAggregate]]:
  *  - the partial (`hll_sketch`, `kmv_sketch`, …) sketches base rows
  *    with the kind's own `update`;
  *  - the merge (`hll_merge`, `kmv_merge`, …) folds stored sketches
  *    (per partition / day / rollup chunk) with
  *    `combine(buf, decode(value))`.
  *
  * Both forms return `dataType`. A nullable form answers null for a
  * group that saw no value ([[isEmpty]]); a non-nullable one evaluates
  * its empty buffer. A kind's parameters are checked when an aggregate
  * is built over it ([[requireValid]]), not when the kind is built, so
  * a rollup column name may carry a kind with placeholder fields.
  */
private[graft] abstract class SketchKind[B] extends Serializable {
  /** SQL names of the partial and the merge form. */
  def name: String
  def mergeName: String
  def dataType: DataType
  def nullable: Boolean = false
  def mergeNullable: Boolean = true

  /** Why the partial refuses its input types, completing
    * "<name> requires …"; None when it accepts them.
    */
  def inputError(types: Seq[DataType]): Option[String]

  /** The merge form's input, a stored `dataType` value, as its
    * type-check failure names it.
    */
  def storedDesc: String

  /** Throws when a parameter is out of range for the form `name`. */
  def requireValid(name: String): Unit = ()

  def empty: B
  def mergeEmpty: B = empty

  /** The partial's row step, resolved once per plan from its inputs. */
  def update(inputs: Seq[Expression]): (B, InternalRow) => B

  def decode(stored: Any): B
  def combine(a: B, b: B): B
  def isEmpty(buf: B): Boolean
  def eval(buf: B): Any
  def toBytes(buf: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B

  /** The kind whose merge form folds this kind's stored values: itself,
    * unless only the partial reads the kind's parameters.
    */
  def merger: SketchKind[B] = this
}

/** The one Catalyst aggregate behind every sketch kind: the partial
  * form of `kind` sketches `inputs`, the merge form (`merging`) folds
  * the stored values of its single input. A case class, so two equal
  * sketch calls build equal — and equally canonical — plans.
  */
private[graft] case class SketchAggregate[B](
    inputs: Seq[Expression],
    kind: SketchKind[B],
    merging: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] {

  kind.requireValid(prettyName)

  override def prettyName: String = if (merging) kind.mergeName else kind.name
  override def children: Seq[Expression] = inputs
  override def nullable: Boolean =
    if (merging) kind.mergeNullable else kind.nullable
  override def dataType: DataType = kind.dataType

  override def checkInputDataTypes(): TypeCheckResult = {
    val error =
      if (!merging) kind.inputError(inputs.map(_.dataType))
      else {
        val dt = inputs.head.dataType
        if (DataType.equalsStructurally(dt, kind.dataType,
            ignoreNullability = true)) None
        else Some(s"${kind.storedDesc}, got ${dt.simpleString}")
      }
    error.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(e =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires $e"))
  }

  @transient private lazy val step: (B, InternalRow) => B =
    if (!merging) kind.update(inputs)
    else {
      val stored = inputs.head
      (buf, row) => {
        val v = stored.eval(row)
        if (v == null) buf else kind.combine(buf, kind.decode(v))
      }
    }

  override def createAggregationBuffer(): B =
    if (merging) kind.mergeEmpty else kind.empty
  override def update(buf: B, input: InternalRow): B = step(buf, input)
  override def merge(b1: B, b2: B): B = kind.combine(b1, b2)
  override def eval(buf: B): Any =
    if (nullable && kind.isEmpty(buf)) null else kind.eval(buf)
  override def serialize(buf: B): Array[Byte] = kind.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): B = kind.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SketchAggregate[B] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchAggregate[B] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(inputs = c)
}

private[graft] object SketchAggregate {
  def partial[B](kind: SketchKind[B], inputs: Expression*)
      : SketchAggregate[B] = SketchAggregate(inputs, kind, merging = false)

  def merge[B](kind: SketchKind[B], stored: Expression)
      : SketchAggregate[B] =
    SketchAggregate(Seq(stored), kind.merger, merging = true)
}

/** How a non-null sketch input reaches a sketch's domain, resolved once
  * per plan from the input's type.
  */
private[graft] object SketchInput {
  def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Integral or string: the key types the hashing kinds accept. */
  def key(dt: DataType): Boolean = integral(dt) || dt == StringType

  /** An integral value as its 64-bit value; a string key as the FNV-1a
    * hash of its UTF-8 bytes.
    */
  def toLong(dt: DataType): Any => Long = dt match {
    case ByteType => v => v.asInstanceOf[Byte].toLong
    case ShortType => v => v.asInstanceOf[Short].toLong
    case IntegerType => v => v.asInstanceOf[Int].toLong
    case LongType => v => v.asInstanceOf[Long]
    case StringType => v =>
      graft.functions.TextHash.fnv1a(v.asInstanceOf[UTF8String])
    case other => throw new IllegalStateException(
      s"unreachable: checkInputDataTypes admitted $other")
  }

  def toDouble(dt: DataType): Any => Double = dt match {
    case FloatType => v => v.asInstanceOf[Float].toDouble
    case DoubleType => v => v.asInstanceOf[Double]
    case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
    case _ =>
      val f = toLong(dt)
      v => f(v).toDouble
  }
}

/** Dense `ARRAY<BIGINT>` counts folded by elementwise sum, 8 bytes a
  * count on the wire — the hist, HDR and count-min kinds, whose stored
  * sketches all fold with `hist_merge`. A partial starts from `width`
  * zeros. The merge form starts from the zero-length "unseen" array,
  * takes the width of the first stored value and refuses another one,
  * so an all-null group merges to null.
  */
private[graft] abstract class LongCounts extends SketchKind[Array[Long]] {
  def width: Int

  final def mergeName: String = "hist_merge"
  final def dataType: DataType = ArrayType(LongType, containsNull = false)
  final def storedDesc: String = "ARRAY<BIGINT> counts"
  def empty: Array[Long] = new Array[Long](width)
  final override def mergeEmpty: Array[Long] = Array.emptyLongArray

  final def decode(stored: Any): Array[Long] =
    stored.asInstanceOf[ArrayData].toLongArray()

  final def combine(a: Array[Long], b: Array[Long]): Array[Long] =
    if (a.isEmpty) b
    else {
      require(b.isEmpty || b.length == a.length,
        s"$mergeName: bin widths differ (${a.length} vs ${b.length}) — " +
          "histograms with different bin counts cannot merge")
      var j = 0
      while (j < b.length) { a(j) += b(j); j += 1 }
      a
    }

  final def isEmpty(buf: Array[Long]): Boolean = buf.isEmpty
  final def eval(buf: Array[Long]): Any = new GenericArrayData(buf)
  final def toBytes(buf: Array[Long]): Array[Byte] =
    LongCounts.writeLongs(buf)
  final def fromBytes(bytes: Array[Byte]): Array[Long] =
    LongCounts.readLongs(bytes)
  final override def merger: SketchKind[Array[Long]] = LongCounts
}

/** `hist_merge(counts)`: the merge form every dense-count kind shares.
  * It reads no kind parameter, and has no partial of its own.
  */
private[graft] object LongCounts extends LongCounts {
  def width: Int = 0
  def name: String = mergeName
  def inputError(types: Seq[DataType]): Option[String] = None
  def update(inputs: Seq[Expression])
      : (Array[Long], InternalRow) => Array[Long] =
    throw new UnsupportedOperationException(s"$mergeName has no partial form")

  def writeLongs(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    var j = 0
    while (j < buf.length) { bb.putLong(buf(j)); j += 1 }
    bb.array()
  }

  def readLongs(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var j = 0
    while (j < buf.length) { buf(j) = bb.getLong(); j += 1 }
    buf
  }
}
