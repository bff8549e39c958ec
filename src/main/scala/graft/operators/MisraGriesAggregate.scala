package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded frequent-items summary (Misra–Gries 1982), mergeable per
  * Agarwal et al., "Mergeable Summaries" (PODS 2012, §3): at most
  * `capacity` counters; an unmatched item either takes a free slot or
  * decrements every counter (dropping zeros). Merging sums counters
  * and, if over capacity, subtracts the (capacity+1)-th largest count
  * from all and drops non-positives — the same error bound as the
  * streaming path.
  *
  * Guarantee (both paths): every item's estimate undercounts its true
  * frequency by at most N/(capacity+1) over N total updates, so any
  * item with true frequency > N/(capacity+1) is GUARANTEED present in
  * the final summary. That makes this the candidate pass of an exact
  * two-pass heavy-hitters at 100 TB: the full corpus is never
  * grouped-by — the shuffle carries at most `capacity` rows per
  * partition — and a second exact count over only the ≤`capacity`
  * candidates turns the sketch into an exact top-k.
  */
final class MgBuffer(val capacity: Int) {
  val counts = new mutable.HashMap[String, Long]()

  def update(item: String): Unit = {
    counts.get(item) match {
      case Some(c) => counts.update(item, c + 1)
      case None if counts.size < capacity => counts.update(item, 1L)
      case None =>
        // decrement-all; each such step destroys capacity+1 units of
        // count (the arriving item's included), bounding total loss
        val dead = mutable.ArrayBuffer[String]()
        counts.mapValuesInPlace { (_, c) => c - 1 }
        counts.foreach { case (k, c) => if (c <= 0) dead += k }
        dead.foreach(counts.remove)
    }
  }

  def mergeFrom(o: MgBuffer): Unit = {
    o.counts.foreach { case (k, c) =>
      counts.update(k, counts.getOrElse(k, 0L) + c)
    }
    if (counts.size > capacity) {
      // subtract the (capacity+1)-th largest count from every counter
      val vs = counts.values.toArray
      java.util.Arrays.sort(vs)
      val cut = vs(vs.length - capacity - 1)
      val dead = mutable.ArrayBuffer[String]()
      counts.mapValuesInPlace { (_, c) => c - cut }
      counts.foreach { case (k, c) => if (c <= 0) dead += k }
      dead.foreach(counts.remove)
    }
  }

  /** (item, estimate) sorted by (estimate desc, item) — deterministic. */
  def sorted: Array[(String, Long)] =
    counts.toArray.sortBy { case (k, c) => (-c, k) }
}

/** `mg_sketch(item, capacity)` / `mg_merge(entries, capacity)` — the
  * Misra–Gries summary as `ARRAY<STRUCT<item: STRING, est: BIGINT>>`,
  * ordered by (est DESC, item). Spark plans the partial before the
  * shuffle: each partition emits one ≤capacity-entry summary instead
  * of its full item stream. The merge folds PERSISTED summaries back
  * into one: counters sum, then the standard over-capacity cut
  * (Agarwal et al., PODS 2012) — the same mergeable-summaries step the
  * in-flight partial merge uses, so summaries persisted per day /
  * partition / rollup chunk fold with the identical N/(capacity+1)
  * undercount bound. Pass the capacity the source sketches were built
  * at.
  *
  * `topK` (the SQL surface's `sketch_topk(item, k, capacity)` and
  * `mg_merge_topk(entries, k, capacity)`) keeps only the first k
  * summary entries at eval — the sketch itself still runs at full
  * `capacity`, so the N/(capacity+1) undercount bound is unchanged;
  * the slice only trims the returned array.
  */
private[graft] case class MgKind(capacity: Int, topK: Option[Int] = None)
    extends SketchKind[MgBuffer] {
  def name: String = if (topK.isDefined) "sketch_topk" else "mg_sketch"
  def mergeName: String = "mg_merge"
  def dataType: DataType = MgKind.resultType
  override def mergeNullable: Boolean = false
  def storedDesc: String =
    "ARRAY<STRUCT<item: STRING, est: BIGINT>> summaries"

  override def requireValid(name: String): Unit = {
    require(capacity > 0, "capacity must be positive")
    require(topK.forall(_ > 0), "k must be positive")
  }

  def inputError(types: Seq[DataType]): Option[String] =
    if (types.head == StringType) None
    else Some(s"a STRING item (cast first), got ${types.head.simpleString}")

  def empty: MgBuffer = new MgBuffer(capacity)

  def update(inputs: Seq[Expression]): (MgBuffer, InternalRow) => MgBuffer = {
    val item = inputs.head
    (buf, row) => {
      val v = item.eval(row)
      if (v != null) buf.update(v.asInstanceOf[UTF8String].toString)
      buf
    }
  }

  def decode(stored: Any): MgBuffer = {
    val arr = stored.asInstanceOf[ArrayData]
    val buf = new MgBuffer(capacity)
    var i = 0
    while (i < arr.numElements()) {
      val row = arr.getStruct(i, 2)
      buf.counts.update(row.getUTF8String(0).toString, row.getLong(1))
      i += 1
    }
    buf
  }

  def combine(a: MgBuffer, b: MgBuffer): MgBuffer = { a.mergeFrom(b); a }
  def isEmpty(buf: MgBuffer): Boolean = buf.counts.isEmpty

  def eval(buf: MgBuffer): Any = {
    val entries = topK.fold(buf.sorted)(buf.sorted.take)
    val rows = entries.map { case (k, c) =>
      InternalRow(UTF8String.fromString(k), c)
    }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  def toBytes(buf: MgBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.capacity); out.writeInt(buf.counts.size)
    buf.counts.foreach { case (k, c) => out.writeUTF(k); out.writeLong(c) }
    out.flush(); bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): MgBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new MgBuffer(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.counts.update(in.readUTF(), in.readLong()); i += 1 }
    buf
  }
}

private[graft] object MgKind {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)
}
