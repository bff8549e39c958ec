package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** KMV-style BOTTOM-k uniform row sample (Cohen & Kaplan, PODC 2007
  * "Summarizing data using bottom-k sketches"): the k rows whose KEY
  * hashes are smallest, each carrying one VALUE — the distribution
  * sketch the fixed-bin histogram ([[Hist]]) cannot be: range-free
  * (no declared [lo, hi)), and its quantile read is an actual data
  * value, not a bin interpolation.
  *
  * Where [[Kmv]] keeps the k smallest hashes of a key set (a distinct
  * sketch), this keeps (hash(id), value) PAIRS for a unique row id —
  * a uniform sample of ROWS, because a 64-bit avalanche hash of a
  * unique id is a uniform permutation of the rows. The properties the
  * rollup family needs all follow:
  *
  *  - merge(A, B) = k smallest-by-hash of A ∪ B (equal hashes combine
  *    by MIN value) — associative, commutative, idempotent, so sample
  *    columns ride in [[graft.plans.SummaryRewrite]] rollups and fold
  *    per chunk exactly like HLL registers and KMV arrays, and any
  *    partitioning / chunk order yields the IDENTICAL sketch;
  *  - the sample membership is a pure function of the id hashes, so
  *    unlike reservoir sampling the sketch is DETERMINISTIC: both the
  *    unsaturated regime (sample = all rows) and the saturated one
  *    (sample = the k hash-smallest rows) are restatable in plain SQL
  *    and hash-oracled bit for bit — a stronger gate than the HLL /
  *    histogram faces, whose estimators are only exact-regime-oracled;
  *  - quantile(q) = the lower order statistic of the sample's values:
  *    sort ascending, take index floor(q * (m-1)). Exact below
  *    saturation; at saturation it is the classic bottom-k estimator
  *    with error O(1/sqrt(k)) independent of data size — k longs +
  *    k doubles per group answer "p99 latency per region" over a
  *    100 TB fact table.
  *
  * Hashing reuses [[Hll.hash64]] on the same key typing as HLL / KMV
  * (integral value, FNV-1a for strings), so the DuckDB oracle
  * restates membership with the same HUGEINT pipeline as the HLL
  * faces. Two ids colliding on 64 bits would merge (keeping the
  * smaller value) — the standard vanishing-probability caveat, made
  * deterministic so both engines agree even then.
  *
  * Reference tie-in: the reference exposes only exact aggregate reads
  * (lantern_extras' SQL surface); the sketch family is the
  * beyond-reference 100 TB path, sibling to `hll_*` / `kmv_*` /
  * `hist_*`.
  */
object Smp {
  final val MaxK = 1 << 20

  /** Sketch wire/SQL shape: hashes (sorted unsigned ascending) zipped
    * with their row values.
    */
  val dataType: StructType = StructType(Seq(
    StructField("hs", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("vs", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  def newBuffer(): java.util.TreeMap[java.lang.Long, java.lang.Double] =
    new java.util.TreeMap[java.lang.Long, java.lang.Double](Kmv.cmp)

  /** Insert (h, v) keeping the k smallest-by-unsigned-hash entries;
    * equal hashes combine by MIN value (order-independent, and what
    * the oracle's `min(val) GROUP BY hash` restates).
    */
  def put(buf: java.util.TreeMap[java.lang.Long, java.lang.Double],
      k: Int, h: Long, v: Double): Unit = {
    val key = java.lang.Long.valueOf(h)
    val existing = buf.get(key)
    if (existing != null) {
      if (v < existing.doubleValue()) buf.put(key, v)
    } else if (buf.size < k ||
        java.lang.Long.compareUnsigned(h, buf.lastKey()) < 0) {
      buf.put(key, v)
      if (buf.size > k) buf.pollLastEntry()
    }
  }

  def mergeInto(b1: java.util.TreeMap[java.lang.Long, java.lang.Double],
      b2: java.util.TreeMap[java.lang.Long, java.lang.Double],
      k: Int): java.util.TreeMap[java.lang.Long, java.lang.Double] = {
    val it = b2.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      put(b1, k, e.getKey.longValue(), e.getValue.doubleValue())
    }
    b1
  }

  def serialize(buf: java.util.TreeMap[java.lang.Long, java.lang.Double])
      : Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size * 16)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey.longValue()); bb.putDouble(e.getValue.doubleValue())
    }
    bb.array()
  }

  def deserialize(bytes: Array[Byte])
      : java.util.TreeMap[java.lang.Long, java.lang.Double] = {
    val out = newBuffer()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 16) out.put(bb.getLong, bb.getDouble)
    out
  }

  /** A buffer as the stored struct. */
  def toStruct(buf: java.util.TreeMap[java.lang.Long, java.lang.Double])
      : InternalRow = {
    val hs = new Array[Long](buf.size)
    val vs = new Array[Double](buf.size)
    val it = buf.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      hs(i) = e.getKey.longValue(); vs(i) = e.getValue.doubleValue()
      i += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(hs), new GenericArrayData(vs)))
  }

  /** Lower order statistic of the sample's values: sort ascending,
    * index floor(q * (m-1)) — a value that OCCURS in the data, which
    * is what makes the read restatable (and ties harmless: any of the
    * tied rows yields the same value).
    */
  def quantile(vs: Array[Double], q: Double): Double = {
    val sorted = vs.clone()
    java.util.Arrays.sort(sorted)
    sorted(math.floor(q * (sorted.length - 1)).toInt)
  }

  def structTypeOk(dt: DataType): Boolean = dt match {
    case StructType(Array(
      StructField(_, ArrayType(LongType, _), _, _),
      StructField(_, ArrayType(DoubleType, _), _, _))) => true
    case _ => false
  }

  def checkK(k: Int, name: String): Unit =
    require(k >= 2 && k <= MaxK, s"$name: k must be in [2, $MaxK], got $k")
}

/** `sample_sketch(id, value, k)` / `sample_merge(sketch, k)` — the k
  * rows with the smallest unsigned id hashes as STRUCT(hs ARRAY<BIGINT>,
  * vs ARRAY<DOUBLE>). `id` must be a unique row key (integral or
  * string); rows with a null id or null value are skipped (SQL
  * aggregates ignore nulls). The merge folds persisted sketches (one
  * per partition / day / rollup chunk) into the k hash-smallest of
  * their union. Both forms answer null for a group without a row. See
  * [[Smp]].
  */
private[graft] case class SampleKind(k: Int)
    extends SketchKind[java.util.TreeMap[java.lang.Long, java.lang.Double]] {
  private type Buf = java.util.TreeMap[java.lang.Long, java.lang.Double]

  def name: String = "sample_sketch"
  def mergeName: String = "sample_merge"
  def dataType: DataType = Smp.dataType
  override def nullable: Boolean = true
  def storedDesc: String =
    "a STRUCT(hs ARRAY<BIGINT>, vs ARRAY<DOUBLE>) sketch"

  override def requireValid(name: String): Unit = Smp.checkK(k, name)

  def inputError(types: Seq[DataType]): Option[String] =
    if (!SketchInput.key(types(0)))
      Some(s"an integral or string id, got ${types(0).simpleString}")
    else if (types(1) != DoubleType)
      Some(s"a DOUBLE value, got ${types(1).simpleString}")
    else None

  def empty: Buf = Smp.newBuffer()

  def update(inputs: Seq[Expression]): (Buf, InternalRow) => Buf = {
    val Seq(id, value) = inputs
    val toU64 = SketchInput.toLong(id.dataType)
    (buf, row) => {
      val i = id.eval(row)
      val v = value.eval(row)
      if (i != null && v != null)
        Smp.put(buf, k, Hll.hash64(toU64(i)), v.asInstanceOf[Double])
      buf
    }
  }

  def decode(stored: Any): Buf = {
    val row = stored.asInstanceOf[InternalRow]
    val hs = row.getArray(0).toLongArray()
    val vs = row.getArray(1).toDoubleArray()
    val buf = Smp.newBuffer()
    var i = 0
    while (i < hs.length) { Smp.put(buf, k, hs(i), vs(i)); i += 1 }
    buf
  }

  def combine(a: Buf, b: Buf): Buf = Smp.mergeInto(a, b, k)
  def isEmpty(buf: Buf): Boolean = buf.isEmpty
  def eval(buf: Buf): Any = Smp.toStruct(buf)
  def toBytes(buf: Buf): Array[Byte] = Smp.serialize(buf)
  def fromBytes(bytes: Array[Byte]): Buf = Smp.deserialize(bytes)
}

/** `sample_quantile(sketch, q)` — scalar quantile read of a sample
  * sketch: the lower order statistic (index floor(q * (m-1))) of the
  * sampled values. Exact below saturation; the bottom-k estimator at
  * it. Always a value that occurs in the data.
  */
case class SampleQuantile(child: Expression, q: Double)
    extends UnaryExpression with graft.functions.EvalDelegatingCodegen {
  require(q >= 0.0 && q <= 1.0, s"sample_quantile: q must be in [0, 1], got $q")
  override def prettyName: String = "sample_quantile"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (Smp.structTypeOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRUCT(hs ARRAY<BIGINT>, vs " +
        s"ARRAY<DOUBLE>) sketch, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(v: Any): Any = {
    val vs = v.asInstanceOf[InternalRow].getArray(1).toDoubleArray()
    // a stored sketch is never empty (both forms null the empty
    // sentinel), but a hand-built struct could be
    if (vs.isEmpty) null else Smp.quantile(vs, q)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = delegatedGenCode(ctx, ev)
  override protected def withNewChildInternal(c: Expression): SampleQuantile =
    copy(child = c)
}

/** `sample_n(sketch)` — scalar sample-size read: the number of rows
  * the sketch holds (= min(rows, k); below saturation this is the
  * exact non-null row count).
  */
case class SampleSize(child: Expression)
    extends UnaryExpression with graft.functions.EvalDelegatingCodegen {
  override def prettyName: String = "sample_n"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (Smp.structTypeOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRUCT(hs ARRAY<BIGINT>, vs " +
        s"ARRAY<DOUBLE>) sketch, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(v: Any): Any =
    v.asInstanceOf[InternalRow].getArray(0).numElements()

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = delegatedGenCode(ctx, ev)
  override protected def withNewChildInternal(c: Expression): SampleSize =
    copy(child = c)
}
