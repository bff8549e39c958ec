package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct sketch (Bar-Yossef et al. 2002;
  * Beyer/Haas/Reinwald/Sismanis/Gemulla, SIGMOD 2007 "On synopses for
  * distinct-value estimation under multiset operations") — the
  * SET-OPERATION sibling of [[Hll]]: where HLL registers only union,
  * a KMV synopsis supports INTERSECTION and Jaccard between two
  * sketches, which is what "how many distinct users did day A share
  * with day B" needs when the fact table is 100 TB and the per-group
  * key sets cannot be rescanned per pair.
  *
  * The sketch is the k smallest distinct 64-bit hashes of the key set
  * (unsigned order), stored as a sorted ARRAY<BIGINT>:
  *  - merge(A, B) = k smallest of A ∪ B — associative/commutative,
  *    the same combiner contract every rollup column follows, so KMV
  *    columns ride in [[graft.plans.SummaryRewrite]] rollups and fold
  *    per chunk exactly like HLL registers;
  *  - |sketch| < k  ⇒ the sketch IS the full hash set and every
  *    estimator below is integer-EXACT (the regime the oracled faces
  *    pin, mirroring the HLL faces' integer-exact stance);
  *  - |sketch| = k ⇒ estimate n ≈ (k-1) * 2^64 / (h_(k) + 1) with
  *    h_(k) the k-th smallest unsigned hash (the classic KMV
  *    estimator on the u64 grid; +1 keeps the divisor nonzero);
  *  - intersection (Beyer et al. §4): with M = the k smallest of
  *    A ∪ B, K∩ = |{h ∈ M : h ∈ A ∧ h ∈ B}|, the estimate is
  *    K∩/|M| * est(|A ∪ B|) — exact when both sides are unsaturated.
  *
  * Hashing reuses [[Hll.hash64]] (same key typing: integral keys enter
  * as their 64-bit value, strings via FNV-1a), so a corpus hashed for
  * HLL and for KMV agrees on the key domain. Estimates are hash-set
  * cardinalities: two keys colliding on 64 bits would merge — the
  * standard, vanishingly-improbable KMV caveat.
  */
object Kmv {
  final val MaxK = 1 << 20

  /** Unsigned-ascending order on the u64 hash grid. */
  val cmp: java.util.Comparator[java.lang.Long] =
    (a: java.lang.Long, b: java.lang.Long) =>
      java.lang.Long.compareUnsigned(a, b)

  def newBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long](cmp)

  private def unsigned(h: Long): BigInt =
    (BigInt(h) + (BigInt(1) << 64)) % (BigInt(1) << 64)

  /** Distinct estimate of one sketch: exact below saturation, the KMV
    * estimator at it. Integer math throughout (BigInt floor division).
    */
  def estimate(sorted: Array[Long], k: Int): Long =
    if (sorted.length < k) sorted.length.toLong
    else ((BigInt(k - 1) << 64) / (unsigned(sorted(k - 1)) + 1)).toLong

  /** k smallest of the union of two sorted-unsigned sketch arrays. */
  def mergeArrays(a: Array[Long], b: Array[Long], k: Int): Array[Long] = {
    val out = new Array[Long](math.min(k, a.length + b.length))
    var i = 0; var j = 0; var n = 0
    while (n < out.length && (i < a.length || j < b.length)) {
      val take =
        if (i >= a.length) { val v = b(j); j += 1; v }
        else if (j >= b.length) { val v = a(i); i += 1; v }
        else {
          val c = java.lang.Long.compareUnsigned(a(i), b(j))
          if (c < 0) { val v = a(i); i += 1; v }
          else if (c > 0) { val v = b(j); j += 1; v }
          else { val v = a(i); i += 1; j += 1; v }
        }
      out(n) = take; n += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  private def containsU(arr: Array[Long], h: Long): Boolean = {
    // binary search under unsigned order (arrays are sorted unsigned)
    var lo = 0; var hi = arr.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = java.lang.Long.compareUnsigned(arr(mid), h)
      if (c == 0) return true
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    false
  }

  /** (K∩, |M|, est(|A ∪ B|)) per Beyer et al.: M = k smallest of the
    * union, K∩ = members of M present in both sides.
    */
  def overlapStats(a: Array[Long], b: Array[Long], k: Int)
      : (Long, Int, Long) = {
    val m = mergeArrays(a, b, k)
    var c = 0L
    var i = 0
    while (i < m.length) {
      if (containsU(a, m(i)) && containsU(b, m(i))) c += 1
      i += 1
    }
    (c, m.length, estimate(m, k))
  }

  /** Intersection-size estimate: K∩/|M| * est(union), floored in
    * integer math. Exact when both sketches are unsaturated (then
    * M IS the union and membership is exact).
    */
  def intersectEstimate(a: Array[Long], b: Array[Long], k: Int): Long = {
    val (c, mLen, estU) = overlapStats(a, b, k)
    if (mLen == 0) 0L
    else (BigInt(c) * estU / mLen).toLong
  }

  /** Jaccard estimate K∩/|M| (exact below saturation). */
  def jaccard(a: Array[Long], b: Array[Long], k: Int): Double = {
    val (c, mLen, _) = overlapStats(a, b, k)
    if (mLen == 0) 0.0 else c.toDouble / mLen
  }

  def toSortedArray(buf: java.util.TreeSet[java.lang.Long]): Array[Long] = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  def checkK(k: Int, name: String): Unit =
    require(k >= 2 && k <= MaxK, s"$name: k must be in [2, $MaxK], got $k")
}

/** `kmv_sketch(x, k)` / `kmv_merge(arr, k)` — the k smallest distinct
  * unsigned hashes of integral or string keys as a sorted
  * ARRAY<BIGINT>. With fewer than k distinct keys the array is the
  * exact hash set (the oracled regime); see [[Kmv]]. The merge folds
  * persisted arrays (one per partition / day / rollup chunk) into the
  * k smallest of their union, and an all-null group merges to null.
  */
private[graft] case class KmvKind(k: Int)
    extends SketchKind[java.util.TreeSet[java.lang.Long]] {
  private type Buf = java.util.TreeSet[java.lang.Long]

  def name: String = "kmv_sketch"
  def mergeName: String = "kmv_merge"
  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def storedDesc: String = "an ARRAY<BIGINT> sketch"

  override def requireValid(name: String): Unit = Kmv.checkK(k, name)

  def inputError(types: Seq[DataType]): Option[String] =
    if (SketchInput.key(types.head)) None
    else Some(s"an integral or string key, got ${types.head.simpleString}")

  def empty: Buf = Kmv.newBuffer()

  /** Adds hash h unless it cannot enter a full sketch (keeps the hot
    * path O(log k) with no churn once saturated).
    */
  private def offer(buf: Buf, h: Long): Unit =
    if (buf.size < k || java.lang.Long.compareUnsigned(h, buf.last()) < 0) {
      buf.add(java.lang.Long.valueOf(h))
      if (buf.size > k) buf.pollLast()
    }

  def update(inputs: Seq[Expression]): (Buf, InternalRow) => Buf = {
    val child = inputs.head
    val toU64 = SketchInput.toLong(child.dataType)
    (buf, row) => {
      val v = child.eval(row)
      if (v != null) offer(buf, Hll.hash64(toU64(v)))
      buf
    }
  }

  def decode(stored: Any): Buf =
    fromArray(stored.asInstanceOf[ArrayData].toLongArray())

  private def fromArray(hs: Array[Long]): Buf = {
    val buf = Kmv.newBuffer()
    hs.foreach(h => offer(buf, h))
    buf
  }

  def combine(a: Buf, b: Buf): Buf = {
    val it = b.iterator()
    while (it.hasNext) offer(a, it.next())
    a
  }

  def isEmpty(buf: Buf): Boolean = buf.isEmpty
  def eval(buf: Buf): Any = new GenericArrayData(Kmv.toSortedArray(buf))
  def toBytes(buf: Buf): Array[Byte] =
    LongCounts.writeLongs(Kmv.toSortedArray(buf))
  def fromBytes(bytes: Array[Byte]): Buf =
    fromArray(LongCounts.readLongs(bytes))
}

/** `kmv_estimate(arr, k)` — scalar distinct-count read of a KMV
  * sketch: exact |arr| below saturation, the KMV estimator at it.
  */
case class KmvEstimate(child: Expression, k: Int)
    extends UnaryExpression with graft.functions.EvalDelegatingCodegen {
  Kmv.checkK(k, "kmv_estimate")
  override def prettyName: String = "kmv_estimate"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an ARRAY<BIGINT> sketch, got " +
          other.simpleString)
    }

  override protected def nullSafeEval(v: Any): Any =
    Kmv.estimate(v.asInstanceOf[ArrayData].toLongArray(), k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = delegatedGenCode(ctx, ev)
  override protected def withNewChildInternal(c: Expression): KmvEstimate =
    copy(child = c)
}

/** `kmv_intersect(a, b, k)` — scalar intersection-size estimate of two
  * KMV sketches built at the same k (Beyer et al. 2007 §4): exact when
  * both are unsaturated, the K∩/|M|-scaled union estimate otherwise.
  */
case class KmvIntersect(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  Kmv.checkK(k, "kmv_intersect")
  override def prettyName: String = "kmv_intersect"
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  /** Public bridge for the generated call (same stance as
    * [[graft.functions.EvalDelegatingCodegen]]: delegate to eval
    * through an object reference so the CONTAINING stage stays
    * whole-stage compiled, instead of CodegenFallback poisoning it).
    */
  final def compute(a: Any, b: Any): Long = Kmv.intersectEstimate(
    a.asInstanceOf[ArrayData].toLongArray(),
    b.asInstanceOf[ArrayData].toLongArray(), k)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<BIGINT> sketches, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = compute(a, b)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("graftKmvI", this)
      s"${ev.value} = $ref.compute($a, $b);"
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): KmvIntersect = copy(left = l, right = r)
}

/** `kmv_jaccard(a, b, k)` — scalar Jaccard estimate K∩/|M| of two KMV
  * sketches built at the same k (exact below saturation).
  */
case class KmvJaccard(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  Kmv.checkK(k, "kmv_jaccard")
  override def prettyName: String = "kmv_jaccard"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  /** Public bridge for the generated call (see [[KmvIntersect]]). */
  final def compute(a: Any, b: Any): Double = Kmv.jaccard(
    a.asInstanceOf[ArrayData].toLongArray(),
    b.asInstanceOf[ArrayData].toLongArray(), k)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<BIGINT> sketches, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = compute(a, b)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("graftKmvJ", this)
      s"${ev.value} = $ref.compute($a, $b);"
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): KmvJaccard = copy(left = l, right = r)
}
