package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Log2-bucketed ("HDR-histogram-style") quantile sketch over
  * NON-NEGATIVE integer values — the relative-error complement of the
  * fixed-bin [[HistKind]]: where fixed bins bound ABSOLUTE error by
  * `(hi-lo)/nbins` and need a declared range, log2 buckets bound
  * RELATIVE error by `2^-p` over the whole long range with no
  * declaration at all — the right contract for latency/size/duration
  * columns whose tail spans orders of magnitude (a 50 µs p50 and a
  * 30 s p99 read off the SAME sketch at 3% error with p=5).
  *
  * Unlike DDSketch's `ceil(log_gamma(x))` buckets (whose boundaries
  * hinge on transcendental-function rounding and so cannot be
  * hash-oracled across engines), the bucket map here is PURE INTEGER
  * BIT ARITHMETIC — values below 2^p map to themselves (exact), and a
  * value with highest set bit e maps to exponent slot e with its top
  * p mantissa bits as the sub-bucket:
  *
  *   bucket(v) = v                                   if 0 <= v < 2^p
  *             = ((e-p+1) << p) + ((v >> (e-p)) - 2^p) otherwise
  *
  * which DuckDB restates exactly with `<<`/`>>`/`%` (the oracle
  * recovers e from floor(log2 v) with a ±1 integer correction, so
  * libm rounding cannot move a boundary). Counts live in a dense
  * `(64-p)·2^p` long array — 15 KB at p=5 — so partials merge by
  * elementwise sum: the same associative-combiner contract as
  * [[HistKind]], making the sketch a valid rollup measure
  * ([[graft.plans.SummaryRewrite.HdrSpec]]) foldable by `hist_merge`
  * ([[LongCounts]]).
  *
  * The quantile read is integer-exact too: rank target
  * `ceil(total·qNum/qDen)` by integer division, cumulative walk,
  * answer = the bucket's LOWER BOUND (a conservative estimate within
  * 2^-p relative error of the true quantile). Negative inputs clamp
  * into bucket 0 with 0 (totals are never lost); nulls are skipped.
  *
  * 100 TB shape: each partition ships one 15 KB array per group
  * instead of its value stream; per-day/chunk sketches persist and
  * fold later without rescanning — the property GK/KLL/t-digest give
  * up by being arrival-order-dependent.
  */
object Hdr {
  /** Dense bucket-array length for sub-bucket precision p. */
  def nBuckets(p: Int): Int = (64 - p) << p

  /** Clamped bucket index; pure integer ops — the public contract the
    * DuckDB restatement mirrors.
    */
  def bucket(v: Long, p: Int): Int =
    if (v <= 0L) 0
    else if (v < (1L << p)) v.toInt
    else {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      (((e - p + 1) << p) + ((v >>> (e - p)) - (1L << p))).toInt
    }

  /** Lower bound of bucket b — the value the quantile read reports. */
  def lower(b: Int, p: Int): Long =
    if (b < (1 << p)) b.toLong
    else {
      val h = b >>> p // e - p + 1, >= 1
      val e = h + p - 1
      (1L << e) + ((b & ((1 << p) - 1)).toLong << (e - p))
    }

  /** Integer-exact quantile read for q = qNum/qDen in (0, 1]: rank
    * target ceil(total*qNum/qDen), first bucket whose cumulative count
    * reaches it, reported as the bucket lower bound. Long.MinValue
    * marks an empty sketch (expression layer turns it into null).
    */
  def quantile(counts: Array[Long], qNum: Long, qDen: Long,
      p: Int): Long = {
    require(qNum > 0 && qNum <= qDen && qDen > 0,
      s"quantile qNum/qDen must be in (0, 1], got $qNum/$qDen")
    var total = 0L
    var j = 0
    while (j < counts.length) { total += counts(j); j += 1 }
    if (total == 0L) return Long.MinValue
    val target = (total * qNum + qDen - 1) / qDen
    var cum = 0L
    j = 0
    while (j < counts.length) {
      cum += counts(j)
      if (cum >= target) return lower(j, p)
      j += 1
    }
    lower(counts.length - 1, p)
  }
}

/** `hdr_sketch(x, p)` — the dense log2-bucket counts of integral x as
  * ARRAY<BIGINT> (length (64-p)*2^p), folded by `hist_merge`. Nulls
  * are skipped; negative values clamp into bucket 0.
  */
private[graft] case class HdrKind(p: Int) extends LongCounts {
  def name: String = "hdr_sketch"
  def width: Int = Hdr.nBuckets(p)

  override def requireValid(name: String): Unit =
    require(p >= 1 && p <= 8, s"sub-bucket bits p must be in [1, 8], got $p")

  def inputError(types: Seq[DataType]): Option[String] =
    if (SketchInput.integral(types.head)) None
    else Some("an integral value (cast floats to a fixed grid first — " +
      s"the sketch is integer-exact), got ${types.head.simpleString}")

  def update(inputs: Seq[Expression])
      : (Array[Long], InternalRow) => Array[Long] = {
    val child = inputs.head
    val toLong = SketchInput.toLong(child.dataType)
    (buf, row) => {
      val v = child.eval(row)
      if (v != null) buf(Hdr.bucket(toLong(v), p)) += 1L
      buf
    }
  }
}

/** `hdr_quantile(counts, qNum, qDen, p)` — scalar companion reading
  * the integer-exact qNum/qDen-quantile (bucket lower bound) off a
  * count array from `hdr_sketch` or a `hist_merge` fold. Null on an
  * empty sketch. Delegated codegen keeps containing stages
  * whole-stage compiled.
  */
case class HdrQuantile(child: Expression, qNum: Long, qDen: Long,
    p: Int)
    extends UnaryExpression with graft.functions.EvalDelegatingCodegen {
  override def prettyName: String = "hdr_quantile"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<BIGINT> counts, got " +
          other.simpleString)
    }

  override protected def nullSafeEval(v: Any): Any = {
    val counts = v.asInstanceOf[ArrayData].toLongArray()
    val r = Hdr.quantile(counts, qNum, qDen, p)
    if (r == Long.MinValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = delegatedGenCode(ctx, ev)

  override protected def withNewChildInternal(c: Expression): HdrQuantile =
    copy(child = c)
}
