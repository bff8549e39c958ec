package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Count–min sketch (Cormode–Muthukrishnan 2005) over integer keys —
  * the POINT-FREQUENCY sketch completing the rollup's mergeable-sketch
  * family: HLL answers "how many distinct", Misra–Gries "which items
  * are frequent", KMV "how much do two sets overlap", the histogram /
  * HDR pair "what is the quantile" — CMS answers "how often does THIS
  * key occur" for any key, in d·w longs per group, with one-sided
  * error: estimate >= true count always, and exceeds it by more than
  * 2N/w with probability at most 2^-d.
  *
  * The d hash rows use affine hashes modulo the Mersenne prime
  * 2^31-1 with FIXED published constants:
  *
  *   slot_r(x) = ((A_r * ((x mod P + P) mod P) + B_r) mod P) mod w
  *
  * — pairwise-independent per row (Carter–Wegman), and every operand
  * stays below 2^62, so the arithmetic is exact BIGINT in any engine:
  * the DuckDB oracle restates the registers and the min-over-rows
  * estimate bit for bit, the same oracle-able-approximation stance as
  * [[Hll]]/[[Hdr]]. Registers live in a dense d·w long array
  * (row-major), so partials merge by elementwise sum — the
  * associative rollup-combiner contract — and persisted sketches fold
  * with `hist_merge` ([[LongCounts]]), making CMS a valid rollup measure
  * ([[graft.plans.SummaryRewrite.CmsSpec]]): per-day / per-source
  * frequency sketches over a 100 TB corpus are persisted at dim
  * cardinality and any key's frequency in any dim slice is served
  * without touching the fact table.
  */
object Cms {
  /** 2^31 - 1, the Mersenne prime classically used for Carter–Wegman
    * affine hashing: products of two sub-2^31 operands stay below
    * 2^62, exact in 64-bit integers everywhere.
    */
  val P: Long = 2147483647L

  /** Fixed per-row hash constants (a_r in [1, P), b_r in [0, P)) —
    * published so the DuckDB restatement and any later reader agree.
    * Depth is capped at the constants available.
    */
  val A: Array[Long] = Array(1103515245L, 1679979167L, 1534285569L,
    987654321L, 1412316763L, 1862270413L)
  val B: Array[Long] = Array(12345L, 1013904223L, 998244353L,
    543219876L, 777767777L, 321456987L)

  val maxDepth: Int = A.length

  /** Row-r slot for key x — pure integer ops, the public contract the
    * oracle mirrors token for token.
    */
  def slot(x: Long, r: Int, w: Int): Int = {
    val xm = ((x % P) + P) % P
    (((A(r) * xm + B(r)) % P) % w).toInt
  }

  /** Point estimate: min over rows of the key's register. */
  def estimate(counts: Array[Long], x: Long, d: Int, w: Int): Long = {
    var best = Long.MaxValue
    var r = 0
    while (r < d) {
      val c = counts(r * w + slot(x, r, w))
      if (c < best) best = c
      r += 1
    }
    best
  }
}

/** `cms_sketch(x, d, w)` — the d·w count-min registers of integral
  * keys as ARRAY<BIGINT> (row-major), folded by `hist_merge`. Nulls
  * are skipped.
  */
private[graft] case class CmsKind(d: Int, w: Int) extends LongCounts {
  def name: String = "cms_sketch"
  def width: Int = d * w

  override def requireValid(name: String): Unit = {
    require(d >= 1 && d <= Cms.maxDepth,
      s"depth d must be in [1, ${Cms.maxDepth}], got $d")
    require(w >= 2 && w <= (1 << 20),
      s"width w must be in [2, 2^20], got $w")
  }

  def inputError(types: Seq[DataType]): Option[String] =
    if (SketchInput.integral(types.head)) None
    else Some(s"an integral key, got ${types.head.simpleString}")

  def update(inputs: Seq[Expression])
      : (Array[Long], InternalRow) => Array[Long] = {
    val child = inputs.head
    val toLong = SketchInput.toLong(child.dataType)
    (buf, row) => {
      val v = child.eval(row)
      if (v != null) {
        val x = toLong(v)
        var r = 0
        while (r < d) { buf(r * w + Cms.slot(x, r, w)) += 1L; r += 1 }
      }
      buf
    }
  }
}

/** `cms_estimate(counts, x, d, w)` — scalar companion reading the
  * min-over-rows point estimate for key x off registers from
  * `cms_sketch` or a `hist_merge` fold. Null if either side is
  * null. Delegated codegen (the [[KmvIntersect]] binary stance) keeps
  * containing stages whole-stage compiled.
  */
case class CmsEstimate(left: Expression, right: Expression, d: Int,
    w: Int)
    extends BinaryExpression {
  override def prettyName: String = "cms_estimate"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), k) if SketchInput.integral(k) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT> counts, integral key), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  @transient private lazy val keyToLong = SketchInput.toLong(right.dataType)

  /** Public bridge for the generated call. */
  final def compute(cv: Any, kv: Any): Long = {
    val counts = cv.asInstanceOf[ArrayData].toLongArray()
    require(counts.length == d * w,
      s"$prettyName: register array length ${counts.length} does not " +
        s"match d*w = ${d * w}")
    Cms.estimate(counts, keyToLong(kv), d, w)
  }

  override protected def nullSafeEval(cv: Any, kv: Any): Any =
    compute(cv, kv)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("graftCms", this)
      s"${ev.value} = $ref.compute($a, $b);"
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CmsEstimate = copy(left = l, right = r)
}
