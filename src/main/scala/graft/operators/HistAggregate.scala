package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fixed-bin histogram sketch — the mergeable, 100 TB shape for
  * approximate quantiles/percentiles, exactly as [[HllKind]] is for
  * COUNT(DISTINCT): each partition ships `nbins` longs instead of its
  * value stream, partials merge by elementwise SUM (associative and
  * commutative, so the sketch is also a valid rollup measure — see
  * [[graft.plans.SummaryRewrite.HistSpec]]), and the quantile read is
  * a cumulative scan + linear interpolation inside one bin.
  *
  * Unlike GK/KLL/t-digest (whose state depends on arrival order),
  * fixed bins over a DECLARED [lo, hi] range are fully deterministic
  * and integer-exact: the DuckDB oracle restates the bin index
  * `floor(((x - lo) * nbins) / (hi - lo))` (clamped) and reproduces
  * every count bit for bit — the same oracle-able-approximation
  * stance as the HLL estimator. Error is bounded by the bin width
  * (hi - lo) / nbins; the caller declares the range the way a
  * monitoring histogram does (out-of-range values clamp into the
  * edge bins, so totals are never lost). Spark's own
  * `approx_percentile` remains the choice when no range is known;
  * this sketch is the one you can PERSIST per day/partition/rollup
  * chunk and fold later without rescanning.
  */
object Hist {
  /** Clamped bin index; the exact op order is the public contract
    * (the DuckDB restatement mirrors it token for token).
    */
  def bin(x: Double, lo: Double, hi: Double, nbins: Int): Int = {
    val d = math.floor(((x - lo) * nbins) / (hi - lo))
    if (d < 0) 0
    else if (d > nbins - 1) nbins - 1
    else d.toInt
  }

  /** Interpolated quantile for q in (0, 1]: walk the cumulative
    * counts to the first bin holding rank `q * total`, interpolate
    * linearly within it. Deterministic double arithmetic, restated
    * verbatim by the oracle.
    */
  def quantile(counts: Array[Long], q: Double, lo: Double,
      hi: Double): Double = {
    require(q > 0.0 && q <= 1.0, s"quantile q must be in (0, 1], got $q")
    val nbins = counts.length
    var total = 0L
    var j = 0
    while (j < nbins) { total += counts(j); j += 1 }
    if (total == 0L) return Double.NaN
    val target = q * total
    var cum = 0L
    j = 0
    while (j < nbins) {
      val c = counts(j)
      if (c > 0 && cum + c >= target) {
        val frac = (target - cum) / c
        return lo + ((j + frac) * (hi - lo)) / nbins
      }
      cum += c
      j += 1
    }
    hi
  }
}

/** `hist_sketch(x, lo, hi, nbins)` — bin counts of numeric x as
  * ARRAY<BIGINT>, folded by `hist_merge`. Nulls are skipped;
  * out-of-range values clamp into the edge bins.
  */
private[graft] case class HistKind(lo: Double, hi: Double, nbins: Int)
    extends LongCounts {
  def name: String = "hist_sketch"
  def width: Int = nbins

  override def requireValid(name: String): Unit = {
    require(nbins >= 1 && nbins <= 65536,
      s"nbins must be in [1, 65536], got $nbins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
  }

  def inputError(types: Seq[DataType]): Option[String] = types.head match {
    case _: NumericType => None
    case other => Some(s"a numeric value, got ${other.simpleString}")
  }

  def update(inputs: Seq[Expression])
      : (Array[Long], InternalRow) => Array[Long] = {
    val child = inputs.head
    val toDouble = SketchInput.toDouble(child.dataType)
    (buf, row) => {
      val v = child.eval(row)
      if (v != null) {
        val x = toDouble(v)
        // NaN carries no rank — skipped like null (a clamped NaN would
        // silently inflate an edge bin)
        if (!x.isNaN) buf(Hist.bin(x, lo, hi, nbins)) += 1L
      }
      buf
    }
  }
}

/** `hist_quantile(counts, q, lo, hi)` — scalar companion reading the
  * interpolated q-quantile off a count array (from `hist_sketch` or a
  * `hist_merge` fold). Delegated codegen keeps containing stages
  * whole-stage compiled.
  */
case class HistQuantile(child: Expression, q: Double, lo: Double,
    hi: Double)
    extends UnaryExpression with graft.functions.EvalDelegatingCodegen {
  override def prettyName: String = "hist_quantile"
  override def dataType: DataType = DoubleType
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
    val r = Hist.quantile(counts, q, lo, hi)
    if (r.isNaN) null else r
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = delegatedGenCode(ctx, ev)

  override protected def withNewChildInternal(c: Expression): HistQuantile =
    copy(child = c)
}
