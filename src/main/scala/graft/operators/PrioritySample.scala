package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Deterministic weighted sampling — priority sampling (Duffield,
  * Lund & Thorup, JACM 2007 "Priority sampling for estimation of
  * arbitrary subset sums") on an integer grid: every row gets the key
  *
  *   key(id, w) = floor(U(id) * 2^20 / w),   U = unsigned Hll.hash64
  *
  * and the weighted sample is the k rows with the SMALLEST keys
  * (ties by id). Classic priority sampling draws u ~ Uniform(0,1] and
  * ranks by w/u descending; here u = U/2^64 comes from the row id's
  * avalanche hash, so ranking by u/w ascending is the same order —
  * quantized to the 2^20 grid so BOTH engines (JVM and the SQL
  * oracle) compute the identical key with pure integer arithmetic:
  * no pow/ln calls whose last-bit rounding differs across libms.
  *
  * Why this is the 100 TB sampling shape:
  *  - heavier rows sample proportionally more often (P[key < t] ≈
  *    min(1, w·t/2^84) — inclusion probability proportional to w
  *    below saturation), which is what training-data mixing wants
  *    when w is a token count or quality weight;
  *  - DETERMINISTIC: membership is a pure function of (id, w), so
  *    the sample is reproducible across runs, partitionings, and
  *    engines — unlike rand()-based weighted reservoirs, a rerun
  *    audits bit for bit (and the oracle restates it exactly);
  *  - distributed-cheap: `ORDER BY key LIMIT k` plans as
  *    TakeOrderedAndProject — per-partition top-k then a k-row merge
  *    on the driver, no global sort, no shuffle of the data;
  *  - streaming/incremental: the k smallest keys of a union is the
  *    same semilattice merge as [[Kmv]], so partial samples from
  *    shards/days merge exactly.
  *
  * The grid quantization (floor to 2^20 buckets) reorders rows whose
  * true priorities agree to ~6 decimal digits — a documented,
  * engine-agnostic tie rule, not an approximation of the sample's
  * statistics. Weights must be positive integers (token counts,
  * byte lengths); w <= 0 or null yields a null key (excluded by the
  * ORDER BY ... LIMIT under default null ordering only if filtered —
  * filter nulls explicitly).
  *
  * Reference tie-in: the reference's sampling surface is LIMIT-style
  * row sampling (autotune's ctid sample); weighted priority sampling
  * is the beyond-reference pipeline extension, sibling to
  * `sample_sketch` ([[SampleKind]], uniform) for the weighted case.
  */
object PrioritySample {

  final val Scale: Int = 20 // key grid: floor(U * 2^20 / w)

  private val U64 = (BigInt(1) << 64) - 1

  /** The integer-grid priority key; `idU64` is the raw hash64 bits. */
  def key(idU64: Long, w: Long): java.math.BigDecimal = {
    val u = BigInt(idU64) & U64
    new java.math.BigDecimal(((u << Scale) / w).bigInteger)
  }

  /** The k rows of `df` with the smallest priority keys for
    * (`id`, `weight`) — rows with null/non-positive weights excluded.
    * Plans as filter → TakeOrderedAndProject (bounded per-partition
    * top-k, no global sort).
    */
  def sample(df: DataFrame, id: Column, weight: Column, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftshim.GraftShims
    require(k > 0, "k must be positive")
    val pk = GraftShims.column(PriorityKey(
      GraftShims.expression(id),
      GraftShims.expression(weight.cast("long"))))
    df.withColumn("__priority_key", pk)
      .where(col("__priority_key").isNotNull)
      .orderBy(col("__priority_key"), id)
      .limit(k)
      .drop("__priority_key")
  }
}

/** `priority_key(id, w)` — scalar integer-grid priority-sampling key:
  * floor(unsigned(hash64(id)) * 2^20 / w) as DECIMAL(38,0). Null when
  * id or w is null or w <= 0. See [[PrioritySample]].
  */
case class PriorityKey(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "priority_key"
  override def dataType: DataType = DecimalType(38, 0)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (!SketchInput.key(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an integral or string id, got " +
          left.dataType.simpleString)
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT weight, got " +
          right.dataType.simpleString)
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val toU64 = SketchInput.toLong(left.dataType)

  /** Public bridge for the generated call (the [[KmvIntersect]]
    * stance: delegate through an object reference so the containing
    * stage stays whole-stage compiled).
    */
  final def compute(id: Any, w: Any): Decimal = {
    val wl = w.asInstanceOf[Long]
    if (wl <= 0L) null
    else Decimal(new scala.math.BigDecimal(
      PrioritySample.key(Hll.hash64(toU64(id)), wl)), 38, 0)
  }

  override protected def nullSafeEval(id: Any, w: Any): Any =
    compute(id, w)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("graftPrio", this)
      val r = ctx.freshName("graftPrioRes")
      s"""org.apache.spark.sql.types.Decimal $r =
         |  (org.apache.spark.sql.types.Decimal) $ref.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): PriorityKey = copy(left = l, right = r)
}
