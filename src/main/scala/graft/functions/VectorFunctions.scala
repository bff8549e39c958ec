package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StringType}

import graft.operators.{CmsKind, HdrKind, HistKind, HllKind, HllRegisters,
  KmvKind, LongCounts, MgKind, SampleKind, SketchAggregate}

/** Column-level API over the Catalyst vector expressions, mirroring the
  * reference's SQL surface (`l2sq_dist`, `cos_dist`, `hamming_dist` and
  * the `<->`/`<=>`/`<+>` operators listed in
  * `/root/reference/lantern_cli/src/external_index/cli.rs:97-123`).
  */
object VectorFunctions {
  private[graft] def col(e: Expression): Column =
    org.apache.spark.sql.graftshim.GraftShims.column(e)
  private[graft] def expr(c: Column): Expression =
    org.apache.spark.sql.graftshim.GraftShims.expression(c)

  /** Cast to ARRAY<FLOAT> so integer/double array literals are accepted;
    * a float→float cast is eliminated by Catalyst's SimplifyCasts.
    */
  private def f(c: Column): Expression = Cast(expr(c), ArrayType(FloatType))
  private def i(c: Column): Expression = Cast(expr(c), ArrayType(IntegerType))

  def l2sq_dist(a: Column, b: Column): Column = col(L2SqDistance(f(a), f(b)))
  def cos_dist(a: Column, b: Column): Column = col(CosineDistance(f(a), f(b)))
  def inner_product(a: Column, b: Column): Column =
    col(InnerProduct(f(a), f(b)))
  def l1_dist(a: Column, b: Column): Column = col(L1Distance(f(a), f(b)))
  def hamming_dist(a: Column, b: Column): Column =
    col(HammingDistance(i(a), i(b)))
  def vector_norm(a: Column): Column = col(VectorNorm(f(a)))
  def vector_normalize(a: Column): Column = col(NormalizeVector(f(a)))
  def bq_encode(a: Column): Column = col(BqEncode(f(a)))
  def bq_hamming(a: Column, b: Column): Column =
    col(BqHamming(expr(a), expr(b)))
  def fp16_encode(a: Column): Column = col(Fp16Encode(f(a)))
  def nearest_centroid(a: Column,
      centroids: Array[Array[Float]]): Column =
    // FloatMatrixParam wrap here so every call site gets structural
    // expression equality (semanticEquals) for free — see NearestCentroid
    col(NearestCentroid(f(a), new FloatMatrixParam(centroids)))
  def fp16_decode(a: Column): Column = col(Fp16Decode(expr(a)))

  /** One-pass (n, mean, covariance-upper-triangle) aggregate — the
    * cluster half of PCA/whitening (see [[graft.operators.Pca]]).
    */
  def vector_moments(a: Column): Column =
    col(graft.operators.VectorMoments(f(a)).toAggregateExpression())

  /** Seeded Johnson–Lindenstrauss sparse projection to k dims. */
  def rand_project(a: Column, k: Int): Column =
    col(RandomProject(f(a), k))

  /** F64 surface: the same distance expressions reading ARRAY<DOUBLE>
    * natively (reference kind F64, external_index/server.rs:93-99).
    * Explicit names rather than implicit dispatch so the unsuffixed
    * functions keep their cast-to-float semantics byte-stable.
    */
  private def d(c: Column): Expression =
    Cast(expr(c), ArrayType(org.apache.spark.sql.types.DoubleType))
  def l2sq_dist_f64(a: Column, b: Column): Column =
    col(L2SqDistance(d(a), d(b)))
  def cos_dist_f64(a: Column, b: Column): Column =
    col(CosineDistance(d(a), d(b)))
  def inner_product_f64(a: Column, b: Column): Column =
    col(InnerProduct(d(a), d(b)))
  def l1_dist_f64(a: Column, b: Column): Column =
    col(L1Distance(d(a), d(b)))
  def vector_norm_f64(a: Column): Column = col(VectorNorm(d(a)))

  /** (name, builder) pairs for every expression-backed SQL function —
    * the single source both [[register]] (session-level temp
    * functions) and [[graft.GraftExtensions]] (cluster-level
    * `spark.sql.extensions` injection) draw from.
    */
  private[graft] lazy val builders
      : Seq[(String, Seq[Expression] => Expression)] = {
    def cf(e: Expression): Expression = Cast(e, ArrayType(FloatType))
    def ci(e: Expression): Expression = Cast(e, ArrayType(IntegerType))
    def cd(e: Expression): Expression = Cast(e,
      ArrayType(org.apache.spark.sql.types.DoubleType))
    // Misra–Gries frequent-items aggregates (ResolveFunctions wraps a
    // returned AggregateFunction in its AggregateExpression). k and
    // capacity parameterize the sketch itself, so they must be literals.
    def lit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an INT literal, got: ${other.sql}")
    }
    // numeric literal as double (histogram range bounds / quantile q)
    def dlit(e: Expression, what: String): Double = e match {
      case Literal(v, _) if v != null && e.foldable =>
        e.dataType match {
          case _: org.apache.spark.sql.types.NumericType =>
            org.apache.spark.sql.catalyst.expressions.Cast(e,
              org.apache.spark.sql.types.DoubleType)
              .eval(null).asInstanceOf[Double]
          case other => throw new IllegalArgumentException(
            s"$what must be a numeric literal, got: ${e.sql}")
        }
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got: ${other.sql}")
    }
    Seq(
      "l2sq_dist" -> ((e: Seq[Expression]) =>
        L2SqDistance(cf(e(0)), cf(e(1)))),
      "cos_dist" -> ((e: Seq[Expression]) =>
        CosineDistance(cf(e(0)), cf(e(1)))),
      "inner_product" -> ((e: Seq[Expression]) =>
        InnerProduct(cf(e(0)), cf(e(1)))),
      "l1_dist" -> ((e: Seq[Expression]) =>
        L1Distance(cf(e(0)), cf(e(1)))),
      "hamming_dist" -> ((e: Seq[Expression]) =>
        HammingDistance(ci(e(0)), ci(e(1)))),
      "vector_norm" -> ((e: Seq[Expression]) => VectorNorm(cf(e.head))),
      "vector_normalize" -> ((e: Seq[Expression]) =>
        NormalizeVector(cf(e.head))),
      "bq_encode" -> ((e: Seq[Expression]) => BqEncode(cf(e.head))),
      "bq_hamming" -> ((e: Seq[Expression]) => BqHamming(e(0), e(1))),
      "fp16_encode" -> ((e: Seq[Expression]) => Fp16Encode(cf(e.head))),
      "fp16_decode" -> ((e: Seq[Expression]) => Fp16Decode(Cast(e.head,
        ArrayType(org.apache.spark.sql.types.ShortType)))),
      "l2sq_dist_f64" -> ((e: Seq[Expression]) =>
        L2SqDistance(cd(e(0)), cd(e(1)))),
      "cos_dist_f64" -> ((e: Seq[Expression]) =>
        CosineDistance(cd(e(0)), cd(e(1)))),
      "inner_product_f64" -> ((e: Seq[Expression]) =>
        InnerProduct(cd(e(0)), cd(e(1)))),
      "l1_dist_f64" -> ((e: Seq[Expression]) =>
        L1Distance(cd(e(0)), cd(e(1)))),
      "vector_norm_f64" -> ((e: Seq[Expression]) =>
        VectorNorm(cd(e.head))),
      // linear algebra: rand_project(vec, k) -> ARRAY<DOUBLE> (seeded
      // JL reduction); vector_moments(vec) -> STRUCT(n, mean, cov)
      // one-pass covariance aggregate (ResolveFunctions wraps the
      // returned AggregateFunction, as with mg_sketch below)
      "rand_project" -> ((e: Seq[Expression]) =>
        RandomProject(cf(e(0)), lit(e(1), "k"))),
      "vector_moments" -> ((e: Seq[Expression]) =>
        graft.operators.VectorMoments(cf(e.head))),
      // item cast to string up front: frequent-items identity is the
      // textual value, and the cast is deterministic for every
      // atomic type (vs a runtime class cast failing on non-strings)
      "mg_sketch" -> ((e: Seq[Expression]) => SketchAggregate.partial(
        MgKind(lit(e(1), "capacity")), Cast(e(0), StringType))),
      "sketch_topk" -> ((e: Seq[Expression]) => SketchAggregate.partial(
        MgKind(lit(e(2), "capacity"), topK = Some(lit(e(1), "k"))),
        Cast(e(0), StringType))),
      // fold persisted Misra-Gries summaries (per day/partition/rollup
      // chunk) back into one: mg_merge(entries, capacity) /
      // mg_merge_topk(entries, k, capacity)
      "mg_merge" -> ((e: Seq[Expression]) =>
        SketchAggregate.merge(MgKind(lit(e(1), "capacity")), e(0))),
      "mg_merge_topk" -> ((e: Seq[Expression]) => SketchAggregate.merge(
        MgKind(lit(e(2), "capacity"), topK = Some(lit(e(1), "k"))), e(0))),
      // HyperLogLog distinct sketch: hll_sketch(key, p) -> ARRAY<INT>
      // registers (mergeable: zip_with(a, b, greatest) or
      // hll_merge(regs)), and hll_estimate(registers) -> BIGINT.
      // Compose for a one-call distinct estimate:
      // hll_estimate(hll_sketch(x, 8)). Key typing lives in HllKind
      // itself (integral -> 64-bit value, string -> FNV-1a; anything
      // else rejected at analysis — the r9 builder cast every key to
      // LongType, silently nulling and dropping text keys).
      "hll_sketch" -> ((e: Seq[Expression]) => SketchAggregate.partial(
        HllKind(lit(e(1), "precision")), e(0))),
      "hll_estimate" -> ((e: Seq[Expression]) =>
        graft.operators.HllEstimate(e.head)),
      "hll_merge" -> ((e: Seq[Expression]) =>
        SketchAggregate.merge(HllRegisters, e.head)),
      // KMV (k-minimum-values) distinct sketch — the set-operation
      // sibling of HLL: kmv_sketch(key, k) -> sorted ARRAY<BIGINT> of
      // the k smallest unsigned key hashes; kmv_merge(arr, k) folds
      // persisted sketches; kmv_estimate(arr, k) reads the distinct
      // count (exact below saturation); kmv_intersect(a, b, k) and
      // kmv_jaccard(a, b, k) estimate the overlap of two key sets
      // from their sketches alone — the "distinct users shared by day
      // A and day B" shape no union-only sketch can answer. Key
      // typing matches hll_sketch (integral value / string FNV-1a).
      "kmv_sketch" -> ((e: Seq[Expression]) =>
        SketchAggregate.partial(KmvKind(lit(e(1), "k")), e(0))),
      "kmv_merge" -> ((e: Seq[Expression]) =>
        SketchAggregate.merge(KmvKind(lit(e(1), "k")), e(0))),
      "kmv_estimate" -> ((e: Seq[Expression]) =>
        graft.operators.KmvEstimate(e(0), lit(e(1), "k"))),
      "kmv_intersect" -> ((e: Seq[Expression]) =>
        graft.operators.KmvIntersect(e(0), e(1), lit(e(2), "k"))),
      "kmv_jaccard" -> ((e: Seq[Expression]) =>
        graft.operators.KmvJaccard(e(0), e(1), lit(e(2), "k"))),
      // Fixed-bin histogram sketch family — the mergeable shape for
      // approximate quantiles over a declared [lo, hi) range:
      // hist_sketch(x, lo, hi, nbins) -> ARRAY<BIGINT> counts,
      // hist_merge(counts) folds persisted arrays (elementwise sum),
      // hist_quantile(counts, q, lo, hi) reads the interpolated
      // quantile. Compose: hist_quantile(hist_sketch(x, 0, 100, 64),
      // 0.5, 0, 100).
      "hist_sketch" -> ((e: Seq[Expression]) => SketchAggregate.partial(
        HistKind(dlit(e(1), "lo"), dlit(e(2), "hi"), lit(e(3), "nbins")),
        e(0))),
      "hist_merge" -> ((e: Seq[Expression]) =>
        SketchAggregate.merge(LongCounts, e.head)),
      "hist_quantile" -> ((e: Seq[Expression]) =>
        graft.operators.HistQuantile(e(0), dlit(e(1), "q"),
          dlit(e(2), "lo"), dlit(e(3), "hi"))),
      // Log2-bucket ("HDR") quantile sketch — the RELATIVE-error
      // complement of hist_*: no declared range, error <= 2^-p of the
      // value, integer-exact bucket map (pure bit arithmetic, so the
      // approximation itself is oracle-able). hdr_sketch(x, p) ->
      // ARRAY<BIGINT> dense counts (fold with hist_merge);
      // hdr_quantile(counts, qNum, qDen, p) reads the integer
      // quantile as the holding bucket's lower bound. Compose:
      // hdr_quantile(hdr_sketch(micros, 5), 99, 100, 5).
      "hdr_sketch" -> ((e: Seq[Expression]) =>
        SketchAggregate.partial(HdrKind(lit(e(1), "p")), e(0))),
      "hdr_quantile" -> ((e: Seq[Expression]) =>
        graft.operators.HdrQuantile(e(0), lit(e(1), "qNum").toLong,
          lit(e(2), "qDen").toLong, lit(e(3), "p"))),
      // Count-min point-frequency sketch: cms_sketch(key, d, w) ->
      // ARRAY<BIGINT> of d*w registers (row-major; fold with
      // hist_merge), cms_estimate(regs, key, d, w) -> BIGINT
      // one-sided frequency estimate (>= true count). Affine hashes
      // mod 2^31-1 with fixed published constants — exact integer
      // arithmetic, oracle-restatable.
      "cms_sketch" -> ((e: Seq[Expression]) => SketchAggregate.partial(
        CmsKind(lit(e(1), "d"), lit(e(2), "w")), e(0))),
      "cms_estimate" -> ((e: Seq[Expression]) =>
        graft.operators.CmsEstimate(e(0), e(1), lit(e(2), "d"),
          lit(e(3), "w"))),
      // Bottom-k uniform row-sample sketch — the range-free quantile
      // sibling of hist_*: sample_sketch(id, value, k) keeps the k
      // rows with the smallest unsigned id hashes as STRUCT(hs, vs);
      // sample_merge(s, k) folds persisted sketches;
      // sample_quantile(s, q) reads the lower order statistic of the
      // sampled values (exact below saturation, bottom-k estimator at
      // it — and DETERMINISTIC in both regimes, membership being a
      // pure function of the id hashes); sample_n(s) the sample size.
      // Compose: sample_quantile(sample_sketch(pk, x, 1024), 0.5).
      "sample_sketch" -> ((e: Seq[Expression]) => SketchAggregate.partial(
        SampleKind(lit(e(2), "k")), e(0),
        Cast(e(1), org.apache.spark.sql.types.DoubleType))),
      "sample_merge" -> ((e: Seq[Expression]) =>
        SketchAggregate.merge(SampleKind(lit(e(1), "k")), e(0))),
      "sample_quantile" -> ((e: Seq[Expression]) =>
        graft.operators.SampleQuantile(e(0), dlit(e(1), "q"))),
      "sample_n" -> ((e: Seq[Expression]) =>
        graft.operators.SampleSize(e(0))),
      // integer-grid priority-sampling key (Duffield/Lund/Thorup):
      // floor(unsigned(hash64(id)) * 2^20 / w) as DECIMAL(38,0) —
      // the k smallest keys are a deterministic weighted sample
      // (inclusion probability ∝ w). ORDER BY priority_key(id, w)
      // LIMIT k plans as TakeOrderedAndProject: no global sort.
      "priority_key" -> ((e: Seq[Expression]) =>
        graft.operators.PriorityKey(e(0),
          Cast(e(1), org.apache.spark.sql.types.LongType))),
      // bounded top-k-by-score aggregate on the SQL surface: per group,
      // the k (id, score) pairs with the smallest scores, map-side
      // bounded — the SQL spelling of the kNN result aggregation,
      // usable for any "cheapest k per group" without a window sort.
      // The buffer is (double, long) typed, so inputs are cast.
      "topk_by_score" -> ((e: Seq[Expression]) =>
        graft.operators.TopKByScore(
          Cast(e(0), org.apache.spark.sql.types.DoubleType),
          Cast(e(1), org.apache.spark.sql.types.LongType),
          lit(e(2), "k"))))
  }

  /** Register all functions for SQL use (`SELECT l2sq_dist(a, b) ...`). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
