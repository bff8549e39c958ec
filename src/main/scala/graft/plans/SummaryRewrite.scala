package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, AttributeSet, Cast, Coalesce,
  Divide, EqualTo, ExprId, Expression, GreaterThan, If, IsNotNull,
  LessThan, LessThanOrEqual, Literal, Multiply, NamedExpression, Sqrt,
  Subtract}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, AggregateFunction, ApproximatePercentile, Average,
  Count, Max, Min, StddevPop, StddevSamp, Sum, VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Expand, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.{
  Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, struct, sum}
import org.apache.spark.sql.types._

import graft.operators.{CmsKind, HdrKind, HistKind, HllKind, KmvKind,
  MgKind, SampleKind, SketchAggregate, SketchKind, VecSumKind}

/** Materialized-rollup aggregate rewrite: queries that group a
  * registered base table by (a subset of) the rollup's dimension
  * columns are transparently re-planned to re-aggregate the rollup
  * instead of scanning the base — the classic OLAP summary-table /
  * materialized-view matching optimization (Calcite-style aggregate
  * matching; the reference's analog is Postgres-side rollup views its
  * README pipelines build over embedding usage), re-expressed as a
  * Catalyst `Rule[LogicalPlan]`.
  *
  * At 100 TB this is the difference between scanning the fact table
  * and scanning a date-grain rollup ~10^5× smaller: the rollup's row
  * count is bounded by dimension cardinality (days × flags), not data
  * volume, so the rewritten plan's cost stays constant as the base
  * grows. Correctness contract (spec-pinned, hash-oracled by the
  * q_mv_* faces against DuckDB running on the RAW table):
  *
  *  - COUNT(*)/count(1) → coalesce(SUM(cnt), 0); COUNT(m) →
  *    coalesce(SUM(c_m), 0); COUNT(d) for a dim d → the null-dim
  *    groups' cnt excluded
  *  - SUM(m) for an integral or low-scale-decimal measure →
  *    CAST(SUM(s_m) AS <orig>) where s_m is the rollup's exact
  *    DECIMAL(38,6) partial sum (lossless for those types, so the
  *    rewrite is value-exact); for a float/double or high-scale
  *    decimal measure → CAST(SUM(sd_m) AS <orig>) where sd_m is the
  *    NATIVE-typed partial sum — exact for decimals, and for floats
  *    the only difference vs the base plan is summation order, the
  *    same reordering Spark's own partial aggregation already
  *    performs (never a silent magnitude/rounding change; the r9
  *    decimal-only design silently zeroed sub-1e-6 doubles)
  *  - SUM(CAST(m AS DECIMAL(p,s))) → CAST(SUM(s_m) AS <orig>) ONLY
  *    when the per-row cast is provably value-preserving and
  *    dominated by the rollup's scale-6 cast: integral m with
  *    p-s >= digits(m); decimal(p0,s0) m with s0 <= min(s,6) and
  *    p-s >= p0-s0; or a float/double m whose registration DECLARED
  *    a decimal scale d <= min(s,6) (the caller's data contract that
  *    the column holds values with at most d fractional decimal
  *    digits — money in a double column) with p-s >= 16. Any other
  *    spelling runs on the base unchanged (the r9 rule rewrote every
  *    decimal cast and could silently change rounding).
  *  - AVG(m) for integral/float/double m → SUM(partial sums) /
  *    SUM(c_m) in double, matching Spark's Average (which sums
  *    non-decimal inputs in double); AVG(m) for a DECIMAL m →
  *    Average's own internal arithmetic rebuilt from the partials
  *    (native sum cast to DECIMAL(p+10, s), count cast to
  *    DECIMAL(20, 0), Catalyst decimal division, cast to Average's
  *    result type) — the identical exact-rational division, so
  *    value-exact
  *  - MIN/MAX(m) → MIN(mn_m)/MAX(mx_m); MIN/MAX(d) for a dim d →
  *    MIN/MAX over the rollup's own dim rows (exact — every dim
  *    combination survives)
  *  - COUNT(DISTINCT d[, d2…]) over DIMS ONLY → COUNT(DISTINCT …)
  *    over the rollup rows (exact — chunks may repeat a combination,
  *    DISTINCT dedups; a distinct over a MEASURE is unrecoverable
  *    and aborts)
  *  - VAR_POP/VAR_SAMP/STDDEV_POP/STDDEV_SAMP(m) for a non-decimal
  *    measure → m2 = SUM(ss_m) - SUM(sd_m)²/n over the rollup's
  *    sum-of-squares partial, in double (Spark's own variance
  *    domain; Welford-vs-textbook rounding differs at ~1e-12
  *    relative — the same class as float sum reordering); NULL
  *    semantics matched (n=0 → null, n=1 → null for sample forms,
  *    0 for population forms)
  *  - FILTER (WHERE p) aggregate clauses rewrite when `p` is
  *    deterministic and references dims only: the filter rides onto
  *    the rollup rows (a dim predicate selects whole base groups, so
  *    per-group partials filter exactly); a measure-referencing
  *    filter aborts
  *  - GROUP BY CUBE / ROLLUP / GROUPING SETS over dims (plans shaped
  *    `Aggregate(… :+ gid, _, Expand(…))`) rewrite too: the Expand is
  *    rebuilt over the rollup scan — partial columns pass through
  *    every grouping-set projection, dim copies null out per set
  *    exactly as the base plan's did — and each output group still
  *    re-aggregates every contributing rollup row exactly once, so
  *    all the combiners above stay exact; `grouping()`/`grouping_id()`
  *    read the gid column unchanged
  *  - grouping keys and filters must reference dimension columns
  *    only AND be deterministic (a rand() filter or group key must
  *    evaluate per base row, not per rollup row); DISTINCT
  *    aggregates and anything not in the table above abort the
  *    rewrite (the query runs on the base unchanged); distinct
  *    aggregates abort UNLESS they are the dims-only COUNT above
  *
  * Optional HLL sketch measures ([[SketchSpec]]) store per-group
  * HyperLogLog registers (`hll_<key>` ARRAY<INT>) so distinct counts
  * are servable at the rollup grain: registers from partial chunks
  * merge by elementwise max (`hll_merge`,
  * [[graft.operators.HllRegisters]] — exactly the associative-combiner
  * contract every other rollup column follows). Never auto-rewritten
  * (an estimate must be asked for explicitly): serve via
  * [[approxDistinct]], or OPT IN per session with
  * `spark.conf.set("graft.mv.approxDistinct", "true")` — then
  * `COUNT(DISTINCT key)` for a sketched key re-plans to the rollup's
  * register estimate (the BigQuery/Calcite approximate-query-
  * processing contract: the caller, not the optimizer, decides that
  * an estimate is acceptable).
  */
object SummaryRewrite {

  /** One sketch measure carried by the rollup. Each kind owns the name
    * of its stored column, the partial aggregate that sketches one
    * chunk's base rows, and the merge aggregate that folds stored
    * partials — so the build, the streaming batches, the compact fold
    * and the serve functions all go through the same descriptor. The
    * parameter a merge needs (Misra–Gries capacity, KMV and sample k,
    * HDR p, count-min d×w) rides in the column NAME, and
    * [[Sketch.parse]] recovers the kind from the rollup's schema alone,
    * without the registry (the same self-describing stance as hive
    * partition dirs).
    */
  sealed trait Sketch {
    def colName: String
    private[graft] def kind: SketchKind[_]
    /** The base-row inputs the partial sketches. */
    private[graft] def inputs: Seq[Column]
    private[graft] def partial: AggregateFunction =
      SketchAggregate.partial(kind, inputs.map(toExpr): _*)
    private[graft] def merge(c: Expression): AggregateFunction =
      SketchAggregate.merge(kind, c)
  }

  object Sketch {
    private val Hll = "hll_(.+)".r
    private val Hist = "hist_(.+)".r
    private val Mg = "mg(\\d+)_(.+)".r
    private val Kmv = "kmv(\\d+)_(.+)".r
    private val Vsum = "vsum_(.+)".r
    private val Smp = "smp(\\d+)_(.+)".r
    private val Hdr = "hdr(\\d+)_(.+)".r
    private val Cms = "cms(\\d+)x(\\d+)_(.+)".r

    /** The sketch a stored rollup column holds, rebuilt from the column
      * name: the kind plus the parameter the name carries. Fields the
      * name does not carry — HLL precision, histogram range, sample row
      * id, HDR expression — come back as placeholders; merging and
      * serving never read them. None when no kind claims the name.
      */
    private[graft] def parse(colName: String): Option[Sketch] =
      colName match {
        case Hll(key) => Some(SketchSpec(key))
        case Hist(c) => Some(HistSpec(c, 0.0, 0.0))
        case Mg(cap, c) => Some(ItemsSpec(c, cap.toInt))
        case Kmv(k, key) => Some(KmvSpec(key, k.toInt))
        case Vsum(c) => Some(VecSpec(c))
        case Smp(k, v) => Some(SampleQSpec("", v, k.toInt))
        case Hdr(p, n) => Some(HdrSpec(n, "", p.toInt))
        case Cms(d, w, key) => Some(CmsSpec(key, d.toInt, w.toInt))
        case _ => None
      }
  }

  private def toExpr(c: Column): Expression =
    org.apache.spark.sql.graftshim.GraftShims.expression(c)

  /** A distinct-count sketch carried by the rollup: HyperLogLog
    * registers of `key` at precision `p`, stored per dim group as
    * column `hll_<key>`. Registers merge by elementwise max.
    */
  case class SketchSpec(key: String, p: Int = 8) extends Sketch {
    def colName: String = s"hll_$key"
    private[graft] def kind = HllKind(p)
    private[graft] def inputs = Seq(col(key))
  }

  /** A quantile sketch carried by the rollup: fixed-bin histogram
    * counts of `col` over the declared [lo, hi) range, stored per dim
    * group as column `hist_<col>`. Counts fold by elementwise sum —
    * the same associative-combiner contract as every rollup column —
    * so percentiles are servable at the rollup grain via
    * [[approxQuantile]].
    */
  case class HistSpec(col: String, lo: Double, hi: Double,
      nbins: Int = 64) extends Sketch {
    def colName: String = s"hist_$col"
    private[graft] def kind = HistKind(lo, hi, nbins)
    private[graft] def inputs = Seq(functions.col(col))
  }

  /** A frequent-items sketch carried by the rollup: Misra–Gries
    * summary of `col` (cast to string) at `capacity` counters, stored
    * per dim group as column `mg<capacity>_<col>`. Summaries fold
    * with the PODS-2012 mergeable step, keeping the N/(capacity+1)
    * undercount bound; with capacity >= the column's per-group
    * distinct count the summary is EXACT counts.
    */
  case class ItemsSpec(col: String, capacity: Int = 256) extends Sketch {
    def colName: String = s"mg${capacity}_$col"
    private[graft] def kind = MgKind(capacity)
    private[graft] def inputs = Seq(functions.col(col).cast("string"))
  }

  /** A set-operation distinct sketch carried by the rollup: KMV
    * (k-minimum-values) hashes of `key`, stored per dim group as
    * column `kmv<k>_<key>`. Arrays fold by k-smallest-of-union (the
    * associative rollup combiner contract), and unlike HLL registers
    * two groups' sketches INTERSECT: distinct-key overlap between any
    * two dim groups is servable from the rollup alone
    * ([[graft.operators.Kmv]]). With k >= the per-group distinct
    * count the sketch is the exact hash set and every overlap read is
    * integer-exact.
    */
  case class KmvSpec(key: String, k: Int = 2048) extends Sketch {
    def colName: String = s"kmv${k}_$key"
    private[graft] def kind = KmvKind(k)
    private[graft] def inputs = Seq(col(key))
  }

  /** A vector-sum measure carried by the rollup: per-dim-group
    * elementwise sums + contributing count of an ARRAY<FLOAT>
    * embedding column, stored as column `vsum_<col>`
    * (struct(n, sums)). Partials fold by elementwise sum — the
    * associative rollup-combiner contract — so per-group CENTROIDS
    * (sums / n) are servable at the rollup grain via
    * [[groupCentroids]]: cluster/segment mean embeddings over a
    * 100 TB corpus read from a dim-cardinality-sized table, the
    * aggregate a training pipeline needs for per-source drift checks
    * and SemDeDup-style cluster seeding.
    */
  case class VecSpec(col: String) extends Sketch {
    def colName: String = s"vsum_$col"
    private[graft] def kind = VecSumKind
    private[graft] def inputs = Seq(functions.col(col))
  }

  /** A range-free quantile sketch carried by the rollup: a bottom-k
    * uniform ROW sample of `value` keyed by the unique row id
    * expression `id` ([[graft.operators.Smp]]), stored per dim group
    * as column `smp<k>_<value>`. Sketches fold by
    * k-hash-smallest-of-union (the associative rollup combiner
    * contract), and the sample membership is a pure function of the
    * id hashes, so ANY partitioning / chunking yields the identical
    * sketch — quantiles served from the rollup are deterministic in
    * both regimes (exact below saturation; bottom-k estimator with
    * O(1/sqrt k) error, independent of data volume, at it). The
    * complement of [[HistSpec]]: no declared [lo, hi) range, and the
    * quantile read is an actual data value.
    */
  case class SampleQSpec(id: String, value: String, k: Int = 1024)
      extends Sketch {
    def colName: String = s"smp${k}_$value"
    private[graft] def kind = SampleKind(k)
    private[graft] def inputs =
      Seq(functions.expr(id), col(value).cast("double"))
  }

  /** A relative-error quantile sketch carried by the rollup: dense
    * log2-bucket ("HDR") counts of the integral expression `sql`
    * ([[graft.operators.Hdr]]) at sub-bucket precision `p`, stored
    * per dim group as column `hdr<p>_<name>`. Counts fold by
    * elementwise sum (the associative rollup-combiner contract, same
    * fold as [[HistSpec]]), and the bucket map is pure integer bit
    * arithmetic: quantiles served from the rollup are deterministic
    * at any partitioning/chunking AND hash-oracle-able. The
    * complement of [[HistSpec]] (no declared range; error is
    * RELATIVE, <= 2^-p) and of [[SampleQSpec]] (no dependence on a
    * row-id; error does not grow past sketch saturation).
    */
  case class HdrSpec(name: String, sql: String, p: Int = 5)
      extends Sketch {
    def colName: String = s"hdr${p}_$name"
    // hist_merge's equal-width guard doubles as the p compatibility check
    private[graft] def kind = HdrKind(p)
    private[graft] def inputs = Seq(functions.expr(sql))
  }

  /** A point-frequency sketch carried by the rollup: count-min
    * registers of integral key column `key` ([[graft.operators.Cms]])
    * at depth `d` × width `w`, stored per dim group as column
    * `cms<d>x<w>_<key>`. Registers fold by elementwise sum (the
    * associative rollup-combiner contract), so ANY key's frequency in
    * any dim slice is servable from the rollup alone with one-sided
    * error (estimate >= truth; excess > 2N/w with probability <=
    * 2^-d) — the per-key read [[ItemsSpec]]'s top-k summary cannot
    * answer for keys outside its counter set.
    */
  case class CmsSpec(key: String, d: Int = 4, w: Int = 512)
      extends Sketch {
    def colName: String = s"cms${d}x${w}_$key"
    // hist_merge's equal-width guard doubles as the d×w compatibility
    // check
    private[graft] def kind = CmsKind(d, w)
    private[graft] def inputs = Seq(col(key))
  }

  /** A DERIVED (expression) measure carried by the rollup: the named
    * partials of `sql` evaluated per base row — e.g.
    * `ExprMeasure("revenue", "l_extendedprice * (1 - l_discount)")`,
    * the TPC-H Q1 shape. The rollup stores the same six partials a
    * bare-column measure gets (s_/sd_/ss_/c_/mn_/mx_<name>); at match
    * time the registered text is parsed and analyzer-resolved against
    * the query's own fact relation, and any aggregate whose input is
    * SEMANTICALLY EQUAL to the resolved expression (same canonical
    * tree after Spark's own type coercion — a different spelling of
    * the same math, like a reordered multiply, matches; genuinely
    * different expressions never do) serves from those partials.
    * The expression must be deterministic and reference base columns
    * only; registration fails otherwise.
    */
  case class ExprMeasure(name: String, sql: String)

  case class Entry(summaryDir: String, dims: Seq[String],
      measures: Seq[String],
      declaredScale: Map[String, Int] = Map.empty,
      sketches: Seq[Sketch] = Nil,
      exprs: Seq[ExprMeasure] = Nil,
      retracted: Boolean = false)

  private val registry = TrieMap[String, Entry]()

  /** Marker a retraction chunk leaves at the rollup root: the rollup
    * now contains NEGATIVE partials, so the serve must stay inside
    * the sign-foldable family (see [[graft.streaming.SummaryStream
    * .retract]]). On disk (not only in the registry) so a later
    * process that re-registers the same artifact inherits the
    * restriction; cleared by a `refresh = true` rebuild, which
    * recomputes every partial from the post-delete base.
    */
  private[graft] val RetractedMarker = "_RETRACTED"

  private[graft] def markRetracted(spark: SparkSession,
      dataPath: String): Unit = {
    registry.updateWith(qualify(spark, dataPath))(
      _.map(_.copy(retracted = true)))
    ()
  }

  private def retractedMarkerExists(spark: SparkSession,
      summaryDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(summaryDir, RetractedMarker)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private def qualify(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.makeQualified(p).toString
  }

  /** The sign-foldable measure partials a rollup stores per measure
    * (see [[partialRollup]]): they fold by SUM, so the compact fold sums
    * them and a retraction chunk negates them.
    */
  private[graft] def isSumPartial(colName: String): Boolean =
    Seq("s_", "sd_", "ss_", "c_").exists(colName.startsWith)

  /** The partial-rollup aggregation of `base`: cnt + per-measure exact
    * decimal sum (s_m), native-typed sum (sd_m), non-null count (c_m),
    * min / max, plus optional HLL registers per sketch key — one row
    * per dim group. The serve-side rewrite re-aggregates rollup rows
    * with the SAME combiners (SUM of sums, MIN of mins, elementwise-max
    * of registers), so the rollup table may hold MULTIPLE rows per
    * group — which is exactly what makes incremental maintenance
    * trivial: appended batches land as extra partial rows (see
    * [[graft.streaming.SummaryStream]]), no merge step required.
    */
  def partialRollup(base: DataFrame, dims: Seq[String],
      measures: Seq[String],
      sketches: Seq[Sketch] = Nil,
      exprs: Seq[ExprMeasure] = Nil): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShims
    // an expression measure gets the SAME six partials as a bare
    // column — downstream (serve translation, the compact fold's
    // prefix dispatch, streaming delta batches) cannot tell them apart
    def measurePartials(m: String, c: Column): Seq[Column] = Seq(
      sum(c.cast("decimal(38,6)")).as(s"s_$m"),
      sum(c).as(s"sd_$m"),
      sum(c.cast("double") * c.cast("double")).as(s"ss_$m"),
      count(c).as(s"c_$m"),
      min(c).as(s"mn_$m"),
      max(c).as(s"mx_$m"))
    val aggs = (count(lit(1)).as("cnt") +:
      (measures.flatMap(m => measurePartials(m, col(m))) ++
       exprs.flatMap(em => measurePartials(em.name,
         org.apache.spark.sql.functions.expr(em.sql))) ++
       sketches.map(sk => GraftShims.column(
         sk.partial.toAggregateExpression()).as(sk.colName))))
    base.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Build (or rebuild) the rollup parquet for `basePath` grouped by
    * `dims`. Laid out partitioned by `chunk` (the base build is chunk
    * -1; streamed delta batches write chunk=<batchId>) so a streaming
    * replay can overwrite exactly its own partition — idempotent
    * exactly-once maintenance with no read-modify-write.
    */
  def buildSummary(spark: SparkSession, basePath: String,
      summaryDir: String, dims: Seq[String],
      measures: Seq[String], sketches: Seq[Sketch] = Nil,
      exprs: Seq[ExprMeasure] = Nil): Unit = {
    partialRollup(spark.read.parquet(basePath), dims, measures, sketches,
        exprs)
      .withColumn("chunk", lit(-1L))
      .coalesce(8)
      .write.mode("overwrite").partitionBy("chunk").parquet(summaryDir)
  }

  /** Register `summaryDir` as the rollup of the parquet table at
    * `dataPath`, building it first if absent, and install the rewrite
    * rule; returns the registry entry. Idempotent; re-registering
    * after a base append without `refresh = true` serves STALE
    * aggregates — freshness is the caller's contract, exactly as with
    * any materialized view.
    *
    * `declaredScale` is a per-measure data contract for FLOAT/DOUBLE
    * measures: declaring `m -> d` asserts every value of `m` has at
    * most `d` fractional decimal digits (a money column stored as
    * double), which unlocks the exact rewrite of
    * `SUM(CAST(m AS DECIMAL(p,s)))` spellings with `s >= d`. Without
    * a declaration those spellings run on the base unchanged.
    */
  def register(spark: SparkSession, dataPath: String, summaryDir: String,
      dims: Seq[String], measures: Seq[String],
      refresh: Boolean = false,
      declaredScale: Map[String, Int] = Map.empty,
      sketches: Seq[Sketch] = Nil,
      exprs: Seq[ExprMeasure] = Nil): Entry = {
    declaredScale.foreach { case (m, d) =>
      require(measures.contains(m), s"declaredScale for non-measure $m")
      require(d >= 0 && d <= 6,
        s"declaredScale must be in [0, 6] (the rollup's sum scale), " +
          s"got $m -> $d")
    }
    exprs.foreach { em =>
      // fail registration, not the (silently falling-back) serve:
      // the expression must parse, resolve against the base schema,
      // be deterministic, and evaluate to a numeric type
      val resolved = spark.read.parquet(dataPath)
        .selectExpr(s"(${em.sql}) AS __em")
        .queryExecution.analyzed.collectFirst {
          case Project(Seq(al: Alias), _) => al.child
        }.getOrElse(throw new IllegalArgumentException(
          s"expression measure ${em.name} did not resolve: ${em.sql}"))
      require(resolved.deterministic,
        s"expression measure ${em.name} must be deterministic")
      resolved.dataType match {
        case _: NumericType => ()
        case t => throw new IllegalArgumentException(
          s"expression measure ${em.name} has non-numeric type " +
            s"${t.simpleString}")
      }
    }
    sketches.collect { case h: HdrSpec => h }.foreach { h =>
      // same fail-at-registration stance as expression measures: the
      // bucket expression must parse, resolve, be deterministic, and
      // be INTEGRAL — the sketch's integer-exact contract (float
      // inputs must be gridded explicitly, e.g. floor(x * 100))
      val resolved = spark.read.parquet(dataPath)
        .selectExpr(s"(${h.sql}) AS __hdr")
        .queryExecution.analyzed.collectFirst {
          case Project(Seq(al: Alias), _) => al.child
        }.getOrElse(throw new IllegalArgumentException(
          s"hdr sketch ${h.name} did not resolve: ${h.sql}"))
      require(resolved.deterministic,
        s"hdr sketch ${h.name} must be deterministic")
      resolved.dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case t => throw new IllegalArgumentException(
          s"hdr sketch ${h.name} must be integral (got " +
            s"${t.simpleString}) — grid floats first, e.g. " +
            "CAST(floor(x * 100) AS BIGINT)")
      }
    }
    // the rollup's column names are derived by prefix: a dim or
    // measure that collides with a derived name (or the cnt/chunk
    // reserved names) would corrupt both the serve translation and
    // the compact fold's prefix dispatch
    val derived = Seq("cnt", "chunk") ++
      (measures ++ exprs.map(_.name)).flatMap(m =>
        Seq(s"s_$m", s"sd_$m", s"ss_$m", s"c_$m", s"mn_$m", s"mx_$m")) ++
      sketches.map(_.colName)
    val all = dims ++ measures ++ exprs.map(_.name)
    require(all.distinct.size == all.size,
      s"dims/measures/expression-measure names must be distinct, " +
        s"got $all")
    all.foreach { c =>
      require(!derived.contains(c),
        s"column name '$c' collides with a derived rollup column")
    }
    val marker = new org.apache.hadoop.fs.Path(summaryDir, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    // heal a rollup compaction torn between its renames, so the rollup
    // (and its retraction marker) is reopened, not rebuilt from the base
    graft.util.DirSwap.recover(fs, marker.getParent)
    val key = qualify(spark, dataPath)
    if (refresh || !fs.exists(marker)) {
      // the rebuild's own aggregate matches this very rule (dims ⊆
      // dims, measure sums), so a registered entry would replan the
      // rebuild onto the STALE rollup it is meant to replace —
      // deregister for the build's duration. Also drop cached file
      // listings: a refresh usually follows a base append, and the
      // shared FileStatusCache would list the pre-append files.
      registry.remove(key)
      spark.catalog.refreshByPath(dataPath)
      buildSummary(spark, dataPath, summaryDir, dims, measures, sketches,
        exprs)
      // a refresh recomputes every partial from the (post-delete)
      // base, so any standing retraction restriction clears with it
      val rm = new org.apache.hadoop.fs.Path(summaryDir, RetractedMarker)
      val rfs = rm.getFileSystem(spark.sessionState.newHadoopConf())
      if (rfs.exists(rm)) rfs.delete(rm, false)
      spark.catalog.refreshByPath(summaryDir)
    }
    val entry = Entry(summaryDir, dims, measures, declaredScale,
      sketches, exprs, retracted = retractedMarkerExists(spark, summaryDir))
    registry.put(key, entry)
    ensureRule(spark)
    entry
  }

  def unregister(spark: SparkSession, dataPath: String): Unit = {
    registry.remove(qualify(spark, dataPath)); ()
  }

  def clear(): Unit = registry.clear()

  private[plans] def isEmpty: Boolean = registry.isEmpty

  private[plans] def lookup(paths: Seq[String]): Option[Entry] =
    paths.flatMap(registry.get).headOption

  private[graft] def entryFor(spark: SparkSession,
      dataPath: String): Option[Entry] =
    registry.get(qualify(spark, dataPath))

  /** Serve an approximate distinct count of sketch key `key` from the
    * rollup at `summaryDir`, grouped by `groupDims` (must be rollup
    * dims; empty = global): registers merge across rollup rows by
    * elementwise max, then estimate. Explicit by design — an estimate
    * never silently replaces an exact COUNT(DISTINCT).
    */
  def approxDistinct(spark: SparkSession, summaryDir: String,
      groupDims: Seq[String], key: String,
      outCol: String = "est_distinct"): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShims
    val sk = SketchSpec(key)
    val est = GraftShims.column(graft.operators.HllEstimate(
      sk.merge(GraftShims.expression(col(sk.colName)))
        .toAggregateExpression())).as(outCol)
    val rollup = spark.read.parquet(summaryDir)
    if (groupDims.isEmpty) rollup.agg(est)
    else rollup.groupBy(groupDims.map(col): _*).agg(est)
  }

  /** The stored sketch column `pick` selects among the kinds
    * [[Sketch.parse]] recovers from the rollup's schema; throws naming
    * `what`, the column the serve looked for, when none matches.
    */
  private def storedSketch[S <: Sketch](rollup: DataFrame,
      summaryDir: String, what: String)(
      pick: PartialFunction[Sketch, S]): S =
    rollup.schema.fieldNames.iterator.flatMap(Sketch.parse)
      .collectFirst(pick).getOrElse(throw new IllegalArgumentException(
        s"no $what column in the rollup at $summaryDir"))

  /** Serve approximate top-k frequent items of Misra–Gries column
    * `col` from the rollup at `summaryDir`, grouped by `groupDims`
    * (empty = global): per-chunk summaries fold with the mergeable
    * cut at the capacity parsed from the stored column's own name,
    * then the top k (est DESC, item) entries return as an exploded
    * (rank, item, est) row set.
    */
  def approxTopItems(spark: SparkSession, summaryDir: String,
      groupDims: Seq[String], itemsCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShims
    val rollup = spark.read.parquet(summaryDir)
    val it = storedSketch(rollup, summaryDir, s"mg<capacity>_$itemsCol") {
      case it: ItemsSpec if it.col == itemsCol => it
    }
    val merged = GraftShims.column(SketchAggregate.merge(
      MgKind(it.capacity, topK = Some(k)),
      GraftShims.expression(col(it.colName))).toAggregateExpression())
      .as("topk")
    val folded =
      if (groupDims.isEmpty) rollup.agg(merged)
      else rollup.groupBy(groupDims.map(col): _*).agg(merged)
    folded.select((groupDims.map(col) :+
        org.apache.spark.sql.functions.posexplode(col("topk"))
          .as(Seq("idx", "entry"))): _*)
      .select((groupDims.map(col) :+
        (col("idx") + 1).cast("int").as("rank") :+
        col("entry.item").as("item") :+
        col("entry.est").as("est")): _*)
  }

  /** Serve the pairwise distinct-key overlap of dim groups from the
    * rollup's KMV column: per-group sketches fold with the k-smallest
    * combiner (k parsed from the stored column's own name), then every
    * unordered group pair (a < b by the dim tuple) gets its two
    * distinct estimates, the intersection estimate, and the Jaccard —
    * all computed from the sketches alone. Cost is quadratic in the
    * GROUP count (dim cardinality) and never touches the fact table —
    * the only viable shape for "users shared by day A and day B" over
    * a 100 TB base. With k >= every per-group distinct count the
    * whole answer is integer-exact (the oracled regime).
    */
  def approxOverlap(spark: SparkSession, summaryDir: String,
      groupDims: Seq[String], key: String): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShims
    require(groupDims.nonEmpty, "approxOverlap needs at least one group dim")
    val rollup = spark.read.parquet(summaryDir)
    val kv = storedSketch(rollup, summaryDir, s"kmv<k>_$key") {
      case kv: KmvSpec if kv.key == key => kv
    }
    val k = kv.k
    val merged = GraftShims.column(kv.merge(
      GraftShims.expression(col(kv.colName)))
      .toAggregateExpression()).as("sk")
    val g = rollup.groupBy(groupDims.map(col): _*).agg(merged)
    val a = g.select(groupDims.map(c => col(c).as(s"${c}_a")) :+
      col("sk").as("sk_a"): _*)
    val b = g.select(groupDims.map(c => col(c).as(s"${c}_b")) :+
      col("sk").as("sk_b"): _*)
    val pairLt = struct(groupDims.map(c => col(s"${c}_a")): _*) <
      struct(groupDims.map(c => col(s"${c}_b")): _*)
    def sc2(name: String, l: String, r: String,
        f: (org.apache.spark.sql.catalyst.expressions.Expression,
            org.apache.spark.sql.catalyst.expressions.Expression)
          => org.apache.spark.sql.catalyst.expressions.Expression) =
      GraftShims.column(f(GraftShims.expression(col(l)),
        GraftShims.expression(col(r)))).as(name)
    a.join(b, pairLt)
      .select(groupDims.map(c => col(s"${c}_a")) ++
        groupDims.map(c => col(s"${c}_b")) ++ Seq(
          GraftShims.column(graft.operators.KmvEstimate(
            GraftShims.expression(col("sk_a")), k)).as("est_a"),
          GraftShims.column(graft.operators.KmvEstimate(
            GraftShims.expression(col("sk_b")), k)).as("est_b"),
          sc2("est_common", "sk_a", "sk_b",
            graft.operators.KmvIntersect(_, _, k)),
          sc2("jaccard", "sk_a", "sk_b",
            graft.operators.KmvJaccard(_, _, k))): _*)
  }

  /** Serve per-group embedding CENTROIDS from the rollup's vector-sum
    * column: struct(n, sums) partials fold by elementwise sum across
    * rollup rows (`vector_sum_merge`, [[graft.operators.VecSumKind]]),
    * then centroid = sums / n. Grouping by a dim subset stays exact
    * (sum-of-sums). Cost is dim-cardinality × d — never a base scan:
    * the "mean embedding per source/day" read a drift monitor or
    * SemDeDup seeding pass runs over a 100 TB corpus.
    */
  def groupCentroids(spark: SparkSession, summaryDir: String,
      groupDims: Seq[String], vecCol: String): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShims
    import org.apache.spark.sql.functions.transform
    val vs = VecSpec(vecCol)
    val merged = GraftShims.column(vs.merge(
      GraftShims.expression(col(vs.colName)))
      .toAggregateExpression()).as("vs")
    val rollup = spark.read.parquet(summaryDir)
    val folded =
      if (groupDims.isEmpty) rollup.agg(merged)
      else rollup.groupBy(groupDims.map(col): _*).agg(merged)
    folded.select(groupDims.map(col) ++ Seq(
      col("vs.n").as("n"),
      transform(col("vs.sums"), x => x / col("vs.n"))
        .as("centroid")): _*)
  }

  /** Serve approximate quantiles of histogram column `col` from the
    * rollup at `summaryDir`, grouped by `groupDims` (empty = global):
    * per-chunk count arrays fold by elementwise sum, then the
    * interpolated quantile is read per requested q. The [lo, hi,
    * nbins] must match the registered [[HistSpec]] (they parameterize
    * the bins the counts were taken over).
    */
  def approxQuantile(spark: SparkSession, summaryDir: String,
      groupDims: Seq[String], histCol: String, qs: Seq[Double],
      lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShims
    require(qs.nonEmpty, "need at least one quantile")
    val h = HistSpec(histCol, lo, hi)
    val merged = h.merge(GraftShims.expression(col(h.colName)))
      .toAggregateExpression()
    val outs = qs.map(q => GraftShims.column(
      graft.operators.HistQuantile(merged, q, lo, hi))
      .as(s"p${math.round(q * 100)}"))
    val rollup = spark.read.parquet(summaryDir)
    if (groupDims.isEmpty) rollup.agg(outs.head, outs.tail: _*)
    else rollup.groupBy(groupDims.map(col): _*)
      .agg(outs.head, outs.tail: _*)
  }

  /** Serve quantiles of sample-sketch column `valueCol` from the
    * rollup at `summaryDir`, grouped by `groupDims` (must be rollup
    * dims; empty = global): per-chunk/per-group bottom-k samples fold
    * with the k-hash-smallest combiner (k parsed from the stored
    * column's own name), then each requested q reads the lower order
    * statistic of the folded sample's values. Because membership is a
    * pure function of the row-id hashes, the folded sample is
    * IDENTICAL to sketching the raw table — the served quantiles are
    * deterministic at any partitioning, chunking, or dim subset
    * (exact below saturation, the bottom-k estimator past it). Cost
    * is group-cardinality × k, never a base scan: "p99 per region"
    * over a 100 TB fact from a dim-sized read.
    */
  def sampleQuantiles(spark: SparkSession, summaryDir: String,
      groupDims: Seq[String], valueCol: String,
      qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShims
    require(qs.nonEmpty, "need at least one quantile")
    val rollup = spark.read.parquet(summaryDir)
    val sp = storedSketch(rollup, summaryDir, s"smp<k>_$valueCol") {
      case sp: SampleQSpec if sp.value == valueCol => sp
    }
    val merged = sp.merge(GraftShims.expression(col(sp.colName)))
      .toAggregateExpression()
    val outs = GraftShims.column(
        graft.operators.SampleSize(merged)).as("n_sample") +:
      qs.map(q => GraftShims.column(
        graft.operators.SampleQuantile(merged, q))
        .as(s"p${math.round(q * 100)}"))
    if (groupDims.isEmpty) rollup.agg(outs.head, outs.tail: _*)
    else rollup.groupBy(groupDims.map(col): _*)
      .agg(outs.head, outs.tail: _*)
  }

  /** Serve integer-exact relative-error quantiles of HDR sketch
    * `name` from the rollup at `summaryDir`, grouped by `groupDims`
    * (must be rollup dims; empty = global): per-chunk/per-group count
    * arrays fold by elementwise sum (p parsed from the stored
    * column's own name), then each requested qNum/qDen reads the
    * holding bucket's lower bound — deterministic at any
    * partitioning, chunking, or dim subset, within 2^-p relative
    * error of the true quantile. Cost is group-cardinality × the
    * 15 KB array, never a base scan.
    */
  def hdrQuantiles(spark: SparkSession, summaryDir: String,
      groupDims: Seq[String], name: String,
      qs: Seq[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShims
    require(qs.nonEmpty, "need at least one quantile")
    val rollup = spark.read.parquet(summaryDir)
    val h = storedSketch(rollup, summaryDir, s"hdr<p>_$name") {
      case h: HdrSpec if h.name == name => h
    }
    val merged = h.merge(GraftShims.expression(col(h.colName)))
      .toAggregateExpression()
    val outs = qs.map { case (qn, qd) =>
      GraftShims.column(graft.operators.HdrQuantile(merged, qn, qd, h.p))
        .as(s"p${qn * 100 / qd}")
    }
    if (groupDims.isEmpty) rollup.agg(outs.head, outs.tail: _*)
    else rollup.groupBy(groupDims.map(col): _*)
      .agg(outs.head, outs.tail: _*)
  }

  /** Serve count-min point-frequency estimates of `keys` for sketch
    * key column `key` from the rollup at `summaryDir`, grouped by
    * `groupDims` (must be rollup dims; empty = global): registers
    * fold by elementwise sum (d, w parsed from the stored column's
    * own name), then each requested key reads its min-over-rows
    * register. One-sided: est >= true count always. Explicit by
    * design, like [[approxDistinct]] — an estimate never silently
    * replaces an exact per-key COUNT.
    */
  def approxFreq(spark: SparkSession, summaryDir: String,
      groupDims: Seq[String], key: String, keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty, "need at least one key")
    import spark.implicits._
    approxFreq(spark, summaryDir, groupDims, key, keys.toDF(key))
  }

  /** [[approxFreq]] with the probe keys as a one-column DataFrame
    * (column name = `key`) — the fully distributed spelling: the
    * folded sketch side is dim-cardinality rows and broadcasts; the
    * key side can be any size.
    */
  def approxFreq(spark: SparkSession, summaryDir: String,
      groupDims: Seq[String], key: String, keysDf: DataFrame,
      outCol: String = "est"): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShims
    val rollup = spark.read.parquet(summaryDir)
    val cs = storedSketch(rollup, summaryDir, s"cms<d>x<w>_$key") {
      case cs: CmsSpec if cs.key == key => cs
    }
    val merged = GraftShims.column(cs.merge(
      GraftShims.expression(col(cs.colName))).toAggregateExpression())
      .as("__cms")
    val folded =
      if (groupDims.isEmpty) rollup.agg(merged)
      else rollup.groupBy(groupDims.map(col): _*).agg(merged)
    // the sketch side is dim-cardinality rows (one d·w array each) —
    // always the broadcast side; the key side streams through
    keysDf.crossJoin(org.apache.spark.sql.functions.broadcast(folded))
      .select(groupDims.map(col) ++ Seq(col(key),
        GraftShims.column(graft.operators.CmsEstimate(
          GraftShims.expression(col("__cms")),
          GraftShims.expression(col(key)), cs.d, cs.w)).as(outCol)): _*)
  }

  /** Rule health counters: (rewrites fired, rule-internal errors
    * swallowed by the fallback catch). A growing error count means
    * queries silently running on the base that a registration claims
    * to serve — the observable the `graft.mv.debug` stack traces are
    * too noisy for production to keep on.
    */
  def stats: (Int, Int) =
    (SummaryRewriteRule.fireCount.get(),
      SummaryRewriteRule.errorCount.get())

  def ensureRule(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(SummaryRewriteRule))
      spark.experimental.extraOptimizations = cur :+ SummaryRewriteRule
  }
}

object SummaryRewriteRule extends Rule[LogicalPlan] {

  import SummaryRewrite._

  /** Latch: optimizing the rollup-scan subplan re-enters the
    * optimizer; the inner pass must not attempt matching.
    */
  private val rewriting = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Rewrites performed (spec observability). */
  private[plans] val fireCount =
    new java.util.concurrent.atomic.AtomicInteger()

  /** Rule-internal exceptions swallowed by the fallback catch (the
    * correct behavior — an MV rule must never fail the query — but a
    * GROWING counter marks a rule bug that `graft.mv.debug` would
    * print). Surfaced with [[fireCount]] through
    * [[SummaryRewrite.stats]] and the REST /summary/stats read.
    */
  private[plans] val errorCount =
    new java.util.concurrent.atomic.AtomicInteger()

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (SummaryRewrite.isEmpty || rewriting.get()) plan
    else plan.transformDown {
      case agg @ Aggregate(groups, aggExprs, child, _) =>
        try rewrite(groups, aggExprs, child).getOrElse(agg)
        catch {
          case scala.util.control.NonFatal(e) =>
            errorCount.incrementAndGet()
            if (sys.props.contains("graft.mv.debug")) e.printStackTrace()
            agg
        }
    }

  /** Strip Projects and collect Filter conditions down to a bare scan.
    * Projects may carry computed aliases (PullOutGroupingExpressions
    * parks derived group keys like `weekofyear(day) AS
    * _groupingexpression` in a child Project); those are returned as a
    * substitution map so the caller can inline them back and see the
    * expression over relation columns.
    */
  private def unwrap(p: LogicalPlan): Option[(Seq[Expression],
      Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression],
      LogicalRelation)] = p match {
    case rel: LogicalRelation => Some((Nil, Map.empty, rel))
    case Filter(c, u) =>
      unwrap(u).map { case (cs, subs, r) => (c +: cs, subs, r) }
    case Project(pl, u) if pl.forall(e =>
        e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
      unwrap(u).map { case (cs, subs, r) =>
        val inlined = pl.collect { case al: Alias =>
          al.exprId -> al.child.transformUp {
            case ar: AttributeReference if subs.contains(ar.exprId) =>
              subs(ar.exprId)
          }
        }
        (cs, subs ++ inlined, r)
      }
    case _ => None
  }

  /** Max base-10 digits of an integral type's value domain — the
    * bound under which a CAST(m AS DECIMAL(p, s)) can never overflow.
    */
  private def digits10(t: DataType): Option[Int] = t match {
    case ByteType => Some(3)
    case ShortType => Some(5)
    case IntegerType => Some(10)
    case LongType => Some(19)
    case _ => None
  }

  /** Whether measure type `t` is losslessly representable in the
    * rollup's DECIMAL(38,6) partial sum: integral types, and decimals
    * with scale <= 6 that fit 32 integer digits. (A float/double is
    * NOT — its binary fractions don't round-trip through scale 6.)
    */
  private def decimal38_6Lossless(t: DataType): Boolean = t match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
    case d: DecimalType => d.scale <= 6 && d.precision - d.scale <= 32
    case _ => false
  }

  private def isFloating(t: DataType): Boolean =
    t == FloatType || t == DoubleType

  private def dbg(m: => String): Unit =
    if (sys.props.contains("graft.mv.debug"))
      System.err.println(s"[mv-debug] $m")

  /** Shared translation context for one (query, registered entry)
    * pair: the rollup scan subplan (fresh attribute ids) plus the
    * aggregate-call and expression translators both rewrite paths —
    * plain `Aggregate(…, scan)` and grouping-sets
    * `Aggregate(…, Expand(…, scan))` — dispatch through.
    */
  private final class Serving(val e: Entry, rel: LogicalRelation) {

    /** Set by the join path when the spine contains a join that can
      * emit rows WITHOUT a fact match (fact on the right of a LEFT
      * OUTER / left of a RIGHT OUTER): every null-extended output row
      * is exactly ONE base row, so COUNT(*) serves as
      * SUM(coalesce(cnt, 1)); every other combiner already skips the
      * null-extended rows' null partials exactly as the base plan
      * skips their null fact columns.
      */
    var nullExtendedFact = false

    private val dimSet = e.dims.toSet

    def dimAttr(a: Attribute): Boolean =
      dimSet.contains(a.name) && rel.output.exists(_.exprId == a.exprId)

    /** A filter condition that may ride the rollup: deterministic and
      * dim-only (a dim predicate selects whole base groups, so
      * per-group partials filter exactly).
      */
    def dimCond(c: Expression): Boolean =
      c.deterministic && c.references.forall(dimAttr)

    // the rollup scan subplan (fresh attribute ids)
    val scan: LogicalPlan = {
      val spark = SparkSession.active
      rewriting.set(true)
      try spark.read.parquet(e.summaryDir).queryExecution.optimizedPlan
      finally rewriting.set(false)
    }

    /** Registered expression measures resolved against THIS query's
      * fact relation: (name, analyzer-resolved expression, type).
      * Resolving the stored SQL text through a select over the same
      * relation instance makes the attribute ids line up with the
      * query's own and runs Spark's type coercion on the registered
      * side exactly as the analyzer ran it on the query side —
      * `semanticEquals` is then the right matcher (a reordered
      * commutative spelling matches; different math never does).
      */
    private lazy val exprMeasures: Seq[(String, Expression)] =
      if (e.exprs.isEmpty) Nil
      else {
        // OPTIMIZED, not merely analyzed: this rule sees the query
        // AFTER ConstantFolding/SimplifyCasts, so the registered side
        // must pass through the same scalar simplifications (e.g.
        // `1 - CAST(d AS DEC(12,2))` analyzes with a cast around the
        // literal that the optimizer folds away) or semanticEquals
        // can never hold. The `rewriting` latch stops the nested
        // optimization from re-entering this rule.
        val spark = SparkSession.active
        rewriting.set(true)
        try e.exprs.flatMap { em =>
          try org.apache.spark.sql.graftshim.GraftShims
            .dataFrame(spark, rel)
            .selectExpr(s"(${em.sql}) AS __em")
            .queryExecution.optimizedPlan.collectFirst {
              case Project(Seq(al: Alias), _) => al.child
            }.map(em.name -> _)
          catch { case scala.util.control.NonFatal(_) => None }
        } finally rewriting.set(false)
      }

    /** The expression measure an aggregate input reads, if any. */
    def exprMeasureOf(c: Expression): Option[(String, DataType)] =
      exprMeasures.collectFirst {
        case (n, r) if c.semanticEquals(r) => (n, r.dataType)
      }

    /** Registered HDR sketch expressions resolved against THIS
      * query's fact relation — same optimize-then-semanticEquals
      * machinery as [[exprMeasures]], so
      * `percentile_approx(CAST(floor(x*100) AS BIGINT), q)` matches
      * the registered grid spelling and nothing else.
      */
    private lazy val hdrExprs: Seq[(HdrSpec, Expression)] = {
      val hdrs = e.sketches.collect { case h: HdrSpec => h }
      if (hdrs.isEmpty) Nil
      else {
        val spark = SparkSession.active
        rewriting.set(true)
        try hdrs.flatMap { h =>
          try org.apache.spark.sql.graftshim.GraftShims
            .dataFrame(spark, rel)
            .selectExpr(s"(${h.sql}) AS __hdr")
            .queryExecution.optimizedPlan.collectFirst {
              case Project(Seq(al: Alias), _) => al.child
            }.map(h -> _)
          catch { case scala.util.control.NonFatal(_) => None }
        } finally rewriting.set(false)
      }
    }

    /** The HDR sketch an aggregate input reads, if any. */
    def hdrSpecOf(c: Expression): Option[HdrSpec] =
      hdrExprs.collectFirst { case (h, r) if c.semanticEquals(r) => h }

    /** The sample sketch of base column `value`, if registered. */
    def sampleSpecOf(value: String): Option[SampleQSpec] =
      e.sketches.collectFirst {
        case sp: SampleQSpec if sp.value == value => sp
      }

    /** Variance-family form of [[exprMeasureOf]]: unwrap Spark's own
      * implicit cast-to-double (CentralMomentAgg casts every input)
      * before matching; decimal-typed expressions refused for the
      * same rounding-order reason as [[varMeasure]].
      */
    def varExprMeasure(child: Expression): Option[String] =
      (child match {
        case Cast(x, DoubleType, _, _) =>
          exprMeasureOf(x).orElse(exprMeasureOf(child))
        case x => exprMeasureOf(x)
      }).collect {
        case (n, t) if !t.isInstanceOf[DecimalType] => n
      }

    def sOut(name: String): AttributeReference =
      scan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }.getOrElse(throw new IllegalStateException(
        s"rollup at ${e.summaryDir} lacks column $name"))

    /** Swap every base-column reference for the same-named rollup
      * column (caller guarantees all refs are dims).
      */
    def toRollupRefs(c: Expression): Expression = c.transformDown {
      case ar: AttributeReference => sOut(ar.name)
    }

    private def sum2(a: Expression,
        filt: Option[Expression]): Expression =
      new Sum(a).toAggregateExpression(isDistinct = false, filter = filt)

    /** Serve an exact sum from s_m (decimal path) or sd_m (native
      * path) depending on what the measure's type makes lossless.
      */
    private def servedSum(m: String, t: DataType,
        filt: Option[Expression]): Option[Expression] = {
      val raw =
        if (decimal38_6Lossless(t)) Some(sum2(sOut(s"s_$m"), filt))
        else if (isFloating(t) || t.isInstanceOf[DecimalType])
          Some(sum2(sOut(s"sd_$m"), filt))
        else None
      // retraction null-gate: a surviving group whose non-null
      // measure rows were ALL deleted sums its signed partials to a
      // non-null 0, but the base SUM over zero non-null inputs is
      // NULL — recover Sum's semantics from the signed count
      if (!e.retracted) raw
      else raw.map { s =>
        val c = Coalesce(Seq(sum2(sOut(s"c_$m"), filt),
          Literal(0L, LongType)))
        If(EqualTo(c, Literal(0L, LongType)),
          Literal(null, s.dataType), s)
      }
    }

    /** Variance family serve: n, s, ss from the rollup partials,
      * m2 = ss - s*s/n clamped at 0, then pop/samp divisor and an
      * optional sqrt. All double (Spark's own variance domain). An
      * aggregate FILTER applies to all three partial sums — a dim
      * predicate selects whole base groups, so the filtered partials
      * are exactly the subset's.
      */
    private def varServe(m: String, samp: Boolean, sqrtIt: Boolean,
        outType: DataType, filt: Option[Expression]): Expression = {
      val n = Cast(sum2(sOut(s"c_$m"), filt), DoubleType)
      val s = Cast(sum2(sOut(s"sd_$m"), filt), DoubleType)
      val ss = Cast(sum2(sOut(s"ss_$m"), filt), DoubleType)
      val zero = Literal(0.0, DoubleType)
      val m2raw = Subtract(ss, Divide(Multiply(s, s), n))
      val m2 = If(LessThan(m2raw, zero), zero, m2raw)
      val nullD = Literal(null, DoubleType)
      val core =
        if (samp)
          If(LessThanOrEqual(n, Literal(1.0, DoubleType)), nullD,
            Divide(m2, Subtract(n, Literal(1.0, DoubleType))))
        else
          If(EqualTo(n, zero), nullD, Divide(m2, n))
      Cast(if (sqrtIt) Sqrt(core) else core, outType)
    }

    // translate one base-side aggregate call to its rollup re-agg
    def reAgg(ae: AggregateExpression): Option[Expression] = {
      // FILTER (WHERE p): rides the rollup when p is a dim condition
      // (deterministic, dims-only) — the filtered re-aggregation sums
      // exactly the selected groups' partials. Anything else aborts.
      val filt: Option[Expression] = ae.filter match {
        case None => None
        case Some(f) =>
          if (!dimCond(f)) return None
          Some(toRollupRefs(f))
      }
      // COUNT(DISTINCT dims...) is EXACT from the rollup: every
      // surviving dim combination appears among the rollup's rows
      // (possibly several times across chunks — DISTINCT dedups),
      // and nulls are skipped identically. Distinct over a MEASURE
      // is unrecoverable (per-row multiplicity is gone) — abort.
      if (ae.isDistinct) {
        // a retracted rollup still carries every PRE-delete dim
        // combination among its rows (net counts may be zero);
        // DISTINCT over them would resurrect deleted groups — abort
        if (e.retracted) return None
        ae.aggregateFunction match {
          case c: Count if c.children.nonEmpty && c.children.forall {
              case ar: AttributeReference => dimAttr(ar)
              case _ => false
            } =>
            return Some(new Count(c.children.map {
              case ar: AttributeReference => sOut(ar.name)
            }).toAggregateExpression(isDistinct = true, filter = filt))
          // OPT-IN approximate serving: COUNT(DISTINCT key) for a key
          // the rollup carries an HLL sketch of, ONLY under
          // graft.mv.approxDistinct=true (an estimate must never
          // silently replace an exact count — the caller flips the
          // flag per session/query block, the BigQuery/Calcite
          // approximate-query-processing contract). Registers merge
          // by elementwise max across rollup rows (order-independent),
          // so the estimate equals sketching the raw subset directly.
          case c: Count => c.children match {
            case Seq(ar: AttributeReference)
                if SparkSession.active.conf
                  .get("graft.mv.approxDistinct", "false") == "true" =>
              return e.sketches.collectFirst {
                case sk: SketchSpec if sk.key == ar.name =>
                  graft.operators.HllEstimate(sk.merge(sOut(sk.colName))
                    .toAggregateExpression(isDistinct = false,
                      filter = filt))
              }
            case _ => return None
          }
          case _ => return None
        }
      }
      ae.aggregateFunction match {
        case c: Count if c.children.forall(x =>
            x.foldable && x.eval() != null) =>
          // under a null-extending spine each null-extended row is
          // exactly one base row — count it as 1
          val cntIn: Expression =
            if (nullExtendedFact)
              Coalesce(Seq(sOut("cnt"), Literal(1L, LongType)))
            else sOut("cnt")
          Some(Coalesce(Seq(sum2(cntIn, filt),
            Literal(0L, LongType))))
        // COUNT(m) for a measure: the rollup's per-measure non-null
        // count; COUNT(d) for a dim: null dims form their own rollup
        // group, so exclude those groups' cnt
        case c: Count if c.children.sizeIs == 1 =>
          c.children.head match {
            case ar: AttributeReference
                if e.measures.contains(ar.name) =>
              Some(Coalesce(Seq(sum2(sOut(s"c_${ar.name}"), filt),
                Literal(0L, LongType))))
            case ar: AttributeReference if dimAttr(ar) =>
              Some(Coalesce(Seq(
                new Sum(If(IsNotNull(sOut(ar.name)),
                  Cast(sOut("cnt"), LongType),
                  Literal(0L, LongType))).toAggregateExpression(
                    isDistinct = false, filter = filt),
                Literal(0L, LongType))))
            // COUNT(expr) for a registered expression measure: its
            // per-group non-null count partial
            case other => exprMeasureOf(other).map { case (n, _) =>
              Coalesce(Seq(sum2(sOut(s"c_$n"), filt),
                Literal(0L, LongType)))
            }
          }
        case s: Sum => s.child match {
          // bare SUM(m): decimal-exact when lossless, native
          // partial sums otherwise (float reorder only)
          case ar: AttributeReference
              if e.measures.contains(ar.name) =>
            servedSum(ar.name, ar.dataType, filt)
              .map(x => Cast(x, ae.dataType))
          // SUM(CAST(m AS DECIMAL(p,s))): only when the per-row
          // cast provably preserves the value AND the rollup's
          // scale-6 sum dominates it (see object scaladoc)
          case Cast(ar: AttributeReference, d: DecimalType, _, _)
              if e.measures.contains(ar.name) &&
                castPreserving(ar.name, ar.dataType, d, e) =>
            val s0 = sum2(sOut(s"s_${ar.name}"), filt)
            val gated = // same retraction null-gate as servedSum
              if (!e.retracted) s0
              else {
                val c = Coalesce(Seq(sum2(sOut(s"c_${ar.name}"), filt),
                  Literal(0L, LongType)))
                If(EqualTo(c, Literal(0L, LongType)),
                  Literal(null, s0.dataType), s0)
              }
            Some(Cast(gated, ae.dataType))
          // SUM(expr) for a registered expression measure — the
          // TPC-H Q1 `SUM(price * (1 - discount))` shape: the same
          // decimal-exact / native-partial dispatch as a bare
          // measure, keyed on the RESOLVED expression's type
          case other => exprMeasureOf(other).flatMap { case (n, t) =>
            servedSum(n, t, filt).map(x => Cast(x, ae.dataType))
          }
        }
        // AVG(m) = SUM(partials)/SUM(c_m) in double — identical to
        // Spark's Average for non-decimal inputs (it sums those in
        // double). Decimal AVG rebuilds Average's OWN internal
        // arithmetic from the partials: the native-typed sum cast to
        // Average's sumDataType (DECIMAL(p+10, s)) divided by the
        // count cast to DECIMAL(20, 0) — Catalyst's decimal-divide
        // result-scale rules then produce the identical value and
        // type, so the serve is value-exact (the same exact-rational
        // division, not a double detour).
        case a: Average =>
          def decAvg(m: String, dt: DecimalType): Option[Expression] = {
            val sumT = DecimalType(
              math.min(dt.precision + 10, DecimalType.MAX_PRECISION),
              dt.scale)
            val sm = Cast(sum2(sOut(s"sd_$m"), filt), sumT)
            val cnt = Coalesce(Seq(sum2(sOut(s"c_$m"), filt),
              Literal(0L, LongType)))
            // DecimalType.LongDecimal (private[sql]) = (20, 0)
            val n = Cast(cnt, DecimalType(20, 0))
            ae.dataType match {
              // the very node Average.evaluateExpression builds: one
              // exact division rounded HALF_UP directly at the result
              // type — not generic Divide, whose two-step scale rules
              // round differently. Like Average, the zero-count group
              // short-circuits to null BEFORE the divide: under ANSI
              // the divide treats a null sum as sum overflow and
              // throws, which must happen for a genuine overflow but
              // not for an empty/all-null group.
              case rt: DecimalType =>
                val divide = org.apache.spark.sql.catalyst.expressions
                  .DecimalDivideWithOverflowCheck(sm, n, rt, null,
                    nullOnOverflow = !org.apache.spark.sql.internal
                      .SQLConf.get.ansiEnabled)
                Some(If(EqualTo(cnt, Literal(0L, LongType)),
                  Literal(null, rt), divide))
              case _ => None
            }
          }
          def dblAvg(m: String, t: DataType): Option[Expression] =
            servedSum(m, t, filt).map { sm =>
              Cast(Divide(Cast(sm, DoubleType),
                Cast(sum2(sOut(s"c_$m"), filt), DoubleType)),
                ae.dataType)
            }
          a.child match {
            case ar: AttributeReference
                if e.measures.contains(ar.name) =>
              ar.dataType match {
                case dt: DecimalType => decAvg(ar.name, dt)
                case t => dblAvg(ar.name, t)
              }
            case other => exprMeasureOf(other).flatMap { case (m, t) =>
              t match {
                case dt: DecimalType => decAvg(m, dt)
                case _ => dblAvg(m, t)
              }
            }
          }
        // VAR_POP/VAR_SAMP/STDDEV_POP/STDDEV_SAMP(m) for a
        // non-decimal measure: m2 = SUM(ss_m) - SUM(sd_m)^2/n over
        // the rollup's sum-of-squares partial, all in double —
        // Spark's own CentralMomentAgg casts every input to double
        // first, so the value domain is identical; the only
        // difference is Welford-vs-textbook rounding at ~1e-12
        // relative (clamped at 0 so sqrt never sees FP-negative
        // m2). NULL semantics matched to Spark: n=0 -> null (all
        // four), n=1 -> null for the sample forms, 0.0 for the
        // population forms.
        case vp: VariancePop =>
          varMeasure(vp.child, e).orElse(varExprMeasure(vp.child))
            .map(m => varServe(m, samp = false, sqrtIt = false,
              ae.dataType, filt))
        case vs: VarianceSamp =>
          varMeasure(vs.child, e).orElse(varExprMeasure(vs.child))
            .map(m => varServe(m, samp = true, sqrtIt = false,
              ae.dataType, filt))
        case sp: StddevPop =>
          varMeasure(sp.child, e).orElse(varExprMeasure(sp.child))
            .map(m => varServe(m, samp = false, sqrtIt = true,
              ae.dataType, filt))
        case ss: StddevSamp =>
          varMeasure(ss.child, e).orElse(varExprMeasure(ss.child))
            .map(m => varServe(m, samp = true, sqrtIt = true,
              ae.dataType, filt))
        // MIN/MAX: the bare measure, or a value-preserving decimal
        // cast of it — decimal rounding is monotone, so
        // MIN(CAST(m, dec)) == CAST(MIN(m), dec) whenever no per-row
        // cast can overflow (the same guard as Sum's cast spelling)
        // MIN/MAX of a DIM is exact straight off the rollup rows
        // (every dim combination survives; nulls skipped identically)
        // OPT-IN approximate percentile serving: percentile_approx
        // over a measure the rollup carries a sample sketch of, ONLY
        // under graft.mv.approxQuantile=true — percentile_approx is
        // already an estimate by contract, and the flag makes the
        // substitution of THIS estimator (the bottom-k sample's lower
        // order statistic — deterministic, so the served value is
        // reproducible and oracle-checkable) explicit, the same
        // stance as graft.mv.approxDistinct. Not under retraction:
        // sample sketches cannot retract deleted rows.
        case ap: ApproximatePercentile
            if !e.retracted && ap.percentageExpression.foldable &&
              SparkSession.active.conf
                .get("graft.mv.approxQuantile", "false") == "true" =>
          ap.child match {
            case ar: AttributeReference
                if sampleSpecOf(ar.name).isDefined =>
              val sp = sampleSpecOf(ar.name).get
              val merged = sp.merge(sOut(sp.colName)).toAggregateExpression(
                isDistinct = false, filter = filt)
              def read(d: Double, t: DataType): Expression =
                Cast(graft.operators.SampleQuantile(merged, d), t)
              ap.percentageExpression.eval() match {
                case d: java.lang.Double =>
                  Some(read(d.doubleValue(), ae.dataType))
                case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
                  ae.dataType match {
                    case ArrayType(elemT, _) =>
                      Some(org.apache.spark.sql.catalyst.expressions
                        .CreateArray(arr.toDoubleArray().toSeq
                          .map(read(_, elemT))))
                    case _ => None
                  }
                case _ => None
              }
            // ... or an HDR log2-bucket sketch registered over this
            // exact (semantically matched) integral expression: the
            // quantile reads as the holding bucket's lower bound —
            // deterministic, within 2^-p relative error, served from
            // a dim-cardinality fold. Rank rationals at 1/10000 grain.
            case c =>
              hdrSpecOf(c).flatMap { h =>
                val merged = h.merge(sOut(h.colName))
                  .toAggregateExpression(isDistinct = false,
                    filter = filt)
                def read(d: Double, t: DataType): Expression =
                  Cast(graft.operators.HdrQuantile(merged,
                    math.round(d * 10000), 10000L, h.p), t)
                ap.percentageExpression.eval() match {
                  case d: java.lang.Double =>
                    Some(read(d.doubleValue(), ae.dataType))
                  case arr: org.apache.spark.sql.catalyst.util
                      .ArrayData =>
                    ae.dataType match {
                      case ArrayType(elemT, _) =>
                        Some(org.apache.spark.sql.catalyst.expressions
                          .CreateArray(arr.toDoubleArray().toSeq
                            .map(read(_, elemT))))
                      case _ => None
                    }
                  case _ => None
                }
              }
          }

        // MIN/MAX under retraction: a deleted row may have BEEN the
        // group extreme, and min/max partials are not sign-invertible
        // — fall back to the base until a refresh rebuild. (Dim
        // min/max would survive the net-count group filter, but the
        // measure forms cannot, and a uniformly-unserved family is
        // the predictable contract.)
        case _: Min | _: Max if e.retracted => None
        case mn: Min => mn.child match {
          case ar: AttributeReference if dimAttr(ar) =>
            Some(new Min(sOut(ar.name)).toAggregateExpression(
              isDistinct = false, filter = filt))
          case c => minMaxMeasure(c, e)
            .orElse(exprMeasureOf(c).map(_._1)).map { m =>
            Cast(new Min(sOut(s"mn_$m")).toAggregateExpression(
              isDistinct = false, filter = filt), ae.dataType)
          }
        }
        case mx: Max => mx.child match {
          case ar: AttributeReference if dimAttr(ar) =>
            Some(new Max(sOut(ar.name)).toAggregateExpression(
              isDistinct = false, filter = filt))
          case c => minMaxMeasure(c, e)
            .orElse(exprMeasureOf(c).map(_._1)).map { m =>
            Cast(new Max(sOut(s"mx_$m")).toAggregateExpression(
              isDistinct = false, filter = filt), ae.dataType)
          }
        }
        case _ => None
      }
    }

    // translate every output expression; bail out if any node can't.
    // Manual recursion, NOT transformDown: a transform would descend
    // into the freshly built replacement (whose sum(cnt)/sum(s_m)
    // aggregates are not base measures) and wrongly reject it.
    // `keepIds` names attributes that must survive untranslated (the
    // Expand path's grouping-set dim copies and gid column).
    var ok = true
    def translate(expr: Expression,
        keepIds: Set[ExprId] = Set.empty): Expression = expr match {
      case ae: AggregateExpression =>
        reAgg(ae) match {
          case Some(x) => x
          case None => ok = false; ae
        }
      case ar: AttributeReference if keepIds.contains(ar.exprId) => ar
      case ar: AttributeReference if dimAttr(ar) =>
        sOut(ar.name)
      case other =>
        // the non-aggregate scaffolding around translated aggs must
        // be deterministic too: rand() in the select list would
        // re-evaluate per rollup row
        if (!other.deterministic && other.children.isEmpty) ok = false
        other.mapChildren(translate(_, keepIds))
    }
  }

  private def entryOf(rel: LogicalRelation): Option[Entry] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        lookup(fs.location.rootPaths.map(_.toString))
      case _ => None
    }

  private def rewrite(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = child match {
    case ex: Expand => rewriteExpand(groups, aggExprs, ex)
    case _ =>
      rewritePlain(groups, aggExprs, child)
        .orElse(rewriteJoin(groups, aggExprs, child))
  }

  private def rewritePlain(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val (conds0, subs, rel) = unwrap(child) match {
      case Some(x) => x
      case None => dbg("unwrap failed: " + child.nodeName); return None
    }
    def inline(e: Expression): Expression = e.transformUp {
      case ar: AttributeReference if subs.contains(ar.exprId) =>
        subs(ar.exprId)
    }
    val conds = conds0.map(inline)
    entryOf(rel).flatMap { e =>
      val sv = new Serving(e, rel)
      // grouping keys: expressions over dim attributes only — plain
      // dims, or DERIVED dims (month(day), substr(flag, ...)). A
      // derived key groups the rollup coarser than its grain; the
      // re-aggregation stays exact because every combiner is
      // associative (sum of sums, min of mins), so rollup groups merge
      // exactly as base rows would.
      val groupsI = groups.map(inline)
      if (!groupsI.forall(_.references.forall(sv.dimAttr))) {
        dbg("group not dim-derived: " + groupsI); return None
      }
      // filters: dim-only AND deterministic — a rand() filter samples
      // per BASE row; re-evaluating it per rollup row changes the
      // semantics entirely (and reference-only checks are vacuously
      // true for reference-free expressions)
      if (!conds.forall(sv.dimCond)) {
        dbg("filter not a dim condition: " + conds); return None
      }
      if (!groupsI.forall(_.deterministic)) {
        dbg("nondeterministic group key: " + groupsI); return None
      }

      val newAggExprs = aggExprs.map { ne =>
        val translated = ne match {
          case ar: AttributeReference if sv.dimAttr(ar) =>
            Alias(sv.sOut(ar.name), ar.name)(exprId = ar.exprId)
          case ar: AttributeReference if subs.contains(ar.exprId) =>
            Alias(sv.translate(inline(ar)), ar.name)(exprId = ar.exprId)
          case al: Alias =>
            Alias(sv.translate(inline(al.child)),
              al.name)(exprId = al.exprId)
          case _ => sv.ok = false; ne
        }
        translated
      }
      if (!sv.ok) {
        dbg("agg expr not translatable: " + aggExprs); return None
      }
      // a translated tree must reference only rollup attributes
      val scanAttrIds = sv.scan.outputSet
      if (!newAggExprs.forall(_.references.subsetOf(scanAttrIds))) {
        dbg("translated refs escape rollup: " + newAggExprs); return None
      }

      val newGroups = groupsI.map(g => sv.translate(g))
      if (!sv.ok) {
        dbg("group expr not translatable: " + groupsI); return None
      }
      val newConds = conds.map(sv.toRollupRefs)
      // explicit column pruning: this rule runs in extraOptimizations,
      // AFTER the optimizer's ColumnPruning batch — without a Project
      // the physical scan reads EVERY rollup column (all measures'
      // five partials plus any 2^p-int HLL register arrays) for a
      // query that needs one of them. The Project collapses into the
      // parquet ReadSchema at physical planning (spec-pinned).
      val cntAttr = sv.sOut("cnt")
      val refIds = (newAggExprs ++ newGroups ++ newConds)
        .foldLeft(AttributeSet.empty)(_ ++ _.references) ++
        (if (sv.e.retracted) AttributeSet(cntAttr)
         else AttributeSet.empty)
      val needed = sv.scan.output.filter(refIds.contains)
      val pruned =
        if (needed.size == sv.scan.output.size) sv.scan
        else Project(needed, sv.scan)
      val filtered = newConds.foldLeft(pruned)((p, c) => Filter(c, p))
      fireCount.incrementAndGet()
      if (!sv.e.retracted || newGroups.isEmpty)
        // (a global aggregate emits its one row even over zero
        // surviving base rows — exactly what the ungated serve does)
        Some(Aggregate(newGroups, newAggExprs, filtered))
      else {
        // retraction net-count guard: a group whose rows were all
        // deleted folds to net cnt 0 but still has rollup rows — the
        // base GROUP BY emits no row for it, so neither may the serve
        val netCnt = Alias(new Sum(cntAttr).toAggregateExpression(),
          "__net_cnt")()
        val agg = Aggregate(newGroups, newAggExprs :+ netCnt, filtered)
        Some(Project(newAggExprs.map(_.toAttribute),
          Filter(GreaterThan(netCnt.toAttribute,
            Literal(0L, LongType)), agg)))
      }
    }
  }

  /** GROUPING SETS / CUBE / ROLLUP path: the analyzer plans these as
    * `Aggregate(groupByAttrs :+ gid, aggs, Expand(projections, out,
    * child))` where each projection replays the base rows once per
    * grouping set with non-member dims nulled out and a literal
    * grouping id appended. The rewrite rebuilds the SAME Expand shape
    * over the rollup scan: partial columns pass through every
    * projection unchanged, the dim-copy columns keep their original
    * output attributes (so the Aggregate's grouping keys and any
    * `grouping()`/`grouping_id()` reads bind untouched) with base dim
    * references swapped for rollup dims, and the base-column
    * pass-through columns (aggregate inputs) are dropped — their
    * consumers were translated to rollup partial re-aggregations.
    * Exactness: within one output group each contributing rollup row
    * appears exactly once (the grouping id separates the expanded
    * copies), so every associative combiner argument above holds
    * per grouping set.
    */
  private def rewriteExpand(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      ex: Expand): Option[LogicalPlan] = {
    val (conds0, subs, rel) = unwrap(ex.child) match {
      case Some(x) => x
      case None => dbg("expand unwrap failed: " + ex.child.nodeName)
        return None
    }
    def inline(e: Expression): Expression = e.transformUp {
      case ar: AttributeReference if subs.contains(ar.exprId) =>
        subs(ar.exprId)
    }
    entryOf(rel).flatMap { e =>
      // grouping-set serves replay each rollup row once per set; the
      // retraction net-count guard would need a per-set gate — fall
      // back to base until a refresh rebuild
      if (e.retracted) { dbg("expand path: retracted rollup"); return None }
      val sv = new Serving(e, rel)
      val conds = conds0.map(inline)
      if (!conds.forall(sv.dimCond)) {
        dbg("expand filter not a dim condition: " + conds); return None
      }

      // classify each Expand output position by its projection column
      val nOut = ex.output.size
      if (ex.projections.exists(_.size != nOut)) return None
      // 0 = all-literal (gid / grouping-set id columns): kept as-is
      // 1 = dim-expanded (dim expression or null per set): kept, with
      //     base dim refs swapped for rollup dims
      // 2 = pass-through of one base expression (aggregate inputs):
      //     dropped; consumers are translated
      val kinds = new Array[Int](nOut)
      val inlinedCols = Array.tabulate(nOut) { i =>
        ex.projections.map(p => inline(p(i)))
      }
      var i = 0
      while (i < nOut) {
        val es = inlinedCols(i)
        if (es.forall(x => x.foldable && x.deterministic)) kinds(i) = 0
        else if (es.forall(x => x.deterministic &&
            x.references.forall(sv.dimAttr))) kinds(i) = 1
        else if (es.forall(x => x.deterministic &&
            x.semanticEquals(es.head))) kinds(i) = 2
        else {
          dbg(s"unclassifiable expand column $i: " + es); return None
        }
        i += 1
      }
      val keptIdx = (0 until nOut).filter(kinds(_) != 2)
      val keepIds: Set[ExprId] = keptIdx.map(ex.output(_).exprId).toSet

      // grouping keys must bind to kept columns only (dim copies/gid)
      if (!groups.forall(_.references.forall(r =>
          keepIds.contains(r.exprId)))) {
        dbg("expand group refs escape kept columns: " + groups)
        return None
      }

      // translate aggregate outputs: dim-copy/gid refs survive (they
      // stay in the rebuilt Expand's output); everything else inlines
      // down to base expressions first, then the shared translator
      // maps aggregate calls onto rollup partial re-aggregations
      def inlineExcept(expr: Expression): Expression = expr.transformUp {
        case ar: AttributeReference
            if !keepIds.contains(ar.exprId) &&
              subs.contains(ar.exprId) => subs(ar.exprId)
      }
      val newAggExprs = aggExprs.map { ne =>
        val translated = ne match {
          case ar: AttributeReference if keepIds.contains(ar.exprId) =>
            ar
          case al: Alias =>
            Alias(sv.translate(inlineExcept(al.child), keepIds),
              al.name)(exprId = al.exprId)
          case _ => sv.ok = false; ne
        }
        translated
      }
      if (!sv.ok) {
        dbg("expand agg expr not translatable: " + aggExprs); return None
      }
      val scanAttrIds = sv.scan.outputSet
      if (!newAggExprs.forall(_.references.forall(r =>
          keepIds.contains(r.exprId) || scanAttrIds.contains(r)))) {
        dbg("expand translated refs escape: " + newAggExprs); return None
      }

      // rollup partials the translated aggregates consume: passed
      // through every projection of the rebuilt Expand unchanged
      val aggRefs = newAggExprs
        .foldLeft(AttributeSet.empty)(_ ++ _.references)
      val rollupNeeded = sv.scan.output.filter(aggRefs.contains)

      // dim-copy projection expressions over rollup columns
      val newKeptCols: Seq[Seq[Expression]] = keptIdx.map { i =>
        if (kinds(i) == 0) ex.projections.map(_(i))
        else inlinedCols(i).map(x => x.transformUp {
          case ar: AttributeReference if sv.dimAttr(ar) =>
            sv.sOut(ar.name)
        })
      }
      val newOutput: Seq[Attribute] =
        rollupNeeded ++ keptIdx.map(ex.output(_))
      val newProjections: Seq[Seq[Expression]] =
        ex.projections.indices.map { j =>
          rollupNeeded.map(identity[Expression]) ++
            newKeptCols.map(_(j))
        }

      val newConds = conds.map(sv.toRollupRefs)
      val dimRefs = newKeptCols.flatten
        .foldLeft(AttributeSet.empty)(_ ++ _.references) ++
        newConds.foldLeft(AttributeSet.empty)(_ ++ _.references)
      val needed = sv.scan.output.filter(a =>
        aggRefs.contains(a) || dimRefs.contains(a))
      val pruned =
        if (needed.size == sv.scan.output.size) sv.scan
        else Project(needed, sv.scan)
      val filtered = newConds.foldLeft(pruned)((p, c) => Filter(c, p))
      fireCount.incrementAndGet()
      Some(Aggregate(groups, newAggExprs,
        Expand(newProjections, newOutput, filtered)))
    }
  }

  /** Star/snowflake path: `Aggregate` over a JOIN SPINE rooted at the
    * registered fact table re-plans to the same aggregate over the
    * spine with the fact leaf swapped for the rollup scan — fact ⋈
    * dim, and fact ⋈ dim1 ⋈ dim2 ⋈ … (snowflakes), with filters
    * interleaved anywhere. Conditions at every level (and the
    * post-join filters / grouping keys) must reference only the fact
    * side's DIMS plus non-fact columns, and every aggregate call must
    * read only fact measures/dims. Exactness: the whole join tree
    * multiplies each dim group's rows by a factor that depends only on
    * the dim values, and every served aggregate is a function of
    * Σ(multiplicity × partial) — Sum(cnt)/Sum(s_m) over the joined
    * rollup rows reproduce COUNT(*)/SUM(m) over the joined base
    * exactly (chunk rows sum back to group partials first), and
    * MIN/MAX/COUNT(DISTINCT dims) ignore multiplicity altogether.
    * Join types where a fact row's presence/multiplicity is a function
    * of its dims alone qualify: INNER/CROSS anywhere, LEFT OUTER /
    * LEFT SEMI / LEFT ANTI with the fact on the preserved left,
    * RIGHT OUTER with the fact on the right. FULL OUTER does not
    * (unmatched OTHER-side rows surface once each with a null cnt —
    * COUNT(*) would undercount) and aborts. Fact-side pruning Projects
    * between joins are dropped (the leaf re-prunes); alias-bearing
    * intermediate Projects abort. At 100 TB this is the dims-vs-facts
    * read a BI layer issues constantly: fact ⋈ small dimension tables
    * GROUP BY dimension attributes, served at rollup cardinality with
    * the dim joins broadcast.
    */
  private def rewriteJoin(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    // peel post-join Projects (attrs/aliases) and Filters above the
    // topmost Join
    def peel(p: LogicalPlan): Option[(Seq[Expression],
        Map[ExprId, Expression], Join)] = p match {
      case j: Join => Some((Nil, Map.empty, j))
      case Filter(c, u) =>
        peel(u).map { case (cs, subs, j) => (c +: cs, subs, j) }
      case Project(pl, u) if pl.forall(e =>
          e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
        peel(u).map { case (cs, subs, j) =>
          val inlined = pl.collect { case al: Alias =>
            al.exprId -> al.child.transformUp {
              case ar: AttributeReference if subs.contains(ar.exprId) =>
                subs(ar.exprId)
            }
          }
          (cs, subs ++ inlined, j)
        }
      case _ => None
    }
    val (upConds0, upSubs, topJoin) = peel(child) match {
      case Some(x) => x
      case None =>
        dbg("join peel failed: " + child.nodeName); return None
    }

    val leftTypes = Set[org.apache.spark.sql.catalyst.plans.JoinType](
      Inner, Cross, LeftOuter, LeftSemi, LeftAnti)
    val rightTypes = Set[org.apache.spark.sql.catalyst.plans.JoinType](
      Inner, Cross, RightOuter)

    // state discovered at the fact leaf by walk()
    var svOpt: Option[Serving] = None
    var leafSubs: Map[ExprId, Expression] = Map.empty
    var baseConds: Seq[Expression] = Nil
    val levelConds = scala.collection.mutable.Buffer[Expression]()

    def inlineAll(x: Expression): Expression = x.transformUp {
      case ar: AttributeReference
          if leafSubs.contains(ar.exprId) => leafSubs(ar.exprId)
      case ar: AttributeReference
          if upSubs.contains(ar.exprId) => upSubs(ar.exprId)
    }
    def toRollup(sv: Serving)(c: Expression): Expression = c.transformUp {
      case ar: AttributeReference if sv.dimAttr(ar) => sv.sOut(ar.name)
    }
    def ridable(sv: Serving, visible: AttributeSet)(
        c: Expression): Boolean =
      c.deterministic && c.references.forall(r =>
        visible.contains(r) || sv.dimAttr(r))

    /** Descend the fact spine. Returns (rebuilt subtree with the fact
      * leaf replaced by the raw rollup scan, non-fact attrs visible
      * above this subtree). The leaf's own filters and every join/
      * filter condition along the spine are validated, translated to
      * rollup refs, and recorded for the final pruning Project.
      */
    def walk(p: LogicalPlan): Option[(LogicalPlan, AttributeSet)] =
      p match {
        case j: Join =>
          def trySide(side: LogicalPlan, other: LogicalPlan,
              isLeft: Boolean): Option[(LogicalPlan, AttributeSet)] = {
            val ok = if (isLeft) leftTypes else rightTypes
            // fact on the NON-preserved side of an outer join (`dim
            // LEFT JOIN fact`, `fact RIGHT JOIN dim`): rows can
            // surface with no fact match. Servable — each such row is
            // exactly one base row — with COUNT(*) switched to
            // SUM(coalesce(cnt, 1)) (see Serving.nullExtendedFact);
            // all other combiners skip the null partials exactly as
            // the base plan skips the null fact columns. FULL OUTER
            // stays unservable by contract.
            val nullExt =
              if (isLeft) j.joinType == RightOuter
              else j.joinType == LeftOuter
            if (!ok.contains(j.joinType) && !nullExt) None
            else walk(side).flatMap { case (newSide, passOut) =>
              val sv = svOpt.get
              if (nullExt) sv.nullExtendedFact = true
              val visible = other.outputSet ++ passOut
              val condI = j.condition.map(inlineAll)
              if (!condI.forall(ridable(sv, visible))) {
                dbg("join condition not ridable: " + condI); None
              } else {
                val newCond = condI.map(toRollup(sv))
                levelConds ++= newCond
                val rebuilt =
                  if (isLeft) j.copy(left = newSide, condition = newCond)
                  else j.copy(right = newSide, condition = newCond)
                // semi/anti joins do not expose the other side above
                val visibleUp =
                  if (j.joinType == LeftSemi || j.joinType == LeftAnti)
                    passOut
                  else visible
                Some((rebuilt, visibleUp))
              }
            }
          }
          trySide(j.left, j.right, isLeft = true)
            .orElse(trySide(j.right, j.left, isLeft = false))
        case Filter(c, u) =>
          walk(u).flatMap { case (nu, passOut) =>
            val sv = svOpt.get
            val ci = inlineAll(c)
            if (!ridable(sv, passOut)(ci)) {
              dbg("interleaved filter not ridable: " + ci); None
            } else {
              val nc = toRollup(sv)(ci)
              levelConds += nc
              Some((Filter(nc, nu), passOut))
            }
          }
        // fact-side pruning Project between joins: drop it — its fact
        // columns no longer exist post-rewrite, and the leaf re-prunes
        case Project(pl, u) if pl.forall(
            _.isInstanceOf[AttributeReference]) && walkable(u) =>
          walk(u)
        case leaf =>
          unwrap(leaf).flatMap { case (conds0, subs, rel) =>
            val eo = entryOf(rel)
            if (eo.isEmpty) dbg("join leaf not registered: " +
              rel.relation.toString.take(80))
            eo.flatMap { e =>
              // a join serve emits one row per surviving dim JOIN
              // key; the retraction net-count guard would need to
              // thread through the spine — fall back to base until a
              // refresh rebuild
              if (e.retracted) None
              else if (svOpt.isDefined) None // one fact leaf per spine
              else {
                val sv = new Serving(e, rel)
                svOpt = Some(sv)
                leafSubs = subs
                val condsI = conds0.map(inlineAll)
                if (!condsI.forall(sv.dimCond)) {
                  dbg("fact filter not a dim condition: " + condsI)
                  None
                } else {
                  baseConds = condsI.map(sv.toRollupRefs)
                  Some((sv.scan, AttributeSet.empty))
                }
              }
            }
          }
      }
    // a Project is only droppable when a fact spine continues below it
    def walkable(p: LogicalPlan): Boolean = p match {
      case j: Join => true
      case Filter(_, u) => walkable(u)
      case Project(_, u) => walkable(u)
      case _ => false
    }

    walk(topJoin).flatMap { case (rebuilt, visible) =>
      val sv = svOpt.get
      val upConds = upConds0.map(inlineAll)
      if (!upConds.forall(ridable(sv, visible))) {
        dbg("post-join filter not ridable: " + upConds); return None
      }
      val groupsI = groups.map(inlineAll)
      if (!groupsI.forall(g => g.deterministic &&
          g.references.forall(r =>
            visible.contains(r) || sv.dimAttr(r)))) {
        dbg("join group key not ridable: " + groupsI); return None
      }
      // an aggregate call over non-fact columns would need a
      // multiplicity weight the rollup can't provide — abort before
      // reAgg's NAME-based measure match could hit a same-named
      // non-fact column
      val aggsTouchOther = aggExprs.exists(_.collect {
        case ae: AggregateExpression => ae
      }.exists(ae => inlineAll(ae).references.exists(visible.contains)))
      if (aggsTouchOther) {
        dbg("aggregate over non-fact columns: " + aggExprs); return None
      }

      val keepIds: Set[ExprId] = visible.map(_.exprId).toSet
      val newAggExprs = aggExprs.map { ne =>
        val translated = ne match {
          case ar: AttributeReference if keepIds.contains(ar.exprId) =>
            ar
          case ar: AttributeReference if sv.dimAttr(ar) =>
            Alias(sv.sOut(ar.name), ar.name)(exprId = ar.exprId)
          case ar: AttributeReference
              if leafSubs.contains(ar.exprId) ||
                upSubs.contains(ar.exprId) =>
            Alias(sv.translate(inlineAll(ar), keepIds),
              ar.name)(exprId = ar.exprId)
          case al: Alias =>
            Alias(sv.translate(inlineAll(al.child), keepIds),
              al.name)(exprId = al.exprId)
          case _ => sv.ok = false; ne
        }
        translated
      }
      if (!sv.ok) {
        dbg("join agg expr not translatable: " + aggExprs); return None
      }
      val scanAttrIds = sv.scan.outputSet
      if (!newAggExprs.forall(_.references.forall(r =>
          keepIds.contains(r.exprId) || scanAttrIds.contains(r)))) {
        dbg("join translated refs escape: " + newAggExprs); return None
      }

      val newGroups = groupsI.map(toRollup(sv))
      val newUpConds = upConds.map(toRollup(sv))

      // prune the rollup scan to every referenced partial/dim column
      // and apply the fact-side filters, swapping them in for the raw
      // scan node the walk planted at the leaf
      val refIds = (newAggExprs ++ newGroups ++ newUpConds ++
        levelConds ++ baseConds)
        .foldLeft(AttributeSet.empty)(_ ++ _.references)
      val needed = sv.scan.output.filter(refIds.contains)
      val pruned =
        if (needed.size == sv.scan.output.size) sv.scan
        else Project(needed, sv.scan)
      val leafPlan = baseConds.foldLeft(pruned)((p, c) => Filter(c, p))
      val swapped =
        if (leafPlan eq sv.scan) rebuilt
        else rebuilt.transformUp {
          case n if n eq sv.scan => leafPlan
        }
      val aboveJoin = newUpConds
        .foldLeft(swapped)((p, c) => Filter(c, p))
      fireCount.incrementAndGet()
      Some(Aggregate(newGroups, newAggExprs, aboveJoin))
    }
  }

  /** Whether `CAST(m AS d)` provably preserves per-row values in a
    * form the rollup's scale-6 partial dominates: integral m that
    * cannot overflow d; decimal m with scale <= min(d.scale, 6)
    * widening into d; or a float/double m whose registration DECLARED
    * a scale <= min(d.scale, 6) (with 16 integer digits of headroom —
    * doubles carrying fractional digits are < 2^53 < 10^16).
    */
  private def castPreserving(m: String, t: DataType, d: DecimalType,
      e: Entry): Boolean = t match {
    case it if digits10(it).isDefined =>
      digits10(it).get <= d.precision - d.scale
    case dt: DecimalType =>
      dt.scale <= math.min(d.scale, 6) &&
        d.precision - d.scale >= dt.precision - dt.scale &&
        dt.precision - dt.scale <= 32
    case ft if isFloating(ft) =>
      e.declaredScale.get(m).exists(ds =>
        ds <= math.min(d.scale, 6) && d.precision - d.scale >= 16)
    case _ => false
  }

  /** The measure column a variance-family aggregate reads: the bare
    * attribute (double measures), or Spark's own implicit
    * cast-to-double of it (every other numeric type — Variance
    * analyzes as e.g. var_pop(cast(m as double))). Decimal measures
    * are refused: their variance is still computed in double by
    * Spark, but the per-row decimal->double cast order vs the
    * rollup's direct double partial can differ beyond reorder noise.
    */
  private def varMeasure(child: Expression, e: Entry): Option[String] =
    child match {
      case ar: AttributeReference
          if e.measures.contains(ar.name) &&
            !ar.dataType.isInstanceOf[DecimalType] =>
        Some(ar.name)
      case Cast(ar: AttributeReference, DoubleType, _, _)
          if e.measures.contains(ar.name) &&
            !ar.dataType.isInstanceOf[DecimalType] =>
        Some(ar.name)
      case _ => None
    }

  /** The measure column a MIN/MAX reads: the bare attribute, or a
    * value-preserving decimal cast of it (monotone rounding commutes
    * with min/max; the serve wraps the cast back via ae.dataType).
    */
  private def minMaxMeasure(child: Expression, e: Entry)
      : Option[String] = child match {
    case ar: AttributeReference if e.measures.contains(ar.name) =>
      Some(ar.name)
    case Cast(ar: AttributeReference, d: DecimalType, _, _)
        if e.measures.contains(ar.name) &&
          castPreserving(ar.name, ar.dataType, d, e) =>
      Some(ar.name)
    case _ => None
  }
}
