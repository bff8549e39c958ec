package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, ApproximatePercentile, Average, Count, Max,
  Min, Percentile, StddevPop, StddevSamp, Sum, VariancePop,
  VarianceSamp}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{countDistinct, lit}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType,
  IntegerType, LongType, NumericType, ShortType}

/** Rollup advisor: given a WORKLOAD of aggregate queries over one base
  * table, recommend the [[SummaryRewrite]] registration that would
  * serve it — dims (union of grouping + filter columns), measures
  * (union of bare numeric aggregate inputs), HLL sketch keys (distinct
  * counts over non-dim columns) — and cost it before anything is
  * built: the rollup's row count is the dim-combination cardinality,
  * so `reduction = fact_rows / rollup_rows` is exactly the scan-cost
  * ratio every served query enjoys. At 100 TB this is the decision
  * that matters — a rollup is only worth materializing when the
  * reduction is orders of magnitude, and a single high-cardinality
  * grouping column in the workload (an id, a timestamp at full
  * precision) silently destroys it; the advisor surfaces that number
  * BEFORE the build, from one distinct-count pass.
  *
  * Reference analog: the usage-rollup views the reference's README
  * pipelines hand-author over embedding usage (lantern_extras
  * README.md) — here derived mechanically from the workload instead.
  *
  * The per-query servability flags apply the same acceptance rules as
  * [[SummaryRewriteRule]]'s translator: dim-only groupings/filters,
  * aggregate calls over bare measures (COUNT(*)/COUNT(col)/SUM/AVG/
  * MIN/MAX/variance family), dims-only COUNT(DISTINCT), sketch-served
  * COUNT(DISTINCT key) under the opt-in flag. A query aggregating an
  * EXPRESSION (sum(qty * 2)) is reported unservable rather than
  * widening the recommendation — derived measures belong in the base
  * query, not the rollup schema.
  */
object SummaryAdvisor {

  /** One workload query's analysis. `sumLikeCols` ⊆ `measureCols` are
    * the SUM/AVG/variance-family inputs — the only measure reads that
    * become unservable when their column is also a dim (COUNT/MIN/MAX
    * of a dim serve off the rollup's own dim rows).
    */
  case class QueryReport(
      groupCols: Seq[String], filterCols: Seq[String],
      measureCols: Seq[String], distinctKeys: Seq[String],
      servable: Boolean, reason: String,
      sumLikeCols: Seq[String] = Nil,
      exprSqls: Seq[String] = Nil,
      percentileCols: Seq[String] = Nil)

  case class Recommendation(
      dims: Seq[String], measures: Seq[String],
      sketchKeys: Seq[String],
      factRows: Long, rollupRows: Long, reduction: Double,
      servable: Int, total: Int, reports: Seq[QueryReport],
      exprMeasures: Seq[SummaryRewrite.ExprMeasure] = Nil,
      sampleCols: Seq[String] = Nil,
      hdrCols: Seq[String] = Nil) {

    /** Apply the recommendation: register (and build) the rollup.
      * Percentile reads over INTEGRAL columns recommend HDR
      * log2-bucket sketches ([[hdrCols]]) — self-contained, no row id
      * needed, relative error fixed at 2^-5 regardless of data
      * volume. Percentiles over fractional columns recommend bottom-k
      * sample sketches ([[sampleCols]]) — those need a UNIQUE row id
      * to hash, which only the caller knows: pass it as `sampleId`.
      * Returns the registry entry it installed.
      */
    def register(spark: SparkSession, basePath: String,
        summaryDir: String, refresh: Boolean = false,
        sampleId: String = ""): SummaryRewrite.Entry = {
      require(sampleCols.isEmpty || sampleId.nonEmpty,
        "the workload reads percentiles of " +
          s"${sampleCols.mkString(", ")}: pass sampleId (a unique " +
          "row id column/expression) to carry the sample sketches")
      SummaryRewrite.register(spark, basePath, summaryDir,
        dims, measures, refresh = refresh,
        sketches = sketchKeys.map(k => SummaryRewrite.SketchSpec(k)) ++
          sampleCols.map(c => SummaryRewrite.SampleQSpec(sampleId, c)) ++
          hdrCols.map(c => SummaryRewrite.HdrSpec(c, c)),
        exprs = exprMeasures)
    }
  }

  private def numeric(t: DataType): Boolean = t match {
    case _: NumericType => true // DecimalType is a NumericType
    case _ => false
  }

  // ---- workload capture ------------------------------------------
  // Observe the session's own aggregate queries as they EXECUTE and
  // feed them back to the advisor: run the dashboard for a day, then
  // ask what rollup would have served it. The listener records only
  // analyzed plans (bounded, deduped by semantic hash) — no results,
  // no extra work per query.

  private val capturedPlans = new java.util.concurrent.ConcurrentHashMap[
    Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
  private val MaxCaptured = 256
  @volatile private var listener:
      Option[org.apache.spark.sql.util.QueryExecutionListener] = None

  /** Start recording aggregate-over-parquet queries executed on this
    * session. Idempotent; call [[stopCapture]] to detach.
    */
  def startCapture(spark: SparkSession): Unit = synchronized {
    if (listener.isEmpty) {
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val plan = qe.analyzed
          val hasAgg = plan.collectFirst {
            case a: Aggregate => a }.isDefined
          val overParquet = plan.collectFirst {
            case l: LogicalRelation
                if l.relation.isInstanceOf[HadoopFsRelation] => l
          }.isDefined
          if (hasAgg && overParquet &&
              capturedPlans.size < MaxCaptured)
            capturedPlans.putIfAbsent(plan.semanticHash(), plan)
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      listener = Some(l)
    }
  }

  def stopCapture(spark: SparkSession): Unit = synchronized {
    listener.foreach(spark.listenerManager.unregister)
    listener = None
  }

  def clearCaptured(): Unit = capturedPlans.clear()

  private[graft] def capturedCount: Int = capturedPlans.size

  /** Whether a capture listener is currently attached. */
  def captureActive: Boolean = listener.isDefined

  /** Recommend from the queries captured so far that scan `basePath`
    * (the observe → advise → register → serve loop, no workload list
    * needed). Listener delivery is asynchronous — an immediate call
    * after the last action may miss it by milliseconds; production
    * callers ask after a day of traffic, not a millisecond.
    */
  def recommendCaptured(spark: SparkSession,
      basePath: String): Recommendation = {
    import scala.jdk.CollectionConverters._
    val q = qualifyPath(spark, basePath)
    // only the captured queries that scan THIS base table — unrelated
    // session traffic must not pollute the report
    val plans = capturedPlans.values.asScala.toSeq.filter(p =>
      p.collectFirst {
        case l: LogicalRelation
            if (l.relation match {
              case fs: HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString).contains(q)
              case _ => false
            }) => l
      }.isDefined)
    recommendPlans(spark, basePath, plans)
  }

  private def qualifyPath(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.makeQualified(p).toString
  }

  /** Analyze `workload` (DataFrames over the parquet table at
    * `basePath`) and produce the recommendation. The cardinality pass
    * runs one exact multi-column distinct count over the proposed
    * dims; at very large scale substitute `approx_count_distinct` —
    * the verdict needs the exponent, not the last digit.
    */
  def recommend(spark: SparkSession, basePath: String,
      workload: Seq[DataFrame]): Recommendation =
    recommendPlans(spark, basePath,
      workload.map(_.queryExecution.analyzed))

  private def recommendPlans(spark: SparkSession, basePath: String,
      workload: Seq[org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan]): Recommendation = {
    val qualified = qualifyPath(spark, basePath)
    def scansBase(plan: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Boolean =
      plan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString).contains(qualified)
          case _ => false
        }
      }.exists(identity)

    val base = spark.read.parquet(basePath)
    val baseTypes: Map[String, DataType] =
      base.schema.fields.map(f => f.name -> f.dataType).toMap

    val reports = workload.map { analyzed =>
      val aggs = analyzed.collect {
        case a @ Aggregate(_, _, child, _) if scansBase(child) => a
      }
      if (aggs.isEmpty)
        QueryReport(Nil, Nil, Nil, Nil, servable = false,
          "no aggregate over the base table")
      else {
        // analyze the LOWEST aggregate over the base (grouping sets
        // and distinct rewrites stack aggregates; the bottom one holds
        // the base-facing shape)
        val a = aggs.last
        val groupCols = a.groupingExpressions
          .flatMap(_.references.map(_.name))
          .filter(baseTypes.contains).distinct.sorted
        val filterCols = a.child.collect {
          case Filter(c, _) => c.references.map(_.name).toSeq
        }.flatten.filter(baseTypes.contains).distinct.sorted

        var measureCols = Vector.empty[String]
        var sumLikeCols = Vector.empty[String]
        var distinctKeys = Vector.empty[String]
        var exprSqls = Vector.empty[String]
        var percentileCols = Vector.empty[String]
        var bad = Option.empty[String]
        def measureInput(c: Expression, what: String,
            sumLike: Boolean = false): Unit = c match {
          case ar: AttributeReference
              if baseTypes.get(ar.name).exists(numeric) =>
            measureCols :+= ar.name
            if (sumLike) sumLikeCols :+= ar.name
          // a DERIVED aggregate input (sum(qty * price), the TPC-H Q1
          // shape): servable by registering it as an expression
          // measure — the rollup stores its partials per base row, so
          // recommend exactly that. Deterministic + numeric + base
          // columns only, the ExprMeasure registration contract.
          case e2 if e2.deterministic && e2.references.nonEmpty &&
              e2.references.forall(r => baseTypes.contains(r.name)) &&
              numeric(e2.dataType) =>
            // render UNQUALIFIED: the analyzed tree's attributes carry
            // the workload's own view/table qualifier, which does not
            // resolve when the registration parses this text against
            // the bare base relation (advise → register round-trip)
            exprSqls :+= e2.transform {
              case ar: AttributeReference => ar.withQualifier(Seq.empty)
            }.sql
          case _ =>
            bad = bad.orElse(Some(
              s"$what over a non-column expression: ${c.sql}"))
        }
        a.aggregateExpressions.foreach(_.foreach {
          case ae: AggregateExpression =>
            if (ae.isDistinct) ae.aggregateFunction match {
              case c: Count => c.children.foreach {
                case ar: AttributeReference => distinctKeys :+= ar.name
                case other => bad = bad.orElse(Some(
                  s"COUNT(DISTINCT expr): ${other.sql}"))
              }
              case f => bad = bad.orElse(Some(
                s"distinct aggregate ${f.prettyName} is unservable"))
            }
            else ae.aggregateFunction match {
              case c: Count if c.children.forall(x =>
                  x.foldable && x.eval() != null) => ()
              case c: Count if c.children.sizeIs == 1 =>
                c.children.head match {
                  case ar: AttributeReference => measureCols :+= ar.name
                  case other => measureInput(other, "COUNT")
                }
              case s: Sum => measureInput(s.child, "SUM",
                sumLike = true)
              case av: Average => measureInput(av.child, "AVG",
                sumLike = true)
              case mn: Min => measureInput(mn.child, "MIN")
              case mx: Max => measureInput(mx.child, "MAX")
              case vp: VariancePop => measureInput(vp.child, "VAR_POP",
                sumLike = true)
              case vs: VarianceSamp =>
                measureInput(vs.child, "VAR_SAMP", sumLike = true)
              case sp: StddevPop => measureInput(sp.child,
                "STDDEV_POP", sumLike = true)
              case ss: StddevSamp =>
                measureInput(ss.child, "STDDEV_SAMP", sumLike = true)
              // percentile reads over a bare numeric column:
              // recommend a bottom-k sample sketch — served through
              // the explicit sampleQuantiles read (like sketch-served
              // distinct counts, an estimate is asked for, never
              // silently substituted)
              case p: Percentile => p.children.head match {
                case ar: AttributeReference
                    if baseTypes.get(ar.name).exists(numeric) =>
                  percentileCols :+= ar.name
                case other => bad = bad.orElse(Some(
                  s"PERCENTILE over a non-column expression: " +
                    s"${other.sql}"))
              }
              case ap: ApproximatePercentile =>
                ap.children.head match {
                  case ar: AttributeReference
                      if baseTypes.get(ar.name).exists(numeric) =>
                    percentileCols :+= ar.name
                  case other => bad = bad.orElse(Some(
                    s"PERCENTILE_APPROX over a non-column " +
                      s"expression: ${other.sql}"))
                }
              case f => bad = bad.orElse(Some(
                s"aggregate ${f.prettyName} is unservable"))
            }
          case _ => ()
        })
        QueryReport(groupCols, filterCols,
          measureCols.distinct.sorted, distinctKeys.distinct.sorted,
          servable = bad.isEmpty, bad.getOrElse("ok"),
          sumLikeCols = sumLikeCols.distinct.sorted,
          exprSqls = exprSqls.distinct.sorted,
          percentileCols = percentileCols.distinct.sorted)
      }
    }

    // dims = union of grouping + filter columns; COUNT(dim)/MIN(dim)
    // reads of those columns serve off the rollup's own dim rows, so
    // a column may be both grouped and aggregated — dims win and the
    // measure set excludes them (registration requires disjoint sets)
    val dims = reports.flatMap(r => r.groupCols ++ r.filterCols)
      .distinct.sorted
    val measures = reports.flatMap(_.measureCols)
      .filterNot(dims.contains).distinct.sorted
    // distinct counts over dims are exact off the rollup; any other
    // distinct key gets an HLL sketch column (served under the
    // approxDistinct opt-in)
    val sketchKeys = reports.flatMap(_.distinctKeys)
      .filterNot(dims.contains).distinct.sorted

    // final servability pass against the ASSEMBLED recommendation:
    // a query whose measure read landed in dims (grouped elsewhere in
    // the workload) only serves COUNT/MIN/MAX forms — flag SUM/AVG/
    // variance over a dim as unservable
    val finalReports = reports.map { r =>
      if (!r.servable) r
      else if (!(r.groupCols ++ r.filterCols).forall(dims.contains))
        r.copy(servable = false, reason = "grouping/filter column " +
          "missing from recommended dims")
      else r.sumLikeCols.find(dims.contains) match {
        case Some(m) => r.copy(servable = false,
          reason = s"column $m is grouped elsewhere in the workload " +
            "(a dim): SUM/AVG/variance over it cannot serve")
        case None => r
      }
    }

    // derived aggregate inputs across the workload, deduped by their
    // SQL text and named in sorted order (deterministic registration)
    val exprMeasures = reports.flatMap(_.exprSqls).distinct.sorted
      .zipWithIndex.map { case (s, i) =>
        SummaryRewrite.ExprMeasure(s"em_${i + 1}", s)
      }

    val factRows = base.count()
    val rollupRows =
      if (dims.isEmpty) 1L
      else base.agg(countDistinct(dims.head, dims.tail: _*)
        .as("d")).collect().head.getLong(0)
    // percentile reads: an INTEGRAL column gets a self-contained HDR
    // log2-bucket sketch (no row id needed, fixed 2^-p relative
    // error); a fractional column gets a bottom-k sample sketch
    // (needs the caller's unique row id at register time)
    val (hdrCols, sampleCols) = reports.flatMap(_.percentileCols)
      .distinct.sorted.partition(c => baseTypes.get(c).exists {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    Recommendation(dims, measures, sketchKeys, factRows, rollupRows,
      if (rollupRows == 0) 0.0 else factRows.toDouble / rollupRows,
      finalReports.count(_.servable), finalReports.size, finalReports,
      exprMeasures,
      sampleCols = sampleCols,
      hdrCols = hdrCols)
  }

  /** The recommendation as a one-row DataFrame (REST/SQL-friendly).
    * `reduction` is quantized to 4 decimals through exact integer
    * division (fact*10000/rollup, then /10000.0) so an independent
    * engine recomputing it from its own counts lands on the same
    * double bit for bit.
    */
  def recommendFrame(spark: SparkSession, basePath: String,
      workload: Seq[DataFrame]): DataFrame = {
    val r = recommend(spark, basePath, workload)
    val red =
      if (r.rollupRows == 0) 0.0
      else (r.factRows * 10000L / r.rollupRows) / 10000.0
    spark.range(1).select(
      lit(r.dims.mkString(",")).as("dims"),
      lit(r.measures.mkString(",")).as("measures"),
      lit(r.exprMeasures.map(_.sql).mkString("; ")).as("expr_measures"),
      lit(r.sketchKeys.mkString(",")).as("sketch_keys"),
      lit(r.sampleCols.mkString(",")).as("sample_cols"),
      lit(r.hdrCols.mkString(",")).as("hdr_cols"),
      lit(r.factRows).as("fact_rows"),
      lit(r.rollupRows).as("rollup_rows"),
      lit(red).as("reduction"),
      lit(r.servable).as("servable"),
      lit(r.total).as("total"))
  }
}
