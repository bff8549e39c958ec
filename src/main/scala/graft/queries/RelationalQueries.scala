package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator coverage (SURVEY §2.2-§2.7): scans, filters,
  * projections, joins (update-by-key, semi, anti, star), aggregations,
  * window top-k, sorts/limits, set ops.
  *
  * Oracle-parity rules used throughout (the driver hash-compares against
  * DuckDB running the same SQL):
  *  - every query ends in a total ORDER BY (unique sort key) so row order
  *    is engine-independent;
  *  - double sums/avgs go through DECIMAL (exact, associative, so
  *    partial-aggregation order cannot change the result) and are cast
  *    back to DOUBLE at the end;
  *  - no double→string casts (engines format differently).
  *
  * Scale notes: all aggregations here are partial-agg friendly (map-side
  * combine), the star join broadcasts the small dims, and every filter/
  * projection is a plain Catalyst expression that pushes into the parquet
  * scan. Nothing materializes on the driver.
  */
object RelationalQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // $"x" column-interpolator, session-independent.
  private implicit class ColName(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }

  /** Exact decimal sum of a double column, returned as DOUBLE. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A-group: pricing summary (partial-agg, 6 groups). SURVEY §2.4.
    "q_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum($"l_extendedprice".cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - $"l_discount".cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // Skew-salted dimension join: result must be IDENTICAL to the
    // plain join (the oracle), salting only reshapes the shuffle — the
    // gate proves the rewrite is semantics-preserving. Sums stay exact
    // (integral doubles) so aggregation order cannot bite.
    "q_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val dim = t(s, dir, "part")
        .select($"p_partkey".as("l_partkey"), $"p_brand")
      graft.operators.ScaleJoins.saltedJoin(li, dim, "l_partkey",
        salts = 8)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n"), sum($"l_quantity").as("qty"))
        .orderBy($"p_brand")
    }),

    // P1: filter pushed to scan. SURVEY §2.2 P1.
    "q_filter_pushdown" -> ((s, dir) =>
      t(s, dir, "orders")
        .where($"o_orderstatus" === "F" && $"o_totalprice" > 50000)
        .select($"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderkey")),

    // P5: uniform (pk::text, col::text) projection. embeddings/mod.rs:86-93.
    "q_projection_cast" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where($"l_linenumber" === 1)
        .select($"l_orderkey".cast("string").as("pk"),
          $"l_partkey".cast("string").as("src"))
        .orderBy($"pk", $"src")),

    // P8: limit pushdown. embeddings/mod.rs:479-483.
    "q_limit_pushdown" -> ((s, dir) =>
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey")
        .orderBy($"o_orderkey")
        .limit(10)),

    // §2.6: global top-k → TakeOrderedAndProject.
    "q_topk_global" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
        .limit(20)),

    // §2.5: per-group top-k via window (the kNN shape, J3).
    "q_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_totalprice",
          row_number().over(w).as("rn"))
        .where($"rn" <= 3)
        .orderBy($"o_custkey", $"rn")
    }),

    // Star join with broadcast dims (region/nation/customer are tiny).
    "q_star_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      orders
        .join(broadcast(customer), $"o_custkey" === $"c_custkey")
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
        .orderBy($"r_name", $"n_name")
    }),

    // J1/S8: update-by-key join (MERGE shape: COPY temp + UPDATE ... FROM).
    "q_update_by_key" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val updates = orders.where($"o_orderstatus" === "O")
        .groupBy($"o_custkey".as("u_custkey"))
        .agg(max($"o_totalprice").as("mx"))
      orders.join(broadcast(updates), $"o_custkey" === $"u_custkey", "left")
        .select($"o_orderkey",
          coalesce($"mx", $"o_totalprice").as("price"))
        .orderBy($"o_orderkey")
    }),

    // P4: id-IN batch filter → left semi join. daemon/types.rs:130-137.
    "q_semi_join" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val big = t(s, dir, "orders").where($"o_totalprice" > 100000)
        .select($"o_custkey")
      customer.join(big, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // P3: missing-rows catch-up filter → anti join. daemon/helpers.rs:375-381.
    "q_anti_missing" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").select($"l_orderkey")
      orders.join(li, $"o_orderkey" === $"l_orderkey", "left_anti")
        .select($"o_orderkey", $"o_custkey")
        .orderBy($"o_orderkey")
    }),

    // §2.7: set ops (recall-intersection analog on keys).
    "q_set_intersect" -> ((s, dir) => {
      val eventUsers = t(s, dir, "events").select($"user_id".as("k")).distinct()
      val custKeys = t(s, dir, "customer")
        .select($"c_custkey".cast("long").as("k")).distinct()
      eventUsers.intersect(custKeys).orderBy($"k")
    }),

    // A7-style stats per group with exact decimal sums.
    "q_event_stats" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          min($"value").cast("double").as("mn"),
          max($"value").cast("double").as("mx"),
          sum($"value".cast("decimal(18,6)")).cast("double").as("sm"))
        .orderBy($"event_type")),

    // A1: count estimation (progress denominators), multi-table.
    "q_counts" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.agg(count(lit(1)).as("n_lineitem"),
        countDistinct($"l_orderkey").as("n_orders"),
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supp"))
    }),

    // A6: ordered collect (json_agg analog) as a sorted array per group,
    // rendered to a string (the gate comparator can't hash array cells;
    // statuses are strings so joining is formatting-safe).
    "q_collect_sorted" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(concat_ws(",", sort_array(collect_list($"o_orderstatus")))
          .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")),

    // Materialized-rollup rewrite (SummaryRewrite): the classic OLAP
    // summary-table optimization. The face registers a date-grain
    // rollup of lineitem (dims: returnflag, linestatus, shipdate;
    // measures: quantity, extendedprice) and then runs the TPC-H-Q1-
    // shaped query against the BASE table — the Catalyst rule replans
    // it onto the rollup (SummaryRewriteSpec pins the scan path), and
    // DuckDB computes the oracle from the raw table, proving the
    // rewrite value-exact end to end. At 100 TB the rollup is bounded
    // by days x flags, not data volume.
    "q_mv_agg" -> ((s, dir) => {
      registerMv(s, dir)
      t(s, dir, "lineitem")
        .where($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity").as("sum_qty"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double")
            .as("sum_price"),
          max($"l_quantity").as("max_qty"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // Derived-dim grouping over the same rollup: GROUP BY
    // month(shipdate) groups the date-grain rollup coarser — exact
    // because every combiner is associative. The everyday BI rollup
    // query, answered without touching the fact table.
    "q_mv_agg_monthly" -> ((s, dir) => {
      registerMv(s, dir)
      t(s, dir, "lineitem")
        .groupBy(date_trunc("month", $"l_shipdate").as("month"))
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity").as("sum_qty"),
          max($"l_extendedprice").as("max_price"))
        .orderBy($"month")
    }),

    // AVG and COUNT(col) served from the rollup (the two most common
    // dashboard aggregates): AVG(m) = SUM(partial sums)/SUM(c_m),
    // COUNT(m) = SUM(c_m), COUNT(dim) = cnt of the non-null-dim
    // groups. l_quantity is integral-valued, so the double partial
    // sums are exact and the division is bit-identical to DuckDB's
    // sum/count on the raw table — a hash match, not an approximation.
    "q_mv_avg" -> ((s, dir) => {
      registerMv(s, dir)
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(avg($"l_quantity").as("avg_qty"),
          count($"l_quantity").as("n_qty"),
          count($"l_linestatus").as("n_status"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    }),

    // Dim-side statistics served EXACTLY from the rollup's own rows:
    // COUNT(DISTINCT shipdate) (active days) and MIN/MAX(shipdate)
    // (coverage window) per flag — the "data freshness" dashboard
    // tile. Exact because every dim combination survives in the
    // rollup; chunks may repeat one, DISTINCT dedups.
    "q_mv_dim_stats" -> ((s, dir) => {
      registerMv(s, dir)
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_shipdate").as("days"),
          min($"l_shipdate").as("first_ship"),
          max($"l_shipdate").as("last_ship"))
        .orderBy($"l_returnflag")
    }),

    // Variance/stddev served from the rollup's sum-of-squares
    // partial (m2 = SUM(ss_m) - SUM(sd_m)^2/n): the dispersion read
    // every monitoring dashboard runs next to AVG. Both engines
    // compute in double; the 4-decimal rounding absorbs the
    // Welford-vs-textbook last-ulp difference.
    "q_mv_var" -> ((s, dir) => {
      registerMv(s, dir)
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(round(var_pop($"l_quantity"), 4).as("vp"),
          round(var_samp($"l_quantity"), 4).as("vs"),
          round(stddev_pop($"l_quantity"), 4).as("sdp"),
          round(stddev_samp($"l_quantity"), 4).as("sds"))
        .orderBy($"l_returnflag")
    }),

    // Distinct orders per returnflag served from the rollup's HLL
    // register sketch: per-chunk registers merge by elementwise max
    // (hll_merge), then the integer-exact estimator — the estimate is
    // IDENTICAL to sketching the raw table (register max is
    // partition-order independent), which is exactly what the DuckDB
    // oracle recomputes from raw lineitem.
    "q_mv_hll" -> ((s, dir) => {
      registerMv(s, dir)
      graft.plans.SummaryRewrite.approxDistinct(s, mvSummaryDir(dir),
          Seq("l_returnflag"), "l_orderkey")
        .orderBy($"l_returnflag")
    }),

    // Same rollup serving a global aggregate under a dim-range filter
    // (the dashboard "period total" shape): no grouping, date window,
    // min/count/sum — all answered from the rollup's date grain.
    "q_mv_agg_filtered" -> ((s, dir) => {
      registerMv(s, dir)
      t(s, dir, "lineitem")
        .where($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-01-01").cast("timestamp"))
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity").as("sum_qty"),
          min($"l_quantity").as("min_qty"),
          max($"l_extendedprice").as("max_price"))
    }),

    // CUBE over the rollup dims, served from the rollup: the Expand
    // (one projection per grouping set, non-member dims nulled, a
    // literal grouping id appended) is rebuilt over the rollup scan —
    // partial columns ride through every projection, so each grouping
    // set re-aggregates each contributing rollup row exactly once.
    // The whole OLAP cube (subtotals + grand total + grouping flags)
    // answered at dim cardinality, never re-reading the fact table;
    // DuckDB recomputes the identical cube from raw lineitem.
    "q_mv_cube" -> ((s, dir) => {
      registerMv(s, dir)
      t(s, dir, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity").as("sum_qty"),
          max($"l_extendedprice").as("max_price"),
          grouping($"l_returnflag").cast("int").as("g_rf"),
          grouping($"l_linestatus").cast("int").as("g_ls"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"),
          $"n", $"sum_qty", $"max_price", $"g_rf", $"g_ls")
        .orderBy($"g_rf", $"g_ls", $"rf", $"ls")
    }),

    // FILTER (WHERE dim-pred) aggregates served from the rollup: a
    // dim predicate selects whole base groups, so the filtered
    // re-aggregation sums exactly the selected groups' partials —
    // the conditional-metrics dashboard row (counts/sums/avgs split
    // by status or period inside one GROUP BY) without a fact scan.
    "q_mv_filter" -> ((s, dir) => {
      registerMv(s, dir)
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(expr("count(*) FILTER (WHERE l_linestatus = 'F')")
            .as("n_f"),
          expr("sum(l_quantity) FILTER " +
            "(WHERE l_shipdate >= timestamp'1996-01-01')")
            .as("qty_recent"),
          expr("avg(l_quantity) FILTER (WHERE l_linestatus = 'O')")
            .as("avg_o"),
          expr("max(l_extendedprice) FILTER " +
            "(WHERE l_shipdate < timestamp'1995-01-01')")
            .as("max_early"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    }),

    // DERIVED (expression) measure served from the rollup — the
    // TPC-H Q1 revenue shape SUM(price * (1 - discount)): the
    // registration stored per-row partials of the expression itself
    // (s_/c_/mn_/mx_revenue), and any aggregate whose input is
    // semantically equal to the registered expression re-plans onto
    // them. Spelled with per-row decimal casts (decimal(32,4)) so the
    // decimal(38,6) partial is lossless and DuckDB reproduces every
    // value bit for bit from the raw table — the dashboard's revenue
    // rollup at 100 TB without a fact scan.
    "q_mv_derived_measure" -> ((s, dir) => {
      registerMv(s, dir)
      val rev = expr(mvRevenueSql)
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(rev).cast("double").as("revenue"),
          min(rev).cast("double").as("min_rev"),
          max(rev).cast("double").as("max_rev"),
          count(rev).as("n_rev"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // Decimal AVG served from the rollup: Average-over-decimal is
    // rebuilt from the partials with Spark's own internal types (sum
    // as DECIMAL(p+10,s) / count as DECIMAL(20,0), one HALF_UP
    // rounding at the result scale), so the serve is value-exact —
    // and restatable: the face scales the scale-6 average to an
    // integer (x1e6, exact decimal multiply) and DuckDB reproduces it
    // with pure BIGINT arithmetic ((2*s*10^4 + n) // (2*n) is
    // half-up division for positives).
    "q_mv_avg_decimal" -> ((s, dir) => {
      registerMv(s, dir)
      val qd = expr("CAST(l_quantity AS DECIMAL(12,2))")
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg((avg(qd) * lit(1000000L)).cast("long").as("avg_qty_e6"),
          count(qd).as("n_qty"))
        .orderBy($"l_returnflag")
    }),

    // Rollup ADVISOR: analyze a fixed 4-query workload over lineitem
    // and emit the registration it recommends — dims from groupings+
    // filters, measures from bare numeric agg inputs, HLL keys from
    // non-dim distinct counts, and EXPRESSION measures from derived
    // aggregate inputs (the 4th query's sum(qty*2) is recommended as
    // ExprMeasure em_1 and counts as servable) — plus the go/no-go
    // economics: rollup rows = dim-combination cardinality vs fact
    // rows. DuckDB restates the recommendation on literals and
    // recomputes both counts and the integer-quantized reduction.
    "q_mv_advisor" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.plans.SummaryAdvisor.recommendFrame(s,
        s"$dir/lineitem.parquet", Seq(
          li.groupBy($"l_returnflag", $"l_linestatus")
            .agg(sum($"l_quantity").as("sq")),
          li.where($"l_shipdate" >=
              lit("1995-01-01").cast("timestamp"))
            .groupBy($"l_returnflag")
            .agg(avg($"l_quantity").as("aq"), count(lit(1)).as("n")),
          li.agg(countDistinct($"l_orderkey").as("d")),
          li.groupBy($"l_returnflag")
            .agg(sum($"l_quantity" * 2).as("bad")),
          // a percentile read over a FRACTIONAL column recommends a
          // bottom-k SAMPLE sketch (sample_cols, served via the
          // explicit sampleQuantiles read) and stays servable
          li.groupBy($"l_returnflag")
            .agg(expr("percentile(l_extendedprice, 0.5)").as("p50")),
          // ... while one over an INTEGRAL column recommends a
          // self-contained HDR log2-bucket sketch (hdr_cols — no row
          // id needed, fixed relative error)
          li.groupBy($"l_returnflag")
            .agg(expr("percentile(l_linenumber, 0.9)").as("p90"))))
    }),

    // Bottom-k uniform row-sample quantiles, direct aggregate: the k
    // rows with the smallest unsigned id hashes carry their values,
    // and the quantile read is the lower order statistic of the
    // sample (SampleAggregate.scala). Deliberately run SATURATED
    // (k=256 << ~20k rows per flag) — membership is a pure function
    // of the row-id hashes, so unlike HLL / histogram estimates the
    // SAMPLED regime itself is deterministic and DuckDB restates the
    // whole pipeline (hash chain, k-smallest cut, order statistic)
    // bit for bit. 256 doubles per group answer "p90 per region"
    // over a 100 TB fact with O(1/sqrt k) error independent of scale.
    "q_sample_quantile" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(expr(s"sample_sketch($mvSampleIdSql, l_extendedprice, " +
          "256)").as("sk"))
        .select($"l_returnflag",
          expr("sample_n(sk)").as("n_sample"),
          expr("sample_quantile(sk, 0.25)").as("p25"),
          expr("sample_quantile(sk, 0.5)").as("p50"),
          expr("sample_quantile(sk, 0.9)").as("p90"))
        .orderBy($"l_returnflag")
    }),

    // The same quantiles served from the ROLLUP's sample column:
    // per-(flag, status, day) bottom-k sketches fold with the
    // k-hash-smallest combiner across dim groups and chunks, and
    // because membership is hash-determined the folded sample is
    // IDENTICAL to sketching the raw table — so this face shares
    // q_sample_quantile's oracle (grouped at the dim subset), proving
    // fold-equals-rescan the way q_mv_hll does for registers. The
    // read costs dim-cardinality × k, never a fact scan.
    "q_mv_sample_quantile" -> ((s, dir) => {
      registerMv(s, dir)
      graft.plans.SummaryRewrite.sampleQuantiles(s, mvSummaryDir(dir),
          Seq("l_returnflag"), "l_extendedprice", Seq(0.25, 0.5, 0.9))
        .orderBy($"l_returnflag")
    }),

    // Opt-in approximate PERCENTILE serving: under
    // graft.mv.approxQuantile=true, percentile_approx(m, q) for a
    // sample-sketched measure re-plans to the rollup sample's lower
    // order statistic — percentile_approx is an estimate by its own
    // contract, the flag makes substituting THIS estimator explicit
    // (the approxDistinct stance), and because bottom-k membership is
    // deterministic the served estimate is hash-oracled bit for bit,
    // scalar and array forms both. Flag frozen into the returned plan.
    "q_mv_approx_quantile" -> ((s, dir) => {
      registerMv(s, dir)
      s.conf.set("graft.mv.approxQuantile", "true")
      try {
        val df = t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(expr("percentile_approx(l_extendedprice, 0.5)")
              .as("p50"),
            expr("percentile_approx(l_extendedprice, " +
              "array(0.25, 0.9))").as("ps"))
          // the array form exercises the CreateArray serve path; the
          // gate hashes scalars, so project its elements out
          .select($"l_returnflag", $"p50",
            expr("ps[0]").as("p25"), expr("ps[1]").as("p90"))
          .orderBy($"l_returnflag")
        org.apache.spark.sql.graftshim.GraftShims.dataFrame(s,
          df.queryExecution.optimizedPlan)
      } finally s.conf.set("graft.mv.approxQuantile", "false")
    }),

    // RETENTION delete lifecycle: data leaves a 100 TB fact as whole
    // expired ingest batches, and because the rollup keeps each
    // batch's PARTIALS under its own chunk partition, retention is
    // one partition drop (SummaryStream.deleteChunk) — an exact
    // subtraction for EVERY measure kind including the
    // non-invertible MIN/MAX (a chunk's partial rows are precisely
    // its contribution to every fold). The face ingests two "days",
    // expires the newer one from base and rollup, and the query —
    // counts, exact decimal sum, min AND max — still serves from the
    // rollup, hash-matched by DuckDB on the retained rows.
    "q_mv_retention" -> ((s, dir) => {
      val root = mvSummaryDir(dir) + "_retention"
      val base = s"${root}_base"; val roll = s"${root}_roll"
      val orders = t(s, dir, "orders")
      val cut = lit("1998-01-01").cast("timestamp")
      val part0 = orders.where($"o_orderdate" < cut)
      val part1 = orders.where($"o_orderdate" >= cut)
      part0.write.mode("overwrite").parquet(base)
      graft.plans.SummaryRewrite.register(s, base, roll,
        Seq("o_orderstatus"), Seq("o_totalprice"), refresh = true,
        declaredScale = Map("o_totalprice" -> 2))
      graft.streaming.SummaryStream.processBatch(part1, 1L, roll,
        Seq("o_orderstatus"), Seq("o_totalprice"))
      part1.write.mode("append").parquet(base)
      // the newer batch expires: drop its partials and its base files
      graft.streaming.SummaryStream.deleteChunk(s, roll, 1L)
      part0.write.mode("overwrite").parquet(base)
      s.catalog.refreshByPath(base)
      s.read.parquet(base).groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count($"o_totalprice").as("n_vals"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double")
            .as("total"),
          min($"o_totalprice").as("lo"),
          max($"o_totalprice").as("hi"))
        .orderBy($"o_orderstatus")
    }),

    // ROW-LEVEL delete lifecycle (GDPR erasure / bad-record
    // takedowns): SummaryStream.retract appends a chunk of NEGATED
    // partials, so COUNT/SUM/AVG net out per dim group with no
    // rollup rewrite — including a group whose rows were ALL deleted
    // ('P' here), which the serve's net-count guard drops exactly as
    // the base GROUP BY does. MIN/MAX and distinct shapes fall back
    // to base until a refresh rebuild (pinned in
    // SummaryRewriteSpec). DuckDB restates the post-delete truth on
    // the raw table; the exact decimal sum must match bit for bit
    // through the sign-folded partials.
    "q_mv_retract" -> ((s, dir) => {
      val root = mvSummaryDir(dir) + "_retract"
      val base = s"${root}_base"; val roll = s"${root}_roll"
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").parquet(base)
      graft.plans.SummaryRewrite.register(s, base, roll,
        Seq("o_orderstatus"), Seq("o_totalprice"), refresh = true,
        declaredScale = Map("o_totalprice" -> 2))
      val doomed = $"o_orderstatus" === "P" || $"o_orderkey" % 7 === 0
      graft.streaming.SummaryStream.retract(s, base, roll,
        orders.where(doomed), Seq("o_orderstatus"),
        Seq("o_totalprice"), chunk = -2L)
      orders.where(!doomed).write.mode("overwrite").parquet(base)
      s.catalog.refreshByPath(base)
      s.read.parquet(base).groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count($"o_totalprice").as("n_vals"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double")
            .as("total"))
        .orderBy($"o_orderstatus")
    }),

    // Opt-in approximate COUNT(DISTINCT): under
    // graft.mv.approxDistinct=true, COUNT(DISTINCT l_orderkey) — a
    // key the rollup carries an HLL sketch of — re-plans to the
    // register estimate (register max is order-independent, so the
    // served estimate equals sketching the raw table; DuckDB restates
    // the full HLL pipeline and must match bit for bit). The flag is
    // frozen into the returned plan so it cannot leak into the exact
    // faces that follow.
    "q_mv_approx_distinct" -> ((s, dir) => {
      registerMv(s, dir)
      s.conf.set("graft.mv.approxDistinct", "true")
      try {
        val df = t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(countDistinct($"l_orderkey").as("est_distinct"))
          .orderBy($"l_returnflag")
        org.apache.spark.sql.graftshim.GraftShims.dataFrame(s,
          df.queryExecution.optimizedPlan)
      } finally s.conf.set("graft.mv.approxDistinct", "false")
    }),

    // Star-schema serving: fact JOIN dim-table GROUP BY dim attribute,
    // re-planned onto the rollup joined to the same dim table — the
    // BI-layer read at 100 TB (rollup is dim-cardinality-sized, the
    // dim join broadcasts). Exact because the join multiplies each
    // dim group's partials uniformly, and every served aggregate is a
    // function of sum(multiplicity x partial); DuckDB recomputes the
    // star join from raw lineitem with the dim table as a VALUES CTE.
    "q_mv_star" -> ((s, dir) => {
      registerMv(s, dir)
      val dimT = s.createDataFrame(Seq(
        ("A", "returned"), ("N", "in_flight"), ("R", "refused")))
        .toDF("rf", "rf_name")
      t(s, dir, "lineitem")
        .join(dimT, $"l_returnflag" === $"rf")
        .groupBy($"rf_name")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity").as("sum_qty"),
          avg($"l_quantity").as("avg_qty"),
          max($"l_extendedprice").as("max_price"),
          countDistinct($"l_shipdate").as("days"))
        .orderBy($"rf_name")
    }),

    // Outer-join star serving with the fact on the NON-preserved
    // side — `dim LEFT JOIN fact`, the lookup-table spelling BI
    // layers emit constantly: the unmatched dim row ('X') surfaces
    // null-extended, and the rewrite serves it exactly by counting
    // each null-extended row as one base row (COUNT(*) →
    // SUM(coalesce(cnt, 1))) while every other aggregate skips its
    // null partials just as the base plan skips its null fact
    // columns. DuckDB recomputes the outer join from raw lineitem.
    "q_mv_star_louter" -> ((s, dir) => {
      registerMv(s, dir)
      val dimT = s.createDataFrame(Seq(
        ("A", "returned"), ("N", "in_flight"), ("R", "refused"),
        ("X", "never_seen")))
        .toDF("rf", "rf_name")
      dimT.join(t(s, dir, "lineitem"), $"rf" === $"l_returnflag",
          "left")
        .groupBy($"rf_name")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity").as("sum_qty"),
          avg($"l_quantity").as("avg_qty"),
          count($"l_quantity").as("n_qty"),
          max($"l_extendedprice").as("max_price"),
          countDistinct($"l_shipdate").as("days"))
        .orderBy($"rf_name")
    }),

    // HyperLogLog registers over lineitem order keys (p=8, 256
    // registers): the mergeable distinct sketch as a real Catalyst
    // partial aggregate — each task ships 256 bytes, never its key
    // stream. Fully hash-oracled: DuckDB restates the xorshift-
    // multiply hash in the u64 HUGEINT domain and must reproduce every
    // register byte.
    "q_hll_registers" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .agg(expr("hll_sketch(l_orderkey, 8)").as("regs"))
        .select(posexplode($"regs").as(Seq("bucket", "reg")))
        .orderBy($"bucket")),

    // Per-group HLL distinct estimate next to the exact count — the
    // GROUP-BY-able COUNT(DISTINCT) replacement at 100 TB (exact
    // distinct shuffles every key; the sketch shuffles 256 bytes per
    // group per partition). The estimator is evaluated in exact
    // integer arithmetic, so DuckDB reproduces it bit-for-bit; the
    // exact column doubles as an in-row accuracy witness (est within
    // a few % of exact at these cardinalities).
    "q_hll_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(expr("hll_estimate(hll_sketch(l_orderkey, 8))")
            .as("est_distinct"),
          countDistinct($"l_orderkey").as("exact_distinct"))
        .orderBy($"l_returnflag")),

    // Fixed-bin histogram quantiles — the mergeable approximate-
    // percentile sketch (the quantile sibling of the HLL story): bin
    // counts ship instead of value streams, fold by elementwise sum.
    // Bin index and interpolation are deterministic double arithmetic
    // restated token-for-token by the DuckDB oracle — the
    // approximation itself is hash-checked, not just sanity-checked.
    "q_hist_quantiles" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          expr("hist_quantile(hist_sketch(l_quantity, 1, 51, 50), " +
            "0.5, 1, 51)").as("p50"),
          expr("hist_quantile(hist_sketch(l_quantity, 1, 51, 50), " +
            "0.9, 1, 51)").as("p90"))
        .orderBy($"l_returnflag")),

    // The same quantiles served from the ROLLUP's persisted per-group
    // count arrays (hist_ measures fold across chunks by elementwise
    // sum — exactly the serve-side combiner contract), proving
    // percentiles are answerable at the rollup grain without touching
    // the fact table. Shares q_hist_quantiles' raw-table oracle: the
    // fold must reproduce the direct sketch bit for bit.
    "q_mv_hist" -> ((s, dir) => {
      registerMv(s, dir)
      graft.plans.SummaryRewrite.approxQuantile(s, mvSummaryDir(dir),
          Seq("l_returnflag"), "l_quantity", Seq(0.5, 0.9), 1.0, 51.0)
        .orderBy($"l_returnflag")
    }),

    // Frequent items served from the rollup: Misra–Gries summaries as
    // rollup measures (the third classic sketch, after HLL and the
    // histogram) — per-chunk summaries fold with the PODS-2012
    // mergeable cut, capacity rides in the column name so the fold is
    // registry-free. Capacity 64 >> the 5-value priority vocab makes
    // the summary exact counts, so DuckDB restates it as a plain
    // count + rank on the RAW table.
    "q_mv_topitems" -> ((s, dir) => {
      registerMvOrders(s, dir)
      graft.plans.SummaryRewrite.approxTopItems(s,
          mvSummaryDir(dir) + "_orders", Seq("o_orderstatus"),
          "o_orderpriority", 3)
        .orderBy($"o_orderstatus", $"rank")
    }),

    // Day-over-day returning users from KMV sketches alone: one
    // bounded sketch per day (k smallest user-id hashes), consecutive
    // days joined and intersected WITHOUT revisiting the event rows —
    // the set-operation read HLL registers cannot answer. k=2048
    // exceeds every per-day distinct count at the gate SF, so the
    // sketch is the exact hash set and DuckDB restates the whole
    // answer as exact distinct joins on the raw table; at larger SFs
    // the same plan degrades gracefully into the Beyer et al.
    // estimator (spec-bounded error), shipping k longs per day either
    // way.
    "q_kmv_overlap" -> ((s, dir) => {
      val sk = t(s, dir, "events")
        .select(to_date($"ts").as("day"), $"user_id")
        .groupBy($"day")
        .agg(expr("kmv_sketch(user_id, 2048)").as("sk"))
      val a = sk.select($"day".as("day_a"), $"sk".as("sk_a"))
      val b = sk.select($"day".as("day_b"), $"sk".as("sk_b"))
      a.join(b, $"day_b" === date_add($"day_a", 1))
        .select($"day_a", $"day_b",
          expr("kmv_estimate(sk_a, 2048)").as("users_a"),
          expr("kmv_estimate(sk_b, 2048)").as("users_b"),
          expr("kmv_intersect(sk_a, sk_b, 2048)").as("returning"))
        .orderBy($"day_a")
    }),

    // Distinct-customer overlap between order statuses served from
    // the rollup's KMV column: per-chunk sketches fold with the
    // k-smallest combiner (k parsed from the column's own name, the
    // same registry-free stance as the Misra–Gries capacity), then
    // every status pair reads its two distinct estimates, the
    // intersection, and the Jaccard from the sketches alone — the
    // fact table is never touched (cost is quadratic in STATUS count,
    // not data volume). Exact at the gate SF (k=2048 > every
    // per-status distinct count), restated by DuckDB as exact
    // distinct-intersection SQL on raw orders.
    "q_mv_overlap" -> ((s, dir) => {
      registerMvOrders(s, dir)
      graft.plans.SummaryRewrite.approxOverlap(s,
          mvSummaryDir(dir) + "_orders", Seq("o_orderstatus"),
          "o_custkey")
        .withColumn("jaccard", round($"jaccard", 4))
        .orderBy($"o_orderstatus_a", $"o_orderstatus_b")
    }),

    // X4-analog: deterministic sampling via key modulo (portable vs RANDOM()).
    "q_sample_mod" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where($"l_orderkey" % 37 === 0)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity")),

    // Gap-based sessionization (flatMapGroupsWithState operator run in
    // batch mode); totals omitted so output is float-order independent.
    "q_sessionize" -> ((s, dir) => {
      val events = t(s, dir, "events")
        .select($"user_id", $"ts", $"event_type", $"value")
        .as(org.apache.spark.sql.Encoders.product[
          graft.streaming.EventStreams.Event])
      graft.streaming.EventStreams.sessionize(events, gapMs = 3600 * 1000)
        .toDF()
        .select($"user_id", $"session_start", $"session_end", $"n_events")
        .orderBy($"user_id", $"session_start")
    }),

    // Event-type transition matrix (the Markov view of user
    // sequences): count (from → to) over each user's time-ordered
    // events. The window partitions by user — per-user histories are
    // bounded, so no partition outgrows a task at any corpus size —
    // and (ts, event_id) makes the order total under timestamp ties.
    "q_event_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, dir, "events")
        .select($"user_id", $"event_type".as("from_type"),
          lead($"event_type", 1).over(w).as("to_type"))
        .where($"to_type".isNotNull)
        .groupBy($"from_type", $"to_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"from_type", $"to_type")
    }),

    // Funnel / conversion sequence (view → click → purchase within 1 h
    // per step): earliest-chaining makes it deterministic; one
    // user-keyed filtered min-agg per step, no windows.
    "q_funnel" -> ((s, dir) =>
      graft.streaming.EventStreams.funnel(t(s, dir, "events"),
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), withinMs = 3600 * 1000L)
        .orderBy($"user_id")),

    // D4-analog batch view: arrival-hour micro-batch aggregation.
    "q_hourly_batches" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", $"ts").as("batch_hour"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,6)")).cast("double").as("sm"))
        .orderBy($"batch_hour", $"event_type")),

    // Log2-bucket ("HDR") quantile sketch — RELATIVE-error quantiles
    // with no declared range (the long-tail complement of
    // q_hist_quantiles): the bucket map is pure integer bit
    // arithmetic, so the sketch CONTENT hash-matches the DuckDB
    // restatement bucket for bucket. value grids to cents first
    // (floor(value*100)) — the sketch's integer-exact contract.
    "q_hdr_buckets" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy($"event_type")
        .agg(expr("hdr_sketch(CAST(floor(value * 100) AS BIGINT), 5)")
          .as("sk"))
        .select($"event_type", posexplode($"sk"))
        .toDF("event_type", "bucket", "cnt")
        .where($"cnt" > 0)
        .orderBy($"event_type", $"bucket")),

    // The quantile read off the same sketch: rank target by integer
    // ceil-division, answer = holding bucket's LOWER bound — every
    // step integer arithmetic, so p50/p95/p99 hash-match exactly
    // (within 2^-5 ≈ 3% of the true quantile by construction).
    "q_hdr_quantile" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy($"event_type")
        .agg(
          expr("hdr_quantile(hdr_sketch(CAST(floor(value * 100) AS " +
            "BIGINT), 5), 50, 100, 5)").as("p50"),
          expr("hdr_quantile(hdr_sketch(CAST(floor(value * 100) AS " +
            "BIGINT), 5), 95, 100, 5)").as("p95"),
          expr("hdr_quantile(hdr_sketch(CAST(floor(value * 100) AS " +
            "BIGINT), 5), 99, 100, 5)").as("p99"))
        .orderBy($"event_type")),

    // The same quantiles served from the ROLLUP's persisted per-group
    // HDR arrays (hdr<p>_ measures fold across chunks by elementwise
    // sum): long-tail latency percentiles answerable at the rollup
    // grain without touching the fact table. Shares q_hdr_quantile's
    // raw-table oracle: the fold must reproduce the direct sketch bit
    // for bit.
    "q_mv_hdr" -> ((s, dir) => {
      registerMvEvents(s, dir)
      graft.plans.SummaryRewrite.hdrQuantiles(s,
          mvSummaryDir(dir) + "_events", Seq("event_type"), "value_c",
          Seq((50L, 100L), (95L, 100L), (99L, 100L)))
        .orderBy($"event_type")
    }),

    // The RULE path for HDR: percentile_approx over the registered
    // grid spelling re-plans onto the rollup's HDR arrays under the
    // graft.mv.approxQuantile opt-in (semantic expression match, like
    // derived measures — a different grid spelling stays on base).
    // The oracle is the HDR restatement, so a silently-unfired rule
    // (exact percentile_approx values, not bucket lower bounds) FAILS
    // the hash — the fired path is what's checked.
    "q_mv_hdr_rewrite" -> ((s, dir) => {
      registerMvEvents(s, dir)
      s.conf.set("graft.mv.approxQuantile", "true")
      try {
        val df = t(s, dir, "events")
          .groupBy($"event_type")
          .agg(
            expr("percentile_approx(CAST(floor(value * 100) AS " +
              "BIGINT), 0.5)").as("p50"),
            expr("percentile_approx(CAST(floor(value * 100) AS " +
              "BIGINT), array(0.95, 0.99))").as("ps"))
          .select($"event_type", $"p50",
            expr("ps[0]").as("p95"), expr("ps[1]").as("p99"))
          .orderBy($"event_type")
        org.apache.spark.sql.graftshim.GraftShims.dataFrame(s,
          df.queryExecution.optimizedPlan)
      } finally s.conf.set("graft.mv.approxQuantile", "false")
    }),

    // Count-min point-frequency sketch (Cormode–Muthukrishnan): the
    // per-key read the Misra–Gries top-k summary cannot answer.
    // Affine hashes mod 2^31-1 with fixed published constants keep
    // every register exact BIGINT arithmetic, so estimates hash-match
    // the DuckDB restatement; the exact count rides alongside as an
    // in-row witness of the one-sided bound (est >= exact, typically
    // equal at this width). The distinct-key probe side stays a
    // DataFrame — nothing collects.
    "q_cms_freq" -> ((s, dir) => {
      val ev = t(s, dir, "events").where($"user_id".isNotNull)
      val sk = ev.agg(expr("cms_sketch(user_id, 4, 512)").as("__cms"))
      ev.groupBy($"user_id").agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(sk))
        .select($"user_id",
          expr("cms_estimate(__cms, user_id, 4, 512)").as("est"),
          $"exact_cnt")
        .orderBy($"user_id")
    }),

    // The same estimates served from the ROLLUP's persisted per-group
    // CMS registers (cms<d>x<w>_ measures fold across dims and chunks
    // by elementwise sum): any key's frequency over the whole fact,
    // read from a dim-cardinality table. The fold across event_type
    // groups must equal the direct global sketch — pinned by sharing
    // the register pipeline with q_cms_freq's oracle.
    "q_mv_cms" -> ((s, dir) => {
      registerMvEvents(s, dir)
      val keys = t(s, dir, "events").select($"user_id")
        .where($"user_id".isNotNull).distinct()
      graft.plans.SummaryRewrite.approxFreq(s,
          mvSummaryDir(dir) + "_events", Seq(), "user_id", keys)
        .orderBy($"user_id")
    })
  )


  /** Shared per-JVM rollup dir for the MV faces: one build serves all
    * faces and repeated bench reps (register is idempotent once the
    * _SUCCESS marker exists). `l_extendedprice` carries a DECLARED
    * scale of 2 (the money-in-a-double data contract) so the
    * `SUM(CAST(price AS DECIMAL(18,2)))` spelling stays exactly
    * rewritable under the r10 type guards; the rollup also carries a
    * p=8 HLL register sketch of `l_orderkey`, so distinct-order
    * counts are servable at the rollup grain (q_mv_hll).
    */
  private[graft] def mvSummaryDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_mv_" +
      s"${java.lang.ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
  /** Second rollup (orders): carries a Misra–Gries items sketch of
    * o_orderpriority at capacity 64 — far above the 5-value vocab, so
    * the mergeable summary holds EXACT counts at any partitioning /
    * chunking and the serve is hash-oracle-able (the q_sketch_topk
    * stance, composed into the MV).
    */
  private def registerMvOrders(s: SparkSession, dir: String): Unit =
    graft.plans.SummaryRewrite.register(s, s"$dir/orders.parquet",
      mvSummaryDir(dir) + "_orders",
      Seq("o_orderstatus", "o_orderdate"),
      Seq("o_totalprice"),
      sketches = Seq(
        graft.plans.SummaryRewrite.ItemsSpec("o_orderpriority", 64),
        graft.plans.SummaryRewrite.KmvSpec("o_custkey", 2048)))

  /** Third rollup (events): carries the round's two new sketch
    * measures — an HDR log2-bucket quantile sketch of the cents grid
    * floor(value*100) at p=5 (relative-error latency-style
    * percentiles, q_mv_hdr) and a 4×512 count-min register sketch of
    * user_id (point frequencies, q_mv_cms). Both fold by elementwise
    * sum, so serve-side reads are deterministic at any chunking and
    * hash-oracle-able against the raw table.
    */
  private def registerMvEvents(s: SparkSession, dir: String): Unit =
    graft.plans.SummaryRewrite.register(s, s"$dir/events.parquet",
      mvSummaryDir(dir) + "_events",
      Seq("event_type"),
      Seq("value"),
      sketches = Seq(
        graft.plans.SummaryRewrite.HdrSpec("value_c",
          "CAST(floor(value * 100) AS BIGINT)", 5),
        graft.plans.SummaryRewrite.CmsSpec("user_id", 4, 512)))

  /** The registered DERIVED measure: TPC-H Q1's revenue, spelled with
    * per-row decimal casts so every partial (and therefore the serve)
    * is integer-exact — `CAST(price AS DEC(18,2)) * (1 - CAST(disc AS
    * DEC(12,2)))` has decimal(32,4) type, scale <= 6, so the rollup's
    * DECIMAL(38,6) partial sum is lossless and the DuckDB oracle
    * reproduces it bit for bit from the raw table. (The bare
    * double-arithmetic spelling would serve only up to float-sum
    * reorder, which a hash oracle can't accept.)
    */
  private[graft] val mvRevenueSql: String =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(12,2)))"

  private def registerMv(s: SparkSession, dir: String): Unit =
    graft.plans.SummaryRewrite.register(s, s"$dir/lineitem.parquet",
      mvSummaryDir(dir),
      Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      Seq("l_quantity", "l_extendedprice"),
      declaredScale = Map("l_extendedprice" -> 2),
      sketches = Seq(
        graft.plans.SummaryRewrite.SketchSpec("l_orderkey", 8),
        graft.plans.SummaryRewrite.HistSpec("l_quantity", 1.0, 51.0, 50),
        graft.plans.SummaryRewrite.SampleQSpec(mvSampleIdSql,
          "l_extendedprice", 256)),
      exprs = Seq(
        graft.plans.SummaryRewrite.ExprMeasure("revenue",
          mvRevenueSql),
        graft.plans.SummaryRewrite.ExprMeasure("qty_dec",
          "CAST(l_quantity AS DECIMAL(12,2))"),
        // q_pricing_summary's OWN revenue spelling (both discount
        // operands at DECIMAL(18,2)): registering it means the
        // headline TPC-H Q1 face itself re-plans onto the rollup
        // once this registration is live — the dashboard query the
        // whole MV family exists for (pinned in SummaryRewriteSpec)
        graft.plans.SummaryRewrite.ExprMeasure("disc_price",
          "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(CAST(1 AS DECIMAL(18,2)) - " +
            "CAST(l_discount AS DECIMAL(18,2)))")))

  /** Unique row id for the lineitem sample sketch: l_linenumber is
    * 1..7 in TPC-H, so orderkey*8+linenumber is injective — the same
    * composite-key trick the DuckDB restatement repeats verbatim.
    */
  private[graft] val mvSampleIdSql: String =
    "l_orderkey * 8 + l_linenumber"

  /** DuckDB restatement of the bottom-k sample-quantile pipeline
    * (SampleAggregate.scala) at k=256 over lineitem per returnflag:
    * the same Hll.hash64 HUGEINT chain as [[hllPipelineSql]] carrying
    * the VALUE alongside, min-value combine per hash (the sketch's
    * deterministic collision rule), the k-smallest cut by unsigned
    * hash, then the lower order statistic floor(q*(m-1)) per
    * requested q — every step the Scala takes, so BOTH regimes (this
    * face is deliberately saturated) hash-match bit for bit. Shared
    * verbatim by the direct face and the rollup-served one: the fold
    * across dim groups and chunks must equal sketching the raw table.
    */
  private def samplePipelineOracle(selects: String): String =
    s"""WITH ids AS (
      |  SELECT l_returnflag AS g,
      |    l_orderkey * 8 + l_linenumber AS id, l_extendedprice AS val
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |u0 AS (SELECT g, ((CAST(id AS HUGEINT) % 18446744073709551616
      |    + 18446744073709551616) % 18446744073709551616) AS v, val
      |  FROM ids),
      |s1 AS (SELECT g, xor(v, v // 4096) AS v, val FROM u0),
      |m1 AS (SELECT g, (v * 2685821657736338717)
      |    % 18446744073709551616 AS v, val FROM s1),
      |s2 AS (SELECT g, xor(v, v // 33554432) AS v, val FROM m1),
      |m2 AS (SELECT g, (v * 2685821657736338717)
      |    % 18446744073709551616 AS v, val FROM s2),
      |hh AS (SELECT g, xor(v, v // 134217728) AS h, val FROM m2),
      |d AS (SELECT g, h, min(val) AS val FROM hh GROUP BY g, h),
      |r AS (SELECT g, val,
      |    row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM d),
      |smp AS (SELECT g, val FROM r WHERE rn <= 256),
      |c AS (SELECT g, CAST(count(*) AS INT) AS m FROM smp GROUP BY g),
      |vv AS (SELECT smp.g, smp.val, c.m,
      |    row_number() OVER (PARTITION BY smp.g ORDER BY smp.val)
      |      AS vr
      |  FROM smp JOIN c ON c.g = smp.g)
      |SELECT g AS l_returnflag, $selects
      |FROM vv GROUP BY g ORDER BY l_returnflag""".stripMargin

  /** One quantile's order-statistic read over the `vv` CTE. */
  private def sampleQExpr(q: String): String =
    s"""max(CASE WHEN vr = CAST(floor($q * (m - 1)) AS BIGINT) + 1
       |    THEN val END)""".stripMargin
  private def sampleQSel(q: String, as: String): String =
    s"${sampleQExpr(q)} AS $as"

  private val sampleQuantileOracle: String = samplePipelineOracle(
    Seq("max(m) AS n_sample", sampleQSel("0.25", "p25"),
      sampleQSel("0.5", "p50"), sampleQSel("0.9", "p90"))
      .mkString(",\n  "))

  /** DuckDB restatement of Hll.hash64/bucket/rho (HllAggregate.scala)
    * at p=8, carried out entirely in the non-negative u64 slice of
    * HUGEINT: wrapping multiply = `% 2^64`, logical right shift =
    * integer division by 2^k, and xor of two u64 values is plain
    * bitwise xor (both operands non-negative, so no sign games). The
    * rho rank uses length(bin(rem)) = floor(log2 rem)+1 exactly;
    * rem < 2^56 so it fits BIGINT. `groupCol` optionally carries a
    * group key through every stage.
    */
  private def hllPipelineSql(keyExpr: String, table: String,
      groupCol: Option[String]): String = {
    val gSel = groupCol.fold("")(c => s"$c AS g, ")
    val g = groupCol.fold("")(_ => "g, ")
    s"""u0 AS (
       |  SELECT DISTINCT $gSel((CAST($keyExpr AS HUGEINT) % 18446744073709551616
       |      + 18446744073709551616) % 18446744073709551616) AS u
       |  FROM $table),
       |s1 AS (SELECT ${g}xor(u, u // 4096) AS v FROM u0),
       |m1 AS (SELECT ${g}(v * 2685821657736338717) % 18446744073709551616 AS v FROM s1),
       |s2 AS (SELECT ${g}xor(v, v // 33554432) AS v FROM m1),
       |m2 AS (SELECT ${g}(v * 2685821657736338717) % 18446744073709551616 AS v FROM s2),
       |h AS (SELECT ${g}xor(v, v // 134217728) AS h FROM m2),
       |br AS (
       |  SELECT ${g}CAST(h // 72057594037927936 AS INT) AS bucket,
       |         CAST(h % 72057594037927936 AS BIGINT) AS rem FROM h),
       |rr AS (SELECT ${g}bucket,
       |    56 - (CASE WHEN rem = 0 THEN 0 ELSE length(bin(rem)) END) + 1 AS rho
       |  FROM br)""".stripMargin
  }

  private val hllRegistersOracle: String =
    s"""WITH ${hllPipelineSql("l_orderkey", "lineitem", None)},
       |regs AS (
       |  SELECT r.b AS bucket, CAST(coalesce(max(rr.rho), 0) AS INT) AS reg
       |  FROM (SELECT unnest(range(0, 256)) AS b) r
       |  LEFT JOIN rr ON rr.bucket = r.b GROUP BY r.b)
       |SELECT CAST(bucket AS INT) AS bucket, reg FROM regs
       |ORDER BY bucket""".stripMargin

  // Integer-exact raw HLL estimator (Hll.rawEstimate): with Rmax = 57,
  // S = sum_j 2^(57 - M_j) where absent buckets contribute 2^57 each,
  // and E = floor(7213 * 256^3 * 2^57 / ((10000*256 + 10790) * S)).
  // The small-range correction cannot fire at these cardinalities
  // (raw >> 2.5m = 640), so the raw restatement is the whole story.
  /** Shared per-returnflag register-sum CTEs (p=8): grouped register
    * max, then S = Σ 2^(57-reg) with absent buckets at 2^57.
    */
  private val hllGroupSumCtes: String =
    s"""${hllPipelineSql("l_orderkey", "lineitem",
           Some("l_returnflag"))},
       |gregs AS (SELECT g, bucket, max(rho) AS reg FROM rr GROUP BY g, bucket),
       |s AS (
       |  SELECT g,
       |    sum(CAST(144115188075855872 // (1::BIGINT << reg) AS HUGEINT))
       |      + (256 - count(*)) * CAST(144115188075855872 AS HUGEINT) AS s
       |  FROM gregs GROUP BY g)""".stripMargin

  private val hllEstimateExpr: String =
    """CAST((7213::HUGEINT * 16777216 * 144115188075855872)
      |    // ((10000*256 + 10790)::HUGEINT * s.s) AS BIGINT)""".stripMargin

  private val hllDistinctOracle: String =
    s"""WITH $hllGroupSumCtes,
       |ex AS (SELECT l_returnflag AS g, count(DISTINCT l_orderkey) AS exact_distinct
       |       FROM lineitem GROUP BY l_returnflag)
       |SELECT ex.g AS l_returnflag,
       |  $hllEstimateExpr AS est_distinct,
       |  ex.exact_distinct
       |FROM s JOIN ex ON s.g = ex.g ORDER BY l_returnflag""".stripMargin

  // q_mv_hll serves the SAME estimate from the rollup's persisted
  // per-(flag, status, day) registers; register max is partition- and
  // chunk-order independent, so the rollup-served value must equal
  // this raw-table recomputation bit for bit.
  private val mvHllOracle: String =
    s"""WITH $hllGroupSumCtes
       |SELECT s.g AS l_returnflag,
       |  $hllEstimateExpr AS est_distinct
       |FROM s ORDER BY l_returnflag""".stripMargin

  /** DuckDB restatement of Hist.bin + Hist.quantile
    * (HistAggregate.scala) at lo=1, hi=51, nbins=50 over l_quantity,
    * per returnflag: the bin index `floor(((x - lo) * nbins) /
    * (hi - lo))` clamped, the rank walk `first bin with cum + c >=
    * q * total`, and the interpolation `lo + ((bin + frac) *
    * (hi - lo)) / nbins` — every double op in the same order as the
    * Scala, so the values match bit for bit. Shared by
    * q_hist_quantiles (direct sketch) and q_mv_hist (rollup-served
    * fold): the chunk fold must reproduce the direct counts exactly.
    */
  private val histQuantilesOracle: String =
    """WITH b AS (
      |  SELECT l_returnflag AS g,
      |    CAST(LEAST(GREATEST(floor(((l_quantity - 1.0) * 50) / 50.0),
      |      0.0), 49.0) AS INT) AS bin,
      |    count(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |t AS (SELECT g, sum(c) AS total FROM b GROUP BY g),
      |cum AS (SELECT b.g, bin, c, t.total,
      |    coalesce(sum(c) OVER (PARTITION BY b.g ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      |  FROM b JOIN t ON t.g = b.g),
      |p50 AS (SELECT g,
      |    1.0 + ((bin + (0.5 * total - cumb) / c) * 50.0) / 50 AS v
      |  FROM cum WHERE cumb + c >= 0.5 * total
      |  QUALIFY row_number() OVER (PARTITION BY g ORDER BY bin) = 1),
      |p90 AS (SELECT g,
      |    1.0 + ((bin + (0.9 * total - cumb) / c) * 50.0) / 50 AS v
      |  FROM cum WHERE cumb + c >= 0.9 * total
      |  QUALIFY row_number() OVER (PARTITION BY g ORDER BY bin) = 1)
      |SELECT p50.g AS l_returnflag, p50.v AS p50, p90.v AS p90
      |FROM p50 JOIN p90 ON p90.g = p50.g
      |ORDER BY l_returnflag""".stripMargin

  /** DuckDB restatement of the HDR log2-bucket map (Hdr.bucket,
    * HdrAggregate.scala) at p=5 over floor(value*100) per event_type:
    * the highest set bit e is recovered from floor(log2 v) with a ±1
    * integer correction against exact shifts — libm rounding cannot
    * move a bucket boundary — then sub-buckets by pure integer
    * shift/mask, token for token the Scala's arithmetic. Values below
    * 2^5 are their own bucket (exact region); v <= 0 clamps to
    * bucket 0. Prefix shared by all three HDR faces.
    */
  private val hdrBucketsCte: String =
    """WITH v AS (
      |  SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL),
      |pe AS (SELECT g, v, CAST(floor(log2(v)) AS INT) AS cand
      |  FROM v WHERE v > 0),
      |ee AS (SELECT g, v,
      |    CASE WHEN (CAST(1 AS BIGINT) << (cand + 1)) <= v THEN cand + 1
      |         WHEN (CAST(1 AS BIGINT) << cand) > v THEN cand - 1
      |         ELSE cand END AS e
      |  FROM pe),
      |bk AS (
      |  SELECT g, CASE WHEN v < 32 THEN CAST(v AS INT)
      |                 ELSE CAST((e - 4) * 32 + ((v >> (e - 5)) - 32)
      |                   AS INT) END AS bucket
      |  FROM ee
      |  UNION ALL
      |  SELECT g, 0 AS bucket FROM v WHERE v <= 0),
      |b AS (SELECT g, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2)
      |""".stripMargin

  /** DuckDB restatement of the HDR quantile read (Hdr.quantile): rank
    * target by integer ceil-division, first bucket whose INCLUSIVE
    * cumulative count reaches it, decoded to the bucket's lower bound
    * with exact shifts. Shared by q_hdr_quantile (direct sketch) and
    * q_mv_hdr (rollup-served fold): the chunk/dim fold must reproduce
    * the direct counts exactly.
    */
  private val hdrQuantileOracle: String = {
    def pq(name: String, qn: Int): String =
      s"""$name AS (SELECT g,
         |    CASE WHEN bucket < 32 THEN CAST(bucket AS BIGINT)
         |         ELSE (CAST(1 AS BIGINT) << ((bucket // 32) + 4))
         |            + (CAST(bucket % 32 AS BIGINT)
         |               << ((bucket // 32) - 1)) END AS val
         |  FROM cum WHERE cum >= (total * $qn + 99) // 100
         |  QUALIFY row_number() OVER (PARTITION BY g ORDER BY bucket)
         |    = 1)""".stripMargin
    hdrBucketsCte +
      s""",t AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS total
         |  FROM b GROUP BY g),
         |cum AS (SELECT b.g, b.bucket, t.total,
         |    CAST(sum(b.cnt) OVER (PARTITION BY b.g ORDER BY b.bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM b JOIN t ON t.g = b.g),
         |${pq("p50", 50)},
         |${pq("p95", 95)},
         |${pq("p99", 99)}
         |SELECT p50.g AS event_type, p50.val AS p50, p95.val AS p95,
         |  p99.val AS p99
         |FROM p50 JOIN p95 ON p95.g = p50.g JOIN p99 ON p99.g = p50.g
         |ORDER BY event_type""".stripMargin
  }

  /** DuckDB restatement of the count-min register pipeline
    * (CmsAggregate.scala) at d=4, w=512 over user_id: per-key exact
    * counts, the four affine slot maps with the published constants
    * (every operand below 2^62 — exact BIGINT), register sums, then
    * the min-over-rows estimate per key. Register arithmetic shared
    * by q_cms_freq (direct global sketch, with the exact count as an
    * in-row witness) and q_mv_cms (rollup fold across event_type
    * groups and chunks — must equal the direct sketch).
    */
  private def cmsEstCte: String =
    """WITH c AS (SELECT user_id AS k, count(*) AS exact_cnt
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      |h AS (SELECT * FROM (VALUES
      |  (0, CAST(1103515245 AS BIGINT), CAST(12345 AS BIGINT)),
      |  (1, CAST(1679979167 AS BIGINT), CAST(1013904223 AS BIGINT)),
      |  (2, CAST(1534285569 AS BIGINT), CAST(998244353 AS BIGINT)),
      |  (3, CAST(987654321 AS BIGINT), CAST(543219876 AS BIGINT)))
      |  t(r, a, b)),
      |s AS (SELECT c.k, h.r,
      |    ((h.a * ((c.k % 2147483647 + 2147483647) % 2147483647) + h.b)
      |      % 2147483647) % 512 AS slot,
      |    c.exact_cnt
      |  FROM c CROSS JOIN h),
      |reg AS (SELECT r, slot, CAST(sum(exact_cnt) AS BIGINT) AS rc
      |  FROM s GROUP BY 1, 2),
      |est AS (SELECT s.k, CAST(min(reg.rc) AS BIGINT) AS est,
      |    CAST(min(s.exact_cnt) AS BIGINT) AS exact_cnt
      |  FROM s JOIN reg ON reg.r = s.r AND reg.slot = s.slot
      |  GROUP BY s.k)
      |""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_hist_quantiles" -> histQuantilesOracle,
    "q_mv_hist" -> histQuantilesOracle,
    "q_hdr_buckets" -> (hdrBucketsCte +
      "SELECT g AS event_type, bucket, cnt FROM b " +
      "ORDER BY event_type, bucket"),
    "q_hdr_quantile" -> hdrQuantileOracle,
    "q_mv_hdr" -> hdrQuantileOracle,
    "q_mv_hdr_rewrite" -> hdrQuantileOracle,
    "q_cms_freq" -> (cmsEstCte +
      "SELECT k AS user_id, est, exact_cnt FROM est ORDER BY user_id"),
    "q_mv_cms" -> (cmsEstCte +
      "SELECT k AS user_id, est FROM est ORDER BY user_id"),
    // capacity >> vocab ⇒ the mergeable MG summary is exact counts;
    // the oracle is the raw-table count + (est DESC, item) rank
    "q_mv_topitems" ->
      """WITH c AS (
        |  SELECT o_orderstatus, CAST(o_orderpriority AS VARCHAR) AS item,
        |    count(*) AS est
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT o_orderstatus, item, est,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY est DESC, item) AS rank
        |  FROM c)
        |SELECT o_orderstatus, CAST(rank AS INT) AS rank, item, est
        |FROM r WHERE rank <= 3
        |ORDER BY o_orderstatus, rank""".stripMargin,
    // k=2048 >= every per-day distinct count at the gate SF, so the
    // KMV sketch is the full hash set and the overlap is the exact
    // distinct-user intersection of consecutive days
    "q_kmv_overlap" ->
      """WITH u AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |c AS (SELECT day, count(*) AS n FROM u GROUP BY day)
        |SELECT a.day AS day_a, b.day AS day_b,
        |  ca.n AS users_a, cb.n AS users_b, count(*) AS returning
        |FROM u a JOIN u b ON a.user_id = b.user_id AND b.day = a.day + 1
        |JOIN c ca ON ca.day = a.day JOIN c cb ON cb.day = b.day
        |GROUP BY 1, 2, 3, 4
        |ORDER BY day_a""".stripMargin,
    // exact regime again: per-status KMV sketches hold every customer
    // hash, so estimates, intersection, and Jaccard all equal the
    // exact distinct-set reads on raw orders
    "q_mv_overlap" ->
      """WITH u AS (
        |  SELECT DISTINCT o_orderstatus AS s, o_custkey AS c FROM orders),
        |n AS (SELECT s, count(*) AS n FROM u GROUP BY s),
        |i AS (SELECT a.s AS sa, b.s AS sb, count(*) AS common
        |      FROM u a JOIN u b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2)
        |SELECT i.sa AS o_orderstatus_a, i.sb AS o_orderstatus_b,
        |  na.n AS est_a, nb.n AS est_b, i.common AS est_common,
        |  round(CAST(i.common AS DOUBLE) / (na.n + nb.n - i.common), 4)
        |    AS jaccard
        |FROM i JOIN n na ON na.s = i.sa JOIN n nb ON nb.s = i.sb
        |ORDER BY 1, 2""".stripMargin,
    // the PLAIN join: salting must be invisible in the result
    "q_salted_join" ->
      """SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n,
        |  sum(l.l_quantity) AS qty
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin,
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_filter_pushdown" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 50000
        |ORDER BY o_orderkey""".stripMargin,
    "q_projection_cast" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS pk, CAST(l_partkey AS VARCHAR) AS src
        |FROM lineitem WHERE l_linenumber = 1 ORDER BY pk, src""".stripMargin,
    "q_limit_pushdown" ->
      "SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 10",
    "q_topk_global" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "q_topk_per_group" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_update_by_key" ->
      """SELECT o.o_orderkey, coalesce(u.mx, o.o_totalprice) AS price
        |FROM orders o LEFT JOIN (
        |  SELECT o_custkey AS u_custkey, max(o_totalprice) AS mx
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) u
        |ON o.o_custkey = u.u_custkey ORDER BY o.o_orderkey""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_missing" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_set_intersect" ->
      """SELECT DISTINCT user_id AS k FROM events
        |INTERSECT
        |SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k FROM customer
        |ORDER BY k""".stripMargin,
    "q_event_stats" ->
      """SELECT event_type, count(*) AS n,
        | CAST(min(value) AS DOUBLE) AS mn, CAST(max(value) AS DOUBLE) AS mx,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sm
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_counts" ->
      """SELECT count(*) AS n_lineitem,
        | count(DISTINCT l_orderkey) AS n_orders,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supp
        |FROM lineitem""".stripMargin,
    "q_collect_sorted" ->
      """SELECT o_orderpriority,
        | array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses,
        | count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sample_mod" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey % 37 = 0 ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
    "q_hll_registers" -> hllRegistersOracle,
    "q_hll_distinct" -> hllDistinctOracle,
    // The MV faces' oracles run on the RAW lineitem table: a hash
    // match proves the rollup rewrite is value-exact.
    "q_mv_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | max(l_quantity) AS max_qty,
        | count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_mv_agg_filtered" ->
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
        | min(l_quantity) AS min_qty, max(l_extendedprice) AS max_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'""".stripMargin,
    "q_mv_agg_monthly" ->
      """SELECT date_trunc('month', l_shipdate) AS month,
        | count(*) AS n, sum(l_quantity) AS sum_qty,
        | max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1 ORDER BY month""".stripMargin,
    "q_mv_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        | coalesce(l_linestatus, 'ALL') AS ls,
        | count(*) AS n, sum(l_quantity) AS sum_qty,
        | max(l_extendedprice) AS max_price,
        | CAST(grouping(l_returnflag) AS INT) AS g_rf,
        | CAST(grouping(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, rf, ls""".stripMargin,
    "q_mv_filter" ->
      """SELECT l_returnflag,
        | count(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
        | sum(l_quantity) FILTER (WHERE l_shipdate >= TIMESTAMP '1996-01-01') AS qty_recent,
        | avg(l_quantity) FILTER (WHERE l_linestatus = 'O') AS avg_o,
        | max(l_extendedprice) FILTER (WHERE l_shipdate < TIMESTAMP '1995-01-01') AS max_early,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_mv_derived_measure" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        | CAST(min(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS min_rev,
        | CAST(max(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS max_rev,
        | count(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (1 - CAST(l_discount AS DECIMAL(12,2)))) AS n_rev
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_mv_star" ->
      """WITH dim(rf, rf_name) AS (
        |  VALUES ('A', 'returned'), ('N', 'in_flight'), ('R', 'refused'))
        |SELECT rf_name, count(*) AS n, sum(l_quantity) AS sum_qty,
        | avg(l_quantity) AS avg_qty, max(l_extendedprice) AS max_price,
        | count(DISTINCT l_shipdate) AS days
        |FROM lineitem JOIN dim ON l_returnflag = rf
        |GROUP BY rf_name ORDER BY rf_name""".stripMargin,
    "q_mv_avg_decimal" ->
      """WITH g AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS s2,
        |    count(l_quantity) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        | (2 * s2 * 10000 + n) // (2 * n) AS avg_qty_e6,
        | n AS n_qty
        |FROM g ORDER BY l_returnflag""".stripMargin,
    "q_sample_quantile" -> sampleQuantileOracle,
    "q_mv_sample_quantile" -> sampleQuantileOracle,
    // the OPT-IN percentile_approx substitution must equal the same
    // bottom-k pipeline (scalar and array forms)
    "q_mv_approx_quantile" -> samplePipelineOracle(Seq(
      sampleQSel("0.5", "p50"), sampleQSel("0.25", "p25"),
      sampleQSel("0.9", "p90")).mkString(",\n  ")),
    // retention drop of the post-cut ingest batch: the rollup-served
    // answer must equal the raw table filtered to the retained rows
    "q_mv_retention" ->
      """SELECT o_orderstatus, count(*) AS n,
        | count(o_totalprice) AS n_vals,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS total,
        | min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // row-level retraction: sign-folded partials must reproduce the
    // post-delete truth, and the all-deleted 'P' group must vanish
    "q_mv_retract" ->
      """SELECT o_orderstatus, count(*) AS n,
        | count(o_totalprice) AS n_vals,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS total
        |FROM orders
        |WHERE NOT (o_orderstatus = 'P' OR o_orderkey % 7 = 0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_mv_star_louter" ->
      """WITH dim(rf, rf_name) AS (
        |  VALUES ('A', 'returned'), ('N', 'in_flight'),
        |         ('R', 'refused'), ('X', 'never_seen'))
        |SELECT rf_name, count(*) AS n, sum(l_quantity) AS sum_qty,
        | avg(l_quantity) AS avg_qty, count(l_quantity) AS n_qty,
        | max(l_extendedprice) AS max_price,
        | count(DISTINCT l_shipdate) AS days
        |FROM dim LEFT JOIN lineitem ON rf = l_returnflag
        |GROUP BY rf_name ORDER BY rf_name""".stripMargin,
    "q_mv_avg" ->
      """SELECT l_returnflag, avg(l_quantity) AS avg_qty,
        | count(l_quantity) AS n_qty, count(l_linestatus) AS n_status,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_mv_dim_stats" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_shipdate) AS days,
        | min(l_shipdate) AS first_ship,
        | max(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_mv_var" ->
      """SELECT l_returnflag,
        | round(var_pop(l_quantity), 4) AS vp,
        | round(var_samp(l_quantity), 4) AS vs,
        | round(stddev_pop(l_quantity), 4) AS sdp,
        | round(stddev_samp(l_quantity), 4) AS sds
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_mv_hll" -> mvHllOracle,
    "q_mv_approx_distinct" -> mvHllOracle,
    "q_mv_advisor" ->
      """WITH f AS (SELECT count(*) AS n FROM lineitem),
        |r AS (SELECT count(*) AS n FROM (
        |  SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate
        |  FROM lineitem))
        |SELECT 'l_linestatus,l_returnflag,l_shipdate' AS dims,
        | 'l_quantity' AS measures,
        | '(l_quantity * CAST(2 AS DOUBLE))' AS expr_measures,
        | 'l_orderkey' AS sketch_keys,
        | 'l_extendedprice' AS sample_cols,
        | 'l_linenumber' AS hdr_cols,
        | f.n AS fact_rows,
        | r.n AS rollup_rows,
        | (f.n * 10000 // r.n) / 10000.0 AS reduction,
        | 6 AS servable, 6 AS total
        |FROM f, r""".stripMargin,
    "q_sessionize" ->
      """WITH d AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 1 HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q_hourly_batches" ->
      """SELECT date_trunc('hour', ts) AS batch_hour, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sm
        |FROM events GROUP BY 1, 2 ORDER BY batch_hour, event_type""".stripMargin,
    "q_event_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n
        |FROM seq WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type
        |ORDER BY from_type, to_type""".stripMargin,
    // earliest-chained funnel, integer-microsecond window math
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click'
        |    AND epoch_us(e.ts) >= epoch_us(s1.t1)
        |    AND epoch_us(e.ts) - epoch_us(s1.t1) <= 3600000000
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) >= epoch_us(s2.t2)
        |    AND epoch_us(e.ts) - epoch_us(s2.t2) <= 3600000000
        |  GROUP BY e.user_id)
        |SELECT s1.user_id,
        |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
        |            WHEN s2.t2 IS NOT NULL THEN 2
        |            ELSE 1 END AS INT) AS stage,
        |  s1.t1, s2.t2, s3.t3
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin
  )
}
