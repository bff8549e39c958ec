package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, PipelineOps => PO, TextAnalysis => TA}

/** Training-data pipeline composition queries: rule-based quality
  * gating, sequence packing, domain mixing, PII redaction, and the
  * diameter-robust connected-components variant.
  */
object PipelineQueries {

  private def viaSql(s: SparkSession, dir: String, table: String,
      sql: String): DataFrame = {
    Tables(s, dir, table).createOrReplaceTempView(table)
    s.sql(sql)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gopher-style rule gate: token count / word shape / stopword /
    // symbol thresholds → keep flag. Scan + codegen'd expressions only.
    "q_gopher_quality" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.gopherQualitySql(TA.SparkDialect))),

    // Link-graph authority (integer-exact PageRank, GraphOps): the
    // corpus-curation centrality signal, 3 rounds over the part →
    // supplier bipartite edge set derived from lineitem. Every rank is
    // a pure integer recurrence (floor divisions, damping in
    // hundredths), so DuckDB restates all three unrolled rounds with
    // `//` arithmetic and must match every micro-unit. Suppliers live
    // at id+10^7 to keep the two key namespaces disjoint.
    "q_pagerank" -> ((s, dir) => {
      import s.implicits._
      val edges = Tables(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("src"),
          ($"l_suppkey".cast("long") + 10000000L).as("dst"))
        .distinct()
      graft.operators.GraphOps.pageRank(edges, "src", "dst", iters = 3)
        .orderBy($"rank".desc, $"node").limit(100)
        .select($"node", $"rank")
    }),

    // Exact triangle census + local clustering coefficient over the
    // co-purchase graph (parts sharing an order). Degree-ordered
    // orientation caps wedge fan-out at O(√m) per node — the shape
    // that survives hub skew at web scale — and every count/LCC is
    // integral, so DuckDB restates orientation, wedge, and closing
    // joins and must match bit for bit.
    "q_triangles" -> ((s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      val pairs = li.as("x").join(li.as("y"),
          $"x.l_orderkey" === $"y.l_orderkey" &&
          $"x.l_partkey" < $"y.l_partkey")
        .select($"x.l_partkey".cast("long").as("a"),
          $"y.l_partkey".cast("long").as("b"))
      graft.operators.GraphOps.triangles(pairs, "a", "b")
        .orderBy($"tri".desc, $"node").limit(100)
        .select($"node", $"tri", $"deg", $"lcc_ppm")
    }),

    // Integer-exact HITS over the part → supplier bipartite graph:
    // hub = breadth of a part's supplier base, authority = reach of a
    // supplier's catalog. Two rounds, max-normalized in micro-units
    // (floor divisions only), so the DuckDB unrolled restatement
    // hash-matches every score.
    "q_hits" -> ((s, dir) => {
      import s.implicits._
      val edges = Tables(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("src"),
          ($"l_suppkey".cast("long") + 10000000L).as("dst"))
      graft.operators.GraphOps.hits(edges, "src", "dst", iters = 2)
        .orderBy($"auth".desc, $"hub".desc, $"node").limit(100)
        .select($"node", $"hub", $"auth")
    }),

    // WEIGHTED PageRank: edges carry aggregated interaction volume
    // (total quantity shipped per part→supplier pair) and rank splits
    // proportionally — floor(rank·w / Σw). Still a pure integer
    // recurrence; DuckDB restates the weighted split verbatim.
    "q_pagerank_weighted" -> ((s, dir) => {
      import s.implicits._
      val edges = Tables(s, dir, "lineitem")
        .groupBy($"l_partkey".cast("long").as("src"),
          ($"l_suppkey".cast("long") + 10000000L).as("dst"))
        .agg(sum($"l_quantity".cast("long")).as("w"))
      graft.operators.GraphOps
        .pageRankWeighted(edges, "src", "dst", "w", iters = 3)
        .orderBy($"rank".desc, $"node").limit(100)
        .select($"node", $"rank")
    }),

    // Deterministic label propagation (2 rounds) over the symmetrized
    // part–supplier graph: community sizes after the vote. Ties break
    // to the smallest label (no random walk), so DuckDB restates both
    // unrolled rounds with a row_number vote and matches exactly.
    "q_label_prop" -> ((s, dir) => {
      import s.implicits._
      val edges = Tables(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("src"),
          ($"l_suppkey".cast("long") + 10000000L).as("dst"))
      graft.operators.GraphOps
        .labelPropagation(edges, "src", "dst", iters = 2)
        .groupBy($"label").agg(count(lit(1)).as("size"))
        .orderBy($"size".desc, $"label").limit(100)
    }),

    // k-core peeling (3 rounds, k=80) over the same co-purchase
    // graph: the dense-subgraph membership signal (link-farm
    // clusters survive high-k cores; organic pages peel away). Each
    // round is a degree count + two semi-joins, monotone-shrinking —
    // all integer counts, unrolled round-by-round in the oracle.
    "q_kcore" -> ((s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      val pairs = li.as("x").join(li.as("y"),
          $"x.l_orderkey" === $"y.l_orderkey" &&
          $"x.l_partkey" < $"y.l_partkey")
        .select($"x.l_partkey".cast("long").as("a"),
          $"y.l_partkey".cast("long").as("b"))
      graft.operators.GraphOps.kCore(pairs, "a", "b", k = 80,
          rounds = 3)
        .orderBy($"deg".desc, $"node").limit(100)
        .select($"node", $"deg")
    }),

    // Personalized PageRank from a trusted seed set (partkey % 50 =
    // 0) over the SYMMETRIZED part–supplier graph — the allowlist
    // expansion primitive: mass teleports only to seeds, so rank is
    // proximity-to-trust. Directed bipartite edges are closed
    // symmetrically first (else all mass strands on the supplier
    // side). Integer-exact like q_pagerank; three unrolled rounds in
    // the oracle.
    "q_ppr_seeded" -> ((s, dir) => {
      import s.implicits._
      val e0 = Tables(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("src"),
          ($"l_suppkey".cast("long") + 10000000L).as("dst"))
        .distinct()
      val sym = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
      val seeds = Tables(s, dir, "part")
        .select($"p_partkey".cast("long").as("node"))
        .where($"node" % 50 === 0)
      graft.operators.GraphOps
        .personalizedPageRank(sym, "src", "dst", seeds, iters = 3)
        .where($"rank" > 0)
        .orderBy($"rank".desc, $"node").limit(100)
        .select($"node", $"rank")
    }),

    // Newman modularity of the LPA partition — "is the community
    // structure real" as ONE integer-exact row: q_ppm =
    // (10^6·(4·m·Σe_c − Σd_c²)) div (4m²), every aggregate a BIGINT
    // count, so DuckDB restates the two LPA rounds AND the score and
    // must match bit for bit.
    "q_modularity" -> ((s, dir) => {
      import s.implicits._
      val edges = Tables(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("src"),
          ($"l_suppkey".cast("long") + 10000000L).as("dst"))
      val labels = graft.operators.GraphOps
        .labelPropagation(edges, "src", "dst", iters = 2)
      graft.operators.GraphOps.modularity(edges, "src", "dst", labels)
    }),

    // Minimum hop distance from the trusted seed set (partkey % 50 =
    // 0), 2 unrolled BFS rounds over the symmetrized graph — the
    // crawl-depth companion to q_ppr_seeded's continuous score. Every
    // frontier is a distinct-join, every hop an integer literal;
    // DuckDB restates both rounds with anti-joins.
    "q_khop_reach" -> ((s, dir) => {
      import s.implicits._
      val e0 = Tables(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("src"),
          ($"l_suppkey".cast("long") + 10000000L).as("dst"))
        .distinct()
      val sym = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
      val seeds = Tables(s, dir, "part")
        .select($"p_partkey".cast("long").as("node"))
        .where($"node" % 50 === 0)
      graft.operators.GraphOps
        .khopReach(sym, "src", "dst", seeds, hops = 2)
        .orderBy($"node")
    }),

    // Declarative data-contract validation (DataQuality.validate,
    // the Deequ-shaped pre-flight gate): all row-local checks fold
    // into ONE scan; uniqueness adds a groupBy, referential checks an
    // anti-join each. Every metric is an integer count, restated
    // check-by-check in the oracle.
    "q_data_checks" -> ((s, dir) => {
      import graft.operators.DataQuality._
      val li = Tables(s, dir, "lineitem")
      graft.operators.DataQuality.validate(li, Seq(
        NotNull("l_orderkey"),
        NotNull("l_returnflag"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        Satisfies("quantity_range",
          "l_quantity >= 1 AND l_quantity <= 50"),
        InSet("l_returnflag", Seq("A", "N", "R")),
        RefIn("l_orderkey", Tables(s, dir, "orders"), "o_orderkey"),
        RefIn("l_partkey", Tables(s, dir, "part"), "p_partkey")
      )).orderBy(col("check_name"))
    }),

    // One-pass column profiling (count / nulls / exact distinct /
    // min / max as strings) — the table-level ANALYZE for ingest
    // review. Exact COUNT(DISTINCT) keeps the face hash-checkable;
    // the operator's approxDistinct flag is the 100 TB default.
    "q_profile" -> ((s, dir) =>
      graft.operators.DataQuality.profile(Tables(s, dir, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_linenumber",
            "l_returnflag", "l_linestatus"))
        .orderBy(col("col_name"))),

    // Tokenize-and-pack bookkeeping: per-source running token offsets
    // → fixed-length sequence ids. One window shuffle per shard key.
    "q_seq_pack" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.seqPackSql(TA.SparkDialect))),

    // Deterministic domain mixture: per-source keep rates via a
    // multiplicative-hash uniform — idempotent sampling at any scale.
    "q_domain_mix" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.domainMixSql(TA.SparkDialect))),

    // PII scrub: digit-run masking + email-shaped token counts.
    "q_pii_redact" -> ((s, dir) =>
      viaSql(s, dir, "customer", PO.piiRedactSql(TA.SparkDialect))),

    // Sliding-window chunking (RAG primitive): shuffle-free scan +
    // explode; chunk text and token spans per document.
    "q_chunk_docs" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.chunkSql(TA.SparkDialect))),

    // Adaptive quality gate: keep the top half per source by composite
    // quality, thresholded by rank (exact integer decision).
    "q_adaptive_gate" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.adaptiveGateSql(TA.SparkDialect))),

    // Per-document tf-idf keywords, integer-quantized idf so the
    // ranking is hash-exact in both engines.
    "q_keywords" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.keywordsSql(TA.SparkDialect))),

    // Curriculum ordering: quality-threshold bins + in-bin Knuth
    // shuffle folded into one range-partitionable BIGINT sort key —
    // easy-first training order with no global window.
    "q_curriculum" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.curriculumSql(TA.SparkDialect))),

    // Z-order clustering key over (custkey, orderkey) of orders —
    // the multi-dim layout primitive for write-time file clustering.
    "q_zorder_key" -> ((s, dir) =>
      viaSql(s, dir, "orders", PO.zorderSql(TA.SparkDialect,
        "orders", "o_orderkey", "o_custkey", "o_orderkey"))),

    // Materialized packed sequences: one row per (source, seq_id)
    // with documents concatenated in packing order.
    "q_pack_examples" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.packExamplesSql(TA.SparkDialect))),

    // Token-budget mixing: every source contributes docs in doc_id
    // order until its token budget is spent — exact integer windows.
    "q_token_budget_mix" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.tokenBudgetMixSql(TA.SparkDialect))),

    // Deterministic WEIGHTED sampling (integer-grid priority
    // sampling, PrioritySample.scala): the 64 documents with the
    // smallest floor(U(doc_id) * 2^20 / n_chars) keys — inclusion
    // probability ∝ length, membership a pure function of (id, w),
    // so the draw is reproducible across runs/partitionings and
    // DuckDB restates the hash chain + integer key + top-k exactly.
    // Plans as TakeOrderedAndProject: per-partition top-k, no global
    // sort — the weighted corpus-mixing draw at 100 TB.
    "q_priority_sample" -> ((s, dir) => {
      import s.implicits._
      graft.operators.PrioritySample.sample(
          Tables(s, dir, "documents"), $"doc_id", $"n_chars", 64)
        .select($"doc_id", $"n_chars", $"source")
        .orderBy($"doc_id")
    }),

    // Deterministic 90/5/5 split assignment, decorrelated from the
    // mixing draw — leak-free eval sets under retries and re-runs.
    "q_dataset_split" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.datasetSplitSql(TA.SparkDialect))),

    // Leakage-safe split: dup groups draw ONE fold (keyed on the
    // group's min doc_id), so no copy of a train doc reaches test.
    "q_leakage_split" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.leakageSplitSql(TA.SparkDialect))),

    // Dataset versioning: diff two corpus snapshots (added / removed /
    // changed). The two versions derive deterministically from the
    // documents table (doc_id % 13 missing from old, % 17 missing from
    // new, % 19 edited in new), so the face is hash-oracled.
    "q_corpus_diff" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      d.where(pmod(col("doc_id"), lit(13)) =!= 0)
        .select(col("doc_id"), col("text"))
        .createOrReplaceTempView("snap_old")
      d.where(pmod(col("doc_id"), lit(17)) =!= 0)
        .selectExpr("doc_id",
          "CASE WHEN doc_id % 19 = 0 THEN text || ' v2' " +
            "ELSE text END AS text")
        .createOrReplaceTempView("snap_new")
      s.sql(PO.snapshotDiffSql(TA.SparkDialect, "snap_old", "snap_new"))
    }),

    // CC-Net-style bigram-LM scoring: fit on the doc_id%10<3 slice,
    // score every doc by mean NLL (integer 1e-4-nat aggregation).
    "q_lm_perplexity" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.lmPerplexitySql(TA.SparkDialect))),

    // DSIR importance scoring: per-doc mean target/raw log-ratio.
    "q_dsir_scores" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.dsirScoreSql(TA.SparkDialect))),

    // CC-Net line-level boilerplate removal: documents rewritten with
    // cross-corpus duplicated lines dropped (df-capped line table).
    "q_line_dedup" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.lineDedupSql(TA.SparkDialect))),

    // CC-Net canonical normalization: lowercase / digits→0 /
    // punctuation→space / whitespace collapse, with destruction ratio.
    "q_normalize_text" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.normalizeTextSql(TA.SparkDialect))),

    // Supervised NB quality classifier trained on the seed slice;
    // integer 1e-4-nat log-odds scores + decision per document.
    "q_nb_quality" -> ((s, dir) =>
      viaSql(s, dir, "documents", PO.nbQualitySql(TA.SparkDialect))),

    // Capstone composite — the full prepare-training-corpus pipeline:
    // Gopher rule gate → MinHash near-dup removal (keep min id) →
    // deterministic domain mixing → sequence packing, one call. Each
    // stage is the registry operator's exact machinery; the oracle
    // restates the whole chain in DuckDB (with exact Jaccard standing
    // in for MinHash, recall ~1 at tau=0.5 as with q_minhash_dups).
    "q_prepare_corpus" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      docs.createOrReplaceTempView("documents")
      val gateIds = s.sql(PO.gopherQualitySql(TA.SparkDialect))
        .where($"keep" === 1).select($"doc_id")
      val gated = docs.join(gateIds, "doc_id")
        .select($"doc_id", $"source", $"text")
      val dropIds = Dedup.minhashDupPairs(gated, "doc_id", "text",
        tau = 0.5).select($"j".as("doc_id")).distinct()
      val surv = gated.join(dropIds, Seq("doc_id"), "left_anti")
      surv.createOrReplaceTempView("prep_surv")
      val mixIds = s.sql(PO.domainMixSql(TA.SparkDialect, "prep_surv"))
        .select($"doc_id")
      surv.join(mixIds, "doc_id").createOrReplaceTempView("prep_mixed")
      s.sql(PO.seqPackSql(TA.SparkDialect, "prep_mixed"))
    }),

    // Duplicate clusters via alternating large-star/small-star — the
    // distributed path q_dedup_components takes past its driver bound,
    // forced here: O(log² n) rounds at any component diameter. Same
    // pair graph and same oracle as q_dedup_components (both give
    // component-min labels; this one by distributed rounds instead of
    // a driver union-find).
    "q_dedup_components_lss" -> ((s, dir) => {
      import s.implicits._
      Dedup.connectedComponentsAlternating(
        Dedup.jaccardPairs(Tables(s, dir, "documents"), "doc_id", "text",
          n = 3, tau = 0.5))
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    })
  )

  /** Full-chain DuckDB restatement of q_prepare_corpus: gate CTE →
    * exact-Jaccard drop set → survivor mix → packing, with the same
    * dialect templates the Spark side runs where one exists.
    */
  private val prepareOracle: String = {
    val gopher = PO.gopherQualitySql(TA.DuckDialect)
    val mix = PO.domainMixSql(TA.DuckDialect, "prep_surv")
    val pack = PO.seqPackSql(TA.DuckDialect, "prep_mixed")
    s"""WITH gate AS ($gopher),
       |gated AS (
       |  SELECT d.doc_id, d.source, d.text FROM documents d
       |  JOIN gate ON d.doc_id = gate.doc_id WHERE gate.keep = 1),
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM gated),
       |sh AS (SELECT DISTINCT doc_id, g FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
       |  FROM w WHERE len(ws) >= 3) _s),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |prs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |dropped AS (
       |  SELECT DISTINCT j FROM prs JOIN cnt ca ON ca.doc_id = i
       |  JOIN cnt cb ON cb.doc_id = j
       |  WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5),
       |prep_surv AS (
       |  SELECT g.* FROM gated g LEFT JOIN dropped ON g.doc_id = dropped.j
       |  WHERE dropped.j IS NULL),
       |mixsel AS ($mix),
       |prep_mixed AS (
       |  SELECT s.doc_id, s.source, s.text FROM prep_surv s
       |  JOIN mixsel ON s.doc_id = mixsel.doc_id)
       |$pack""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_prepare_corpus" -> prepareOracle,
    // three unrolled integer PageRank rounds: floor division (//),
    // damping 85/100, base = 150000 micro-units — the exact recurrence
    // GraphOps.pageRank computes, so every rank hash-matches
    "q_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS dst
        |  FROM lineitem),
        |nodes AS (SELECT src AS node FROM e
        |  UNION SELECT dst AS node FROM e),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |c1 AS (SELECT e.dst AS node, sum(r0.rank // d.outdeg) AS s
        |  FROM e JOIN r0 ON r0.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.node,
        |  150000 + (85 * coalesce(c1.s, 0)) // 100 AS rank
        |  FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
        |c2 AS (SELECT e.dst AS node, sum(r1.rank // d.outdeg) AS s
        |  FROM e JOIN r1 ON r1.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.node,
        |  150000 + (85 * coalesce(c2.s, 0)) // 100 AS rank
        |  FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
        |c3 AS (SELECT e.dst AS node, sum(r2.rank // d.outdeg) AS s
        |  FROM e JOIN r2 ON r2.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.node,
        |  150000 + (85 * coalesce(c3.s, 0)) // 100 AS rank
        |  FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
        |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
        |ORDER BY rank DESC, node LIMIT 100""".stripMargin,
    // orientation → wedge → closing-edge restatement of
    // GraphOps.triangles; (deg, node) tuple comparisons mirror the
    // struct comparisons, all counts integral
    "q_triangles" ->
      """WITH und AS (
        |  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS a,
        |    CAST(y.l_partkey AS BIGINT) AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey
        |   AND x.l_partkey < y.l_partkey),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM und
        |    UNION ALL SELECT b AS node FROM und) GROUP BY node),
        |ori AS (SELECT
        |    CASE WHEN (da.deg, u.a) < (db.deg, u.b)
        |      THEN u.a ELSE u.b END AS u,
        |    CASE WHEN (da.deg, u.a) < (db.deg, u.b)
        |      THEN u.b ELSE u.a END AS v,
        |    CASE WHEN (da.deg, u.a) < (db.deg, u.b)
        |      THEN db.deg ELSE da.deg END AS dv
        |  FROM und u JOIN deg da ON da.node = u.a
        |  JOIN deg db ON db.node = u.b),
        |wed AS (SELECT e1.u AS u, e1.v AS v, e2.v AS w
        |  FROM ori e1 JOIN ori e2 ON e1.u = e2.u
        |   AND (e1.dv, e1.v) < (e2.dv, e2.v)),
        |tr AS (SELECT wed.u AS u, wed.v AS v, wed.w AS w
        |  FROM wed JOIN ori o ON o.u = wed.v AND o.v = wed.w),
        |pn AS (SELECT node, count(*) AS tri FROM (
        |    SELECT u AS node FROM tr
        |    UNION ALL SELECT v AS node FROM tr
        |    UNION ALL SELECT w AS node FROM tr) GROUP BY node)
        |SELECT d.node AS node, coalesce(pn.tri, 0) AS tri,
        |  d.deg AS deg,
        |  CASE WHEN d.deg >= 2 THEN
        |    (2 * coalesce(pn.tri, 0) * 1000000)
        |      // (d.deg * (d.deg - 1))
        |  ELSE 0 END AS lcc_ppm
        |FROM deg d LEFT JOIN pn ON pn.node = d.node
        |ORDER BY tri DESC, node LIMIT 100""".stripMargin,
    // three unrolled weighted-PageRank rounds: contribution =
    // (rank * w) // Σw, damping as in q_pagerank. The HAVING clause
    // restates the operator's NULL/non-positive weight drop verbatim
    // (vacuous on TPC-H where l_quantity >= 1, but the oracle must
    // mirror the operator, not the dataset).
    "q_pagerank_weighted" ->
      """WITH e AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS src,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS dst,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 0),
        |nodes AS (SELECT src AS node FROM e
        |  UNION SELECT dst AS node FROM e),
        |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS outdeg
        |  FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |c1 AS (SELECT e.dst AS node,
        |    sum((r0.rank * e.w) // d.outdeg) AS s
        |  FROM e JOIN r0 ON r0.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.node,
        |  150000 + (85 * coalesce(c1.s, 0)) // 100 AS rank
        |  FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
        |c2 AS (SELECT e.dst AS node,
        |    sum((r1.rank * e.w) // d.outdeg) AS s
        |  FROM e JOIN r1 ON r1.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.node,
        |  150000 + (85 * coalesce(c2.s, 0)) // 100 AS rank
        |  FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
        |c3 AS (SELECT e.dst AS node,
        |    sum((r2.rank * e.w) // d.outdeg) AS s
        |  FROM e JOIN r2 ON r2.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.node,
        |  150000 + (85 * coalesce(c3.s, 0)) // 100 AS rank
        |  FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
        |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
        |ORDER BY rank DESC, node LIMIT 100""".stripMargin,
    // two unrolled label-propagation rounds; the argmax vote
    // restated as row_number ORDER BY cnt DESC, label ASC
    "q_label_prop" ->
      """WITH e0 AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS b
        |  FROM lineitem),
        |e AS (SELECT a, b FROM e0
        |  UNION SELECT b AS a, a AS b FROM e0),
        |nodes AS (SELECT DISTINCT a AS node FROM e),
        |l0 AS (SELECT node, node AS label FROM nodes),
        |v1 AS (SELECT e.b AS node, l0.label AS label, count(*) AS cnt
        |  FROM e JOIN l0 ON l0.node = e.a GROUP BY e.b, l0.label),
        |b1 AS (SELECT node, label FROM (SELECT node, label,
        |    row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, label ASC) AS rn FROM v1)
        |  WHERE rn = 1),
        |l1 AS (SELECT n.node, coalesce(b1.label, n.node) AS label
        |  FROM nodes n LEFT JOIN b1 ON b1.node = n.node),
        |v2 AS (SELECT e.b AS node, l1.label AS label, count(*) AS cnt
        |  FROM e JOIN l1 ON l1.node = e.a GROUP BY e.b, l1.label),
        |b2 AS (SELECT node, label FROM (SELECT node, label,
        |    row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, label ASC) AS rn FROM v2)
        |  WHERE rn = 1),
        |l2 AS (SELECT n.node, coalesce(b2.label, n.node) AS label
        |  FROM nodes n LEFT JOIN b2 ON b2.node = n.node)
        |SELECT label, count(*) AS size FROM l2 GROUP BY label
        |ORDER BY size DESC, label LIMIT 100""".stripMargin,
    // the two q_label_prop rounds verbatim, then Newman modularity of
    // the l2 partition over the canonical (part, supplier) edge set:
    // intra count + per-community degree mass, one fraction on the
    // common denominator 4m² — parts are always < the shifted
    // supplier ids, so und ≡ e0
    "q_modularity" ->
      """WITH e0 AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS b
        |  FROM lineitem),
        |e AS (SELECT a, b FROM e0
        |  UNION SELECT b AS a, a AS b FROM e0),
        |nodes AS (SELECT DISTINCT a AS node FROM e),
        |l0 AS (SELECT node, node AS label FROM nodes),
        |v1 AS (SELECT e.b AS node, l0.label AS label, count(*) AS cnt
        |  FROM e JOIN l0 ON l0.node = e.a GROUP BY e.b, l0.label),
        |b1 AS (SELECT node, label FROM (SELECT node, label,
        |    row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, label ASC) AS rn FROM v1)
        |  WHERE rn = 1),
        |l1 AS (SELECT n.node, coalesce(b1.label, n.node) AS label
        |  FROM nodes n LEFT JOIN b1 ON b1.node = n.node),
        |v2 AS (SELECT e.b AS node, l1.label AS label, count(*) AS cnt
        |  FROM e JOIN l1 ON l1.node = e.a GROUP BY e.b, l1.label),
        |b2 AS (SELECT node, label FROM (SELECT node, label,
        |    row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, label ASC) AS rn FROM v2)
        |  WHERE rn = 1),
        |l2 AS (SELECT n.node, coalesce(b2.label, n.node) AS label
        |  FROM nodes n LEFT JOIN b2 ON b2.node = n.node),
        |la AS (SELECT coalesce(x.label, u.a) AS la,
        |    coalesce(y.label, u.b) AS lb
        |  FROM e0 u LEFT JOIN l2 x ON x.node = u.a
        |  LEFT JOIN l2 y ON y.node = u.b),
        |agg AS (SELECT count(*) AS m,
        |  sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS intra FROM la),
        |dd AS (SELECT c, count(*) AS d FROM (
        |    SELECT la AS c FROM la
        |    UNION ALL SELECT lb AS c FROM la) GROUP BY c),
        |ds AS (SELECT sum(d * d) AS dsq FROM dd)
        |SELECT CAST(agg.m AS BIGINT) AS m,
        |  CAST(agg.intra AS BIGINT) AS intra,
        |  CAST((1000000 * (4 * agg.m * agg.intra - ds.dsq))
        |    // (4 * agg.m * agg.m) AS BIGINT) AS q_ppm
        |FROM agg, ds""".stripMargin,
    // two unrolled BFS rounds from the seed set: frontier =
    // distinct neighbors, minus everything already reached
    // (anti-join), hop literals 0/1/2
    "q_khop_reach" ->
      """WITH e0 AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS dst
        |  FROM lineitem),
        |e AS (SELECT src, dst FROM e0
        |  UNION SELECT dst AS src, src AS dst FROM e0),
        |s0 AS (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS node
        |  FROM part WHERE p_partkey % 50 = 0),
        |r0 AS (SELECT node, CAST(0 AS INT) AS hop FROM s0),
        |f1 AS (SELECT DISTINCT e.dst AS node
        |  FROM e JOIN s0 ON s0.node = e.src),
        |n1 AS (SELECT f1.node, CAST(1 AS INT) AS hop
        |  FROM f1 LEFT JOIN r0 ON r0.node = f1.node
        |  WHERE r0.node IS NULL),
        |r1 AS (SELECT node, hop FROM r0
        |  UNION ALL SELECT node, hop FROM n1),
        |f2 AS (SELECT DISTINCT e.dst AS node
        |  FROM e JOIN n1 ON n1.node = e.src),
        |n2 AS (SELECT f2.node, CAST(2 AS INT) AS hop
        |  FROM f2 LEFT JOIN r1 ON r1.node = f2.node
        |  WHERE r1.node IS NULL)
        |SELECT node, hop FROM r1
        |UNION ALL SELECT node, hop FROM n2
        |ORDER BY node""".stripMargin,
    // three unrolled peel rounds of GraphOps.kCore (degree count →
    // threshold → semi-join both endpoints), then the survivors'
    // residual degrees
    "q_kcore" ->
      """WITH und AS (
        |  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS a,
        |    CAST(y.l_partkey AS BIGINT) AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey
        |   AND x.l_partkey < y.l_partkey),
        |d0 AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM und
        |    UNION ALL SELECT b AS node FROM und) GROUP BY node),
        |k0 AS (SELECT node FROM d0 WHERE deg >= 80),
        |e1 AS (SELECT e.a, e.b FROM und e
        |  JOIN k0 x ON x.node = e.a JOIN k0 y ON y.node = e.b),
        |d1 AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e1
        |    UNION ALL SELECT b AS node FROM e1) GROUP BY node),
        |k1 AS (SELECT node FROM d1 WHERE deg >= 80),
        |e2 AS (SELECT e.a, e.b FROM e1 e
        |  JOIN k1 x ON x.node = e.a JOIN k1 y ON y.node = e.b),
        |d2 AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e2
        |    UNION ALL SELECT b AS node FROM e2) GROUP BY node),
        |k2 AS (SELECT node FROM d2 WHERE deg >= 80),
        |e3 AS (SELECT e.a, e.b FROM e2 e
        |  JOIN k2 x ON x.node = e.a JOIN k2 y ON y.node = e.b)
        |SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e3
        |    UNION ALL SELECT b AS node FROM e3) GROUP BY node
        |ORDER BY deg DESC, node LIMIT 100""".stripMargin,
    // two unrolled HITS rounds, max-normalized with floor division —
    // the exact GraphOps.hits recurrence
    "q_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS dst
        |  FROM lineitem),
        |nodes AS (SELECT src AS node FROM e
        |  UNION SELECT dst AS node FROM e),
        |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
        |a1r AS (SELECT e.dst AS node, sum(h0.hub) AS x
        |  FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst),
        |a1 AS (SELECT n.node, (coalesce(a1r.x, 0) * 1000000)
        |    // greatest((SELECT max(x) FROM a1r), 1) AS auth
        |  FROM nodes n LEFT JOIN a1r ON a1r.node = n.node),
        |h1r AS (SELECT e.src AS node, sum(a1.auth) AS x
        |  FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
        |h1 AS (SELECT n.node, (coalesce(h1r.x, 0) * 1000000)
        |    // greatest((SELECT max(x) FROM h1r), 1) AS hub
        |  FROM nodes n LEFT JOIN h1r ON h1r.node = n.node),
        |a2r AS (SELECT e.dst AS node, sum(h1.hub) AS x
        |  FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
        |a2 AS (SELECT n.node, (coalesce(a2r.x, 0) * 1000000)
        |    // greatest((SELECT max(x) FROM a2r), 1) AS auth
        |  FROM nodes n LEFT JOIN a2r ON a2r.node = n.node),
        |h2r AS (SELECT e.src AS node, sum(a2.auth) AS x
        |  FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src),
        |h2 AS (SELECT n.node, (coalesce(h2r.x, 0) * 1000000)
        |    // greatest((SELECT max(x) FROM h2r), 1) AS hub
        |  FROM nodes n LEFT JOIN h2r ON h2r.node = n.node)
        |SELECT h2.node AS node, CAST(h2.hub AS BIGINT) AS hub,
        |  CAST(a2.auth AS BIGINT) AS auth
        |FROM h2 JOIN a2 ON a2.node = h2.node
        |ORDER BY auth DESC, hub DESC, node LIMIT 100""".stripMargin,
    // three unrolled seeded-PageRank rounds over the symmetrized
    // bipartite graph; the base/init terms are gated on the seed flag
    "q_ppr_seeded" ->
      """WITH e0 AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
        |    CAST(l_suppkey AS BIGINT) + 10000000 AS dst
        |  FROM lineitem),
        |e AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |nodes AS (SELECT src AS node FROM e
        |  UNION SELECT dst AS node FROM e),
        |sd AS (SELECT CAST(p_partkey AS BIGINT) AS node FROM part
        |  WHERE p_partkey % 50 = 0),
        |ns AS (SELECT n.node, (sd.node IS NOT NULL) AS seed
        |  FROM nodes n LEFT JOIN sd ON sd.node = n.node),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CASE WHEN seed
        |    THEN CAST(1000000 AS BIGINT) ELSE 0 END AS rank FROM ns),
        |c1 AS (SELECT e.dst AS node, sum(r0.rank // d.outdeg) AS s
        |  FROM e JOIN r0 ON r0.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.node,
        |  (CASE WHEN n.seed THEN 150000 ELSE 0 END)
        |    + (85 * coalesce(c1.s, 0)) // 100 AS rank
        |  FROM ns n LEFT JOIN c1 ON c1.node = n.node),
        |c2 AS (SELECT e.dst AS node, sum(r1.rank // d.outdeg) AS s
        |  FROM e JOIN r1 ON r1.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.node,
        |  (CASE WHEN n.seed THEN 150000 ELSE 0 END)
        |    + (85 * coalesce(c2.s, 0)) // 100 AS rank
        |  FROM ns n LEFT JOIN c2 ON c2.node = n.node),
        |c3 AS (SELECT e.dst AS node, sum(r2.rank // d.outdeg) AS s
        |  FROM e JOIN r2 ON r2.node = e.src
        |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.node,
        |  (CASE WHEN n.seed THEN 150000 ELSE 0 END)
        |    + (85 * coalesce(c3.s, 0)) // 100 AS rank
        |  FROM ns n LEFT JOIN c3 ON c3.node = n.node)
        |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
        |WHERE rank > 0 ORDER BY rank DESC, node LIMIT 100""".stripMargin,
    // check-by-check restatement of DataQuality.validate; HUGEINT
    // sums cast back to BIGINT for schema parity
    "q_data_checks" ->
      """WITH tn AS (SELECT count(*) AS total FROM lineitem),
        |res AS (
        |  SELECT 'not_null(l_orderkey)' AS check_name, tn.total,
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey IS NULL) AS violations FROM tn
        |  UNION ALL
        |  SELECT 'not_null(l_returnflag)', tn.total,
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_returnflag IS NULL) FROM tn
        |  UNION ALL
        |  SELECT 'unique(l_orderkey,l_linenumber)', tn.total,
        |    (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM (
        |      SELECT count(*) AS c FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber
        |      HAVING count(*) > 1)) FROM tn
        |  UNION ALL
        |  SELECT 'satisfies(quantity_range)', tn.total,
        |    (SELECT count(*) FROM lineitem WHERE NOT coalesce(
        |      l_quantity >= 1 AND l_quantity <= 50, FALSE)) FROM tn
        |  UNION ALL
        |  SELECT 'in_set(l_returnflag)', tn.total,
        |    (SELECT count(*) FROM lineitem WHERE NOT coalesce(
        |      l_returnflag IN ('A', 'N', 'R'), FALSE)) FROM tn
        |  UNION ALL
        |  SELECT 'ref_in(l_orderkey)', tn.total,
        |    (SELECT count(*) FROM lineitem l
        |     WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
        |       SELECT 1 FROM orders o
        |       WHERE o.o_orderkey = l.l_orderkey)) FROM tn
        |  UNION ALL
        |  SELECT 'ref_in(l_partkey)', tn.total,
        |    (SELECT count(*) FROM lineitem l
        |     WHERE l.l_partkey IS NOT NULL AND NOT EXISTS (
        |       SELECT 1 FROM part p
        |       WHERE p.p_partkey = l.l_partkey)) FROM tn)
        |SELECT check_name, total, violations,
        |  violations = 0 AS pass
        |FROM res ORDER BY check_name""".stripMargin,
    // per-column UNION ALL restatement of the one-pass profile
    "q_profile" ->
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(l_orderkey) AS n_nulls,
        |    count(DISTINCT l_orderkey) AS n_distinct,
        |    CAST(min(l_orderkey) AS VARCHAR) AS min_str,
        |    CAST(max(l_orderkey) AS VARCHAR) AS max_str FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', count(*),
        |    count(*) - count(l_partkey), count(DISTINCT l_partkey),
        |    CAST(min(l_partkey) AS VARCHAR),
        |    CAST(max(l_partkey) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linenumber', count(*),
        |    count(*) - count(l_linenumber),
        |    count(DISTINCT l_linenumber),
        |    CAST(min(l_linenumber) AS VARCHAR),
        |    CAST(max(l_linenumber) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', count(*),
        |    count(*) - count(l_returnflag),
        |    count(DISTINCT l_returnflag),
        |    CAST(min(l_returnflag) AS VARCHAR),
        |    CAST(max(l_returnflag) AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linestatus', count(*),
        |    count(*) - count(l_linestatus),
        |    count(DISTINCT l_linestatus),
        |    CAST(min(l_linestatus) AS VARCHAR),
        |    CAST(max(l_linestatus) AS VARCHAR) FROM lineitem)
        |ORDER BY col_name""".stripMargin,
    "q_gopher_quality" -> PO.gopherQualitySql(TA.DuckDialect),
    "q_seq_pack" -> PO.seqPackSql(TA.DuckDialect),
    "q_domain_mix" -> PO.domainMixSql(TA.DuckDialect),
    "q_pii_redact" -> PO.piiRedactSql(TA.DuckDialect),
    "q_chunk_docs" -> PO.chunkSql(TA.DuckDialect),
    "q_adaptive_gate" -> PO.adaptiveGateSql(TA.DuckDialect),
    "q_curriculum" -> PO.curriculumSql(TA.DuckDialect),
    "q_keywords" -> PO.keywordsSql(TA.DuckDialect),
    "q_lm_perplexity" -> PO.lmPerplexitySql(TA.DuckDialect),
    "q_dsir_scores" -> PO.dsirScoreSql(TA.DuckDialect),
    "q_line_dedup" -> PO.lineDedupSql(TA.DuckDialect),
    "q_normalize_text" -> PO.normalizeTextSql(TA.DuckDialect),
    "q_nb_quality" -> PO.nbQualitySql(TA.DuckDialect),
    "q_token_budget_mix" -> PO.tokenBudgetMixSql(TA.DuckDialect),
    "q_zorder_key" -> PO.zorderSql(TA.DuckDialect,
      "orders", "o_orderkey", "o_custkey", "o_orderkey"),
    // the same Hll.hash64 HUGEINT chain as the HLL/sample oracles,
    // then the integer-grid priority key (u * 2^20) // w and the
    // 64 smallest (ties by doc_id) — every step pure integer math,
    // so the weighted draw matches the JVM bit for bit
    "q_priority_sample" ->
      """WITH u0 AS (
        |  SELECT doc_id, n_chars, source,
        |    ((CAST(doc_id AS HUGEINT) % 18446744073709551616
        |      + 18446744073709551616) % 18446744073709551616) AS v
        |  FROM documents WHERE n_chars > 0 AND doc_id IS NOT NULL),
        |s1 AS (SELECT doc_id, n_chars, source, xor(v, v // 4096) AS v
        |  FROM u0),
        |m1 AS (SELECT doc_id, n_chars, source,
        |  (v * 2685821657736338717) % 18446744073709551616 AS v
        |  FROM s1),
        |s2 AS (SELECT doc_id, n_chars, source,
        |  xor(v, v // 33554432) AS v FROM m1),
        |m2 AS (SELECT doc_id, n_chars, source,
        |  (v * 2685821657736338717) % 18446744073709551616 AS v
        |  FROM s2),
        |h AS (SELECT doc_id, n_chars, source,
        |  xor(v, v // 134217728) AS u FROM m2),
        |kk AS (SELECT doc_id, n_chars, source,
        |  (u * 1048576) // n_chars AS pk FROM h),
        |top AS (SELECT doc_id, n_chars, source FROM kk
        |  ORDER BY pk, doc_id LIMIT 64)
        |SELECT doc_id, n_chars, source FROM top
        |ORDER BY doc_id""".stripMargin,
    "q_dataset_split" -> PO.datasetSplitSql(TA.DuckDialect),
    "q_leakage_split" -> PO.leakageSplitSql(TA.DuckDialect),
    "q_corpus_diff" ->
      s"""WITH snap_old AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0),
         |snap_new AS (
         |  SELECT doc_id, CASE WHEN doc_id % 19 = 0 THEN text || ' v2'
         |    ELSE text END AS text
         |  FROM documents WHERE doc_id % 17 != 0)
         |${PO.snapshotDiffSql(TA.DuckDialect, "snap_old", "snap_new")}""".stripMargin,
    "q_pack_examples" -> PO.packExamplesSql(TA.DuckDialect),
    "q_dedup_components_lss" -> DocumentQueries.componentsOracleSql
  )
}
